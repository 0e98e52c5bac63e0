"""Text-analysis operators for large-scale training-data pipelines.

Language-ID (marker-token scoring), quality scoring (length / stopword /
token-shape ratios), token counting, and document fingerprinting (k-gram
min-hash), all as JVM-side Column expressions (higher-order functions — no
Python in the hot path, so 10^12-row scans stay inside Tungsten).

Every operator here has an exact DuckDB oracle builder (the *_sql
functions) using the same integer/rational arithmetic so results are
bit-identical cross-engine.

These extend the reference's scope: GDAL/OGR has no text operators (the
closest surface is the OGR SQL string function family,
/root/reference/ogr/swq_op_general.cpp), but the north-star input is
Common-Crawl-style web text, where these are the standard cleaning ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

LANG_MARKERS = {
    "en": ("the", "a", "value"),
    "de": ("der", "die", "das"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "ja": ("no", "wa", "ga"),
}
_LANG_ORDER = ("en", "de", "fr", "es", "ja")


def _toks(text: str) -> str:
    return f"split({text}, ' ')"


def _toks_duck(text: str) -> str:
    return f"str_split({text}, ' ')"


def _count_tok(toks: str, word: str, duck: bool) -> str:
    fn = "list_filter" if duck else "filter"
    ln = "len" if duck else "size"
    return f"{ln}({fn}({toks}, t -> t = '{word}'))"


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, n_tokens (whitespace), n_chars, n_stop, stop_ratio."""
    toks = _toks(text_col)
    stop_sum = " + ".join(_count_tok(toks, w, False) for w in STOPWORDS)
    return docs.select(
        "doc_id",
        F.expr(f"size({toks})").alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
        F.expr(stop_sum).alias("n_stop"),
        F.expr(f"CAST(({stop_sum}) AS DOUBLE) / size({toks})").alias("stop_ratio"),
    )


def token_stats_sql(rel: str = "documents", text_col: str = "text") -> str:
    toks = _toks_duck(text_col)
    stop_sum = " + ".join(_count_tok(toks, w, True) for w in STOPWORDS)
    return f"""
      SELECT doc_id,
             CAST(len({toks}) AS INTEGER) AS n_tokens,
             CAST(length({text_col}) AS INTEGER) AS n_chars,
             CAST(({stop_sum}) AS INTEGER) AS n_stop,
             CAST(({stop_sum}) AS DOUBLE) / len({toks}) AS stop_ratio
      FROM {rel}
    """


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality gates in the C4/Gopher style, all rational math:
    token count window, mean token length window, stopword presence."""
    toks = _toks(text_col)
    stop_sum = " + ".join(_count_tok(toks, w, False) for w in STOPWORDS)
    mean_len = f"(CAST(length({text_col}) - (size({toks}) - 1) AS DOUBLE) / size({toks}))"
    return docs.select(
        "doc_id",
        F.expr(mean_len).alias("mean_token_len"),
        F.expr(
            f"size({toks}) >= 5 AND size({toks}) <= 100000 "
            f"AND {mean_len} >= 2.0 AND {mean_len} <= 12.0 "
            f"AND ({stop_sum}) > 0"
        ).alias("passes_quality"),
    )


def quality_score_sql(rel: str = "documents", text_col: str = "text") -> str:
    toks = _toks_duck(text_col)
    stop_sum = " + ".join(_count_tok(toks, w, True) for w in STOPWORDS)
    mean_len = f"(CAST(length({text_col}) - (len({toks}) - 1) AS DOUBLE) / len({toks}))"
    return f"""
      SELECT doc_id,
             {mean_len} AS mean_token_len,
             (len({toks}) >= 5 AND len({toks}) <= 100000
              AND {mean_len} >= 2.0 AND {mean_len} <= 12.0
              AND ({stop_sum}) > 0) AS passes_quality
      FROM {rel}
    """


def _lang_scores(toks: str, duck: bool) -> dict[str, str]:
    return {
        lang: "(" + " + ".join(_count_tok(toks, w, duck) for w in words) + ")"
        for lang, words in LANG_MARKERS.items()
    }


def _lang_case(scores: dict[str, str]) -> str:
    branches = []
    for lang in _LANG_ORDER:
        others = [scores[o] for o in _LANG_ORDER if o != lang]
        branches.append(
            f"WHEN {scores[lang]} >= GREATEST({', '.join(others)}) THEN '{lang}'"
        )
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language ID; ties resolve in fixed _LANG_ORDER."""
    toks = _toks(text_col)
    scores = _lang_scores(toks, False)
    return docs.select(
        "doc_id",
        F.expr(_lang_case(scores)).alias("pred_lang"),
        F.expr(scores["en"]).alias("score_en"),
    )


def lang_id_sql(rel: str = "documents", text_col: str = "text") -> str:
    toks = _toks_duck(text_col)
    scores = _lang_scores(toks, True)
    return f"""
      SELECT doc_id, {_lang_case(scores)} AS pred_lang,
             CAST({scores['en']} AS INTEGER) AS score_en
      FROM {rel}
    """


def fingerprint(docs: DataFrame, text_col: str = "text", k: int = 16) -> DataFrame:
    """Document fingerprint: lexicographic min of md5 over all char k-grams
    (k-gram min-hash — the winnowing family's global-min special case).
    Identical docs share fingerprints; near-identical docs usually do."""
    expr = (
        f"array_min(transform(sequence(1, greatest(1, length({text_col}) - {k - 1})), "
        f"i -> md5(substring({text_col}, i, {k}))))"
    )
    return docs.select("doc_id", F.expr(expr).alias("fp"))


def fingerprint_sql(rel: str = "documents", text_col: str = "text", k: int = 16) -> str:
    return f"""
      SELECT doc_id,
             list_min(list_transform(range(1, greatest(1, length({text_col}) - {k - 1}) + 1),
                      i -> md5(substr({text_col}, i, {k})))) AS fp
      FROM {rel}
    """


def stratified_sample(
    docs: DataFrame,
    key_col: str = "lang",
    n_per_key: int = 5,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact per-key quota sampling — the corpus-balancing step a
    training-data pipeline runs before tokenization (downsample the head
    language/domain to a fixed quota, keep the tail whole). Spark's own
    sampleBy is approximate (per-row Bernoulli); quotas here are EXACT.

    Deterministic: rows rank inside each key by md5(id ':' seed) — a
    seeded uniform permutation — so the sample reproduces across runs,
    partitionings, and engines (the DuckDB oracle computes the identical
    rows). Scale shape: ONE hash shuffle on the key; the rank<=n filter
    over the window becomes WindowGroupLimit (Spark 3.5+), which keeps a
    per-group top-n heap on BOTH the map and reduce side, so the shuffle
    and sort carry at most n_per_key rows per key per map partition —
    never the full table. Hot keys cost what any keyed window costs.

    Output: input columns + sample_rank (1..n_per_key within each key).
    """
    # a NULL id hashes as '' on both engines: concat_ws would skip it
    # (md5('42')) where the oracle's concat renders it empty (md5(':42'))
    sid = F.coalesce(F.col(id_col).cast("string"), F.lit(""))
    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.concat_ws(":", sid, F.lit(str(seed))))
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= n_per_key)
    )


def stratified_sample_sql(
    rel: str = "documents",
    key_col: str = "lang",
    n_per_key: int = 5,
    seed: int = 42,
    id_col: str = "doc_id",
) -> str:
    return f"""
      SELECT * FROM (
        SELECT {id_col}, {key_col},
               ROW_NUMBER() OVER (
                 PARTITION BY {key_col}
                 ORDER BY md5(concat(coalesce(CAST({id_col} AS VARCHAR), ''), ':', '{seed}'))
               ) AS sample_rank
        FROM {rel}
      ) WHERE sample_rank <= {n_per_key}
    """
