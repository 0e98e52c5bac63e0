"""Deduplication operators: exact, MinHash+LSH, SimHash.

The scale-path design (north rule: explicit partitioning/shuffle):

  * exact — one hash aggregation on md5(text): map-side partial agg, then
    a shuffle on the 128-bit digest (uniform keys, no skew).
  * MinHash+LSH — signatures come from an exploded shingle scan (one md5
    per distinct shingle inside whole-stage codegen — no Python, no
    interpreted higher-order functions) + a map-side-combined groupBy of
    the universal-hash mins; banding turns near-dup search into equi-joins
    on band digests, each a plain hash shuffle; candidate verification
    re-checks true shingle Jaccard. This is the shingle->minhash->band->
    bucket-join pipeline; cost is linear scan + joins whose key
    cardinality ~ corpus size (no quadratic step).
  * SimHash — 16-bit signature from per-token md5-derived bit votes; equal
    signatures = candidate near-dups (single groupBy).

Everything has an exact DuckDB oracle (same md5, same integer math).

The mutated `corpus` builder plants deterministic exact and near
duplicates so dedup operators have real work at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NUM_HASHES = 12
BAND_ROWS = 3  # 4 bands x 3 rows
JACCARD_THRESHOLD = 0.6
SHINGLE = 3


# ------------------------------------------------------------------ corpus


def corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + planted duplicates: exact copies (doc_id+2_000_000, every
    10th doc) and near copies with one token substituted (doc_id+1_000_000,
    every 7th doc)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("replace(text, 'table', 'desk')").alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


def corpus_cte_sql() -> str:
    return """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, replace(text, 'table', 'desk') AS text
      FROM documents WHERE doc_id % 7 = 0
    """


# ------------------------------------------------------------------ exact


def dedup_exact(corpus: DataFrame) -> DataFrame:
    """Group by content digest; keep_id = min doc_id (first-writer-wins)."""
    return (
        corpus.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_exact_sql(rel: str = "corpus") -> str:
    return f"""
      SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM {rel} GROUP BY md5(text)
    """


# ------------------------------------------------------------------ minhash


def _shingles_expr(text_col: str) -> str:
    """Distinct word 3-shingles (Spark SQL, 0-based array indexing).

    NOTE: embeds `split(text)` 3x inside the lambda — every shingle
    re-splits the whole text (measured 0.64ms/doc on 2KB docs). Hot
    paths should project the words array behind a `cheap_once` barrier
    and use `_shingles_from_words` instead (12x on the shingle scan)."""
    t = f"split({text_col}, ' ')"
    return (
        f"array_distinct(transform(sequence(0, size({t}) - {SHINGLE}), "
        f"i -> concat({t}[i], ' ', {t}[i+1], ' ', {t}[i+2])))"
    )


def _shingles_from_words(words_col: str) -> str:
    """Distinct word 3-shingles over an ALREADY-SPLIT words array column.
    The column must be projected behind `barrier.cheap_once` — otherwise
    CollapseProject substitutes the split back into the lambda body and
    the per-shingle re-split returns."""
    w = words_col
    return (
        f"array_distinct(transform(sequence(0, size({w}) - {SHINGLE}), "
        f"i -> concat({w}[i], ' ', {w}[i+1], ' ', {w}[i+2])))"
    )


def _with_words(df: DataFrame, text_col: str, out: str = "_w") -> DataFrame:
    """Project the split-words array once behind an anti-inlining
    barrier and keep only rows with enough words to shingle."""
    from ..functions.barrier import cheap_once

    return df.withColumn(out, cheap_once(F.split(F.col(text_col), " "))).filter(
        F.size(out) >= SHINGLE
    )


def _shingles_duck(text_col: str) -> str:
    """Same shingles in DuckDB (1-based lists; range end-exclusive)."""
    t = f"str_split({text_col}, ' ')"
    return (
        f"list_distinct(list_transform(range(1, len({t}) - {SHINGLE} + 2), "
        f"i -> concat({t}[i], ' ', {t}[i+1], ' ', {t}[i+2])))"
    )


# MinHash family: ONE md5 per distinct shingle (first 8 hex chars ->
# 32-bit int h), then NUM_HASHES cheap universal hashes
# sig_j = min((A_j*h + B_j) mod P) — vs md5-per-seed this cuts the md5
# volume NUM_HASHES-fold on the corpus scan (measured dominant cost).
# A_j < 2^31 and h < 2^32 keep A*h inside signed-64 on both engines.
MINHASH_P = (1 << 61) - 1
_HEXMAP16 = "'0123456789abcdef'"


def _mh_ab(j: int) -> tuple:
    return 1103515245 + 2 * j, 12345 + 40503 * j



def _shingle_hash_duck(shingles: str) -> str:
    terms = " + ".join(
        f"(strpos({_HEXMAP16}, substr(md5(s), {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"list_transform({shingles}, s -> CAST({terms} AS BIGINT))"



def _sig_duck(hashed: str, j: int) -> str:
    a, b = _mh_ab(j)
    return f"list_min(list_transform({hashed}, h -> (h * {a} + {b}) % {MINHASH_P}))"


def minhash_signatures(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, band_0..band_{B-1} (md5 of BAND_ROWS signature rows).

    Codegen shape: explode the shingle array -> one md5 per row inside
    whole-stage codegen -> the NUM_HASHES universal-hash mins as a
    map-side-combined groupBy (shuffle volume = docs x NUM_HASHES, not
    shingles). The previous form (12 x transform+array_min higher-order
    functions per row) was CodegenFallback — interpreted, closure per
    element — and measured 0.76ms/doc vs ~0.1ms/doc for this shape;
    identical values (min is duplicate-insensitive, same hash exprs)."""
    ex = (
        _with_words(corpus, text_col)
        .select("doc_id", F.explode(F.expr(_shingles_from_words("_w"))).alias("s"))
        .select(
            "doc_id",
            F.expr("CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT)").alias("h"),
        )
    )
    aggs = []
    for j in range(NUM_HASHES):
        a, b = _mh_ab(j)
        aggs.append(
            F.min(F.expr(f"(h * {a} + {b}) % {MINHASH_P}")).alias(f"_s{j}")
        )
    df = ex.groupBy("doc_id").agg(*aggs)
    for b in range(NUM_HASHES // BAND_ROWS):
        chunk = [
            f"CAST(_s{j} AS STRING)"
            for j in range(b * BAND_ROWS, (b + 1) * BAND_ROWS)
        ]
        df = df.withColumn(
            f"band_{b}", F.expr(f"md5(concat_ws(':', {', '.join(chunk)}))")
        )
    return df.select(
        "doc_id", *[f"band_{b}" for b in range(NUM_HASHES // BAND_ROWS)]
    )


def lsh_pairs(
    corpus: DataFrame, text_col: str = "text", max_bucket: int | None = None
) -> DataFrame:
    """Candidate pairs colliding in >=1 band, verified by true shingle
    Jaccard >= JACCARD_THRESHOLD. Output: id_a < id_b, n_common_bands.

    Scale shape: the band table carries ONLY (doc_id, band_id, bh) — the
    corpus's shingle sets do NOT ride the band explode / candidate
    shuffle. Surviving candidate pairs join BACK to a narrow
    (doc_id, shingles) projection twice for the exact Jaccard check, so
    shingles move once per candidate side instead of 4x per corpus row.

    max_bucket (optional): drop band buckets larger than this before the
    self-join — degenerate mega-buckets (boilerplate corpora) make
    O(bucket^2) pairs; every dropped doc pair still collides in its other
    bands unless identical in all. None (default) keeps exact-LSH
    semantics (what the DuckDB oracle computes)."""
    nb = NUM_HASHES // BAND_ROWS
    sigs = minhash_signatures(corpus, text_col)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band_id"), F.col(f"band_{b}").alias("bh")) for b in range(nb)])
        ).alias("bb"),
    ).select("doc_id", "bb.band_id", "bb.bh")
    if max_bucket is not None:
        from pyspark.sql import Window

        wc = Window.partitionBy("band_id", "bh")
        bands = bands.withColumn("_bn", F.count(F.lit(1)).over(wc)).filter(
            F.col("_bn") <= max_bucket
        ).drop("_bn")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common_bands"))
    )
    # join-back: shingles only for docs that appear in candidate pairs
    sh = _with_words(corpus, text_col).select(
        "doc_id", F.expr(_shingles_from_words("_w")).alias("sh")
    )
    cand = (
        cand.join(sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb")), "id_b")
    )
    jac = F.expr("CAST(size(array_intersect(sa, sb)) AS DOUBLE) / size(array_union(sa, sb))")
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "n_common_bands")
    )


def lsh_pairs_sql(rel: str = "corpus", text_col: str = "text") -> str:
    nb = NUM_HASHES // BAND_ROWS
    sh = _shingles_duck(text_col)
    band_rows = []
    for b in range(nb):
        chunk = [
            f"CAST({_sig_duck('sh_h', j)} AS VARCHAR)"
            for j in range(b * BAND_ROWS, (b + 1) * BAND_ROWS)
        ]
        joined = ", ':', ".join(chunk)
        band_rows.append(
            f"SELECT doc_id, shingles, {b} AS band_id, md5(concat({joined})) AS bh FROM sh"
        )
    bands = " UNION ALL ".join(band_rows)
    return f"""
      , sh0 AS (
          SELECT doc_id, {sh} AS shingles FROM {rel}
          WHERE len(str_split({text_col}, ' ')) >= {SHINGLE}
      ), sh AS (
          SELECT doc_id, shingles,
                 {_shingle_hash_duck("shingles")} AS sh_h
          FROM sh0
      ), bands AS ({bands}),
      cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*) AS n_common_bands,
               ANY_VALUE(a.shingles) AS sa, ANY_VALUE(b.shingles) AS sb
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      )
      SELECT id_a, id_b, n_common_bands FROM cand
      WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
            / len(list_distinct(list_concat(sa, sb))) >= {JACCARD_THRESHOLD}
    """


# ---------------------------------------------------------- exact jaccard


def jaccard_pairs(
    corpus: DataFrame,
    text_col: str = "text",
    df_cap: int | None = None,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted shingle index
    — the zero-false-negative baseline the MinHash banding approximates.

    Scale shape: one distinct-shingle explode (doc_id, shingle, n_sh),
    then a self equi-join ON THE SHINGLE KEY (hash shuffle; never a
    cross product), groupBy (id_a, id_b) counting common shingles, and
    jaccard = common / (n_a + n_b - common) — the sizes ride the
    inverted index so no join-back to the corpus is needed. Cost is
    sum(df(s)^2) over shingles s: exact-linear on natural text where
    almost every 3-shingle is rare (measured sf0.1: 2.0M intermediate
    pair rows from a 324k-row index, max df 33).

    df_cap: at web scale boilerplate shingles (navigation chrome, legal
    footers) have df in the millions and their df^2 buckets dominate;
    dropping shingles with document frequency > df_cap before the join
    bounds the worst bucket at O(cap^2). A dropped shingle only lowers
    the common count, so the cap is a recall knob exactly like LSH band
    width. None (default) keeps exact semantics = the DuckDB oracle.
    """
    arr = _with_words(corpus, text_col).select(
        "doc_id", F.expr(_shingles_from_words("_w")).alias("sharr")
    )
    inv = arr.select(
        "doc_id", F.size("sharr").alias("n_sh"), F.explode("sharr").alias("sh")
    )
    # Self-join strategy: force a shuffle-hash join. Without the hint
    # AQE broadcasts the build side — the whole 324k-row shingle index
    # recomputes into a driver-collected broadcast and ships to every
    # task, measured 2-3x slower at sf0.1 (4.8s vs 1.6-2.0s). The
    # shuffled form also hash-partitions both sides by `sh`, the layout
    # the pair groupBy wants. Degenerate hot shingles (boilerplate) are
    # the df_cap knob's job, same as before.
    if df_cap is not None:
        keep = (
            inv.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= df_cap)
            .select("sh")
        )
        inv = inv.join(keep, "sh")  # co-partitioned with the pair join key
    inv = inv.hint("shuffle_hash")  # after df_cap: that join keeps its own strategy
    a, b = inv.alias("a"), inv.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min(F.col("a.n_sh")).alias("n_a"),
            F.min(F.col("b.n_sh")).alias("n_b"),
        )
    )
    return (
        pairs.withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def jaccard_pairs_sql(rel: str = "corpus", text_col: str = "text") -> str:
    """DuckDB oracle for jaccard_pairs (df_cap=None): same distinct
    3-shingles, same inverted-index join, same integer-ratio jaccard —
    the double division of two exact integers is IEEE-identical in both
    engines."""
    sh = _shingles_duck(text_col)
    return f"""
      , jsh0 AS (
          SELECT doc_id, {sh} AS shingles FROM {rel}
          WHERE len(str_split({text_col}, ' ')) >= {SHINGLE}
      ), jinv AS (
          SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh
          FROM jsh0
      ), jpairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 COUNT(*) AS n_common,
                 MIN(a.n_sh) AS n_a, MIN(b.n_sh) AS n_b
          FROM jinv a JOIN jinv b
            ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
      )
      SELECT id_a, id_b, n_common,
             ROUND(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 9)
               AS jaccard
      FROM jpairs
      WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)
            >= {JACCARD_THRESHOLD}
    """


# ------------------------------------------------------------------ simhash
#
# 64-bit signatures carried as two 32-bit halves (hi = md5 hex chars
# 1-8, lo = chars 9-16): 64-bit integers don't fit double-safe bit
# arithmetic and 16^15 overflows BIGINT, while 32-bit halves stay exact
# in both engines. Near-dup candidates at hamming distance <= 3 come
# from 4-band exact-match probing (16 bits per band): by pigeonhole any
# pair within distance 3 shares at least one untouched band, so the
# banded equi-join loses nothing vs the quadratic scan (which the DuckDB
# oracle runs directly) — this replaces the earlier 16-bit whole-
# signature equality join whose 65,536-value key space went quadratic
# at corpus scale.

_HEXMAP = "'0123456789abcdef'"


def _tok_val(tok: str, duck: bool) -> str:
    """First 16 bits of md5(tok) as an int. DuckDB has no conv(), so the
    oracle assembles hex-char positions; Spark uses one conv() call
    (same value, ~4x fewer string expressions per token)."""
    if not duck:
        return f"CAST(conv(substr(md5({tok}), 1, 4), 16, 10) AS BIGINT)"
    parts = [
        f"((strpos({_HEXMAP}, substr(md5({tok}), {i + 1}, 1)) - 1) * {16 ** (3 - i)})"
        for i in range(4)
    ]
    return "(" + " + ".join(parts) + ")"


def _bit_vote_aggs(val_col: str, nbits: int, prefix: str) -> list:
    """One SUM aggregate per bit of the per-token value column — the
    codegen replacement for nbits interpreted transform+aggregate HOF
    passes over a token array. Expressions identical to the lambda
    bodies, so values match the HOF form and the DuckDB oracle."""
    return [
        F.sum(
            F.expr(f"2 * (CAST(FLOOR({val_col} / {2 ** i}) AS BIGINT) % 2) - 1")
        ).alias(f"{prefix}{i}")
        for i in range(nbits)
    ]


def _bits_total(nbits: int, prefix: str) -> str:
    return "(" + " + ".join(
        f"(CASE WHEN {prefix}{i} > 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(nbits)
    ) + ")"


def simhash(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, 16-bit simhash (per-token md5 bit votes).

    Codegen shape: explode tokens -> md5-derived 16-bit value per row in
    whole-stage codegen -> 16 bit-vote SUMs as one map-side-combined
    groupBy (the HOF form ran 16 interpreted transform+aggregate passes
    per row). explode_outer keeps NULL-text docs: their votes sum to
    NULL, every CASE yields 0, simhash = 0 — exactly the HOF result.
    Requires unique doc_id per corpus row (corpus_df guarantees it)."""
    ex = corpus.select(
        "doc_id", F.explode_outer(F.split(F.col(text_col), " ")).alias("tok")
    ).select("doc_id", F.expr(_tok_val("tok", False)).alias("v"))
    df = ex.groupBy("doc_id").agg(*_bit_vote_aggs("v", 16, "_b"))
    return df.select(
        "doc_id", F.expr(_bits_total(16, "_b")).cast("int").alias("simhash")
    )


def _tok_val32(tok: str, duck: bool, off: int) -> str:
    """32 bits of md5(tok) as a BIGINT from hex chars off+1..off+8.
    Spark side uses one conv() (no conv in DuckDB — the oracle keeps
    the strpos form; values identical)."""
    if not duck:
        return f"CAST(conv(substr(md5({tok}), {off + 1}, 8), 16, 10) AS BIGINT)"
    parts = [
        f"(CAST(strpos({_HEXMAP}, substr(md5({tok}), {off + i + 1}, 1)) - 1 "
        f"AS BIGINT) * {16 ** (7 - i)})"
        for i in range(8)
    ]
    return "(" + " + ".join(parts) + ")"


def _simhash32_expr(vals_col: str, duck: bool) -> str:
    """32-bit simhash over precomputed per-token 32-bit ints."""
    tf = "list_transform" if duck else "transform"
    bits = []
    for i in range(32):
        vote = f"{tf}({vals_col}, v -> 2 * (CAST(FLOOR(v / {2 ** i}) AS BIGINT) % 2) - 1)"
        total = (
            f"list_sum({vote})" if duck
            else f"aggregate({vote}, 0L, (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {total} > 0 THEN {2 ** i} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def simhash64(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, sim_hi, sim_lo — 64-bit simhash as two 32-bit halves.

    Same codegen shape as `simhash`: explode tokens, derive both 32-bit
    halves of md5(tok) per row (subexpression elimination computes the
    md5 once), then 64 bit-vote SUMs in one map-side-combined groupBy —
    replacing 64 interpreted HOF passes per row (the dominant cost of
    the whole simhash family's signature scan)."""
    ex = corpus.select(
        "doc_id", F.explode_outer(F.split(F.col(text_col), " ")).alias("tok")
    ).select(
        "doc_id",
        F.expr(_tok_val32("tok", False, 0)).alias("vh"),
        F.expr(_tok_val32("tok", False, 8)).alias("vl"),
    )
    df = ex.groupBy("doc_id").agg(
        *_bit_vote_aggs("vh", 32, "_h"), *_bit_vote_aggs("vl", 32, "_l")
    )
    return df.select(
        "doc_id",
        F.expr(_bits_total(32, "_h")).cast("long").alias("sim_hi"),
        F.expr(_bits_total(32, "_l")).cast("long").alias("sim_lo"),
    )


def simhash64_sql(rel: str = "corpus", text_col: str = "text") -> str:
    t = f"str_split({text_col}, ' ')"
    hi = f"list_transform({t}, tok -> {_tok_val32('tok', True, 0)})"
    lo = f"list_transform({t}, tok -> {_tok_val32('tok', True, 8)})"
    return f"""
      SELECT doc_id,
             CAST({_simhash32_expr('_th', True)} AS BIGINT) AS sim_hi,
             CAST({_simhash32_expr('_tl', True)} AS BIGINT) AS sim_lo
      FROM (SELECT doc_id, {hi} AS _th, {lo} AS _tl FROM {rel})
    """


def simhash_hamming_pairs(
    corpus: DataFrame | None = None,
    max_dist: int = 3,
    text_col: str = "text",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs at 64-bit hamming distance <= max_dist (<= 3 with
    the 4x16-bit bands: pigeonhole guarantees one exact band match).
    Output: id_a < id_b, hamming. The band join keys are 16-bit chunks,
    so bucket population ~ n/65536 per band value at uniform hash —
    candidates scale linearly, not with n^2.  `sigs` lets callers reuse
    an already-persisted simhash64 output (the signature scan dominates
    the pair join's cost)."""
    s = sigs if sigs is not None else simhash64(corpus, text_col).persist()
    bands = s.select(
        "doc_id", "sim_hi", "sim_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.expr("shiftright(sim_hi, 16)").alias("bv")),
                F.struct(F.lit(1).alias("band"), F.expr("sim_hi % 65536").alias("bv")),
                F.struct(F.lit(2).alias("band"), F.expr("shiftright(sim_lo, 16)").alias("bv")),
                F.struct(F.lit(3).alias("band"), F.expr("sim_lo % 65536").alias("bv")),
            )
        ).alias("b"),
    ).select("doc_id", "sim_hi", "sim_lo", "b.band", "b.bv")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.expr(
        "bit_count(CAST(a.sim_hi AS BIGINT) ^ CAST(b.sim_hi AS BIGINT))"
        " + bit_count(CAST(a.sim_lo AS BIGINT) ^ CAST(b.sim_lo AS BIGINT))"
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_dist)
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.min("hamming").alias("hamming"))
    )


def simhash_hamming_pairs_sql(
    rel: str = "corpus", max_dist: int = 3, text_col: str = "text"
) -> str:
    """Quadratic-scan oracle for the banded join (exact, any distance)."""
    return f"""
      , sigs AS ({simhash64_sql(rel, text_col)})
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             (bit_count(xor(a.sim_hi, b.sim_hi))
              + bit_count(xor(a.sim_lo, b.sim_lo))) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE (bit_count(xor(a.sim_hi, b.sim_hi))
             + bit_count(xor(a.sim_lo, b.sim_lo))) <= {max_dist}
    """


# ------------------------------------------------------- embedding near-dup


def _emb_candidates(
    e: DataFrame, n_planes: int, n_bands: int, dim: int
) -> DataFrame:
    """Sign-LSH candidate pairs over (vid, vec): all B band buckets in
    ONE exploded (band, bucket) key column -> a single self-equi-join
    replaces B separate joins + union (the candidate set is identical
    after distinct; the join key carries the band id so buckets never
    collide across bands).  Split out so tests/test_plans.py can assert
    the single-join shape directly (dedup_embeddings itself executes
    eagerly for the union-find tier)."""
    from .similarity import _mp_bucket_expr, _mp_pairs

    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(
                _mp_bucket_expr("vec", _mp_pairs(n_planes, dim, seed=421 + b), False)
            ).cast("long").alias("bucket"),
        )
        for b in range(n_bands)
    ]
    eb = e.select("vid", F.explode(F.array(*band_structs)).alias("bb"))
    return (
        eb.select(F.col("vid").alias("la"), "bb")
        .join(eb.select(F.col("vid").alias("lb"), "bb"), "bb")
        .filter(F.col("la") < F.col("lb"))
        .select("la", "lb")
        .distinct()
    )


def dedup_embeddings(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    n_bands: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iters: int = 20,
    edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Embedding near-dup composition (VERDICT r3 #8): LSH candidate
    pairs -> cosine-threshold filter -> connected components.  Returns
    (vec_id, rep_id) where rep_id = min vec_id of the near-dup cluster
    (singletons map to themselves).

    Scale shape — every stage is bucketed or a bounded loop:
      * candidates: B independent sign-random-projection bands
        (similarity._mp_pairs hyperplanes, seed per band); per band a
        self-equi-join on the 2^n_planes-bucket id — no all-pairs step;
        bucket skew is bounded by the plane family (uniform-ish buckets)
        and AQE skew-join splitting.
      * verify: candidate pairs join back to the embeddings (two
        bucketed equi-joins) and keep cos >= threshold — the same
        join-back-verify posture as MinHash (lsh_pairs).
      * components: two-tier like polygonize's merge — surviving edges
        are near-dup pairs (a tiny fraction of the corpus), so below
        `edge_threshold` they collect to a driver union-find (exact,
        no join loop); above it, polygonize._distributed_min_label —
        min-label propagation with pointer jumping, O(log diameter)
        join rounds, nothing on the driver.
    Recall (candidate coverage vs a quadratic scan) is measured in
    tests/test_dedup_embeddings.py; the oracle replicates the banding
    exactly, so driver parity tests the implementation, not recall."""
    from .polygonize import _distributed_min_label
    from .similarity import _cos_expr

    e = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    cand = _emb_candidates(e, n_planes=n_planes, n_bands=n_bands, dim=dim)
    # verify cosine stays on the HOF fold (dim=None): at this shape —
    # wide double arrays arriving through two shuffled joins — the
    # unrolled 192-term form measured 7x SLOWER (76s vs 9.2s at 200k
    # vecs, same session, reproducible), the inverse of the ann rerank
    # joins where unrolling wins 2.5x. A/B per call site before changing.
    edges = (
        cand.join(e.select(F.col("vid").alias("la"), F.col("vec").alias("veca")), "la")
        .join(e.select(F.col("vid").alias("lb"), F.col("vec").alias("vecb")), "lb")
        .withColumn("cos", F.expr(_cos_expr("veca", "vecb")))
        .filter(F.col("cos") >= threshold)
        .select("la", "lb")
        .persist()
    )
    n_edges = edges.count()
    if n_edges == 0:
        comp = None
    elif n_edges <= edge_threshold:
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            ra, rb = find(int(r["la"])), find(int(r["lb"]))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        mapping = sorted(
            (v, find(v)) for v in {int(r["la"]) for r in rows}
            | {int(r["lb"]) for r in rows}
        )
        from ..session import local_df

        comp = F.broadcast(
            local_df(edges.sparkSession, mapping, "vid long, comp long")
        )
    else:
        comp = _distributed_min_label(edges, max_iters).withColumnRenamed(
            "label", "vid"
        )
    edges.unpersist()
    out = e.select("vid")
    if comp is not None:
        out = out.join(comp, "vid", "left")
    else:
        out = out.withColumn("comp", F.lit(None).cast("long"))
    return out.select(
        F.col("vid").alias("vec_id"),
        F.coalesce("comp", "vid").alias("rep_id"),
    )


def dedup_embeddings_sql(
    rel: str = "aug",
    threshold: float = 0.95,
    n_planes: int = 16,
    n_bands: int = 8,
    dim: int = 64,
) -> str:
    """Exact DuckDB oracle: same bands, same cosine fold, connected
    components via recursive-CTE transitive closure (min reachable id =
    component representative).  `rel` must expose (vid, vec)."""
    from .similarity import _cos_duck, _mp_bucket_expr, _mp_pairs

    band_joins = []
    for b in range(n_bands):
        pairs = _mp_pairs(n_planes, dim, seed=421 + b)
        bex = _mp_bucket_expr("vec", pairs, True)
        band_joins.append(
            f"""SELECT a.vid AS la, b.vid AS lb
            FROM (SELECT vid, {bex} AS bucket FROM {rel}) a
            JOIN (SELECT vid, {bex} AS bucket FROM {rel}) b USING (bucket)
            WHERE a.vid < b.vid"""
        )
    cos = _cos_duck("ea.vec", "eb.vec")
    return f"""
      cand AS (SELECT DISTINCT la, lb FROM ({" UNION ALL ".join(band_joins)})),
      edges AS (
        SELECT la, lb FROM cand
        JOIN {rel} ea ON ea.vid = cand.la
        JOIN {rel} eb ON eb.vid = cand.lb
        WHERE {cos} >= {threshold}
      ),
      sym AS (SELECT la, lb FROM edges UNION SELECT lb AS la, la AS lb FROM edges),
      reach(a, b) AS (
        SELECT vid, vid FROM {rel}
        UNION
        SELECT reach.a, sym.lb FROM reach JOIN sym ON reach.b = sym.la
      )
      SELECT a AS vec_id, MIN(b) AS rep_id FROM reach GROUP BY a
    """
