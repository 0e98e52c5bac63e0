"""Driver contract: entry / queries / oracle_sql for the gdal_spark engine.

Each queries()[name] runs the engine's Spark operators; oracle_sql()[name]
is an independent DuckDB re-derivation over the same parquet tables (the
`pages` table is derived deterministically from `documents` by identical
integer column math on both sides — operators/pages.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark import oracle as OR
from gdal_spark.operators import dedup as DD
from gdal_spark.operators import ogr_sql as OG
from gdal_spark.operators import knn as KNN
from gdal_spark.operators import similarity as SIM
from gdal_spark.operators import textstats as TS
from gdal_spark.operators import tiles as TI
from gdal_spark.operators.pages import (
    extract_geo,
    extract_text_expr,
    pages_cte_sql,
    pages_from_documents,
)
from gdal_spark.operators.pip_join import pip_join_broadcast, pip_join_bucketed
from gdal_spark.operators.zones import (
    zones_df,
    zones_fishnet_oracle_sql,
    zones_intersection_oracle_sql,
    zones_oracle_match_sql,
    zones_polygonize_oracle_sql,
    zones_polygonize_wkt_oracle_sql,
    zones_rasterize_oracle_sql,
)

# ---------------------------------------------------------------- fixtures

# kNN query points: hotspot centers + irregular (non-lattice) offsets so no
# two candidate distances are symmetric-equal except true mirror pairs
# (which tie-break deterministically by url on both engines).
KNN_QUERIES = [
    (0, 40.71 + 0.0123, -74.00 - 0.0271),
    (1, 51.50 - 0.0217, -0.12 + 0.0139),
    (2, 35.68 + 0.0311, 139.69 - 0.0177),
    (3, -23.55 - 0.0191, -46.63 + 0.0233),
    (4, 28.61 + 0.0157, 77.20 - 0.0313),
]
# extra sparse-area points exercised only by the exact strategy
KNN_QUERIES_SPARSE = KNN_QUERIES + [
    (5, 10.0171, -40.0213),
    (6, -5.0123, 179.5137),
]
KNN_K = 5


def _prep(spark: SparkSession) -> None:
    """Ship gdal_spark to executors even when the caller built its own
    SparkSession (the driver does): pandas_udfs unpickle by module
    reference, and python workers do not inherit the driver's sys.path
    inserts. Idempotent (addPyFile dedupes)."""
    try:
        from gdal_spark.session import _ship_package

        _ship_package(spark)
    except Exception as exc:  # failure surfaces later as ModuleNotFoundError
        import sys

        print(f"warning: could not ship gdal_spark to executors: {exc!r}",
              file=sys.stderr)


def _wrap(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark)
        return fn(spark, sf_dir)

    return run


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_from_documents(spark, sf_dir, keep_internal=True)


def _pages_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical 5-col pages -> re-extracted geo (full-pipeline fidelity)."""
    return extract_geo(pages_from_documents(spark, sf_dir))


def _queries_df(spark: SparkSession, pts) -> DataFrame:
    from gdal_spark.session import local_df

    return local_df(spark, pts, "query_id int, qlat double, qlon double")


def _sql_values(pts) -> str:
    rows = ", ".join(f"(CAST({q} AS INTEGER), {la!r}, {lo!r})" for q, la, lo in pts)
    return f"(VALUES {rows})"


def _with_pages(body: str) -> str:
    return f"WITH pages AS ({pages_cte_sql()}) {body}"


# ---------------------------------------------------------------- queries


def q_pip_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = pip_join_broadcast(_pages_extracted(spark, sf_dir), zones_df(spark))
    return j.select("url", "zone_id")


def q_pip_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = pip_join_bucketed(_pages_extracted(spark, sf_dir), zones_df(spark), salt=4)
    return j.select("url", "zone_id")


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = pages_from_documents(spark, sf_dir)
    return p.select("url", extract_text_expr("html").alias("text"))


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _pages(spark, sf_dir).filter(F.col("lat").isNotNull())
    return TI.assign_tiles(p, 12).select("url", "zoom", "tx", "ty")


def q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TI.tile_counts(_pages(spark, sf_dir), 7)


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = TI.rasterize_points(_pages(spark, sf_dir), 8)
    return TI.pyramid_counts_fast(px, 5, 8)


def q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = KNN.knn_brute(
        _pages(spark, sf_dir), _queries_df(spark, KNN_QUERIES_SPARSE), KNN_K
    )
    return out.select("query_id", "url", F.col("rank").cast("int").alias("rank"))


def q_knn_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = KNN.knn_cells(
        _pages(spark, sf_dir), _queries_df(spark, KNN_QUERIES), KNN_K, res=7, ring=3
    )
    return out.select("query_id", "url", F.col("rank").cast("int").alias("rank"))


def q_pages_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _pages(spark, sf_dir)
    return (
        p.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("lat").alias("n_geo"),
            F.min("warc_ts").alias("first_ts"),
            F.max("warc_ts").alias("last_ts"),
        )
    )


ANN_K = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_token_stats(spark, sf_dir):
    return TS.token_stats(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    return TS.quality_score(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return TS.lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return TS.fingerprint(_docs(spark, sf_dir))


def q_stratified_sample(spark, sf_dir):
    """Exact per-lang quota sample (5 docs/lang, seeded md5 permutation)
    — deterministic corpus balancing; identical rows in both engines."""
    return TS.stratified_sample(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "sample_rank"
    )


def q_corpus_curation(spark, sf_dir):
    """End-to-end curation capstone — the three training-data stages
    composed as ONE lazy plan Catalyst optimizes across: quality gate ->
    exact-dup representative selection (min doc_id per content digest,
    within the quality-passing subset) -> per-lang training-mix summary.
    avg is rounded to 6 digits: double summation order differs between
    engines by ~1e-13 relative, far below that granularity."""
    from gdal_spark.operators import dedup as DD

    docs = _docs(spark, sf_dir)
    q = TS.quality_score(docs).filter("passes_quality")
    good = docs.join(q.select("doc_id", "mean_token_len"), "doc_id")
    reps = DD.dedup_exact(good).select(F.col("keep_id").alias("doc_id"))
    curated = good.join(reps, "doc_id")
    return curated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("mean_token_len"), 6).alias("avg_token_len"),
    )


def _shared(build):
    """Cache build(spark, *args)'s persisted intermediates per (Spark
    application, *args), for query families that start from the same
    expensive frames. Keyed by the application id, not id(spark): CPython
    can reuse an id() after a stopped session is collected, which would
    hand back frames bound to a dead SparkContext. Entries of any other
    application are unpersisted and dropped on the next call."""
    cache: dict = {}

    def get(spark, *args):
        app = spark.sparkContext.applicationId
        for stale in [k for k in cache if k[0] != app]:
            for df in cache.pop(stale):
                try:
                    df.unpersist()
                except Exception:
                    pass  # owning context already stopped
        key = (app, *args)
        if key not in cache:
            cache[key] = build(spark, *args)
        return cache[key]

    return get


@_shared
def _text_shared(spark, sf_dir):
    """The dedup/simhash family all reads the same mutated corpus, and
    simhash_pairs reuses simhash's signature scan."""
    corpus = DD.corpus_df(spark, sf_dir).persist()
    return corpus, DD.simhash64(corpus).persist()


def q_dedup_exact(spark, sf_dir):
    return DD.dedup_exact(_text_shared(spark, sf_dir)[0])


def q_dedup_minhash(spark, sf_dir):
    return DD.lsh_pairs(_text_shared(spark, sf_dir)[0])


def q_dedup_jaccard(spark, sf_dir):
    """EXACT n-gram Jaccard near-dup pairs (inverted shingle index +
    self equi-join on the shingle key — the zero-false-negative baseline
    dedup_minhash's banding approximates; operators/dedup.py
    jaccard_pairs). Reuses the shared persisted corpus."""
    out = DD.jaccard_pairs(_text_shared(spark, sf_dir)[0])
    return out.select(
        "id_a", "id_b", "n_common", F.round("jaccard", 9).alias("jaccard")
    )


def q_simhash(spark, sf_dir):
    """64-bit simhash signatures (two exact 32-bit halves)."""
    return _text_shared(spark, sf_dir)[1]


def q_simhash_pairs(spark, sf_dir):
    """Hamming<=3 near-dup pairs via 4x16-bit band probing (exact by
    pigeonhole); oracle runs the quadratic scan. Reuses the shared
    persisted signature scan (the dominant cost)."""
    return DD.simhash_hamming_pairs(sigs=_text_shared(spark, sf_dir)[1])


def q_ann_brute(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return SIM.ann_brute(e, SIM.queries_subset(e), ANN_K)


def q_ann_lsh(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return SIM.ann_lsh(e, SIM.queries_subset(e), ANN_K)


def q_ann_lsh_mp(spark, sf_dir):
    """Parameterized multi-probe LSH (2^16 buckets, hamming-1 probes) —
    the corpus-scalable variant of ann_lsh; recall vs brute is measured
    in tests/test_ann_recall.py."""
    e = _emb(spark, sf_dir)
    return SIM.ann_lsh_mp(e, SIM.queries_subset(e), ANN_K)


def q_ann_ivf(spark, sf_dir):
    """IVF ANN (inverted-file coarse quantizer + nprobe list search) —
    deterministic seeding shared with the oracle; assignment is a
    shuffle-free codegen argmax over driver-compiled centroid literals."""
    e = _emb(spark, sf_dir)
    return SIM.ann_ivf(e, SIM.queries_subset(e), ANN_K)


def _aug_embeddings(spark, sf_dir):
    """Embeddings + planted near-dup structure (deterministic, engine-
    replicable): exact copies (vid+100000, every 25th) and transitive
    chains a ~ a+0.2c ~ a+0.4c (vid+200000/300000, every 50th, c = the
    next vector) — the middle blend links the endpoints even though the
    endpoints themselves fall below the cosine threshold."""
    base = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(
            F.col("vec_id").alias("vid"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("vec"),
        )
    )
    dup = base.filter(F.col("vid") % 25 == 0).select(
        (F.col("vid") + 100000).alias("vid"), "vec"
    )
    nxt = base.select((F.col("vid") - 1).alias("vid"), F.col("vec").alias("vec2"))
    chain_src = base.filter(F.col("vid") % 50 == 0).join(nxt, "vid")
    m1 = chain_src.select(
        (F.col("vid") + 200000).alias("vid"),
        F.expr("zip_with(vec, vec2, (x, y) -> x + 0.2D * y)").alias("vec"),
    )
    m2 = chain_src.select(
        (F.col("vid") + 300000).alias("vid"),
        F.expr("zip_with(vec, vec2, (x, y) -> x + 0.4D * y)").alias("vec"),
    )
    return base.unionByName(dup).unionByName(m1).unionByName(m2)


def q_dedup_embeddings(spark, sf_dir):
    """Embedding near-dup clusters: banded sign-LSH candidates ->
    cosine >= 0.95 -> connected components (min-id representative).
    Oracle replicates bands + cosine + a recursive-CTE closure."""
    return DD.dedup_embeddings(
        _aug_embeddings(spark, sf_dir), id_col="vid", vec_col="vec"
    ).orderBy("vec_id")


def _aug_embeddings_cte() -> str:
    blend = (
        "list_transform(range(1, len(a.vec) + 1), "
        "i -> a.vec[i] + {f} * c.vec[i])"
    )
    return f"""
      b0 AS (SELECT vec_id AS vid,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
             FROM embeddings),
      aug AS (
        SELECT vid, vec FROM b0
        UNION ALL
        SELECT vid + 100000 AS vid, vec FROM b0 WHERE vid % 25 = 0
        UNION ALL
        SELECT a.vid + 200000 AS vid, {blend.format(f='0.2')} AS vec
        FROM b0 a JOIN b0 c ON c.vid = a.vid + 1 WHERE a.vid % 50 = 0
        UNION ALL
        SELECT a.vid + 300000 AS vid, {blend.format(f='0.4')} AS vec
        FROM b0 a JOIN b0 c ON c.vid = a.vid + 1 WHERE a.vid % 50 = 0
      )"""


def q_asof_join(spark, sf_dir):
    """Backward-inclusive as-of join (the one SURVEY §2.3 join family the
    reference lacks; pandas.merge_asof / DuckDB ASOF JOIN semantics):
    every click event paired with the user's most recent view event at
    or before it. One sort-shuffle union-window plan — no join operator
    at all (operators/asof.py). Oracle: DuckDB's native ASOF LEFT JOIN
    over the identical tie-deduped view stream."""
    from gdal_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        clicks, views, on="user_id",
        value_cols=["event_id", "value"], seq_col="event_id",
    )
    return out.select(
        "event_id", "user_id",
        F.col("asof_event_id").cast("long").alias("asof_event_id"),
        F.round("asof_value", 9).alias("asof_value"),
    ).orderBy("event_id")


def q_range_join(spark, sf_dir):
    """Interval (range) join via time-bucket explode + equi-join + exact
    BETWEEN refine (no inequality cross product; operators/asof.py
    range_join): every click inside a 30-minute window opened by each
    view of the same user. Oracle: the plain BETWEEN join."""
    from gdal_spark.operators.asof import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    windows = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    out = range_join(clicks, windows, on="user_id", bucket_seconds=1800)
    return out.select("event_id", "user_id", "window_id").orderBy(
        "event_id", "window_id"
    )


# ------------------------------------------- OGR SQL dialect semantics


def q_ogr_sql_exec(spark, sf_dir):
    """ExecuteSQL STRING entry (gcore/gdaldataset.cpp:6985 lifecycle):
    one dialect statement driving FOUR quirks at once — SUBSTR with a
    negative offset, CAST C-truncation, case-insensitive ILIKE, and the
    first-match-only LEFT JOIN (orders have many rows per customer; OGR
    pairs the FIRST in FID order). The oracle hand-writes the ANSI
    equivalent."""
    from gdal_spark.operators.ogr_sql_exec import execute_ogr_sql

    layers = {
        "customer": spark.read.parquet(f"{sf_dir}/customer.parquet"),
        "orders": spark.read.parquet(f"{sf_dir}/orders.parquet"),
    }
    stmt = (
        "SELECT c_custkey, SUBSTR(c_name, -3) AS tail, "
        "CAST(c_acctbal AS integer) AS bal_i, o_orderkey "
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
        "WHERE c_name ILIKE '%customer#00000%' "
        "ORDER BY c_custkey LIMIT 30"
    )
    return execute_ogr_sql(
        spark, stmt, layers, fid_cols={"orders": "o_orderkey"}
    )


def q_ogr_sql_exec_union(spark, sf_dir):
    """The rest of the swq grammar through the STRING path
    (ogr/ogr_swq.h:446-483 poOtherSelect chain): UNION ALL branches that
    each run independently, table-QUALIFIED column names resolved per
    layer, LIMIT+OFFSET, and an aggregate-in-select summary collapse
    inside a branch. Branch results concatenate by position with the
    first branch's names (swq field-defn-from-first-select)."""
    from gdal_spark.operators.ogr_sql_exec import execute_ogr_sql

    layers = {
        "customer": spark.read.parquet(f"{sf_dir}/customer.parquet"),
        "orders": spark.read.parquet(f"{sf_dir}/orders.parquet"),
    }
    stmt = (
        "SELECT customer.c_custkey AS k, orders.o_orderkey AS v "
        "FROM customer LEFT JOIN orders "
        "ON customer.c_custkey = orders.o_custkey "
        "WHERE customer.c_mktsegment = 'BUILDING' "
        "ORDER BY customer.c_custkey LIMIT 20 OFFSET 5 "
        "UNION ALL "
        "SELECT count(o_orderkey) AS k, max(o_custkey) AS v "
        "FROM orders WHERE o_orderpriority = '1-URGENT' "
        "UNION ALL "
        "SELECT c_custkey AS k, CAST(c_acctbal AS integer) AS v "
        "FROM customer WHERE c_custkey <= 10"
    )
    return execute_ogr_sql(
        spark, stmt, layers, fid_cols={"orders": "o_orderkey"}
    )


def q_multimodal_decode(spark, sf_dir):
    """REAL multimodal decode (no codec libs needed): documents ids become
    16x12 closed-form pixel patterns, encoded executor-side to actual PNG
    (mixed row filters 0-4, exercising every unfilter path) or BMP
    (kernels/codecs.py; same containers the reference reads via
    frmts/png/pngdataset.cpp + frmts/bmp/bmpdataset.cpp), then decoded
    back and reduced to integer channel sums + a 16-bin luminance
    histogram. The oracle recomputes every pixel arithmetically from the
    pattern — it never runs a codec — so any byte error anywhere in
    encode/decode changes the result."""
    from gdal_spark.operators import multimodal as MM

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where((F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 3 != 2))
        .select(F.col("doc_id").alias("media_id"))
    )
    media = MM.encode_media(ids, width=16, height=12)
    feats = MM.image_features(media)
    return (
        feats.select(
            "media_id",
            "sum_r",
            "sum_g",
            "sum_b",
            F.posexplode("hist").alias("bin", "n_pix"),
        )
        .where(F.col("n_pix") > 0)
        .select("media_id", "bin", "n_pix", "sum_r", "sum_g", "sum_b")
    )


def q_multimodal_audio(spark, sf_dir):
    """16-bit PCM WAV round trip: closed-form interleaved stereo samples
    encoded to real RIFF/WAVE executor-side, decoded back
    (kernels/codecs.py, cross-checked against stdlib `wave` in
    tests/test_codecs.py), reduced to per-channel integer stats. Oracle
    recomputes the samples arithmetically."""
    from gdal_spark.operators import multimodal as MM

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") * 3 + 2).alias("media_id"))
    )
    media = MM.encode_media(ids, n_frames=256, channels=2)
    return MM.audio_features(media)


def q_ogr_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return OG.summary_record(
        li,
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_returnflag").alias("n_flags"),
        F.sum(OG.cents("l_quantity")).alias("sum_qty_cents"),
        F.min(OG.cents("l_extendedprice")).alias("min_price_cents"),
        F.max(OG.cents("l_extendedprice")).alias("max_price_cents"),
        (F.sum(OG.cents("l_quantity")).cast("double") / F.count(F.lit(1))).alias(
            "avg_qty_x100"
        ),
        F.round(F.stddev_pop(OG.cents("l_quantity")), 4).alias("std_qty_x100"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


def q_ogr_distinct(spark, sf_dir):
    return OG.distinct_list(spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderpriority")


def q_ogr_first_match_join(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_orderpriority"
    )
    return OG.first_match_left_join(
        cust.select("c_custkey", "c_name"), orders, "c_custkey", "o_orderkey",
        ["o_orderkey", "o_orderpriority"],
    )


def q_ogr_order_limit(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(5)
        .limit(20)
        .select("o_orderkey", "o_custkey")
    )


def q_ogr_like_substr(spark, sf_dir):
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return p.select(
        "p_partkey",
        F.col("p_name").like("%re%").alias("has_re"),
        F.col("p_name").ilike("%RE%").alias("has_re_i"),
        OG.ogr_substr("p_name", -4).alias("tail4"),
        OG.ogr_substr("p_name", 2, 3).alias("mid23"),
        OG.ogr_substr("p_name", 0, 2).alias("zero2"),
        OG.ogr_substr("p_name", 5).alias("from5"),
    )


def q_ogr_predicates(spark, sf_dir):
    """The remaining swq comparison/logic operators in one query:
    IN, BETWEEN, IS NULL / IS NOT NULL, NOT (swq_op_registrar.cpp:29-42)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("hot"),
        F.col("o_totalprice").between(50000.0, 150000.0).alias("mid"),
        F.when(F.col("o_totalprice") > 100000.0, F.col("o_orderdate"))
        .isNull()
        .alias("cheap_nulled"),
        (~F.col("o_orderstatus").isin("F")).alias("not_final"),
    )


def q_ogr_union_all(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    big = o.filter(F.col("o_totalprice") > 100000).select(
        "o_orderkey", F.lit("big").alias("branch")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit("urgent").alias("branch")
    )
    return big.unionByName(urgent)


def q_ogr_cast_arith(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        OG.ogr_cast_int(F.col("l_quantity")).alias("qty_int"),
        OG.cents("l_discount").alias("disc_cents"),
        ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 97).alias("mod97"),
        F.concat("l_returnflag", F.lit("|"), "l_linestatus").alias("flags"),
    )


# axis-aligned zones only: on slanted edges the scanline crossing
# (floor(intersect+0.5), llrasterize.cpp:109) and the oracle's
# cross-product predicate disagree within a float-ulp band (~6 px per
# 184k at z10) — the indeterminacy the reference itself documents
# (llrasterize.cpp:41-46). The triangle zone is covered by pytest with a
# tolerance instead.
RASTERIZE_ZONES = (101, 102, 104, 105, 107)
RASTERIZE_ZOOM = 10


def q_rasterize_zones(spark, sf_dir):
    from gdal_spark.operators.rasterize_poly import rasterize_zones

    z = zones_df(spark).filter(F.col("zone_id").isin(list(RASTERIZE_ZONES)))
    return rasterize_zones(z, RASTERIZE_ZOOM)


# Warp fixture: 64x64 ramp in EPSG:3857 -> 4326 grid, nearest (FIXTURES F4)
WARP_SRC_GT = (-13100000.0, 60.0, 0.0, 4000000.0, 0.0, -60.0)
WARP_DST_GT = (-117.70, 0.0006, 0.0, 33.78, 0.0, -0.0005)
WARP_N = 64


def q_warp_near(spark, sf_dir):
    import numpy as np

    from gdal_spark.operators import raster as R

    n = WARP_N
    arr = (
        1000.0 * np.arange(n, dtype=np.float64)[:, None]
        + np.arange(n, dtype=np.float64)[None, :]
    )
    blocks, src = R.raster_from_array(spark, arr, WARP_SRC_GT, "EPSG:3857", block=32)
    dst = R.RasterMeta(n, n, WARP_DST_GT, "EPSG:4326", block=32)
    out = R.warp(blocks, src, dst, "near")
    return out.select(
        "bx", "by", F.posexplode("block").alias("idx", "val")
    ).select(
        (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
        (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
        F.col("val").cast("long").alias("val"),
    )


def _warp_oracle() -> str:
    from gdal_spark.kernels.geotransform import inv_geotransform

    n = WARP_N
    inv = inv_geotransform(WARP_SRC_GT)
    g = WARP_DST_GT
    lon = f"({g[0]!r} + (x.range + 0.5) * {g[1]!r} + (y.range + 0.5) * {g[2]!r})"
    lat = f"({g[3]!r} + (x.range + 0.5) * {g[4]!r} + (y.range + 0.5) * {g[5]!r})"
    mx = f"({lon} * {OR.ORIGIN_SHIFT!r} / 180.0)"
    my = (
        f"((LN(TAN((90.0 + {lat}) * {OR.PI!r} / 360.0)) / {OR.PI_OVER_180!r})"
        f" * {OR.ORIGIN_SHIFT!r} / 180.0)"
    )
    sx = f"({inv[0]!r} + {mx} * {inv[1]!r} + {my} * 0.0)"
    sy = f"({inv[3]!r} + {mx} * 0.0 + {my} * {inv[5]!r})"
    return f"""
      SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy,
             CASE WHEN {sx} >= 0 AND {sx} + 1e-10 <= {n}
                   AND {sy} >= 0 AND {sy} + 1e-10 <= {n}
                  THEN 1000 * LEAST(CAST(FLOOR({sy} + 1e-10) AS BIGINT), {n - 1})
                       + LEAST(CAST(FLOOR({sx} + 1e-10) AS BIGINT), {n - 1})
                  ELSE 0 END AS val
      FROM range(0, {n}) x, range(0, {n}) y
    """


CUTLINE = (-117.6901, 33.7551, -117.6699, 33.7699)  # lon/lat rect, off-grid


def q_warp_cutline(spark, sf_dir):
    """gdalwarp -cutline (apps/gdalwarp_lib.cpp cutline mask, no
    -cblend): warp near, then pixels whose CENTER falls outside the
    cutline polygon become dst nodata. Mask = the reference-exact
    ray-cast (kernels/pip) over block pixel centers, no shuffle."""
    import numpy as np

    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators import raster as R

    n = WARP_N
    arr = (
        1000.0 * np.arange(n, dtype=np.float64)[:, None]
        + np.arange(n, dtype=np.float64)[None, :]
    )
    blocks, src = R.raster_from_array(spark, arr, WARP_SRC_GT, "EPSG:3857", block=32)
    dst = R.RasterMeta(n, n, WARP_DST_GT, "EPSG:4326", block=32)
    x0, y0, x1, y1 = CUTLINE
    cut = W.polygon_wkb(
        [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]]
    )
    out = R.apply_cutline(R.warp(blocks, src, dst, "near"), dst, cut)
    return out.select(
        "bx", "by", F.posexplode("block").alias("idx", "val")
    ).select(
        (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
        (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
        F.col("val").cast("long").alias("val"),
    )


def _warp_cutline_oracle() -> str:
    g = WARP_DST_GT
    x0, y0, x1, y1 = CUTLINE
    lon = f"({g[0]!r} + (gx + 0.5) * {g[1]!r} + (gy + 0.5) * {g[2]!r})"
    lat = f"({g[3]!r} + (gx + 0.5) * {g[4]!r} + (gy + 0.5) * {g[5]!r})"
    return f"""
      SELECT gx, gy,
             CASE WHEN {lon} > {x0!r} AND {lon} < {x1!r}
                   AND {lat} > {y0!r} AND {lat} < {y1!r}
                  THEN val ELSE 0 END AS val
      FROM ({_warp_oracle()})
    """


def q_raster_srcwin(spark, sf_dir):
    """gdal_translate -srcwin sub-window extraction: byte-exact crop via
    an identity near warp on the shifted geotransform (integer offsets
    align every sample on a source pixel center)."""
    import numpy as np

    from gdal_spark.operators import raster as R

    n = WARP_N
    arr = (
        1000.0 * np.arange(n, dtype=np.float64)[:, None]
        + np.arange(n, dtype=np.float64)[None, :]
    )
    blocks, src = R.raster_from_array(spark, arr, WARP_SRC_GT, "EPSG:3857", block=32)
    out, dst = R.raster_srcwin(blocks, src, 10, 6, 40, 24)
    return out.select(
        "bx", "by", "w", F.posexplode("block").alias("idx", "val")
    ).select(
        (F.col("bx") * 32 + F.col("idx") % F.col("w")).alias("gx"),
        (F.col("by") * 32 + (F.col("idx") / F.col("w")).cast("int")).alias("gy"),
        F.col("val").cast("long").alias("val"),
    )


def q_raster_histogram(spark, sf_dir):
    """GDALRasterBand::GetHistogram exact mode: 16 equal bins over
    [0, 64000) on the warp fixture ramp (values 1000*row + col)."""
    import numpy as np

    from gdal_spark.operators import raster as R

    n = WARP_N
    arr = (
        1000.0 * np.arange(n, dtype=np.float64)[:, None]
        + np.arange(n, dtype=np.float64)[None, :]
    )
    blocks, src = R.raster_from_array(spark, arr, WARP_SRC_GT, "EPSG:3857", block=32)
    return (
        R.raster_histogram(blocks, 0.0, 64000.0, 16)
        .select("bucket", F.col("n").cast("long").alias("n"))
        .orderBy("bucket")
    )


def q_hex_index(spark, sf_dir):
    """Hex cell indexing res 7..10 (JVM column math)."""
    from gdal_spark.functions.cells_sql import with_hex_cells

    p = _pages(spark, sf_dir).filter(F.col("lat").isNotNull())
    return with_hex_cells(p).select("url", "hex_r7", "hex_r8", "hex_r9", "hex_r10")


def q_s2_index(spark, sf_dir):
    """S2 cell indexing levels 12..16 (Arrow-vectorized kernel;
    rows-only check — S2 bit logic is not SQL-expressible, kernel is
    pinned by tests/test_kernels_misc.py golden vectors)."""
    from gdal_spark.operators.index import with_cells

    p = _pages(spark, sf_dir).filter(F.col("lat").isNotNull())
    return with_cells(p).select(
        "url", "s2_l12", "s2_l13", "s2_l14", "s2_l15", "s2_l16"
    )


def q_tile_quadkey(spark, sf_dir):
    """Quadkey addressing (gdal2tiles QuadTree) as pure column math."""
    p = TI.assign_tiles(
        _pages(spark, sf_dir).filter(F.col("lat").isNotNull()), 12
    )
    return p.select("url", F.expr(OR.sql_quadkey("tx", "ty", 12)).alias("quadkey"))


def q_ogr_hstore(spark, sf_dir):
    """HSTORE_GET_VALUE emulation (ogr/ogr_swq.h:65 '->' operator over
    'k=>v' strings): build an hstore string, extract by key."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    hstore = F.concat(
        F.lit("status=>"), F.col("o_orderstatus"),
        F.lit(",prio=>"), F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.regexp_extract(hstore, "prio=>([^,]*)", 1).alias("prio"),
        F.regexp_extract(hstore, "status=>([^,]*)", 1).alias("status"),
    )


def q_vector_translate(spark, sf_dir):
    """ogr2ogr-style fused translate: -where + -spat + -t_srs + -select
    over the pages table (LayerTranslator semantics, ogr2ogr_lib.cpp)."""
    from gdal_spark.operators.translate import translate

    p = _pages(spark, sf_dir)
    out = translate(
        p,
        where="lang IN ('en', 'de') AND lat IS NOT NULL",
        spat=(-80.0, 30.0, 10.0, 60.0),
        t_srs="EPSG:3857",
        fields=["url", "lang", "mx", "my"],
    )
    # cross-engine FID + mm-rounded coords (raw mercator doubles carry a
    # last-ulp transcendental risk across engines)
    return out.select(
        F.md5("url").alias("fid"), "url", "lang",
        F.round("mx", 3).alias("mx_mm"), F.round("my", 3).alias("my_mm"),
    )


def q_set_ops(spark, sf_dir):
    """Relational INTERSECT / EXCEPT (Spark superset of OGR SQL)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    big = o.filter(F.col("o_totalprice") > 100000).select("o_custkey").distinct()
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    return (
        big.intersect(urgent).withColumn("setop", F.lit("both"))
        .unionByName(big.exceptAll(urgent).withColumn("setop", F.lit("big_only")))
    )


def q_rollup(spark, sf_dir):
    """ROLLUP grouping sets (free Spark superset; SURVEY §2.4)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(OG.cents("o_totalprice")).alias("sum_cents"))
    )


def q_ogr_join_chain(spark, sf_dir):
    """Multi-way equi-join chain (supplier -> nation -> region) with
    aggregation — the OGR SQL secondary-datasource join generalized."""
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(OG.cents("s_acctbal")).alias("sum_bal_cents"),
        )
    )


HILLSHADE_N = 128
HILLSHADE_GT = (0.0, 10.0, 0.0, 1000.0, 0.0, -10.0)


def q_hillshade(spark, sf_dir):
    """Horn hillshade over the deterministic synthetic raster, interior
    pixels, 1e-6-rounded (numpy vs SQL transcendental agreement)."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.focal import focal

    n = HILLSHADE_N
    meta = R.RasterMeta(n, n, HILLSHADE_GT, "EPSG:3857", block=32)
    out = focal(R.synthetic_raster(spark, meta), meta, "hillshade")
    px = out.select("bx", "by", F.posexplode("block").alias("idx", "val")).select(
        (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
        (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
        F.round("val", 6).alias("shade"),
    )
    return px.filter(
        (F.col("gx") > 0) & (F.col("gx") < n - 1)
        & (F.col("gy") > 0) & (F.col("gy") < n - 1)
    )


def _hillshade_oracle() -> str:
    import math

    n = HILLSHADE_N
    ewres, nsres = HILLSHADE_GT[1], HILLSHADE_GT[5]
    zf = 1.0 / 8.0
    altr = math.radians(45.0)
    azr = math.radians(315.0)
    sin254 = 254.0 * math.sin(altr)
    cy = 254.0 * math.cos(azr) * (math.cos(altr) * zf)
    cx = 254.0 * math.sin(azr) * (math.cos(altr) * zf)

    def v(dx, dy):
        return f"(((gy + {dy}) * 7 + (gx + {dx}) * 13) % 256)"

    # Horn gradient (kernels/dem.py op order)
    gx_e = (
        f"((({v(-1,-1)} + {v(-1,0)} + {v(-1,0)} + {v(-1,1)})"
        f" - ({v(1,-1)} + {v(1,0)} + {v(1,0)} + {v(1,1)})) * {1.0 / ewres!r})"
    )
    gy_e = (
        f"((({v(-1,1)} + {v(0,1)} + {v(0,1)} + {v(1,1)})"
        f" - ({v(-1,-1)} + {v(0,-1)} + {v(0,-1)} + {v(1,-1)})) * {1.0 / nsres!r})"
    )
    num = f"({sin254!r} - (({gy_e}) * {cy!r} - ({gx_e}) * {cx!r}))"
    cang = f"({num} / SQRT(1.0 + {zf * zf!r} * ({gx_e} * {gx_e} + {gy_e} * {gy_e})))"
    return f"""
      SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy,
             ROUND(CASE WHEN {cang} <= 0.0 THEN 1.0 ELSE 1.0 + {cang} END, 6)
               AS shade
      FROM range(1, {n - 1}) x, range(1, {n - 1}) y
    """


# ----------------------------------------------- focal (DEM) family
# Same synthetic raster + closed-form-oracle pattern as hillshade:
# v(gx,gy) = ((gy*7 + gx*13) % 256), interior pixels only, SQL mirrors
# kernels/dem.py op-for-op (apps/gdaldem_lib.cpp formulas).

_DEG = 57.29577951308232  # 180/pi, numpy float64 repr


def _focal_query(spark, op, out_col, round_dec=None, **kw):
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.focal import focal

    n = HILLSHADE_N
    meta = R.RasterMeta(n, n, HILLSHADE_GT, "EPSG:3857", block=32)
    out = focal(R.synthetic_raster(spark, meta), meta, op, **kw)
    px = out.select("bx", "by", F.posexplode("block").alias("idx", "val")).select(
        (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
        (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
        (F.round("val", round_dec) if round_dec is not None else F.col("val")).alias(out_col),
    )
    return px.filter(
        (F.col("gx") > 0) & (F.col("gx") < n - 1)
        & (F.col("gy") > 0) & (F.col("gy") < n - 1)
    )


def _v(dx, dy):
    return f"(((gy + {dy}) * 7 + (gx + {dx}) * 13) % 256)"


def _focal_oracle(value_sql: str, out_col: str, round_dec=None) -> str:
    n = HILLSHADE_N
    val = f"ROUND({value_sql}, {round_dec})" if round_dec is not None else value_sql
    return f"""
      SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy,
             {val} AS {out_col}
      FROM range(1, {n - 1}) x, range(1, {n - 1}) y
    """


def _horn_xy():
    """Horn gradient SQL (kernels/dem.py horn_gradient op order)."""
    ewres, nsres = HILLSHADE_GT[1], HILLSHADE_GT[5]
    gx_e = (
        f"((({_v(-1,-1)} + {_v(-1,0)} + {_v(-1,0)} + {_v(-1,1)})"
        f" - ({_v(1,-1)} + {_v(1,0)} + {_v(1,0)} + {_v(1,1)})) * {1.0 / ewres!r})"
    )
    gy_e = (
        f"((({_v(-1,1)} + {_v(0,1)} + {_v(0,1)} + {_v(1,1)})"
        f" - ({_v(-1,-1)} + {_v(0,-1)} + {_v(0,-1)} + {_v(1,-1)})) * {1.0 / nsres!r})"
    )
    return gx_e, gy_e


def q_slope(spark, sf_dir):
    """gdaldem slope, Horn (apps/gdaldem_lib.cpp:1345)."""
    return _focal_query(spark, "slope", "slope_deg", round_dec=6)


def _slope_oracle():
    gx_e, gy_e = _horn_xy()
    return _focal_oracle(
        f"(ATAN(SQRT({gx_e} * {gx_e} + {gy_e} * {gy_e}) / 8.0) * {_DEG!r})",
        "slope_deg", 6,
    )


def q_aspect(spark, sf_dir):
    """gdaldem aspect, azimuth convention (apps/gdaldem_lib.cpp:1415)."""
    return _focal_query(spark, "aspect", "aspect_deg", round_dec=6)


def _aspect_oracle():
    dx = (
        f"(({_v(1,-1)} + {_v(1,0)} + {_v(1,0)} + {_v(1,1)})"
        f" - ({_v(-1,-1)} + {_v(-1,0)} + {_v(-1,0)} + {_v(-1,1)}))"
    )
    dy = (
        f"(({_v(-1,1)} + {_v(0,1)} + {_v(0,1)} + {_v(1,1)})"
        f" - ({_v(-1,-1)} + {_v(0,-1)} + {_v(0,-1)} + {_v(1,-1)}))"
    )
    a = f"(ATAN2(CAST({dy} AS DOUBLE), CAST(-{dx} AS DOUBLE)) * {_DEG!r})"
    az = (
        f"(CASE WHEN {a} < 0 THEN 90.0 - {a} "
        f"WHEN {a} > 90.0 THEN 360.0 - {a} + 90.0 ELSE 90.0 - {a} END)"
    )
    return _focal_oracle(az, "aspect_deg", 6)


def q_tri(spark, sf_dir):
    """gdaldem TRI, Riley mean-|diff| (integer-exact, no rounding)."""
    return _focal_query(spark, "tri", "tri")


def _tri_oracle():
    c = _v(0, 0)
    terms = " + ".join(
        f"ABS({_v(dx,dy)} - {c})"
        for dy in (-1, 0, 1) for dx in (-1, 0, 1) if not (dx == 0 and dy == 0)
    )
    return _focal_oracle(f"(({terms}) / 8.0)", "tri")


def q_tpi(spark, sf_dir):
    return _focal_query(spark, "tpi", "tpi")


def _tpi_oracle():
    c = _v(0, 0)
    s = " + ".join(_v(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    return _focal_oracle(f"({c} - ((({s}) - {c}) / 8.0))", "tpi")


def q_roughness(spark, sf_dir):
    return _focal_query(spark, "roughness", "roughness")


def _roughness_oracle():
    vs = ", ".join(_v(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    return _focal_oracle(
        f"(CAST(GREATEST({vs}) AS DOUBLE) - LEAST({vs}))", "roughness"
    )


# ----------------------------------------------- contour (marching squares)

CONTOUR_N = 48
CONTOUR_GT = (0.0, 1.0, 0.0, float(CONTOUR_N), 0.0, -1.0)
CONTOUR_LEVELS = (10.25, 77.25, 120.75)


def q_contour(spark, sf_dir):
    """Marching-squares contour of the plane v = gx + 3*gy (alg/contour.cpp
    semantics; values at pixel centers, linear edge interpolation). A
    linear field crosses every square in exactly one of three cases, so
    the oracle enumerates squares in SQL with the same interpolation op
    order — segments are exact doubles (no transcendentals)."""
    import numpy as np

    from gdal_spark.operators import raster as R
    from gdal_spark.operators.contour_op import contour

    n = CONTOUR_N
    arr = (
        np.arange(n, dtype=np.float64)[None, :]
        + 3.0 * np.arange(n, dtype=np.float64)[:, None]
    )
    blocks, meta = R.raster_from_array(spark, arr, CONTOUR_GT, "EPSG:3857", block=16)
    return contour(blocks, meta, list(CONTOUR_LEVELS))


def _contour_oracle() -> str:
    n = CONTOUR_N
    g0, g1, g3, g5 = CONTOUR_GT[0], CONTOUR_GT[1], CONTOUR_GT[3], CONTOUR_GT[5]

    def geo(px, py):
        return (f"({g0!r} + {px} * {g1!r})", f"({g3!r} + {py} * {g5!r})")

    parts = []
    for lv in CONTOUR_LEVELS:
        zul = "(sx + 3 * sy)"
        # crossing points, kernel op order (pa + t*(pb - pa), t=(L-za)/(zb-za))
        left_y = f"((sy + 0.5) + (({lv!r} - {zul}) / 3.0) * ((sy + 1.5) - (sy + 0.5)))"
        top_x = f"((sx + 0.5) + (({lv!r} - {zul}) / 1.0) * ((sx + 1.5) - (sx + 0.5)))"
        right_y = f"((sy + 0.5) + (({lv!r} - ({zul} + 1)) / 3.0) * ((sy + 1.5) - (sy + 0.5)))"
        bot_x = f"((sx + 0.5) + (({lv!r} - ({zul} + 3)) / 1.0) * ((sx + 1.5) - (sx + 0.5)))"
        lx, ly = geo("(sx + 0.5)", left_y)
        tx, ty = geo(top_x, "(sy + 0.5)")
        rx, ry = geo("(sx + 1.5)", right_y)
        bx, by = geo(bot_x, "(sy + 1.5)")
        parts.append(f"""
          SELECT CAST({lv!r} AS DOUBLE) AS level,
                 CASE WHEN {lv!r} < {zul} + 1 THEN {lx}
                      WHEN {lv!r} < {zul} + 3 THEN {lx} ELSE {bx} END AS x1,
                 CASE WHEN {lv!r} < {zul} + 1 THEN {ly}
                      WHEN {lv!r} < {zul} + 3 THEN {ly} ELSE {by} END AS y1,
                 CASE WHEN {lv!r} < {zul} + 1 THEN {tx}
                      WHEN {lv!r} < {zul} + 3 THEN {rx} ELSE {rx} END AS x2,
                 CASE WHEN {lv!r} < {zul} + 1 THEN {ty}
                      WHEN {lv!r} < {zul} + 3 THEN {ry} ELSE {ry} END AS y2
          FROM (SELECT CAST(x.range AS DOUBLE) AS sx, CAST(y.range AS DOUBLE) AS sy
                FROM range(0, {n - 1}) x, range(0, {n - 1}) y)
          WHERE {lv!r} > {zul} AND {lv!r} < {zul} + 4
        """)
    return " UNION ALL ".join(parts)


# ----------------------------------------------- warp bilinear / cubic


def _warp_src_px(gxe: str, gye: str):
    """SQL for fractional src pixel coords of dst pixel (gxe, gye) —
    shared by the near/bilinear/cubic oracles AND (via F.expr) by the
    Spark-side interior filters; mirrors kernels/warp.py exactly."""
    from gdal_spark.kernels.geotransform import inv_geotransform

    inv = inv_geotransform(WARP_SRC_GT)
    g = WARP_DST_GT
    lon = f"({g[0]!r} + ({gxe} + 0.5) * {g[1]!r} + ({gye} + 0.5) * {g[2]!r})"
    lat = f"({g[3]!r} + ({gxe} + 0.5) * {g[4]!r} + ({gye} + 0.5) * {g[5]!r})"
    mx = f"({lon} * {OR.ORIGIN_SHIFT!r} / 180.0)"
    my = (
        f"((LN(TAN((90.0 + {lat}) * {OR.PI!r} / 360.0)) / {OR.PI_OVER_180!r})"
        f" * {OR.ORIGIN_SHIFT!r} / 180.0)"
    )
    sx = f"({inv[0]!r} + {mx} * {inv[1]!r})"
    sy = f"({inv[3]!r} + {my} * {inv[5]!r})"
    return sx, sy


def _bilinear_interior_sql(gxe: str = "gx", gye: str = "gy") -> str:
    n = WARP_N
    sx, sy = _warp_src_px(gxe, gye)
    ix = f"CAST(FLOOR({sx} - 0.5) AS BIGINT)"
    iy = f"CAST(FLOOR({sy} - 0.5) AS BIGINT)"
    return f"({ix} >= 0 AND {ix} <= {n - 2} AND {iy} >= 0 AND {iy} <= {n - 2})"


def _cubic_interior_sql(gxe: str = "gx", gye: str = "gy") -> str:
    n = WARP_N
    sx, sy = _warp_src_px(gxe, gye)
    ix = f"CAST(FLOOR({sx} - 0.5) AS BIGINT)"
    iy = f"CAST(FLOOR({sy} - 0.5) AS BIGINT)"
    return (
        f"({ix} >= 1 AND {ix} <= {n - 3} AND {iy} >= 1 AND {iy} <= {n - 3})"
    )


def _q_warp_resampled(spark, resampling, interior_sql, round_dec=4):
    import numpy as np

    from gdal_spark.operators import raster as R

    n = WARP_N
    arr = (
        1000.0 * np.arange(n, dtype=np.float64)[:, None]
        + np.arange(n, dtype=np.float64)[None, :]
    )
    blocks, src = R.raster_from_array(spark, arr, WARP_SRC_GT, "EPSG:3857", block=32)
    dst = R.RasterMeta(n, n, WARP_DST_GT, "EPSG:4326", block=32)
    out = R.warp(blocks, src, dst, resampling)
    px = out.select("bx", "by", F.posexplode("block").alias("idx", "val")).select(
        (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
        (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
        F.round("val", round_dec).alias("val"),
    )
    return px.filter(F.expr(interior_sql))


def q_warp_bilinear(spark, sf_dir):
    """GRA_Bilinear (gdalwarpkernel.cpp:2660 GWKBilinearResample4Sample),
    interior pixels; oracle mirrors the weight math in SQL, rounded to
    1e-4 (coordinate-transform last-ulp noise is ~1e-8 in value)."""
    return _q_warp_resampled(spark, "bilinear", _bilinear_interior_sql())


def q_warp_cubic(spark, sf_dir):
    """GRA_Cubic Catmull-Rom (gdalwarpkernel.cpp:2820), interior pixels."""
    return _q_warp_resampled(spark, "cubic", _cubic_interior_sql())


def _warp_bilinear_oracle() -> str:
    n = WARP_N
    sx, sy = _warp_src_px("CAST(x.range AS BIGINT)", "CAST(y.range AS BIGINT)")
    body = f"""
      WITH px AS (
        SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy,
               {sx} AS sx, {sy} AS sy
        FROM range(0, {n}) x, range(0, {n}) y
      ), c AS (
        SELECT gx, gy, sx, sy,
               CAST(FLOOR(sx - 0.5) AS BIGINT) AS ix,
               CAST(FLOOR(sy - 0.5) AS BIGINT) AS iy
        FROM px
      ), w AS (
        SELECT gx, gy, ix, iy,
               (1.5 - (sx - ix)) AS ratx, (1.5 - (sy - iy)) AS raty
        FROM c
        WHERE ix >= 0 AND ix <= {n - 2} AND iy >= 0 AND iy <= {n - 2}
      )
      SELECT gx, gy,
             ROUND((
               (1000.0 * iy + ix) * (ratx * raty)
               + (1000.0 * iy + (ix + 1)) * ((1.0 - ratx) * raty)
               + (1000.0 * (iy + 1) + ix) * (ratx * (1.0 - raty))
               + (1000.0 * (iy + 1) + (ix + 1)) * ((1.0 - ratx) * (1.0 - raty))
             ) / ((ratx * raty) + ((1.0 - ratx) * raty)
                  + (ratx * (1.0 - raty)) + ((1.0 - ratx) * (1.0 - raty))), 4)
               AS val
      FROM w
    """
    return body


def _warp_cubic_oracle() -> str:
    n = WARP_N
    sx, sy = _warp_src_px("CAST(x.range AS BIGINT)", "CAST(y.range AS BIGINT)")

    def wexprs(t, pfx):
        half = f"(0.5 * {t})"
        three = f"(3.0 * {t})"
        half2 = f"({half} * {t})"
        return {
            f"{pfx}0": f"({half} * (-1 + {t} * (2 - {t})))",
            f"{pfx}1": f"(1 + {half2} * (-5 + {three}))",
            f"{pfx}2": f"({half} * (1 + {t} * (4 - {three})))",
            f"{pfx}3": f"({half2} * (-1 + {t}))",
        }

    wx = wexprs("dxf", "wx")
    wy = wexprs("dyf", "wy")
    wcols = ", ".join(f"{e} AS {k}" for k, e in {**wx, **wy}.items())
    rows = []
    for r in range(4):
        cells = " + ".join(
            f"wx{c} * (1000.0 * (iy + {r - 1}) + (ix + {c - 1}))" for c in range(4)
        )
        rows.append(f"wy{r} * ({cells})")
    acc = " + ".join(rows)
    return f"""
      WITH px AS (
        SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy,
               {sx} AS sx, {sy} AS sy
        FROM range(0, {n}) x, range(0, {n}) y
      ), c AS (
        SELECT gx, gy, sx, sy,
               CAST(FLOOR(sx - 0.5) AS BIGINT) AS ix,
               CAST(FLOOR(sy - 0.5) AS BIGINT) AS iy
        FROM px
      ), d AS (
        SELECT gx, gy, ix, iy,
               (sx - 0.5 - ix) AS dxf, (sy - 0.5 - iy) AS dyf
        FROM c
        WHERE ix >= 1 AND ix <= {n - 3} AND iy >= 1 AND iy <= {n - 3}
      ), w AS (SELECT gx, gy, ix, iy, {wcols} FROM d)
      SELECT gx, gy, ROUND({acc}, 4) AS val FROM w
    """


# -------------------------------------------- warp box (area) resamplers


def _warp_src_corner(gxe: str, gye: str):
    """SQL src pixel coords of dst pixel CORNER (gxe, gye) — the box
    resamplers transform corners, not centers (GWKAverageOrModeThread
    padfX/padfX2)."""
    from gdal_spark.kernels.geotransform import inv_geotransform

    inv = inv_geotransform(WARP_SRC_GT)
    g = WARP_DST_GT
    lon = f"({g[0]!r} + ({gxe}) * {g[1]!r} + ({gye}) * {g[2]!r})"
    lat = f"({g[3]!r} + ({gxe}) * {g[4]!r} + ({gye}) * {g[5]!r})"
    mx = f"({lon} * {OR.ORIGIN_SHIFT!r} / 180.0)"
    my = (
        f"((LN(TAN((90.0 + {lat}) * {OR.PI!r} / 360.0)) / {OR.PI_OVER_180!r})"
        f" * {OR.ORIGIN_SHIFT!r} / 180.0)"
    )
    return (
        f"({inv[0]!r} + {mx} * {inv[1]!r})",
        f"({inv[3]!r} + {my} * {inv[5]!r})",
    )


def _q_warp_box(spark, op):
    import numpy as np

    from gdal_spark.operators import raster as R

    n = WARP_N
    arr = (
        1000.0 * np.arange(n, dtype=np.float64)[:, None]
        + np.arange(n, dtype=np.float64)[None, :]
    )
    blocks, src = R.raster_from_array(spark, arr, WARP_SRC_GT, "EPSG:3857", block=32)
    dst = R.RasterMeta(n, n, WARP_DST_GT, "EPSG:4326", block=32, nodata=-1.0)
    out = R.warp(blocks, src, dst, op)
    return (
        out.select("bx", "by", F.posexplode("block").alias("idx", "val"))
        .select(
            (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
            (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
            "val",
        )
        .filter(F.col("val") != -1.0)
        .select("gx", "gy", F.round("val", 0 if op == "sum" else 4).alias("val"))
    )


def q_warp_average(spark, sf_dir):
    """GRA_Average — coverage-weighted box mean (gdalwarpkernel.cpp:6502
    GWKAverageOrModeThread, COMPUTE_WEIGHT macros)."""
    return _q_warp_box(spark, "average")


def q_warp_rms(spark, sf_dir):
    return _q_warp_box(spark, "rms")


def q_warp_cubicspline(spark, sf_dir):
    """GRA_CubicSpline — cubic B-spline basis, renormalized
    (gdalwarpkernel.cpp GWKBSpline); interior pixels."""
    return _q_warp_resampled(
        spark, "cubicspline", _cubic_interior_sql(), round_dec=2
    )


def _warp_cubicspline_oracle() -> str:
    n = WARP_N
    sx, sy = _warp_src_px("CAST(x.range AS BIGINT)", "CAST(y.range AS BIGINT)")

    def bs(x):
        xp2, xp1, xm1 = f"({x} + 2.0)", f"({x} + 1.0)", f"({x} - 1.0)"
        t1 = f"(CASE WHEN {xm1} > 0.0 THEN -4.0 * {xm1} * {xm1} * {xm1} ELSE 0.0 END)"
        t2 = f"(CASE WHEN {x} > 0.0 THEN {t1} + 6.0 * {x} * {x} * {x} ELSE 0.0 END)"
        t3 = f"(CASE WHEN {xp1} > 0.0 THEN {t2} + -4.0 * {xp1} * {xp1} * {xp1} ELSE 0.0 END)"
        return f"(CASE WHEN {xp2} > 0.0 THEN {t3} + {xp2} * {xp2} * {xp2} ELSE 0.0 END)"

    wxs = {f"wx{c + 1}": bs(f"(dxf - ({c}))") for c in range(-1, 3)}
    wys = {f"wy{r + 1}": bs(f"(dyf - ({r}))") for r in range(-1, 3)}
    wcols = ", ".join(f"{e} AS {k}" for k, e in {**wxs, **wys}.items())
    acc_terms, wsum_terms = [], []
    for r in range(4):
        for c in range(4):
            acc_terms.append(
                f"wy{r} * wx{c} * (1000.0 * (iy + {r - 1}) + (ix + {c - 1}))"
            )
            wsum_terms.append(f"wy{r} * wx{c}")
    return f"""
      WITH px AS (
        SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy,
               {sx} AS sx, {sy} AS sy
        FROM range(0, {n}) x, range(0, {n}) y
      ), c AS (
        SELECT gx, gy,
               CAST(FLOOR(sx - 0.5) AS BIGINT) AS ix,
               CAST(FLOOR(sy - 0.5) AS BIGINT) AS iy,
               (sx - 0.5 - FLOOR(sx - 0.5)) AS dxf,
               (sy - 0.5 - FLOOR(sy - 0.5)) AS dyf
        FROM px
        WHERE FLOOR(sx - 0.5) >= 1 AND FLOOR(sx - 0.5) <= {n - 3}
          AND FLOOR(sy - 0.5) >= 1 AND FLOOR(sy - 0.5) <= {n - 3}
      ), w AS (SELECT gx, gy, ix, iy, {wcols} FROM c)
      SELECT gx, gy,
             ROUND(({" + ".join(acc_terms)}) / ({" + ".join(wsum_terms)}), 2)
               AS val
      FROM w
    """


def q_warp_lanczos(spark, sf_dir):
    """GRA_Lanczos — sinc(x)sinc(x/3), 6x6 taps, renormalized
    (gdalwarpkernel.cpp:3383 GWKLanczosSinc); interior pixels."""
    return _q_warp_resampled(spark, "lanczos", _lanczos_interior_sql(), round_dec=2)


def _lanczos_interior_sql(gxe: str = "gx", gye: str = "gy") -> str:
    n = WARP_N
    sx, sy = _warp_src_px(gxe, gye)
    ix = f"CAST(FLOOR({sx} - 0.5) AS BIGINT)"
    iy = f"CAST(FLOOR({sy} - 0.5) AS BIGINT)"
    return f"({ix} >= 2 AND {ix} <= {n - 4} AND {iy} >= 2 AND {iy} <= {n - 4})"


def _warp_lanczos_oracle() -> str:
    n = WARP_N
    sx, sy = _warp_src_px("CAST(x.range AS BIGINT)", "CAST(y.range AS BIGINT)")

    def lz(t):
        # mirror the kernel's sin(3x) identity formulation exactly
        pix = f"({OR.PI!r} * {t})"
        pior = f"({pix} / 3.0)"
        p2or = f"({pix} * {pior})"
        s = f"SIN({pior})"
        s2 = f"({s} * {s})"
        return (
            f"(CASE WHEN {t} = 0.0 THEN 1.0 "
            f"ELSE ((3.0 - 4.0 * {s2}) * {s2}) / {p2or} END)"
        )

    wxs = {f"wx{c + 2}": lz(f"(dxf - ({c}))") for c in range(-2, 4)}
    wys = {f"wy{r + 2}": lz(f"(dyf - ({r}))") for r in range(-2, 4)}
    wcols = ", ".join(f"{e} AS {k}" for k, e in {**wxs, **wys}.items())
    acc_terms = []
    wsum_terms = []
    for r in range(6):
        for c in range(6):
            acc_terms.append(
                f"wy{r} * wx{c} * (1000.0 * (iy + {r - 2}) + (ix + {c - 2}))"
            )
            wsum_terms.append(f"wy{r} * wx{c}")
    return f"""
      WITH px AS (
        SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy,
               {sx} AS sx, {sy} AS sy
        FROM range(0, {n}) x, range(0, {n}) y
      ), c AS (
        SELECT gx, gy,
               CAST(FLOOR(sx - 0.5) AS BIGINT) AS ix,
               CAST(FLOOR(sy - 0.5) AS BIGINT) AS iy,
               (sx - 0.5 - FLOOR(sx - 0.5)) AS dxf,
               (sy - 0.5 - FLOOR(sy - 0.5)) AS dyf
        FROM px
        WHERE FLOOR(sx - 0.5) >= 2 AND FLOOR(sx - 0.5) <= {n - 4}
          AND FLOOR(sy - 0.5) >= 2 AND FLOOR(sy - 0.5) <= {n - 4}
      ), w AS (SELECT gx, gy, ix, iy, {wcols} FROM c)
      SELECT gx, gy,
             ROUND(({" + ".join(acc_terms)}) / ({" + ".join(wsum_terms)}), 2)
               AS val
      FROM w
    """


def q_warp_sum(spark, sf_dir):
    return _q_warp_box(spark, "sum")


def q_warp_min(spark, sf_dir):
    return _q_warp_box(spark, "min")


def q_warp_max(spark, sf_dir):
    return _q_warp_box(spark, "max")


def q_warp_med(spark, sf_dir):
    """GRA_Med — quantile index ceil(q*n - 1) over the sorted box set."""
    return _q_warp_box(spark, "med")


def q_warp_q1(spark, sf_dir):
    return _q_warp_box(spark, "q1")


def q_warp_q3(spark, sf_dir):
    return _q_warp_box(spark, "q3")


def _warp_box_oracle(op: str) -> str:
    n = WARP_N
    sxA, syA = _warp_src_corner("gxr", "gyr")
    sxB, syB = _warp_src_corner("(gxr + 1.0)", "(gyr + 1.0)")
    agg = {
        "average": "ROUND(SUM(v * w) / SUM(w), 4)",
        "rms": "ROUND(SQRT(SUM(v * v * w) / SUM(w)), 4)",
        # sum is unnormalized, so coordinate-transform last-ulp noise in
        # the edge weights scales with box value (~2e-5 absolute): round
        # to integers (values ~5e4, still 5 significant digits checked)
        "sum": "ROUND(SUM(v * w), 0)",
        "min": "ROUND(MIN(v), 4)",
        "max": "ROUND(MAX(v), 4)",
        "med": "ROUND(list_sort(list(v))[CAST(CEIL(0.5 * COUNT(*) - 1) AS BIGINT) + 1], 4)",
        "q1": "ROUND(list_sort(list(v))[CAST(CEIL(0.25 * COUNT(*) - 1) AS BIGINT) + 1], 4)",
        "q3": "ROUND(list_sort(list(v))[CAST(CEIL(0.75 * COUNT(*) - 1) AS BIGINT) + 1], 4)",
    }[op]
    return f"""
      WITH px AS (
        SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy,
               CAST(x.range AS DOUBLE) AS gxr, CAST(y.range AS DOUBLE) AS gyr
        FROM range(0, {n}) x, range(0, {n}) y
      ), corners AS (
        SELECT gx, gy,
               LEAST({sxA}, {sxB}) AS xmn, GREATEST({sxA}, {sxB}) AS xmx,
               LEAST({syA}, {syB}) AS ymn, GREATEST({syA}, {syB}) AS ymx
        FROM px
      ), box AS (
        SELECT gx, gy, xmn, xmx, ymn, ymx,
               CAST(GREATEST(FLOOR(xmn + 1e-10), 0.0) AS BIGINT) AS x0,
               CAST(LEAST(CEIL(xmx - 1e-10), {n}.0) AS BIGINT) AS x1p,
               CAST(GREATEST(FLOOR(ymn + 1e-10), 0.0) AS BIGINT) AS y0,
               CAST(LEAST(CEIL(ymx - 1e-10), {n}.0) AS BIGINT) AS y1p
        FROM corners
        WHERE xmx > -1e-10 AND xmn < {n} + 1e-10
          AND ymx > -1e-10 AND ymn < {n} + 1e-10
      ), box2 AS (
        SELECT gx, gy, xmn, xmx, ymn, ymx, x0, y0,
               CASE WHEN x0 = x1p AND x1p < {n} THEN x1p + 1 ELSE x1p END AS x1,
               CASE WHEN y0 = y1p AND y1p < {n} THEN y1p + 1 ELSE y1p END AS y1
        FROM box
      ), cells AS (
        SELECT b.gx, b.gy,
               (x0 + dx.range) AS sxi, (y0 + dy.range) AS syi,
               (1000.0 * (y0 + dy.range) + (x0 + dx.range)) AS v,
               (CASE WHEN y1 - y0 = 1 THEN 1.0
                     WHEN (y0 + dy.range) = y0 THEN 1 - (ymn - y0)
                     WHEN (y0 + dy.range) + 1 = y1 THEN 1 - (y1 - ymx)
                     ELSE 1.0 END)
               * (CASE WHEN x1 - x0 = 1 THEN 1.0
                       WHEN (x0 + dx.range) = x0 THEN 1 - (xmn - x0)
                       WHEN (x0 + dx.range) + 1 = x1 THEN 1 - (x1 - xmx)
                       ELSE 1.0 END) AS w
        FROM box2 b, range(0, 8) dx, range(0, 8) dy
        WHERE x0 + dx.range < x1 AND y0 + dy.range < y1
      )
      SELECT gx, gy, {agg} AS val FROM cells GROUP BY gx, gy
    """


def q_zonal_metrics(spark, sf_dir):
    """gdalgrid data-metrics family (minimum/maximum/range/count,
    /root/reference/alg/gdalgrid.cpp:1033) as groupBy-cell aggregation."""
    p = TI.assign_tiles(
        _pages(spark, sf_dir).filter(F.col("lat").isNotNull()), 7
    )
    return p.groupBy("zoom", "tx", "ty").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("lat_e7").alias("min_lat_e7"),
        F.max("lat_e7").alias("max_lat_e7"),
        (F.max("lat_e7") - F.min("lat_e7")).alias("range_lat_e7"),
        F.countDistinct("lang").alias("n_langs"),
    )


# ------------------------------------ raster pipeline steps (per-pixel)

RECLASS_RANGES = ((0.0, 64.0, 1.0), (64.0, 128.0, 2.0), (128.0, 500.0, 3.0))
COLOR_STOPS = ((0.0, 0, 0, 128), (64.0, 255, 0, 0), (128.0, 0, 255, 0), (192.0, 0, 0, 255))


def _raster_px(out, extra=("val",)):
    cols = [
        (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
        (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
    ]
    return out, cols


def q_raster_scale(spark, sf_dir):
    """`gdal raster scale` step: out = in*a + b as a transform() lambda
    (VRT pixel-function scale, frmts/vrt/pixelfunctions.cpp:2229)."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.rastermath import scale_blocks

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    out = scale_blocks(R.synthetic_raster(spark, meta), 0.5, 10.0)
    return out.select("bx", "by", F.posexplode("block").alias("idx", "val")).select(
        (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
        (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
        "val",
    )


def q_raster_reclassify(spark, sf_dir):
    """`gdal raster reclassify` (apps/gdalalg_raster_reclassify.cpp):
    range table with PASS_THROUGH default."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.rastermath import reclassify_blocks

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    out = reclassify_blocks(R.synthetic_raster(spark, meta), list(RECLASS_RANGES))
    return out.select("bx", "by", F.posexplode("block").alias("idx", "val")).select(
        (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
        (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
        "val",
    )


def q_raster_colormap(spark, sf_dir):
    """`gdal raster color-map` (gdaldem color-relief discrete mode):
    last-stop-below lookup into RGB bands."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.rastermath import color_map_blocks

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    out = color_map_blocks(R.synthetic_raster(spark, meta), list(COLOR_STOPS))
    return (
        out.select(
            "bx", "by",
            F.posexplode(
                F.arrays_zip(
                    F.col("block_r").alias("r"),
                    F.col("block_g").alias("g"),
                    F.col("block_b").alias("b"),
                )
            ).alias("idx", "rgb"),
        )
        .select(
            (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
            (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
            F.col("rgb.r").alias("r"), F.col("rgb.g").alias("g"), F.col("rgb.b").alias("b"),
        )
    )


def _raster_v_sql():
    return "CAST(((gy * 7 + gx * 13) % 256) AS DOUBLE)"


def _raster_grid_sql(n):
    return (
        f"(SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy "
        f"FROM range(0, {n}) x, range(0, {n}) y)"
    )


def _raster_scale_oracle() -> str:
    return f"""
      SELECT gx, gy, {_raster_v_sql()} * CAST(0.5 AS DOUBLE) + CAST(10.0 AS DOUBLE) AS val
      FROM {_raster_grid_sql(HILLSHADE_N)}
    """


def _raster_reclassify_oracle() -> str:
    whens = " ".join(
        f"WHEN v >= CAST({lo!r} AS DOUBLE) AND v < CAST({hi!r} AS DOUBLE) "
        f"THEN CAST({val!r} AS DOUBLE)"
        for lo, hi, val in RECLASS_RANGES
    )
    return f"""
      SELECT gx, gy, CASE {whens} ELSE v END AS val
      FROM (SELECT gx, gy, {_raster_v_sql()} AS v FROM {_raster_grid_sql(HILLSHADE_N)})
    """


def _raster_colormap_oracle() -> str:
    cols = []
    for ci, name in enumerate(("r", "g", "b")):
        whens = " ".join(
            f"WHEN v >= CAST({t!r} AS DOUBLE) THEN CAST({rgb[ci]} AS DOUBLE)"
            for t, *rgb in reversed(COLOR_STOPS)
        )
        cols.append(f"CASE {whens} ELSE 0.0 END AS {name}")
    return f"""
      SELECT gx, gy, {", ".join(cols)}
      FROM (SELECT gx, gy, {_raster_v_sql()} AS v FROM {_raster_grid_sql(HILLSHADE_N)})
    """


def q_raster_mosaic(spark, sf_dir):
    """`gdal raster mosaic`: first-valid-wins composition of two
    same-grid rasters — raster A carries nodata holes (every pixel whose
    value is divisible by 5), raster B fills them."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.rastermath import mosaic_blocks

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    a = R.synthetic_raster(spark, meta).withColumn(
        "block", F.expr("transform(block, x -> CASE WHEN x % 5 = 0 THEN -1.0 ELSE x END)")
    )
    b = R.synthetic_raster(spark, meta).withColumn(
        "block",
        F.expr(
            "transform(sequence(0, size(block) - 1), "
            "i -> CAST((((by * 32 + i div 32) * 3 + (bx * 32 + i % 32) * 11) % 256) AS DOUBLE))"
        ),
    )
    out = mosaic_blocks([a, b], nodata=-1.0)
    return out.select("bx", "by", F.posexplode("block").alias("idx", "val")).select(
        (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
        (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
        "val",
    )


def _raster_mosaic_oracle() -> str:
    va = _raster_v_sql()
    vb = "CAST(((gy * 3 + gx * 11) % 256) AS DOUBLE)"
    return f"""
      SELECT gx, gy,
             CASE WHEN {va} % 5 = 0 THEN {vb} ELSE {va} END AS val
      FROM {_raster_grid_sql(HILLSHADE_N)}
    """


def _px_grid(out, n_block=32, *cols):
    return out.select("bx", "by", F.posexplode("block").alias("idx", "val")).select(
        (F.col("bx") * n_block + F.col("idx") % n_block).alias("gx"),
        (F.col("by") * n_block + (F.col("idx") / n_block).cast("int")).alias("gy"),
        *cols,
    )


def q_raster_unscale(spark, sf_dir):
    """`gdal raster unscale` (apps/gdalalg_raster_unscale.cpp): apply
    band Scale/Offset metadata — raw*scale + offset, one transform()."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.rastermath import unscale_blocks

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    out = unscale_blocks(R.synthetic_raster(spark, meta), 0.125, -12.5)
    return _px_grid(out, 32, "val")


def q_raster_settype(spark, sf_dir):
    """`gdal raster set-type Byte` with GDALCopyWord semantics
    (gdal_priv_templates.hpp:430-465: +0.5, clamp [0,255], truncate) —
    fed fractional/negative values via a scale step first."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.rastermath import scale_blocks, set_type_blocks

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    out = set_type_blocks(
        scale_blocks(R.synthetic_raster(spark, meta), 0.7, -20.0), "Byte"
    )
    return _px_grid(out, 32, "val")


def _raster_b_expr():
    return (
        "transform(sequence(0, size(block) - 1), "
        "i -> CAST((((by * 32 + i div 32) * 3 + (bx * 32 + i % 32) * 11) % 256) AS DOUBLE))"
    )


def q_raster_stack(spark, sf_dir):
    """`gdal raster stack` (apps/gdalalg_raster_stack.cpp): same-grid
    band merge — equi-join on block keys, no data rewrite."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.rastermath import stack_blocks

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    a = R.synthetic_raster(spark, meta)
    b = R.synthetic_raster(spark, meta).withColumn("block", F.expr(_raster_b_expr()))
    out = stack_blocks([a, b])
    return (
        out.select(
            "bx", "by",
            F.posexplode(
                F.arrays_zip(F.col("block_1").alias("v1"), F.col("block_2").alias("v2"))
            ).alias("idx", "z"),
        )
        .select(
            (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
            (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
            F.col("z.v1").alias("v1"), F.col("z.v2").alias("v2"),
        )
    )


def q_pansharpen(spark, sf_dir):
    """Weighted-Brovey pansharpen (alg/gdalpansharpen.cpp:601): band_i *
    pan / (w1*s1 + w2*s2), zero pseudo-pan -> 0 (ComputeFactor:576)."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.rastermath import pansharpen_blocks

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    pan = R.synthetic_raster(spark, meta)
    s1 = R.synthetic_raster(spark, meta).withColumn("block", F.expr(_raster_b_expr()))
    s2 = R.synthetic_raster(spark, meta).withColumn(
        "block",
        F.expr(
            "transform(sequence(0, size(block) - 1), "
            "i -> CAST((((by * 32 + i div 32) * 5 + (bx * 32 + i % 32) * 17) % 256) AS DOUBLE))"
        ),
    )
    out = pansharpen_blocks(pan, [s1, s2], [0.6, 0.4])
    return (
        out.select(
            "bx", "by",
            F.posexplode(
                F.arrays_zip(F.col("block_1").alias("b1"), F.col("block_2").alias("b2"))
            ).alias("idx", "z"),
        )
        .select(
            (F.col("bx") * 32 + F.col("idx") % 32).alias("gx"),
            (F.col("by") * 32 + (F.col("idx") / 32).cast("int")).alias("gy"),
            F.round(F.col("z.b1"), 6).alias("b1"),
            F.round(F.col("z.b2"), 6).alias("b2"),
        )
    )


RESIZE_W, RESIZE_H = 96, 80


def q_raster_resize(spark, sf_dir):
    """`gdal raster resize` (apps/gdalalg_raster_resize.cpp): same
    extent, new grid — a warp onto the scaled geotransform (nearest)."""
    from gdal_spark.operators import raster as R

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    out, _ = R.resize(
        R.synthetic_raster(spark, meta), meta, RESIZE_W, RESIZE_H, "near"
    )
    return _px_grid(out, 32, F.col("val").cast("long").alias("val"))


def q_warp_mode(spark, sf_dir):
    """Mode resampler (gdalwarpkernel.cpp:6502 GWKAverageOrModeThread)
    on a strict-majority fixture: integer 4x downscale, every 4x4 box
    holds 11 base-valued pixels and 5 distinct singletons, so the
    path-dependent tie rule can never fire and the mode is analytic."""
    from gdal_spark.operators import raster as R

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    fix = R.synthetic_raster(spark, meta).withColumn(
        "block",
        F.expr(
            "transform(sequence(0, size(block) - 1), i -> "
            "CAST(CASE WHEN ((by * 32 + i div 32) % 4) * 4 + ((bx * 32 + i % 32) % 4) < 5 "
            "THEN (((by * 32 + i div 32) div 4) * 7 + ((bx * 32 + i % 32) div 4) * 13) % 256 "
            "     + 1 + ((by * 32 + i div 32) % 4) * 4 + ((bx * 32 + i % 32) % 4) "
            "ELSE (((by * 32 + i div 32) div 4) * 7 + ((bx * 32 + i % 32) div 4) * 13) % 256 "
            "END AS DOUBLE))"
        ),
    )
    out, _ = R.resize(fix, meta, HILLSHADE_N // 4, HILLSHADE_N // 4, "mode")
    return _px_grid(out, 32, F.col("val").cast("long").alias("val"))


FILLND_R = 4


def q_fill_nodata(spark, sf_dir):
    """`gdal raster fill-nodata` (alg/rasterfill.cpp), deterministic
    bounded-radius variant: 1/distance IDW over every valid pixel within
    euclidean max_dist (the reference's weighting without its scan-order
    quadrant approximation — documented in operators/fillnodata.py)."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.fillnodata import fill_nodata

    meta = R.RasterMeta(
        HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32, nodata=-1.0
    )
    holed = R.synthetic_raster(spark, meta).withColumn(
        "block",
        F.expr(
            "transform(block, x -> CASE WHEN x % 7 = CAST(0 AS DOUBLE) "
            "THEN CAST(-1 AS DOUBLE) ELSE x END)"
        ),
    )
    out = fill_nodata(holed, meta, FILLND_R)
    return _px_grid(out, 32, F.round("val", 6).alias("val"))


def _raster_unscale_oracle() -> str:
    return f"""
      SELECT gx, gy, {_raster_v_sql()} * CAST(0.125 AS DOUBLE) + CAST(-12.5 AS DOUBLE) AS val
      FROM {_raster_grid_sql(HILLSHADE_N)}
    """


def _raster_settype_oracle() -> str:
    return f"""
      SELECT gx, gy,
             TRUNC(LEAST(GREATEST(v + 0.5, CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE))) AS val
      FROM (SELECT gx, gy, {_raster_v_sql()} * CAST(0.7 AS DOUBLE) + CAST(-20.0 AS DOUBLE) AS v
            FROM {_raster_grid_sql(HILLSHADE_N)})
    """


def _raster_stack_oracle() -> str:
    return f"""
      SELECT gx, gy, {_raster_v_sql()} AS v1,
             CAST(((gy * 3 + gx * 11) % 256) AS DOUBLE) AS v2
      FROM {_raster_grid_sql(HILLSHADE_N)}
    """


def _pansharpen_oracle() -> str:
    s1 = "CAST(((gy * 3 + gx * 11) % 256) AS DOUBLE)"
    s2 = "CAST(((gy * 5 + gx * 17) % 256) AS DOUBLE)"
    pan = _raster_v_sql()
    ps = f"(CAST(0.6 AS DOUBLE) * {s1} + CAST(0.4 AS DOUBLE) * {s2})"
    f_ = f"(CASE WHEN {ps} = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) ELSE {pan} / {ps} END)"
    return f"""
      SELECT gx, gy, ROUND({s1} * {f_}, 6) AS b1, ROUND({s2} * {f_}, 6) AS b2
      FROM {_raster_grid_sql(HILLSHADE_N)}
    """


def _raster_resize_oracle() -> str:
    from gdal_spark.kernels.geotransform import inv_geotransform

    g = HILLSHADE_GT
    n = HILLSHADE_N
    dst_gt1 = g[1] * n / RESIZE_W
    dst_gt5 = g[5] * n / RESIZE_H
    inv = inv_geotransform(g)
    sx = f"({inv[0]!r} + ({g[0]!r} + (gx + 0.5) * {dst_gt1!r}) * {inv[1]!r})"
    sy = f"({inv[3]!r} + ({g[3]!r} + (gy + 0.5) * {dst_gt5!r}) * {inv[5]!r})"
    return f"""
      SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy,
             (LEAST(CAST(FLOOR({sy} + 1e-10) AS BIGINT), {n - 1}) * 7
              + LEAST(CAST(FLOOR({sx} + 1e-10) AS BIGINT), {n - 1}) * 13) % 256 AS val
      FROM range(0, {RESIZE_W}) x, range(0, {RESIZE_H}) y
    """


def _warp_mode_oracle() -> str:
    m = HILLSHADE_N // 4
    return f"""
      SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy,
             (y.range * 7 + x.range * 13) % 256 AS val
      FROM range(0, {m}) x, range(0, {m}) y
    """


def _fill_nodata_oracle() -> str:
    r2 = FILLND_R * FILLND_R
    return f"""
      WITH m AS (
        SELECT gx, gy,
               CASE WHEN {_raster_v_sql()} % 7 = 0 THEN NULL ELSE {_raster_v_sql()} END AS v
        FROM {_raster_grid_sql(HILLSHADE_N)}
      ),
      fills AS (
        SELECT a.gx, a.gy,
               SUM(b.v / SQRT(CAST((a.gx - b.gx) * (a.gx - b.gx)
                                 + (a.gy - b.gy) * (a.gy - b.gy) AS DOUBLE)))
               / SUM(1.0 / SQRT(CAST((a.gx - b.gx) * (a.gx - b.gx)
                                   + (a.gy - b.gy) * (a.gy - b.gy) AS DOUBLE))) AS fv
        FROM m a JOIN m b
          ON a.v IS NULL AND b.v IS NOT NULL
         AND (a.gx - b.gx) * (a.gx - b.gx) + (a.gy - b.gy) * (a.gy - b.gy) <= {r2}
        GROUP BY a.gx, a.gy
      )
      SELECT a.gx, a.gy,
             ROUND(CASE WHEN a.v IS NOT NULL THEN a.v
                        ELSE COALESCE(f.fv, CAST(-1 AS DOUBLE)) END, 6) AS val
      FROM m a LEFT JOIN fills f ON a.gx = f.gx AND a.gy = f.gy
    """


VIEWSHED_NX, VIEWSHED_NY, VIEWSHED_OX, VIEWSHED_OY = 64, 9, 32, 4


def _viewshed_dem():
    import numpy as np

    x = np.arange(VIEWSHED_NX)
    # hill centered on the observer + tie-free bumps: mixed visibility
    fx = (
        -0.1 * np.abs(x - VIEWSHED_OX).astype(np.float64)
        + ((x * 37) % 23).astype(np.float64) * 0.02
        + ((x * 11) % 7).astype(np.float64) * 0.013
    )
    return np.tile(fx, (VIEWSHED_NY, 1))


def q_viewshed_row(spark, sf_dir):
    """Viewshed (alg/viewshed/viewshed_executor.cpp, Wang line sweep —
    full 2-D semantics pinned against the reference C++ goldens in
    tests/test_viewshed.py). The driver-checkable slice: on the
    OBSERVER'S ROW the sweep reduces to 1-D slope prefix-max, which the
    oracle reproduces with a window function; terrain values are
    tie-free so the formulations agree exactly. Output: visible gx set
    of the observer row."""
    from gdal_spark.operators.viewshed_op import cumulative_viewshed
    from gdal_spark.session import local_df

    # local_df -> LocalRelation: createDataFrame(list) plans as a
    # pickled-RDD scan that costs a full job per broadcast/use
    obs = local_df(spark, [(VIEWSHED_OX, VIEWSHED_OY)], "ox int, oy int")
    out = cumulative_viewshed(obs, _viewshed_dem())
    return out.filter(F.col("gy") == VIEWSHED_OY).select("gx").orderBy("gx")


def _viewshed_row_oracle() -> str:
    ox = VIEWSHED_OX
    return f"""
      WITH f AS (
        SELECT x.range AS gx,
               -0.1 * ABS(x.range - {ox})
               + CAST((x.range * 37) % 23 AS DOUBLE) * 0.02
               + CAST((x.range * 11) % 7 AS DOUBLE) * 0.013 AS fx
        FROM range(0, {VIEWSHED_NX}) x
      ), o AS (SELECT fx AS fo FROM f WHERE gx = {ox}),
      s AS (
        SELECT gx, (fx - fo) AS h, ABS(gx - {ox}) AS d,
               CASE WHEN gx < {ox} THEN 0 ELSE 1 END AS side,
               (fx - fo) / ABS(gx - {ox}) AS slope
        FROM f, o WHERE gx != {ox}
      ), m AS (
        SELECT gx, d, slope,
               MAX(slope) OVER (PARTITION BY side ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS pmax
        FROM s
      )
      SELECT gx FROM m WHERE d = 1 OR slope >= pmax
      UNION ALL SELECT {ox}
    """


# ------------------------------------ vector pipeline steps


def _fmt15(v: float) -> str:
    return f"{v:.15g}"


def q_swap_xy(spark, sf_dir):
    """`gdal vector swap-xy` step (OGRGeometry::swapXY)."""
    from gdal_spark.operators.geom import swap_xy_wkb
    from gdal_spark.operators.raster import wkt_of

    z = zones_df(spark)
    return z.select("zone_id", wkt_of(swap_xy_wkb(F.col("geometry"))).alias("wkt"))


def _swap_xy_oracle() -> str:
    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.zones import _zone_specs

    rows = []
    for zid, _, wkb_, _ in _zone_specs():
        polys = W.decode_polygons(bytes(wkb_))
        def ring_txt(r):
            return "(" + ",".join(f"{_fmt15(y)} {_fmt15(x)}" for x, y in r) + ")"
        if len(polys) == 1:
            wkt = "POLYGON (" + ",".join(ring_txt(r) for r in polys[0]) + ")"
        else:
            wkt = "MULTIPOLYGON (" + ",".join(
                "(" + ",".join(ring_txt(r) for r in rings) + ")" for rings in polys
            ) + ")"
        rows.append(f"({zid}, '{wkt}')")
    return (
        "SELECT CAST(c0 AS BIGINT) AS zone_id, c1 AS wkt FROM (VALUES "
        + ", ".join(rows) + ") t(c0, c1)"
    )


def q_explode_collections(spark, sf_dir):
    """`gdal vector explode-collections` step: one row per part."""
    from gdal_spark.operators.geom import explode_collections
    from gdal_spark.operators.raster import wkt_of

    z = explode_collections(zones_df(spark))
    return z.select("zone_id", "part_idx", wkt_of(F.col("geometry")).alias("wkt"))


def _explode_collections_oracle() -> str:
    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.zones import _zone_specs

    rows = []
    for zid, _, wkb_, _ in _zone_specs():
        for pi, rings in enumerate(W.decode_polygons(bytes(wkb_))):
            def ring_txt(r):
                return "(" + ",".join(f"{_fmt15(x)} {_fmt15(y)}" for x, y in r) + ")"
            wkt = "POLYGON (" + ",".join(ring_txt(r) for r in rings) + ")"
            rows.append(f"({zid}, {pi}, '{wkt}')")
    return (
        "SELECT CAST(c0 AS BIGINT) AS zone_id, CAST(c1 AS INTEGER) AS part_idx, "
        "c2 AS wkt FROM (VALUES " + ", ".join(rows) + ") t(c0, c1, c2)"
    )


# ------------------------------------------- raster point sampling

SAMPLE_N = 400


def _sample_points(spark):
    """Deterministic fractional sample positions inside the synthetic
    raster, expressed in georeferenced coords (identical math in the
    oracle; everything rational so values compare exactly)."""
    g = HILLSHADE_GT
    return spark.range(SAMPLE_N).select(
        F.col("id").alias("point_id"),
        (F.lit(g[0]) + ((F.col("id") * 0.317 + 0.219) % 128.0) * F.lit(g[1])).alias("x"),
        (F.lit(g[3]) + ((F.col("id") * 0.731 + 0.467) % 128.0) * F.lit(g[5])).alias("y"),
    )


def q_sample_nearest(spark, sf_dir):
    """InterpolateAtPoint nearest (gcore/gdalrasterband.cpp:9956,
    alg/gdal_interpolateatpoint.cpp:415) — all-JVM join sampling."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.sampling import sample_nearest

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    out = sample_nearest(_sample_points(spark), R.synthetic_raster(spark, meta), meta)
    return out.select("point_id", "val")


def q_sample_bilinear(spark, sf_dir):
    """InterpolateAtPoint bilinear (GWKBilinearResample4Sample weights)."""
    from gdal_spark.operators import raster as R
    from gdal_spark.operators.sampling import sample_bilinear

    meta = R.RasterMeta(HILLSHADE_N, HILLSHADE_N, HILLSHADE_GT, "EPSG:3857", block=32)
    out = sample_bilinear(
        _sample_points(spark), R.synthetic_raster(spark, meta), meta
    )
    return out.select("point_id", F.round("val", 6).alias("val"))


def _sample_px_sql():
    g = HILLSHADE_GT
    from gdal_spark.kernels.geotransform import inv_geotransform

    inv = inv_geotransform(g)
    x = f"({g[0]!r} + ((CAST(i.range AS DOUBLE) * 0.317 + 0.219) % 128.0) * {g[1]!r})"
    y = f"({g[3]!r} + ((CAST(i.range AS DOUBLE) * 0.731 + 0.467) % 128.0) * {g[5]!r})"
    px = f"({inv[0]!r} + {x} * {inv[1]!r})"
    py = f"({inv[3]!r} + {y} * {inv[5]!r})"
    return px, py


def _sample_nearest_oracle() -> str:
    n = HILLSHADE_N
    px, py = _sample_px_sql()
    # explicit FLOOR: DuckDB's double->BIGINT cast rounds to nearest,
    # Spark's truncates (the kernel truncates, gdalwarpkernel int cast)
    ix = f"LEAST(CAST(FLOOR({px} + 1e-10) AS BIGINT), {n - 1})"
    iy = f"LEAST(CAST(FLOOR({py} + 1e-10) AS BIGINT), {n - 1})"
    return f"""
      SELECT CAST(i.range AS BIGINT) AS point_id,
             CAST((({iy}) * 7 + ({ix}) * 13) % 256 AS DOUBLE) AS val
      FROM range(0, {SAMPLE_N}) i
      WHERE {px} >= 0 AND {px} + 1e-10 <= {n}
        AND {py} >= 0 AND {py} + 1e-10 <= {n}
    """


def _sample_bilinear_oracle() -> str:
    n = HILLSHADE_N
    px, py = _sample_px_sql()
    return f"""
      WITH p AS (
        SELECT CAST(i.range AS BIGINT) AS point_id, {px} AS px, {py} AS py
        FROM range(0, {SAMPLE_N}) i
      ), c AS (
        SELECT point_id,
               CASE WHEN FLOOR(px - 0.5) = -1 THEN 0
                    ELSE CAST(FLOOR(px - 0.5) AS BIGINT) END AS ix0,
               CASE WHEN FLOOR(px - 0.5) = -1 THEN 1.0
                    ELSE 1.5 - (px - FLOOR(px - 0.5)) END AS ratx,
               CASE WHEN FLOOR(py - 0.5) = -1 THEN 0
                    ELSE CAST(FLOOR(py - 0.5) AS BIGINT) END AS iy0,
               CASE WHEN FLOOR(py - 0.5) = -1 THEN 1.0
                    ELSE 1.5 - (py - FLOOR(py - 0.5)) END AS raty
        FROM p
      ), taps AS (
        SELECT point_id, (ix0 + dx.range) AS cx, (iy0 + dy.range) AS cy,
               (CASE WHEN dx.range = 0 THEN ratx ELSE 1.0 - ratx END)
               * (CASE WHEN dy.range = 0 THEN raty ELSE 1.0 - raty END) AS wgt
        FROM c, range(0, 2) dx, range(0, 2) dy
      )
      SELECT point_id,
             ROUND(SUM(((cy * 7 + cx * 13) % 256) * wgt) / SUM(wgt), 6) AS val
      FROM taps
      WHERE cx >= 0 AND cx < {n} AND cy >= 0 AND cy < {n}
      GROUP BY point_id
    """


# ------------------------------------------------- geometry transforms


def q_geom_convexhull(spark, sf_dir):
    """ConvexHull (ogrgeometry.cpp:4188) of every zone; oracle is an
    independent gift-wrapping hull over the same literal coordinates."""
    from gdal_spark.operators.geom import convex_hull_wkb
    from gdal_spark.operators.raster import wkt_of

    z = zones_df(spark)
    return z.select(
        "zone_id", wkt_of(convex_hull_wkb(F.col("geometry"))).alias("hull_wkt")
    )


def _convexhull_oracle() -> str:
    import math

    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.zones import _zone_specs

    def gift_wrap(pts):
        """Jarvis march, CCW from the lexicographic minimum — an
        independent derivation of the same hull."""
        pts = sorted(set(pts))
        if len(pts) <= 2:
            return pts + pts[:1]
        hull = [pts[0]]
        while True:
            p = hull[-1]
            cand = pts[0] if pts[0] != p else pts[1]
            for q in pts:
                if q == p:
                    continue
                cr = (cand[0] - p[0]) * (q[1] - p[1]) - (cand[1] - p[1]) * (q[0] - p[0])
                if cr < 0 or (
                    cr == 0
                    and math.hypot(q[0] - p[0], q[1] - p[1])
                    > math.hypot(cand[0] - p[0], cand[1] - p[1])
                ):
                    cand = q
            if cand == hull[0]:
                break
            hull.append(cand)
        # rotate to lexicographic min, keep CW->CCW orientation parity
        k = min(range(len(hull)), key=lambda i: hull[i])
        ring = hull[k:] + hull[:k]
        # jarvis above walks clockwise when cr<0 picks right turns; make CCW
        area2 = sum(
            ring[i][0] * ring[(i + 1) % len(ring)][1]
            - ring[(i + 1) % len(ring)][0] * ring[i][1]
            for i in range(len(ring))
        )
        if area2 < 0:
            ring = [ring[0]] + ring[1:][::-1]
        ring.append(ring[0])
        return ring

    def fmt(v):
        if float(v).is_integer():
            return str(int(v))
        return f"{v:.15g}"

    rows = []
    for zid, _, wkb_, _ in _zone_specs():
        pts = [
            (float(x), float(y))
            for rings in W.decode_polygons(bytes(wkb_))
            for ring in rings
            for x, y in ring
        ]
        ring = gift_wrap(pts)
        wkt = "POLYGON ((" + ",".join(f"{fmt(x)} {fmt(y)}" for x, y in ring) + "))"
        rows.append(f"({zid}, '{wkt}')")
    return (
        "SELECT CAST(c0 AS BIGINT) AS zone_id, c1 AS hull_wkt FROM (VALUES "
        + ", ".join(rows)
        + ") t(c0, c1)"
    )


def q_geom_simplify(spark, sf_dir):
    """Segmentize (max edge 0.01 deg) then Douglas-Peucker simplify
    (ogrgeometry.cpp Segmentize / :6362 Simplify): round-trips back to
    the original ring vertex sequence, checked against the geom_props
    golden WKT."""
    from gdal_spark.operators.geom import simplify_segmentize_wkb
    from gdal_spark.operators.raster import wkt_of

    z = zones_df(spark)
    f = simplify_segmentize_wkb(1e-9, max_len=0.01)
    return z.select("zone_id", wkt_of(f(F.col("geometry"))).alias("wkt"))


def q_geom_buffer(spark, sf_dir):
    """ST_Buffer of point geometries (8 quadrant segments), pure Column
    math over the query fixture points; oracle mirrors the cos/sin ring."""
    from gdal_spark.operators.geom import buffer_points

    q = _queries_df(spark, KNN_QUERIES)
    out = buffer_points(q, "qlon", "qlat", 0.1)
    return out.select(
        "query_id", "k",
        F.round("vx", 9).alias("vx"), F.round("vy", 9).alias("vy"),
    )


def _buffer_oracle() -> str:
    pts = _sql_values(KNN_QUERIES)
    step = 2.0 * 3.141592653589793 / 32.0
    return f"""
      WITH q(query_id, qlat, qlon) AS ({pts})
      SELECT query_id, CAST(k.range AS INTEGER) AS k,
             ROUND(qlon + 0.1 * COS(CAST(k.range AS DOUBLE) * {step!r}), 9) AS vx,
             ROUND(qlat + 0.1 * SIN(CAST(k.range AS DOUBLE) * {step!r}), 9) AS vy
      FROM q, range(0, 32) k
    """


# -------------------------------------------------------- proximity / sieve

PROX_ZOOM = 10
PROX_MAXDIST = 15.0
PROX_PAD = 20


def _prox_window():
    """Global-pixel window around the sliver zone (107) at PROX_ZOOM."""
    import numpy as np

    from gdal_spark.functions.geo import ORIGIN_SHIFT
    from gdal_spark.kernels.mercator import clip_lat, latlon_to_meters, resolution

    res = resolution(PROX_ZOOM)
    m_total = (1 << PROX_ZOOM) * 256
    minx, miny, maxx, maxy = -74.0001, 40.7001, -73.9961, 40.7041
    mx, my = latlon_to_meters(clip_lat(np.array([miny, maxy])), np.array([minx, maxx]))
    gx0 = int((mx[0] + ORIGIN_SHIFT) / res) - PROX_PAD
    gx1 = int((mx[1] + ORIGIN_SHIFT) / res) + PROX_PAD
    gy0 = int(m_total - (my[1] + ORIGIN_SHIFT) / res) - PROX_PAD
    gy1 = int(m_total - (my[0] + ORIGIN_SHIFT) / res) + PROX_PAD
    return gx0, gy0, gx1 - gx0 + 1, gy1 - gy0 + 1


def q_proximity(spark, sf_dir):
    """GDALComputeProximity (alg/gdalproximity.cpp, DISTUNITS=PIXEL,
    MAXDIST) around the rasterized sliver zone — exact euclidean pixel
    distances via the bucketed neighborhood join; d2 is integer-exact
    and dist = sqrt(d2) is a correctly-rounded IEEE op, so the oracle
    compares exactly."""
    from gdal_spark.operators.proximity import proximity
    from gdal_spark.operators.rasterize_poly import rasterize_zones

    z = zones_df(spark).filter(F.col("zone_id") == 107)
    px = rasterize_zones(z, PROX_ZOOM)
    targets = px.select(
        (F.col("tx") * 256 + F.col("px")).alias("gx"),
        (F.col("ty") * 256 + F.col("py")).alias("gy"),
    )
    gx0, gy0, nx, ny = _prox_window()
    return proximity(targets, gx0, gy0, nx, ny, PROX_MAXDIST)


def _proximity_oracle() -> str:
    from gdal_spark.operators.zones import _pixel_enum_sql, _zone_specs

    wkb_, pred = next(
        (w, p) for zid, _, w, p in _zone_specs() if zid == 107
    )
    gx0, gy0, nx, ny = _prox_window()
    r2 = PROX_MAXDIST * PROX_MAXDIST
    return f"""
      WITH t AS (SELECT gpx, gpy FROM {_pixel_enum_sql(PROX_ZOOM, 107, wkb_, pred)}),
      w AS (SELECT x.range AS gx, y.range AS gy
            FROM range({gx0}, {gx0 + nx}) x, range({gy0}, {gy0 + ny}) y)
      SELECT gx, gy, CAST(MIN(d2) AS BIGINT) AS d2, SQRT(MIN(d2)) AS dist
      FROM (
        SELECT w.gx, w.gy,
               CAST((w.gx - t.gpx) * (w.gx - t.gpx)
                    + (w.gy - t.gpy) * (w.gy - t.gpy) AS DOUBLE) AS d2
        FROM w, t
      ) WHERE d2 <= {r2!r}
      GROUP BY gx, gy
    """


def _sieve_patch_box():
    """A 2x2 global-pixel box strictly inside zone 101 at PROX_ZOOM."""
    import numpy as np

    from gdal_spark.functions.geo import ORIGIN_SHIFT
    from gdal_spark.kernels.mercator import latlon_to_meters, resolution

    res = resolution(PROX_ZOOM)
    m_total = (1 << PROX_ZOOM) * 256
    mx, my = latlon_to_meters(np.array([40.7001]), np.array([-74.0001]))
    cx = int((mx[0] + ORIGIN_SHIFT) / res) + 8
    cy = int(m_total - (my[0] + ORIGIN_SHIFT) / res) - 8
    return cx, cy


def q_sieve(spark, sf_dir):
    """GDALSieveFilter (alg/gdalsievefilter.cpp) over rasterized zones
    with an injected 4-pixel foreign patch inside zone 101: the patch is
    below the threshold and merges into its (only, large) neighbour,
    while the isolated sliver zone 107 — also below the threshold but
    with no neighbours — stays unchanged (reference rule :147). Exact
    merge mechanics incl. tie order are checksum-pinned against the
    reference autotest in tests/test_sieve.py; this query checks the
    end state against an independent closed-form oracle."""
    from gdal_spark.operators.rasterize_poly import rasterize_zones
    from gdal_spark.operators.sieve import sieve

    z = zones_df(spark).filter(F.col("zone_id").isin([101, 107]))
    px = rasterize_zones(z, PROX_ZOOM).withColumnRenamed("zone_id", "value")
    # zone 107 lies INSIDE zone 101: MERGE_ALG=REPLACE by feature order
    # (alg/gdalrasterize.cpp:779-817) — later zone wins the pixel, so the
    # sliver carves a 107-valued patch out of the 101 region
    px = px.groupBy("zoom", "tx", "ty", "px", "py").agg(
        F.max("value").alias("value")
    )
    cx, cy = _sieve_patch_box()
    gx = F.col("tx") * 256 + F.col("px")
    gy = F.col("ty") * 256 + F.col("py")
    px = px.withColumn(
        "value",
        F.when(
            gx.between(cx, cx + 1) & gy.between(cy, cy + 1), F.lit(999)
        ).otherwise(F.col("value")),
    )
    out = sieve(px, threshold=50, zoom=PROX_ZOOM)
    return out.groupBy("value").agg(
        F.count(F.lit(1)).alias("n_pixels"),
        F.min(F.col("tx") * 256 + F.col("px")).alias("min_gx"),
    )


def _sieve_oracle() -> str:
    from gdal_spark.operators.zones import _pixel_enum_sql, _zone_specs

    # both small patches (999 injected, 107 sliver) are enclosed by the
    # big 101 region and merge into it => final raster is uniformly 101
    # over 101's pixel set (sliver is interior to 101, so the union of
    # rasterized pixels == 101's own enumeration)
    wkb_, pred = next((w, p) for z, _, w, p in _zone_specs() if z == 101)
    return f"""
      SELECT CAST(101 AS BIGINT) AS value, COUNT(*) AS n_pixels,
             MIN(gpx) AS min_gx
      FROM {_pixel_enum_sql(PROX_ZOOM, 101, wkb_, pred)}
    """


# ------------------------------------------------ gdal_grid interpolation

GRID_SPEC = dict(x0=-0.23, y0=51.39, dx=0.012, dy=0.012, nx=20, ny=20)
GRID_RADIUS = 0.025


def _grid_points(spark, sf_dir):
    p = _pages(spark, sf_dir).filter(F.col("lat").isNotNull())
    return p.select(
        F.col("lon").alias("x"), F.col("lat").alias("y"),
        ((F.col("lat_e7") + F.col("lon_e7")) % 100000).cast("double").alias("v"),
    )


def _grid_oracle_prefix() -> str:
    g = GRID_SPEC
    r = GRID_RADIUS
    return f"""
        , pts AS (
          SELECT lon AS px, lat AS py,
                 CAST((lat_e7 + lon_e7) % 100000 AS DOUBLE) AS pv
          FROM pages WHERE lat IS NOT NULL
        ), nodes AS (
          SELECT x.range AS ix, y.range AS iy,
                 {g['x0']!r} + x.range * {g['dx']!r} AS nxx,
                 {g['y0']!r} + y.range * {g['dy']!r} AS nyy
          FROM range(0, {g['nx']}) x, range(0, {g['ny']}) y
        ), cand AS (
          SELECT ix, iy, pv,
                 (px - nxx) * (px - nxx) + (py - nyy) * (py - nyy) AS d2
          FROM nodes, pts
          WHERE (px - nxx) * (px - nxx) + (py - nyy) * (py - nyy)
                <= {r * r!r}
        )
    """


def q_grid_invdist(spark, sf_dir):
    """GDALGridInverseDistanceToAPower (alg/gdalgrid.cpp:109), power=2 —
    rational weights 1/(d^2), all whole-stage codegen."""
    from gdal_spark.operators.gridding import grid_invdist

    out = grid_invdist(
        _grid_points(spark, sf_dir), radius=GRID_RADIUS, **GRID_SPEC
    )
    return out.select("ix", "iy", F.round("value", 4).alias("value"), "n_points")


def q_grid_average(spark, sf_dir):
    """GDALGridMovingAverage (alg/gdalgrid.cpp:629)."""
    from gdal_spark.operators.gridding import grid_average

    out = grid_average(
        _grid_points(spark, sf_dir), radius=GRID_RADIUS, **GRID_SPEC
    )
    return out.select("ix", "iy", F.round("value", 4).alias("value"), "n_points")


def q_grid_nearest(spark, sf_dir):
    """GDALGridNearestNeighbor (alg/gdalgrid.cpp:879) — d2 is pure
    rational arithmetic, so values AND distances compare exactly."""
    from gdal_spark.operators.gridding import grid_nearest

    out = grid_nearest(
        _grid_points(spark, sf_dir), radius=GRID_RADIUS, **GRID_SPEC
    )
    return out.select("ix", "iy", "value", F.round("d2", 10).alias("d2"))


def _grid_invdist_oracle() -> str:
    from gdal_spark.operators.gridding import EPS2

    return _with_pages(
        _grid_oracle_prefix()
        + f"""
        SELECT ix, iy,
               ROUND(CASE WHEN MIN(d2) < {EPS2!r}
                          THEN MIN(CASE WHEN d2 < {EPS2!r} THEN pv END)
                          ELSE SUM(pv * (1.0 / d2)) / SUM(1.0 / d2) END, 4)
                 AS value,
               COUNT(*) AS n_points
        FROM cand GROUP BY ix, iy
        """
    )


def _grid_average_oracle() -> str:
    return _with_pages(
        _grid_oracle_prefix()
        + """
        SELECT ix, iy, ROUND(SUM(pv) / COUNT(*), 4) AS value,
               COUNT(*) AS n_points
        FROM cand GROUP BY ix, iy
        """
    )


def _grid_nearest_oracle() -> str:
    return _with_pages(
        _grid_oracle_prefix()
        + """
        SELECT ix, iy, pv AS value, ROUND(d2, 10) AS d2 FROM (
          SELECT ix, iy, pv, d2,
                 ROW_NUMBER() OVER (PARTITION BY ix, iy ORDER BY d2, pv) AS rn
          FROM cand
        ) WHERE rn = 1
        """
    )


LINEAR_PLANE = (2.5, 1.25, 7.0)  # v = a*x + b*y + c


def q_grid_linear(spark, sf_dir):
    """GDALGridLinear (alg/gdalgrid.cpp:2459): Delaunay TIN + barycentric
    interpolation. Oracle exploits the exactness invariant: barycentric
    interpolation of a LINEAR field reproduces the field at every node
    inside the hull, independent of the triangulation — the fixture's
    hull is a known square (corner points included), so the oracle is
    the closed-form plane."""
    from gdal_spark.operators.gridding import grid_linear
    from gdal_spark.session import local_df

    a, b, c = LINEAR_PLANE
    corners = local_df(
        spark,
        [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
        "x double, y double",
    )
    interior = spark.range(60).select(
        ((F.col("id") * 0.713 + 0.157) % 10.0).alias("x"),
        ((F.col("id") * 1.331 + 0.293) % 10.0).alias("y"),
    )
    pts = corners.unionByName(interior).withColumn(
        "v", F.lit(a) * F.col("x") + F.lit(b) * F.col("y") + F.lit(c)
    )
    out = grid_linear(pts, x0=0.3, y0=0.25, dx=0.65, dy=0.65, nx=15, ny=15)
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


def _grid_linear_oracle() -> str:
    a, b, c = LINEAR_PLANE
    return f"""
      SELECT CAST(x.range AS BIGINT) AS ix, CAST(y.range AS BIGINT) AS iy,
             ROUND({a!r} * (0.3 + x.range * 0.65)
                   + {b!r} * (0.25 + y.range * 0.65) + {c!r}, 6) AS value
      FROM range(0, 15) x, range(0, 15) y
    """


def q_events_json(spark, sf_dir):
    """JSON prop extraction (OGR JSON field subtype superset)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_id", k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


def q_geom_props(spark, sf_dir):
    """OGR special fields (OGR_GEOMETRY/OGR_GEOM_WKT/OGR_GEOM_AREA,
    ogr/ogr_p.h:167-174) over the zones table, checked against an
    analytic golden parquet (tools/make_goldens.py; 1e-9 rounding for
    summation-order ulp)."""
    from gdal_spark.operators.raster import centroid_of, wkt_of

    z = zones_df(spark)
    return z.select(
        "zone_id",
        "name",
        wkt_of("geometry").alias("wkt"),
        F.round(F.col("area"), 9).alias("geom_area"),
        centroid_of("geometry").alias("c"),
    ).select(
        "zone_id", "name", "wkt", "geom_area",
        F.round("c.cx", 9).alias("cx"), F.round("c.cy", 9).alias("cy"),
    )


POLYGONIZE_ZONES = (102, 104, 105, 108, 109)
POLYGONIZE_ZOOM = 7

OVERLAY_ZONES = (101, 102, 104, 105, 107, 108, 109)  # axis-aligned
OVERLAY_CELL = 0.05


OVERLAY_XZ_ZONES = (101, 102, 104, 105, 107, 108, 109, 110)  # axis-aligned
OVERLAY_XZ_SHIFT = 0.03


def q_overlay_intersection(spark, sf_dir):
    """Zone x zone layer-algebra Intersection (ogrlayer.cpp:3345):
    zones vs the same layer translated by 0.03 deg — cell-bucketed
    candidate pairs, trapezoid-decomposition + Sutherland-Hodgman exact
    clip (kernels/polyclip.py). Self-overlaps cut through the holed zone
    104 and both members of multipart 105; oracle is inclusion-exclusion
    over the signed-rectangle decompositions."""
    from gdal_spark.operators.overlay import overlay_intersection
    from gdal_spark.operators.zones import shifted_zones_df

    ids = list(OVERLAY_XZ_ZONES)
    a = zones_df(spark).filter(F.col("zone_id").isin(ids))
    b = shifted_zones_df(spark, OVERLAY_XZ_SHIFT, OVERLAY_XZ_SHIFT, ids)
    out = overlay_intersection(a, b, cell=1.0)
    return out.select(
        "zone_a", "zone_b", F.round("area", 9).alias("area")
    )


def q_overlay_erase(spark, sf_dir):
    """Layer-algebra Erase (ogrlayer.cpp:5806): A features minus the
    union of intersecting B features. B has two mutually-overlapping
    erasers inside A1 (their implicit union punches one hole, area
    16+16-4=28), a corner notch on A2, and nothing over A3 (untouched
    passthrough). Closed-form oracle."""
    from gdal_spark.operators.overlay import overlay_erase

    a, b = _overlay_fixture_layers(spark)
    return _overlay_stats(overlay_erase(a, b, cell=16.0), ("zone_id",))


def q_overlay_union(spark, sf_dir):
    """Layer-algebra Union (ogrlayer.cpp:3763) = pairwise intersection
    pieces + A-erased + B-erased, fields from the contributing side(s).
    Same fixture as overlay_erase; B12-minus-A exercises the b-side
    erase (36-4=32 L-shape), fully-covered B11 is dropped."""
    from gdal_spark.operators.overlay import overlay_union

    a, b = _overlay_fixture_layers(spark)
    return _overlay_stats(overlay_union(a, b, cell=16.0))


def q_overlay_clip(spark, sf_dir):
    """Layer-algebra Clip (ogrlayer.cpp:5497): A clipped to the union of
    the method layer. A1 keeps the eraser-union octagon (28), A2 keeps
    its 2x2 corner, A3 is outside the method layer and is dropped."""
    from gdal_spark.operators.overlay import overlay_clip

    a, b = _overlay_fixture_layers(spark)
    return _overlay_stats(overlay_clip(a, b, cell=16.0), ("zone_id",))


def _overlay_fixture_layers(spark):
    """The layer-algebra oracle fixture: A = three squares, B = two
    mutually-overlapping erasers inside A1 plus a corner notch on A2."""
    from gdal_spark.kernels import wkb as W
    from gdal_spark.session import local_df

    def rect(zid, x0, y0, x1, y1):
        return (
            zid, f"z{zid}", float((x1 - x0) * (y1 - y0)),
            W.polygon_wkb(
                [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]]
            ),
        )

    schema = "zone_id long, name string, area double, geometry binary"
    a = local_df(
        spark,
        [rect(1, 0, 0, 10, 10), rect(2, 20, 0, 26, 6), rect(3, 40, 0, 44, 4)],
        schema,
    )
    b = local_df(
        spark,
        [rect(11, 2, 2, 6, 6), rect(12, 4, 4, 8, 8), rect(13, 24, 4, 30, 10)],
        schema,
    )
    return a, b


def _overlay_stats(out, keys=("zone_a", "zone_b")):
    """(keys..., n_polys, n_rings, area) per output piece, NULL keys
    first in key order."""
    from gdal_spark.operators.geom import wkb_stats_udf

    st = wkb_stats_udf()
    return out.select(
        *(F.col(k).cast("int").alias(k) for k in keys),
        st(F.col("geometry")).alias("s"),
        "area",
    ).select(
        *keys,
        F.col("s.n_polys").alias("n_polys"),
        F.col("s.n_rings").alias("n_rings"),
        F.round("area", 9).alias("area"),
    ).orderBy(*(F.coalesce(F.col(k), F.lit(-1)) for k in keys))


def q_overlay_symdiff(spark, sf_dir):
    """Layer-algebra SymDifference (ogrlayer.cpp:4300) = erase(a,b) +
    erase(b,a), side provenance NULLable (reference nested-loop
    output)."""
    from gdal_spark.operators.overlay import overlay_symdiff

    a, b = _overlay_fixture_layers(spark)
    return _overlay_stats(overlay_symdiff(a, b, cell=16.0))


def q_overlay_identity(spark, sf_dir):
    """Layer-algebra Identity (ogrlayer.cpp:4730) = pairwise a∩b pieces
    + a-minus-b remainders (a's features partitioned by b)."""
    from gdal_spark.operators.overlay import overlay_identity

    a, b = _overlay_fixture_layers(spark)
    return _overlay_stats(overlay_identity(a, b, cell=16.0))


def q_overlay_update(spark, sf_dir):
    """Layer-algebra Update (ogrlayer.cpp:5148) = a eroded by b, then b
    appended whole (b overwrites a where they overlap)."""
    from gdal_spark.operators.overlay import overlay_update

    a, b = _overlay_fixture_layers(spark)
    return _overlay_stats(overlay_update(a, b, cell=16.0))


def q_geom_boolean(spark, sf_dir):
    """Per-row geometric set ops Difference / SymDifference / Union /
    Intersection (ogrgeometry.cpp:4895-5453 -> GEOS overlay) on the
    noded-arrangement kernel: overlapping squares, a nested pair (the
    difference punches a hole), a disjoint pair, and an identical pair
    (empty difference). Closed-form areas make the oracle exact."""
    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.geom import geom_boolean_wkb, wkb_stats_udf
    from gdal_spark.session import local_df

    def sq(x0, y0, s):
        return W.polygon_wkb(
            [[(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)]]
        )

    def rects(parts):
        return W.multipolygon_wkb(
            [
                [[(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h),
                  (x0, y0)]]
                for x0, y0, w, h in parts
            ]
        )

    rows = [
        (1, sq(0, 0, 4), sq(2, 2, 4)),    # overlap 2x2
        (2, sq(0, 0, 6), sq(2, 2, 2)),    # b nested in a
        (3, sq(0, 0, 2), sq(5, 5, 2)),    # disjoint
        (4, sq(0, 0, 3), sq(0, 0, 3)),    # identical
        # adjacent squares: fully shared edge (adjacent-zones case)
        (5, sq(0, 0, 2), sq(2, 0, 2)),
        # multipolygons sharing an edge AND a fully coincident component
        # (the r3 coincident-boundary hole bug's exact shape)
        (6, rects([(0, 0, 3, 2), (3, 0, 1, 2)]),
            rects([(0, 1, 2, 1), (3, 0, 1, 2)])),
    ]
    df = local_df(spark, rows, "gid int, ga binary, gb binary")
    st = wkb_stats_udf()
    out = None
    for op in ("intersection", "union", "difference", "symdifference"):
        o = df.select(
            "gid",
            F.lit(op).alias("op"),
            st(geom_boolean_wkb(op)("ga", "gb")).alias("s"),
        ).select(
            "gid", "op",
            F.coalesce(F.col("s.n_polys"), F.lit(0)).alias("n_polys"),
            F.coalesce(F.col("s.n_rings"), F.lit(0)).alias("n_rings"),
            F.round(F.coalesce(F.col("s.area"), F.lit(0.0)), 9).alias("area"),
        )
        out = o if out is None else out.unionByName(o)
    return out.orderBy("gid", "op")


def q_zone_predicates(spark, sf_dir):
    """Polygon x polygon spatial predicates (OGRGeometry::Intersects/
    Contains/Within/Touches -> GEOS, ogrgeometry.cpp) derived from the
    exact layer-algebra Intersection plus an exact boundary-contact
    kernel: Contains(a,b) iff area(a ∩ b) == area(b) (interior-positive
    fixtures), Within is the transpose, Touches iff boundaries share a
    point while the interiors are disjoint (DE-9IM II=F with a BB/IB/BI
    hit), Intersects iff positive overlap OR touch. The overlay itself is
    the cell-bucketed operator (scale path); the crossJoin below only
    builds the 3x5 fixture's answer grid so disjoint pairs report false —
    at scale the pair grid would instead come from the overlay's own
    candidate pairs plus an anti-join for the false rows."""
    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.geom import boundaries_touch_wkb
    from gdal_spark.operators.overlay import overlay_intersection
    from gdal_spark.session import local_df

    def rect_wkb(x0, y0, x1, y1):
        return W.polygon_wkb(
            [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]]
        )

    A = [(1, 0, 0, 4, 4), (2, 10, 0, 14, 4), (3, 20, 0, 24, 4)]
    B = [
        (11, 1, 1, 3, 3),    # strictly within A1
        (12, 12, 2, 16, 6),  # partial overlap with A2 (2x2)
        (13, 30, 0, 32, 2),  # disjoint from all
        (14, 20, 0, 24, 4),  # exactly equals A3
        (15, 4, 0, 6, 4),    # shares the x=4 edge with A1 (touches)
    ]

    def layer(rows):
        return local_df(
            spark,
            [
                (
                    zid, f"z{zid}",
                    float((x1 - x0) * (y1 - y0)),
                    rect_wkb(x0, y0, x1, y1),
                )
                for zid, x0, y0, x1, y1 in rows
            ],
            "zone_id int, name string, area double, geometry binary",
        )

    a, b = layer(A), layer(B)
    inter = overlay_intersection(a, b, cell=8.0)
    pairs = a.select(
        F.col("zone_id").alias("aid"),
        F.col("area").alias("area_a"),
        F.col("geometry").alias("geom_a"),
    ).crossJoin(
        b.select(
            F.col("zone_id").alias("bid"),
            F.col("area").alias("area_b"),
            F.col("geometry").alias("geom_b"),
        )
    )
    j = pairs.join(
        inter.select(
            F.col("zone_a").alias("aid"),
            F.col("zone_b").alias("bid"),
            F.col("area").alias("iarea"),
        ),
        ["aid", "bid"],
        "left",
    ).fillna({"iarea": 0.0}).withColumn(
        "btouch", boundaries_touch_wkb("geom_a", "geom_b")
    )
    eps = 1e-9
    return j.select(
        "aid", "bid",
        ((F.col("iarea") > eps) | F.col("btouch")).alias("intersects"),
        (F.abs(F.col("iarea") - F.col("area_b")) < eps).alias("contains"),
        (F.abs(F.col("iarea") - F.col("area_a")) < eps).alias("within"),
        (F.col("btouch") & (F.col("iarea") <= eps)).alias("touches"),
        F.round("iarea", 9).alias("inter_area"),
    ).orderBy("aid", "bid")


def q_st_relate(spark, sf_dir):
    """All eight ST_* predicates (ogrsqlitesqlfunctions.cpp:876-884:
    Intersects/Equals/Disjoint/Touches/Crosses/Within/Contains/Overlaps)
    across MIXED geometry dimensions — line×line (proper cross, collinear
    overlap, endpoint touch, containment), line×polygon (cross,
    boundary-ride, within), point mixes, polygon×polygon.  Completes the
    DE-9IM straggler set (ST_Crosses + line/point cases) the earlier
    zone_predicates query scoped out; the oracle is the hand-derived
    truth table, independently pinned by tests/test_relate.py."""
    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.geom import _RELATE_PREDS, st_relate_udf
    from gdal_spark.session import local_df

    def LS(*pts):
        return W.linestring_wkb(pts)

    def SQ(x0, y0, s):
        return W.polygon_wkb(
            [[(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s),
              (x0, y0)]]
        )

    P = W.point_wkb
    rows = [
        (1, LS((0, 0), (2, 2)), LS((0, 2), (2, 0))),   # proper cross
        (2, LS((0, 0), (2, 0)), LS((1, 0), (3, 0))),   # collinear overlap
        (3, LS((0, 0), (1, 1)), LS((1, 1), (2, 0))),   # endpoint touch
        (4, LS((1, 0), (2, 0)), LS((0, 0), (3, 0))),   # line within line
        (5, LS((-1, 1), (3, 1)), SQ(0, 0, 2)),         # line crosses poly
        (6, LS((0, 0), (2, 0)), SQ(0, 0, 2)),          # rides the shell
        (7, LS((0.5, 0.5), (1.5, 1.5)), SQ(0, 0, 2)),  # line within poly
        (8, P(1, 1), SQ(0, 0, 2)),                     # point in poly
        (9, P(0, 1), SQ(0, 0, 2)),                     # point on shell
        (10, SQ(0, 0, 2), SQ(1, 1, 2)),                # polys overlap
        (11, SQ(0, 0, 1), SQ(1, 0, 1)),                # polys touch
        (12, SQ(0, 0, 2), SQ(0, 0, 2)),                # polys equal
        (13, SQ(0, 0, 2), LS((0.5, 0.5), (1.5, 1.5))),  # poly contains line
        (14, P(5, 5), SQ(0, 0, 2)),                    # disjoint
    ]
    df = local_df(spark, rows, "gid int, ga binary, gb binary")
    rel = st_relate_udf()
    return df.select(
        "gid", rel("ga", "gb").alias("r")
    ).select("gid", *[F.col(f"r.{p}").alias(p) for p in _RELATE_PREDS]).orderBy(
        "gid"
    )


def q_overlay_fishnet(spark, sf_dir):
    """Layer-algebra Intersection vs a fishnet grid (ogrlayer.cpp:3345
    nested-loop semantics as a cell-keyed two-phase join + exact
    Sutherland-Hodgman rect clip); oracle is the closed-form signed-rect
    overlap. Triangle zone is pytest-covered (non-axis-aligned)."""
    from gdal_spark.operators.overlay import fishnet_overlay

    z = zones_df(spark).filter(F.col("zone_id").isin(list(OVERLAY_ZONES)))
    out = fishnet_overlay(z, OVERLAY_CELL)
    return out.select(
        "zone_id", "fx", "fy", F.round("area", 9).alias("area")
    )


@_shared
def _poly_shared(spark):
    """polygonize / polygonize_polys / footprint all start from the SAME
    rasterized zone set, and the first two from the same labeled
    components: rasterize+label once per application instead of up to 3x."""
    from gdal_spark.operators.polygonize import polygonize
    from gdal_spark.operators.rasterize_poly import rasterize_zones

    z = zones_df(spark).filter(F.col("zone_id").isin(list(POLYGONIZE_ZONES)))
    px = rasterize_zones(z, POLYGONIZE_ZOOM).persist()
    pxv = px.withColumnRenamed("zone_id", "value")
    labeled = polygonize(pxv, zoom=POLYGONIZE_ZOOM).persist()
    return px, pxv, labeled


def q_polygonize(spark, sf_dir):
    from gdal_spark.operators.polygonize import component_summary

    _, _, labeled = _poly_shared(spark)
    return component_summary(labeled)


def q_polygonize_polys(spark, sf_dir):
    """Full GDALPolygonize output: POLYGON geometry per component (outer
    ring + holes, reference vertex order — alg/polygonize_polygonizer.cpp
    semantics pinned in tests/test_polygonize_rings.py). Oracle rebuilds
    the canonical WKT from per-part pixel bounds in SQL."""
    from gdal_spark.operators.polygonize import polygonize_polygons

    _, pxv, labeled = _poly_shared(spark)
    out = polygonize_polygons(pxv, zoom=POLYGONIZE_ZOOM, labeled=labeled)
    return out.select("value", "component", "n_rings", "area_px", "wkt_px")


def q_footprint(spark, sf_dir):
    """gdal_footprint (apps/gdal_footprint_lib.cpp:112): valid-data mask
    polygons of the rasterized zone set."""
    from gdal_spark.operators.polygonize import footprint

    px, _, _ = _poly_shared(spark)
    return footprint(px, zoom=POLYGONIZE_ZOOM).select(
        "component", "n_rings", "area_px", "wkt_px"
    )


def q_events_window(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(OG.cents("value")).alias("sum_value_cents"),
        )
    )


def q_events_lag(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", F.lag("event_id").over(w).alias("prev_event_id")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline at sf0.001 — extract -> PIP join -> tiles."""
    _prep(spark)
    sf_dir = "/root/testdata/sf0.001"
    p = _pages_extracted(spark, sf_dir)
    j = pip_join_broadcast(p, zones_df(spark))
    t = TI.assign_tiles(j, 10)
    return t.groupBy("zone_id", "name", "zoom", "tx", "ty").agg(
        F.count(F.lit(1)).alias("n_pages")
    )


# make-valid fixtures: (gid, components). Expected outputs derived
# analytically in the oracle VALUES below; kernel behavior additionally
# pinned against autotest/ogr/ogr_geom.py:4079 in tests/test_makevalid.py.
_MAKEVALID_FIXTURES = [
    # bowtie self-crossing -> two triangles (the reference golden)
    (1, [[[(0, 0), (10, 10), (0, 10), (10, 0)]]]),
    # valid square with a duplicate vertex -> cleaned square
    (2, [[[(0, 0), (1, 0), (1, 0), (1, 1), (0, 1)]]]),
    # hole sticking out of the shell -> notched shell + outside part
    (3, [[[(0, 0), (0, 10), (10, 10), (10, 0)], [(5, 5), (15, 10), (15, 0)]]]),
    # figure-eight self-touch at (5,5) -> two triangles
    (4, [[[(0, 0), (10, 0), (5, 5), (10, 10), (0, 10), (5, 5)]]]),
    # overlapping multipolygon parts -> dissolved union (L-shape, area 7)
    (5, [[[(0, 0), (2, 0), (2, 2), (0, 2)]], [[(1, 1), (3, 1), (3, 3), (1, 3)]]]),
    # zero-width spike (edge drawn twice) -> collapsed linework dropped
    (6, [[[(0, 0), (10, 0), (10, 5), (14, 5), (10, 5), (10, 10), (0, 10)]]]),
    # proper shell + hole -> unchanged (canonicalized), area 96
    (7, [[[(0, 0), (10, 0), (10, 10), (0, 10)], [(2, 2), (2, 4), (4, 4), (4, 2)]]]),
]


def q_make_valid(spark, sf_dir):
    """gdal vector make-valid (apps/gdalalg_vector_make_valid.h; OGR
    MakeValid linework semantics — kernels/makevalid nodes the linework
    and keeps even-odd-covered faces). Bowtie golden matches
    autotest/ogr/ogr_geom.py:4079."""
    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.geom import make_valid_wkb, wkb_stats_udf
    from gdal_spark.operators.raster import wkt_of
    from gdal_spark.session import local_df

    rows = [
        (
            gid,
            W.polygon_wkb(comp[0])
            if len(comp) == 1
            else W.multipolygon_wkb(comp),
        )
        for gid, comp in _MAKEVALID_FIXTURES
    ]
    df = local_df(spark, rows, "gid int, geometry binary")
    fixed = df.withColumn("valid", make_valid_wkb("geometry"))
    st = wkb_stats_udf()
    return fixed.select(
        "gid",
        st(F.col("valid")).alias("s"),
        wkt_of(F.col("valid")).alias("wkt"),
    ).select(
        "gid", F.col("s.n_polys").alias("n_polys"),
        F.col("s.n_rings").alias("n_rings"),
        F.round(F.col("s.area"), 9).alias("area"), "wkt",
    )


def q_cascaded_union(spark, sf_dir):
    """ST_Union aggregate (ogrsqlitesqlfunctions.cpp:1211): three
    overlapping unit-2 squares chained diagonally plus one disjoint
    square. Union area = 3*4 - two 1x1 overlaps + 1 = 11; the chain
    dissolves to one staircase polygon (sq1/sq3 touch only at the point
    (2,2), bridged by sq2), the disjoint square stays separate."""
    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.geom import cascaded_union, wkb_stats_udf
    from gdal_spark.operators.raster import wkt_of
    from gdal_spark.session import local_df

    def sq(x0, y0, s):
        return [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s)]

    rows = [
        (i, W.polygon_wkb([r]))
        for i, r in enumerate([sq(0, 0, 2), sq(1, 1, 2), sq(2, 2, 2), sq(5, 0, 1)])
    ]
    df = local_df(spark, rows, "gid int, geometry binary")
    u = cascaded_union(df)
    st = wkb_stats_udf()
    return u.select(
        st(F.col("geometry")).alias("s"), wkt_of(F.col("geometry")).alias("wkt")
    ).select(
        F.col("s.n_polys").alias("n_polys"),
        F.col("s.n_rings").alias("n_rings"),
        F.round(F.col("s.area"), 9).alias("area"),
        "wkt",
    )


def q_contour_polys(spark, sf_dir):
    """Iso-polygon contouring (gdal_contour -p, alg/contour.cpp polygon
    writer) over a tilted-plane raster f = px + 0.25*py (pixel centers),
    levels 10..18 step 2. Interior bands are parallelogram strips of
    exact area (level step) * (H-1) = 2*29 = 58 — marching-squares
    chords reproduce a linear field's iso-lines exactly, so the
    closed-form oracle pins sub-pixel boundary assembly end-to-end
    (block halo exchange, local + global edge cancellation, per-band
    ring chaining)."""
    import numpy as np

    from gdal_spark.operators.contour_op import contour_polygons
    from gdal_spark.operators.raster import raster_from_array

    W, H = 40, 30
    xs = np.arange(W) + 0.5
    ys = np.arange(H) + 0.5
    arr = xs[None, :] + 0.25 * ys[:, None]
    blocks, meta = raster_from_array(
        spark, arr, (0, 1, 0, 0, 0, 1), "EPSG:4326", block=16
    )
    out = contour_polygons(blocks, meta, [10.0, 12.0, 14.0, 16.0, 18.0])
    return (
        out.filter((F.col("band") >= 1) & (F.col("band") <= 4))
        .select(
            "band",
            (8.0 + 2.0 * F.col("band")).alias("lev_min"),
            (10.0 + 2.0 * F.col("band")).alias("lev_max"),
            "n_polys", "n_rings",
            F.round("area", 6).alias("area"),
        )
        .orderBy("band")
    )


def q_geom_buffer_poly(spark, sf_dir):
    """ST_Buffer of (multi)polygons (ogrsqlitesqlfunctions.cpp:997 ->
    GEOS buffer): Minkowski dilation by a 32-gon disk via the make-valid
    arrangement (kernels/geomops.buffer_polygon). Axis-aligned fixtures
    make the discretized area closed-form: A + P*r + corner fans
    ((K/2)*r^2*sin(2pi/K) per full turn), minus r^2 per right-angle
    reflex corner, holes shrink to (h-2r)^2 with sharp corners."""
    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.geom import buffer_polygons_wkb, wkb_stats_udf
    from gdal_spark.session import local_df

    def ring(*pts):
        return list(pts) + [pts[0]]

    rect = [ring((0, 0), (8, 0), (8, 6), (0, 6))]
    ell = [ring((0, 0), (6, 0), (6, 3), (3, 3), (3, 6), (0, 6))]
    holed = [
        ring((0, 0), (10, 0), (10, 10), (0, 10)),
        ring((3, 3), (3, 7), (7, 7), (7, 3)),
    ]
    two = [
        [ring((0, 0), (2, 0), (2, 2), (0, 2))],
        [ring((5, 0), (7, 0), (7, 2), (5, 2))],
    ]
    rows = [
        (1, W.polygon_wkb(rect)),
        (2, W.polygon_wkb(ell)),
        (3, W.polygon_wkb(holed)),
        (4, W.multipolygon_wkb(two)),
    ]
    df = local_df(spark, rows, "gid int, geometry binary")
    buffered = df.withColumn("buf", buffer_polygons_wkb(0.5, 8)("geometry"))
    st = wkb_stats_udf()
    return buffered.select("gid", st(F.col("buf")).alias("s")).select(
        "gid",
        F.col("s.n_polys").alias("n_polys"),
        F.col("s.n_rings").alias("n_rings"),
        F.round(F.col("s.area"), 6).alias("area"),
    )


def q_simplify_coverage(spark, sf_dir):
    """gdal vector simplify-coverage
    (apps/gdalalg_vector_simplify_coverage.cpp): two zones tiling an
    8x6 box share a zigzag boundary (amplitude 0.2); tolerance 0.5
    straightens the shared arc IDENTICALLY on both sides (junctions
    (4,0),(4,6) pinned), outer corners survive — the coverage stays
    gap/overlap-free. Expected vertex tables are analytic."""
    from pyspark.sql import Window

    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.coverage import simplify_coverage
    from gdal_spark.session import local_df

    zig = [(4, 0), (4.2, 1), (3.8, 2), (4.2, 3), (3.8, 4), (4.2, 5), (4, 6)]
    a = [(0, 0)] + zig + [(0, 6)]
    b = [(4, 0), (8, 0), (8, 6), (4, 6)] + list(reversed(zig))[1:-1]
    df = local_df(
        spark,
        [(1, W.polygon_wkb([a])), (2, W.polygon_wkb([b]))],
        "zone_id int, geometry binary",
    )
    out = simplify_coverage(df, 0.5)
    w = Window.partitionBy("zone_id", "ring_idx").orderBy("vidx")
    return out.select(
        "zone_id", "ring_idx",
        (F.row_number().over(w) - 1).alias("seq"),
        F.round("x", 9).alias("x"), F.round("y", 9).alias("y"),
    )


def q_geodesic(spark, sf_dir):
    """WGS84 geodesic area + perimeter (OGRGeometry::GeodesicArea /
    GeodesicLength, via PROJ geod in the reference; kernels/geodesic
    Vincenty + authalic excess here). Fixtures/expected values from
    autotest/ogr/ogr_geom.py:4472,:4656 where pinned (gids 1,2,4);
    gid 3 (multipart) and 5 (holed) derive from the same pinned rings
    by part/hole additivity. Area rounded to 1e3 m^2 (pins are 1e-6
    rel; engine is ~1e-9), length to mm."""
    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.geom import geodesic_stats_udf
    from gdal_spark.session import local_df

    tri = [(2, 49), (3, 49), (3, 48), (2, 49)]
    polar = [(2, 89), (3, 89), (3, 88), (2, 89)]
    outer5 = [(12, 49), (13, 49), (13, 48), (12, 49)]
    hole5 = [(12.25, 48.75), (12.75, 48.75), (12.5, 48.5), (12.25, 48.75)]
    rows = [
        (1, W.polygon_wkb([tri])),
        (2, W.polygon_wkb([polar])),
        (3, W.multipolygon_wkb([[tri], [polar]])),
        (4, W.polygon_wkb([tri, tri])),  # hole == shell -> area 0
        (5, W.polygon_wkb([outer5, hole5])),
    ]
    df = local_df(spark, rows, "gid int, geometry binary")
    st = geodesic_stats_udf()
    return df.select("gid", st(F.col("geometry")).alias("s")).select(
        "gid",
        F.round(F.col("s.garea"), -3).alias("garea"),
        F.round(F.col("s.glength"), 3).alias("glength"),
    )


def q_vector_concat(spark, sf_dir):
    """gdal vector concat (apps/gdalalg_vector_concat.cpp): customer +
    supplier layers, mode=single, field-strategy=union — every field of
    every source, missing -> NULL, plus the source-layer field
    (OGRUnionLayer FIELD_UNION_ALL_LAYERS semantics). Zero-shuffle plan:
    two scans + union."""
    from gdal_spark.operators.vector_steps import concat_layers

    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )
    supp = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .select(
            F.col("s_suppkey").alias("key"),
            F.col("s_name").alias("name"),
            F.col("s_nationkey").alias("nationkey"),
        )
    )
    out = concat_layers(
        [("customer", cust), ("supplier", supp)],
        mode="single",
        field_strategy="union",
        source_layer_field="src_layer",
    )
    return out["merged"]


def q_vector_sql(spark, sf_dir):
    """gdal vector sql (apps/gdalalg_vector_sql.cpp): one SQL statement
    over the input layers, executed by the engine's SQL dialect
    (Catalyst). Statement: per-nation customer balance rollup."""
    from gdal_spark.operators.vector_steps import vector_sql

    layers = {
        "v_customer": spark.read.parquet(f"{sf_dir}/customer.parquet"),
        "v_nation": spark.read.parquet(f"{sf_dir}/nation.parquet"),
    }
    return vector_sql(
        spark,
        layers,
        """
        SELECT n.n_name AS nation, COUNT(*) AS n_cust,
               ROUND(SUM(c.c_acctbal), 2) AS sum_bal
        FROM v_customer c JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > 0
        GROUP BY n.n_name
        """,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every module-level q_<name> function, registered as <name>, in
    sorted-name order (tests/test_oracle_parity.py pairs each with its
    oracle_sql() entry)."""
    return {
        n[2:]: _wrap(fn) for n, fn in sorted(globals().items()) if n.startswith("q_")
    }


# ---------------------------------------------------------------- oracles


def _knn_oracle(pts, k: int) -> str:
    hav = OR.sql_haversine("p.lat", "p.lon", "q.qlat", "q.qlon")
    return _with_pages(
        f"""
        , q(query_id, qlat, qlon) AS ({_sql_values(pts)})
        SELECT query_id, url, CAST(rank AS INTEGER) AS rank FROM (
          SELECT q.query_id, p.url,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id
                                    ORDER BY {hav}, p.url) AS rank
          FROM pages p, q WHERE p.lat IS NOT NULL
        ) WHERE rank <= {k}
        """
    )


def oracle_sql() -> dict[str, str]:
    pip = _with_pages(zones_oracle_match_sql("pages", cols="url"))
    zoom_a = 12
    tile_assign = _with_pages(
        f"""
        SELECT url, CAST({zoom_a} AS INTEGER) AS zoom,
               {OR.sql_tile_x('lon', zoom_a)} AS tx,
               {OR.sql_tile_y_google('lat', zoom_a)} AS ty
        FROM pages WHERE lat IS NOT NULL
        """
    )
    tile_counts = _with_pages(
        f"""
        SELECT CAST(7 AS INTEGER) AS zoom,
               {OR.sql_tile_x('lon', 7)} AS tx,
               {OR.sql_tile_y_google('lat', 7)} AS ty,
               COUNT(*) AS n_pages
        FROM pages WHERE lat IS NOT NULL
        GROUP BY 1, 2, 3
        """
    )
    # pyramid invariant: level z' of the pyramid == direct rasterize at z'
    pyramid = _with_pages(
        " UNION ALL ".join(
            f"""
            SELECT zoom, tx, ty, px, py, COUNT(*) AS burn
            FROM ({OR.sql_pixel_rows(z, 'pages')}) GROUP BY 1, 2, 3, 4, 5
            """
            for z in range(5, 9)
        )
    )
    summary = _with_pages(
        """
        SELECT lang, COUNT(*) AS n, COUNT(lat) AS n_geo,
               MIN(warc_ts) AS first_ts, MAX(warc_ts) AS last_ts
        FROM pages GROUP BY lang
        """
    )
    return {
        "pip_broadcast": pip,
        "pip_bucketed": pip,
        "extract_text": _with_pages("SELECT url, text FROM pages"),
        "tile_assign": tile_assign,
        "tile_counts": tile_counts,
        "tile_pyramid": pyramid,
        "knn_brute": _knn_oracle(KNN_QUERIES_SPARSE, KNN_K),
        "knn_cells": _knn_oracle(KNN_QUERIES, KNN_K),
        "pages_summary": summary,
        "token_stats": TS.token_stats_sql(),
        "quality": TS.quality_score_sql(),
        "lang_id": TS.lang_id_sql(),
        "fingerprint": TS.fingerprint_sql(),
        "stratified_sample": TS.stratified_sample_sql(),
        "corpus_curation": f"""
          WITH q AS ({TS.quality_score_sql()}),
          good AS (
            SELECT d.doc_id, d.text, d.lang, q.mean_token_len
            FROM documents d JOIN q USING (doc_id)
            WHERE q.passes_quality
          ),
          reps AS (
            SELECT MIN(doc_id) AS doc_id FROM good GROUP BY md5(text)
          )
          SELECT lang, COUNT(*) AS n_docs,
                 ROUND(AVG(mean_token_len), 6) AS avg_token_len
          FROM good JOIN reps USING (doc_id)
          GROUP BY lang
        """,
        "dedup_exact": f"WITH corpus AS ({DD.corpus_cte_sql()}) {DD.dedup_exact_sql()}",
        "dedup_minhash": f"WITH corpus AS ({DD.corpus_cte_sql()}) {DD.lsh_pairs_sql()}",
        "dedup_jaccard": f"WITH corpus AS ({DD.corpus_cte_sql()}) {DD.jaccard_pairs_sql()}",
        "simhash": f"WITH corpus AS ({DD.corpus_cte_sql()}) {DD.simhash64_sql()}",
        "simhash_pairs": f"WITH corpus AS ({DD.corpus_cte_sql()}) "
                         f"{DD.simhash_hamming_pairs_sql()}",
        "ann_brute": SIM.ann_brute_sql(ANN_K),
        "ann_lsh": SIM.ann_lsh_sql(ANN_K),
        "ann_lsh_mp": SIM.ann_lsh_mp_sql(ANN_K),
        "ann_ivf": SIM.ann_ivf_sql(ANN_K),
        "dedup_embeddings": (
            "WITH RECURSIVE "
            + _aug_embeddings_cte()
            + ", "
            + DD.dedup_embeddings_sql("aug")
            + " ORDER BY vec_id"
        ),
        "asof_join": """
            WITH v AS (
              SELECT user_id, ts, event_id, value FROM (
                SELECT user_id, ts, event_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id DESC) AS rn
                FROM events WHERE event_type = 'view') WHERE rn = 1
            ), c AS (SELECT event_id, user_id, ts, value FROM events
                     WHERE event_type = 'click')
            SELECT c.event_id AS event_id, c.user_id AS user_id,
                   v.event_id AS asof_event_id,
                   ROUND(v.value, 9) AS asof_value
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.ts >= v.ts
            ORDER BY c.event_id
        """,
        "range_join": """
            WITH c AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'click'),
            w AS (SELECT user_id, event_id AS window_id, ts AS start_ts,
                         ts + INTERVAL 30 MINUTE AS end_ts
                  FROM events WHERE event_type = 'view')
            SELECT c.event_id AS event_id, c.user_id AS user_id,
                   w.window_id AS window_id
            FROM c JOIN w ON c.user_id = w.user_id
                         AND c.ts BETWEEN w.start_ts AND w.end_ts
            ORDER BY event_id, window_id
        """,
        "ogr_sql_exec": f"""
            WITH first_o AS (
              SELECT o_custkey, o_orderkey FROM (
                SELECT o_custkey, o_orderkey,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderkey) AS rn
                FROM orders
              ) WHERE rn = 1
            )
            SELECT c_custkey,
                   {OG.ogr_substr_sql('c_name', -3)} AS tail,
                   CAST(TRUNC(CAST(c_acctbal AS DOUBLE)) AS BIGINT) AS bal_i,
                   o_orderkey
            FROM customer LEFT JOIN first_o ON c_custkey = o_custkey
            WHERE c_name ILIKE '%customer#00000%'
            ORDER BY c_custkey LIMIT 30
        """,
        "ogr_sql_exec_union": """
            (SELECT c_custkey AS k, o_orderkey AS v
             FROM customer LEFT JOIN (
               SELECT o_custkey, o_orderkey FROM (
                 SELECT o_custkey, o_orderkey,
                        ROW_NUMBER() OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderkey) AS rn
                 FROM orders
               ) WHERE rn = 1
             ) ON c_custkey = o_custkey
             WHERE c_mktsegment = 'BUILDING'
             ORDER BY c_custkey LIMIT 20 OFFSET 5)
            UNION ALL
            SELECT count(o_orderkey) AS k, max(o_custkey) AS v
            FROM orders WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT c_custkey AS k,
                   CAST(TRUNC(CAST(c_acctbal AS DOUBLE)) AS BIGINT) AS v
            FROM customer WHERE c_custkey <= 10
        """,
        # codec-free re-derivation: every pixel byte at flat offset f of
        # image media_id is (media_id*31 + f) mod 256 (multimodal.pattern_rgb);
        # 16x12 image -> 192 pixels. Bin math mirrors image_features exactly:
        # lum = (r+g+b)/3.0 (one f64 divide), bin = min(floor(lum/16), 15).
        "multimodal_decode": """
            WITH ids AS (
              SELECT doc_id AS media_id FROM documents
              WHERE doc_id % 5 = 0 AND doc_id % 3 <> 2
            ),
            rgb AS (
              SELECT media_id,
                     (media_id*31 + t.p*3 + 0) % 256 AS r,
                     (media_id*31 + t.p*3 + 1) % 256 AS g,
                     (media_id*31 + t.p*3 + 2) % 256 AS b
              FROM ids, range(0, 192) t(p)
            ),
            sums AS (
              SELECT media_id,
                     CAST(SUM(r) AS BIGINT) AS sum_r,
                     CAST(SUM(g) AS BIGINT) AS sum_g,
                     CAST(SUM(b) AS BIGINT) AS sum_b
              FROM rgb GROUP BY media_id
            ),
            hist AS (
              SELECT media_id,
                     CAST(LEAST(CAST(FLOOR(((r+g+b)/3.0) / 16.0) AS BIGINT),
                                15) AS INTEGER) AS bin,
                     COUNT(*) AS n_pix
              FROM rgb GROUP BY 1, 2
            )
            SELECT h.media_id, h.bin, h.n_pix, s.sum_r, s.sum_g, s.sum_b
            FROM hist h JOIN sums s USING (media_id)
        """,
        # interleaved stereo int16 value i of clip media_id is
        # ((media_id*7919 + i*31) mod 4001) - 2000 (multimodal.pattern_pcm);
        # 256 frames x 2 channels, channel = i mod 2.
        "multimodal_audio": """
            WITH ids AS (
              SELECT doc_id*3 + 2 AS media_id FROM documents
              WHERE doc_id % 7 = 0
            ),
            s AS (
              SELECT media_id, t.i % 2 AS ch,
                     ((media_id*7919 + t.i*31) % 4001) - 2000 AS v
              FROM ids, range(0, 512) t(i)
            )
            SELECT media_id, CAST(ch AS INTEGER) AS channel,
                   COUNT(*) AS n_samp,
                   CAST(SUM(v) AS BIGINT) AS sum_v,
                   CAST(SUM(v*v) AS BIGINT) AS sum_sq,
                   CAST(MIN(v) AS BIGINT) AS min_v,
                   CAST(MAX(v) AS BIGINT) AS max_v,
                   CAST(16000 AS INTEGER) AS sample_rate
            FROM s GROUP BY media_id, ch
        """,
        "ogr_summary": f"""
            SELECT COUNT(*) AS n_rows,
                   COUNT(DISTINCT l_returnflag) AS n_flags,
                   CAST(SUM({OG.cents_sql('l_quantity')}) AS BIGINT) AS sum_qty_cents,
                   MIN({OG.cents_sql('l_extendedprice')}) AS min_price_cents,
                   MAX({OG.cents_sql('l_extendedprice')}) AS max_price_cents,
                   CAST(SUM({OG.cents_sql('l_quantity')}) AS DOUBLE) / COUNT(*) AS avg_qty_x100,
                   ROUND(STDDEV_POP({OG.cents_sql('l_quantity')}), 4) AS std_qty_x100,
                   MIN(l_shipdate) AS first_ship,
                   MAX(l_shipdate) AS last_ship
            FROM lineitem
        """,
        "ogr_distinct": "SELECT DISTINCT o_orderpriority FROM orders",
        "ogr_first_match_join": """
            SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderpriority
            FROM customer c LEFT JOIN (
              SELECT o_custkey, o_orderkey, o_orderpriority,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
              FROM orders
            ) o ON o.o_custkey = c.c_custkey AND o.rn = 1
        """,
        "ogr_order_limit": """
            SELECT o_orderkey, o_custkey FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 5
        """,
        "ogr_like_substr": f"""
            SELECT p_partkey,
                   p_name LIKE '%re%' AS has_re,
                   p_name ILIKE '%RE%' AS has_re_i,
                   {OG.ogr_substr_sql('p_name', -4)} AS tail4,
                   {OG.ogr_substr_sql('p_name', 2, 3)} AS mid23,
                   {OG.ogr_substr_sql('p_name', 0, 2)} AS zero2,
                   {OG.ogr_substr_sql('p_name', 5)} AS from5
            FROM part
        """,
        "ogr_predicates": """
            SELECT o_orderkey,
                   o_orderpriority IN ('1-URGENT', '2-HIGH') AS hot,
                   o_totalprice BETWEEN 50000.0 AND 150000.0 AS mid,
                   (CASE WHEN o_totalprice > 100000.0 THEN o_orderdate END)
                     IS NULL AS cheap_nulled,
                   NOT (o_orderstatus IN ('F')) AS not_final
            FROM orders
        """,
        "ogr_union_all": """
            SELECT o_orderkey, 'big' AS branch FROM orders WHERE o_totalprice > 100000
            UNION ALL
            SELECT o_orderkey, 'urgent' AS branch FROM orders WHERE o_orderpriority = '1-URGENT'
        """,
        "ogr_cast_arith": f"""
            SELECT l_orderkey, l_linenumber,
                   CAST(TRUNC(l_quantity) AS BIGINT) AS qty_int,
                   {OG.cents_sql('l_discount')} AS disc_cents,
                   (l_orderkey * 7 + l_linenumber) % 97 AS mod97,
                   concat(l_returnflag, '|', l_linestatus) AS flags
            FROM lineitem
        """,
        "rasterize_zones": zones_rasterize_oracle_sql(RASTERIZE_ZOOM, RASTERIZE_ZONES),
        "polygonize": zones_polygonize_oracle_sql(POLYGONIZE_ZOOM, POLYGONIZE_ZONES),
        "polygonize_polys": zones_polygonize_wkt_oracle_sql(
            POLYGONIZE_ZOOM, POLYGONIZE_ZONES
        ),
        "overlay_fishnet": zones_fishnet_oracle_sql(OVERLAY_CELL, OVERLAY_ZONES),
        "overlay_intersection": zones_intersection_oracle_sql(
            OVERLAY_XZ_SHIFT, OVERLAY_XZ_SHIFT, OVERLAY_XZ_ZONES
        ),
        "footprint": f"""
            SELECT component, n_rings, area_px, wkt_px FROM (
              {zones_polygonize_wkt_oracle_sql(POLYGONIZE_ZOOM, POLYGONIZE_ZONES)}
            )
        """,
        "warp_near": _warp_oracle(),
        "warp_cutline": _warp_cutline_oracle(),
        "raster_srcwin": """
            SELECT CAST(x.range AS BIGINT) AS gx, CAST(y.range AS BIGINT) AS gy,
                   CAST(1000 * (6 + y.range) + (10 + x.range) AS BIGINT) AS val
            FROM range(0, 40) x, range(0, 24) y
        """,
        "raster_histogram": """
            SELECT CAST(b.range AS INTEGER) AS bucket, CAST(256 AS BIGINT) AS n
            FROM range(0, 16) b ORDER BY bucket
        """,
        "hex_index": _with_pages(
            f"""
            SELECT url,
                   {OR.sql_hex_cell_from_m('mx', 'my', 7)} AS hex_r7,
                   {OR.sql_hex_cell_from_m('mx', 'my', 8)} AS hex_r8,
                   {OR.sql_hex_cell_from_m('mx', 'my', 9)} AS hex_r9,
                   {OR.sql_hex_cell_from_m('mx', 'my', 10)} AS hex_r10
            FROM (SELECT url, {OR.sql_mercator_x('lon')} AS mx,
                         {OR.sql_mercator_y('lat')} AS my
                  FROM pages WHERE lat IS NOT NULL)
            """
        ),
        # s2_index: golden-parquet oracle — an independent scalar S2
        # implementation (tools/make_goldens.py: rotate/flip Hilbert walk,
        # anchor + curve-adjacency validated) keyed by lattice position
        "s2_index": _with_pages(
            """
            SELECT p.url, g.s2_l12, g.s2_l13, g.s2_l14, g.s2_l15, g.s2_l16
            FROM pages p
            JOIN read_parquet('/root/repo/goldens/s2_cells.parquet') g
              ON p.lat_e7 = g.lat_e7 AND p.lon_e7 = g.lon_e7
            WHERE p.lat IS NOT NULL
            """
        ),
        "tile_quadkey": _with_pages(
            f"""
            SELECT url,
                   {OR.sql_quadkey(OR.sql_tile_x('lon', 12), OR.sql_tile_y_google('lat', 12), 12)}
                     AS quadkey
            FROM pages WHERE lat IS NOT NULL
            """
        ),
        "vector_translate": _with_pages(
            f"""
            SELECT md5(url) AS fid, url, lang,
                   ROUND({OR.sql_mercator_x('lon')}, 3) AS mx_mm,
                   ROUND({OR.sql_mercator_y('lat')}, 3) AS my_mm
            FROM pages
            WHERE lang IN ('en', 'de') AND lat IS NOT NULL
              AND lon >= -80.0 AND lon <= 10.0 AND lat >= 30.0 AND lat <= 60.0
            """
        ),
        "set_ops": """
            SELECT o_custkey, 'both' AS setop FROM (
              SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 100000
              INTERSECT
              SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
            UNION ALL
            SELECT o_custkey, 'big_only' AS setop FROM (
              SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 100000
              EXCEPT
              SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        """,
        "rollup": f"""
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                   CAST(SUM({OG.cents_sql('o_totalprice')}) AS BIGINT) AS sum_cents
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "hillshade": _hillshade_oracle(),
        "slope": _slope_oracle(),
        "aspect": _aspect_oracle(),
        "tri": _tri_oracle(),
        "tpi": _tpi_oracle(),
        "roughness": _roughness_oracle(),
        "contour": _contour_oracle(),
        "warp_bilinear": _warp_bilinear_oracle(),
        "warp_cubic": _warp_cubic_oracle(),
        "warp_cubicspline": _warp_cubicspline_oracle(),
        "warp_lanczos": _warp_lanczos_oracle(),
        "warp_average": _warp_box_oracle("average"),
        "warp_rms": _warp_box_oracle("rms"),
        "warp_sum": _warp_box_oracle("sum"),
        "warp_min": _warp_box_oracle("min"),
        "warp_max": _warp_box_oracle("max"),
        "warp_med": _warp_box_oracle("med"),
        "warp_q1": _warp_box_oracle("q1"),
        "warp_q3": _warp_box_oracle("q3"),
        "ogr_join_chain": f"""
            SELECT r.r_name, n.n_name, COUNT(*) AS n_suppliers,
                   CAST(SUM({OG.cents_sql('s.s_acctbal')}) AS BIGINT) AS sum_bal_cents
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        """,
        "ogr_hstore": """
            SELECT o_orderkey,
                   regexp_extract(concat('status=>', o_orderstatus, ',prio=>', o_orderpriority),
                                  'prio=>([^,]*)', 1) AS prio,
                   regexp_extract(concat('status=>', o_orderstatus, ',prio=>', o_orderpriority),
                                  'status=>([^,]*)', 1) AS status
            FROM orders
        """,
        "zonal_metrics": _with_pages(
            f"""
            SELECT CAST(7 AS INTEGER) AS zoom,
                   {OR.sql_tile_x('lon', 7)} AS tx,
                   {OR.sql_tile_y_google('lat', 7)} AS ty,
                   COUNT(*) AS n,
                   MIN(lat_e7) AS min_lat_e7, MAX(lat_e7) AS max_lat_e7,
                   MAX(lat_e7) - MIN(lat_e7) AS range_lat_e7,
                   COUNT(DISTINCT lang) AS n_langs
            FROM pages WHERE lat IS NOT NULL GROUP BY 1, 2, 3
            """
        ),
        "proximity": _proximity_oracle(),
        "sieve": _sieve_oracle(),
        "raster_scale": _raster_scale_oracle(),
        "raster_mosaic": _raster_mosaic_oracle(),
        "viewshed_row": _viewshed_row_oracle(),
        "raster_reclassify": _raster_reclassify_oracle(),
        "raster_colormap": _raster_colormap_oracle(),
        "raster_unscale": _raster_unscale_oracle(),
        "raster_settype": _raster_settype_oracle(),
        "raster_stack": _raster_stack_oracle(),
        "pansharpen": _pansharpen_oracle(),
        "raster_resize": _raster_resize_oracle(),
        "warp_mode": _warp_mode_oracle(),
        "fill_nodata": _fill_nodata_oracle(),
        "swap_xy": _swap_xy_oracle(),
        "explode_collections": _explode_collections_oracle(),
        "sample_nearest": _sample_nearest_oracle(),
        "sample_bilinear": _sample_bilinear_oracle(),
        "geom_convexhull": _convexhull_oracle(),
        "geom_simplify": """
            SELECT zone_id, wkt
            FROM read_parquet('/root/repo/goldens/geom_props.parquet')
        """,
        "geom_buffer": _buffer_oracle(),
        "grid_invdist": _grid_invdist_oracle(),
        "grid_average": _grid_average_oracle(),
        "grid_nearest": _grid_nearest_oracle(),
        "grid_linear": _grid_linear_oracle(),
        "events_json": """
            SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                     AS sum_k
            FROM events GROUP BY 1
        """,
        # geom_props: golden-parquet oracle — analytic area/centroid from
        # the zone literal coordinates (tools/make_goldens.py), rounded to
        # 1e-9 (vectorized vs sequential summation last-ulp)
        "geom_props": """
            SELECT zone_id, name, wkt, ROUND(geom_area, 9) AS geom_area,
                   ROUND(cx, 9) AS cx, ROUND(cy, 9) AS cy
            FROM read_parquet('/root/repo/goldens/geom_props.parquet')
        """,
        "events_window": f"""
            SELECT date_trunc('day', ts) AS day, event_type,
                   COUNT(*) AS n,
                   CAST(SUM({OG.cents_sql('value')}) AS BIGINT) AS sum_value_cents
            FROM events GROUP BY 1, 2
        """,
        "events_lag": """
            SELECT user_id, event_id,
                   LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_event_id
            FROM events
        """,
        "vector_concat": """
            SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal,
                   CAST(NULL AS BIGINT) AS nationkey, 'customer' AS src_layer
            FROM customer
            UNION ALL
            SELECT s_suppkey, s_name, CAST(NULL AS DOUBLE), s_nationkey,
                   'supplier'
            FROM supplier
        """,
        "vector_sql": """
            SELECT n.n_name AS nation, COUNT(*) AS n_cust,
                   ROUND(SUM(c.c_acctbal), 2) AS sum_bal
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE c.c_acctbal > 0
            GROUP BY n.n_name
        """,
        # Analytic: 3*4 - 1 - 1 + 1 = 11; staircase + disjoint square
        "cascaded_union": """
            SELECT 2 AS n_polys, 2 AS n_rings, 11.0 AS area,
                   'MULTIPOLYGON (((0 0,2 0,2 1,3 1,3 2,4 2,4 4,2 4,2 3,1 3,1 2,0 2,0 0)),((5 0,6 0,6 1,5 1,5 0)))' AS wkt
        """,
        # Analytic: tolerance 0.5 > zigzag amplitude 0.2 drops all six
        # interior zigzag vertices from BOTH zones; all box corners and
        # the two junctions survive.
        "simplify_coverage": """
            SELECT * FROM (VALUES
              (1, 0, 0, 0.0, 0.0), (1, 0, 1, 4.0, 0.0),
              (1, 0, 2, 4.0, 6.0), (1, 0, 3, 0.0, 6.0),
              (2, 0, 0, 4.0, 0.0), (2, 0, 1, 8.0, 0.0),
              (2, 0, 2, 8.0, 6.0), (2, 0, 3, 4.0, 6.0)
            ) AS t(zone_id, ring_idx, seq, x, y)
        """,
        # Reference pins (autotest/ogr/ogr_geom.py): tri area
        # 4068384291.8911743 / perimeter 317885.78639964823, polar area
        # 108860488.12023926 / perimeter 225369.66747743438; gid3 = sums,
        # gid4 hole==shell -> 0 area, double perimeter; gid5 outer = tri
        # pin (lon-shift invariant, :4495) minus the derived hole
        # (511650257.896 m^2, 103477.867 m).
        "geodesic": """
            SELECT * FROM (VALUES
              (1, 4068384000.0, 317885.786),
              (2, 108860000.0, 225369.667),
              (3, 4177245000.0, 543255.454),
              (4, 0.0, 635771.573),
              (5, 3556734000.0, 421363.654)
            ) AS t(gid, garea, glength)
        """,
        # Analytic derivations: (1) bowtie lobes 25+25; (2) dup vertex
        # dropped; (3) shell 100 minus shell∩hole triangle 12.5 = 87.5,
        # plus hole-outside-shell 50-12.5 = 37.5; (4) two 25 lobes;
        # (5) 4+4-1 union; (6) spike edge drawn twice cancels mod 2;
        # (7) 100-4. WKTs in the engine's canonical form (outer CCW,
        # holes CW, rings start at lexicographic min vertex).
        # closed forms: K=32 disk; full-turn fan area (K/2)*r^2*sin(2pi/K)
        # = 16*0.25*sin(pi/16); L-shape: 5 quarter fans, one right-angle
        # reflex corner overlaps its two edge strips in an r x r square;
        # hole 4x4 shrinks to (4-2r)^2 = 9
        "overlay_symdiff": """
            SELECT * FROM (VALUES
              (CAST(NULL AS INTEGER), 13, 1, 1, 32.0),
              (1, CAST(NULL AS INTEGER), 1, 2, 72.0),
              (2, NULL, 1, 1, 32.0),
              (3, NULL, 1, 1, 16.0)
            ) AS t(zone_a, zone_b, n_polys, n_rings, area)
            ORDER BY COALESCE(zone_a, -1), COALESCE(zone_b, -1)
        """,
        "overlay_identity": """
            SELECT * FROM (VALUES
              (1, CAST(NULL AS INTEGER), 1, 2, 72.0),
              (1, 11, 1, 1, 16.0),
              (1, 12, 1, 1, 16.0),
              (2, CAST(NULL AS INTEGER), 1, 1, 32.0),
              (2, 13, 1, 1, 4.0),
              (3, NULL, 1, 1, 16.0)
            ) AS t(zone_a, zone_b, n_polys, n_rings, area)
            ORDER BY COALESCE(zone_a, -1), COALESCE(zone_b, -1)
        """,
        "overlay_update": """
            SELECT * FROM (VALUES
              (CAST(NULL AS INTEGER), 11, 1, 1, 16.0),
              (NULL, 12, 1, 1, 16.0),
              (NULL, 13, 1, 1, 36.0),
              (1, CAST(NULL AS INTEGER), 1, 2, 72.0),
              (2, NULL, 1, 1, 32.0),
              (3, NULL, 1, 1, 16.0)
            ) AS t(zone_a, zone_b, n_polys, n_rings, area)
            ORDER BY COALESCE(zone_a, -1), COALESCE(zone_b, -1)
        """,
        "overlay_clip": """
            SELECT * FROM (VALUES
              (1, 1, 1, 28.0),
              (2, 1, 1, 4.0)
            ) AS t(zone_id, n_polys, n_rings, area)
            ORDER BY zone_id
        """,
        "overlay_union": """
            SELECT * FROM (VALUES
              (CAST(NULL AS INTEGER), 13, 1, 1, 32.0),
              (1, CAST(NULL AS INTEGER), 1, 2, 72.0),
              (1, 11, 1, 1, 16.0),
              (1, 12, 1, 1, 16.0),
              (2, NULL, 1, 1, 32.0),
              (2, 13, 1, 1, 4.0),
              (3, NULL, 1, 1, 16.0)
            ) AS t(zone_a, zone_b, n_polys, n_rings, area)
            ORDER BY COALESCE(zone_a, -1), COALESCE(zone_b, -1)
        """,
        "overlay_erase": """
            SELECT * FROM (VALUES
              (1, 1, 2, 72.0),
              (2, 1, 1, 32.0),
              (3, 1, 1, 16.0)
            ) AS t(zone_id, n_polys, n_rings, area)
            ORDER BY zone_id
        """,
        "geom_boolean": """
            SELECT * FROM (VALUES
              (1, 'difference',    1, 1, 12.0),
              (1, 'intersection',  1, 1, 4.0),
              (1, 'symdifference', 2, 2, 24.0),
              (1, 'union',         1, 1, 28.0),
              (2, 'difference',    1, 2, 32.0),
              (2, 'intersection',  1, 1, 4.0),
              (2, 'symdifference', 1, 2, 32.0),
              (2, 'union',         1, 1, 36.0),
              (3, 'difference',    1, 1, 4.0),
              (3, 'intersection',  0, 0, 0.0),
              (3, 'symdifference', 2, 2, 8.0),
              (3, 'union',         2, 2, 8.0),
              (4, 'difference',    0, 0, 0.0),
              (4, 'intersection',  1, 1, 9.0),
              (4, 'symdifference', 0, 0, 0.0),
              (4, 'union',         1, 1, 9.0),
              (5, 'difference',    1, 1, 4.0),
              (5, 'intersection',  0, 0, 0.0),
              (5, 'symdifference', 1, 1, 8.0),
              (5, 'union',         1, 1, 8.0),
              (6, 'difference',    1, 1, 4.0),
              (6, 'intersection',  2, 2, 4.0),
              (6, 'symdifference', 1, 1, 4.0),
              (6, 'union',         1, 1, 8.0)
            ) AS t(gid, op, n_polys, n_rings, area)
            ORDER BY gid, op
        """,
        "st_relate": """
            SELECT * FROM (VALUES
              (1, TRUE, FALSE, FALSE, FALSE, TRUE, FALSE, FALSE, FALSE),
              (2, TRUE, FALSE, FALSE, FALSE, FALSE, FALSE, FALSE, TRUE),
              (3, TRUE, FALSE, FALSE, TRUE, FALSE, FALSE, FALSE, FALSE),
              (4, TRUE, FALSE, FALSE, FALSE, FALSE, TRUE, FALSE, FALSE),
              (5, TRUE, FALSE, FALSE, FALSE, TRUE, FALSE, FALSE, FALSE),
              (6, TRUE, FALSE, FALSE, TRUE, FALSE, FALSE, FALSE, FALSE),
              (7, TRUE, FALSE, FALSE, FALSE, FALSE, TRUE, FALSE, FALSE),
              (8, TRUE, FALSE, FALSE, FALSE, FALSE, TRUE, FALSE, FALSE),
              (9, TRUE, FALSE, FALSE, TRUE, FALSE, FALSE, FALSE, FALSE),
              (10, TRUE, FALSE, FALSE, FALSE, FALSE, FALSE, FALSE, TRUE),
              (11, TRUE, FALSE, FALSE, TRUE, FALSE, FALSE, FALSE, FALSE),
              (12, TRUE, TRUE, FALSE, FALSE, FALSE, TRUE, TRUE, FALSE),
              (13, TRUE, FALSE, FALSE, FALSE, FALSE, FALSE, TRUE, FALSE),
              (14, FALSE, FALSE, TRUE, FALSE, FALSE, FALSE, FALSE, FALSE)
            ) AS t(gid, "intersects", "equals", "disjoint", "touches",
                   "crosses", "within", "contains", "overlaps")
            ORDER BY gid
        """,
        "zone_predicates": """
            SELECT * FROM (VALUES
              (1, 11, TRUE,  TRUE,  FALSE, FALSE, 4.0),
              (1, 12, FALSE, FALSE, FALSE, FALSE, 0.0),
              (1, 13, FALSE, FALSE, FALSE, FALSE, 0.0),
              (1, 14, FALSE, FALSE, FALSE, FALSE, 0.0),
              (1, 15, TRUE,  FALSE, FALSE, TRUE,  0.0),
              (2, 11, FALSE, FALSE, FALSE, FALSE, 0.0),
              (2, 12, TRUE,  FALSE, FALSE, FALSE, 4.0),
              (2, 13, FALSE, FALSE, FALSE, FALSE, 0.0),
              (2, 14, FALSE, FALSE, FALSE, FALSE, 0.0),
              (2, 15, FALSE, FALSE, FALSE, FALSE, 0.0),
              (3, 11, FALSE, FALSE, FALSE, FALSE, 0.0),
              (3, 12, FALSE, FALSE, FALSE, FALSE, 0.0),
              (3, 13, FALSE, FALSE, FALSE, FALSE, 0.0),
              (3, 14, TRUE,  TRUE,  TRUE,  FALSE, 16.0),
              (3, 15, FALSE, FALSE, FALSE, FALSE, 0.0)
            ) AS t(aid, bid, intersects, contains, within, touches, inter_area)
            ORDER BY aid, bid
        """,
        # interior band strips of the tilted plane: width 2 in level
        # space, height H-1 = 29 rows of squares -> area 58 each
        "contour_polys": """
            SELECT band, lev_min, lev_max, n_polys, n_rings, area
            FROM (VALUES
              (1, 10.0, 12.0, 1, 1, 58.0),
              (2, 12.0, 14.0, 1, 1, 58.0),
              (3, 14.0, 16.0, 1, 1, 58.0),
              (4, 16.0, 18.0, 1, 1, 58.0)
            ) AS t(band, lev_min, lev_max, n_polys, n_rings, area)
            ORDER BY band
        """,
        "geom_buffer_poly": """
            SELECT gid, n_polys, n_rings, ROUND(area, 6) AS area
            FROM (VALUES
              (1, 1, 1, 48 + 28*0.5 + 16*0.25*SIN(PI()/16)),
              (2, 1, 1, 27 + 24*0.5 + 5*4*0.25*SIN(PI()/16) - 0.25),
              (3, 1, 2, 100 + 40*0.5 + 16*0.25*SIN(PI()/16) - 9.0),
              (4, 2, 2, 2*(4 + 8*0.5 + 16*0.25*SIN(PI()/16)))
            ) AS t(gid, n_polys, n_rings, area)
        """,
        "make_valid": """
            SELECT * FROM (VALUES
              (1, 2, 2, 50.0,
               'MULTIPOLYGON (((0 0,10 0,5 5,0 0)),((0 10,5 5,10 10,0 10)))'),
              (2, 1, 1, 1.0, 'POLYGON ((0 0,1 0,1 1,0 1,0 0))'),
              (3, 2, 2, 125.0,
               'MULTIPOLYGON (((0 0,10 0,10 2.5,5 5,10 7.5,10 10,0 10,0 0)),((10 2.5,15 0,15 10,10 7.5,10 2.5)))'),
              (4, 2, 2, 50.0,
               'MULTIPOLYGON (((0 0,10 0,5 5,0 0)),((0 10,5 5,10 10,0 10)))'),
              (5, 1, 1, 7.0,
               'POLYGON ((0 0,2 0,2 1,3 1,3 3,1 3,1 2,0 2,0 0))'),
              (6, 1, 1, 100.0, 'POLYGON ((0 0,10 0,10 10,0 10,0 0))'),
              (7, 1, 2, 96.0,
               'POLYGON ((0 0,10 0,10 10,0 10,0 0),(2 2,2 4,4 4,4 2,2 2))')
            ) AS t(gid, n_polys, n_rings, area, wkt)
        """,
    }
