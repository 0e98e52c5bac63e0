"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.operators import dedup as DD
from gdal_spark.operators import multimodal as MM
from gdal_spark.operators import similarity as SIM
from gdal_spark.operators import textstats as TS


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return DD.corpus_df(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_dedup_exact_finds_planted_copies(corpus):
    groups = DD.dedup_exact(corpus).collect()
    dup_groups = [g for g in groups if g["n_copies"] > 1]
    # every 10th doc has an exact copy planted
    assert len(dup_groups) >= 5
    for g in dup_groups:
        assert g["keep_id"] < 1_000_000  # original wins


def test_lsh_finds_planted_near_dups(corpus):
    pairs = {(r["id_a"], r["id_b"]) for r in DD.lsh_pairs(corpus).collect()}
    # near-dup: doc_id -> doc_id + 1_000_000 with one token substituted;
    # only docs actually containing 'table' changed, others are exact dups
    originals = {r["doc_id"] for r in corpus.filter(F.col("doc_id") < 1_000_000).collect()}
    planted = [d for d in originals if d % 7 == 0]
    found = sum(1 for d in planted if (d, d + 1_000_000) in pairs)
    # `replace` swaps every 'table' occurrence, so some planted pairs have
    # Jaccard well under the 4-band/3-row collision curve; ~0.8+ recall is
    # the theoretically expected regime for this banding
    assert found / len(planted) > 0.75


def test_jaccard_pairs_exact_vs_brute(corpus):
    """jaccard_pairs (inverted-index join) == brute-force pairwise
    Jaccard over the same distinct 3-shingle sets, values included."""
    rows = corpus.select(
        "doc_id", F.expr(DD._shingles_expr("text")).alias("sh")
    ).collect()
    sets = {r["doc_id"]: frozenset(r["sh"]) for r in rows if len(r["sh"])}
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            common = len(sets[a] & sets[b])
            if not common:
                continue
            j = common / (len(sets[a]) + len(sets[b]) - common)
            if j >= DD.JACCARD_THRESHOLD:
                want[(a, b)] = (common, j)
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard"])
        for r in DD.jaccard_pairs(corpus).collect()
    }
    assert set(got) == set(want)
    for k, (c, j) in want.items():
        assert got[k][0] == c
        assert abs(got[k][1] - j) < 1e-12
    # planted exact copies (doc_id+2M) must surface with jaccard == 1.0
    exact = [(a, b) for (a, b) in got if b == a + 2_000_000]
    assert exact and all(got[p][1] == 1.0 for p in exact)


def test_jaccard_pairs_df_cap_is_subset(corpus):
    """A df-cap only removes common-shingle evidence: capped output
    pairs are a subset of the exact output, with n_common <= exact."""
    exact = {
        (r["id_a"], r["id_b"]): r["n_common"]
        for r in DD.jaccard_pairs(corpus).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["n_common"]
        for r in DD.jaccard_pairs(corpus, df_cap=3).collect()
    }
    for pair, n in capped.items():
        assert pair in exact and n <= exact[pair]


def test_simhash_stable_and_near(corpus):
    sh = {r["doc_id"]: r["simhash"] for r in DD.simhash(corpus).collect()}
    exact_ids = [d for d in sh if d >= 2_000_000]
    assert exact_ids
    for d in exact_ids:
        assert sh[d] == sh[d - 2_000_000]  # identical text -> identical simhash
    assert all(0 <= v < 65536 for v in sh.values())


def test_ann_lsh_subset_of_brute_candidates(spark, emb):
    q = SIM.queries_subset(emb)
    brute = SIM.ann_brute(emb, q, 10).collect()
    lsh = SIM.ann_lsh(emb, q, 10).collect()
    # rank 1 is always the query itself (cos=1, same bucket)
    top1_brute = {r["query_id"]: r["vec_id"] for r in brute if r["rank"] == 1}
    top1_lsh = {r["query_id"]: r["vec_id"] for r in lsh if r["rank"] == 1}
    assert top1_brute == {q: q for q in top1_brute}
    assert top1_lsh == top1_brute
    # lsh results are a subset of the corpus restricted to the bucket;
    # measure recall@10 against brute (report-only floor)
    bset = {(r["query_id"], r["vec_id"]) for r in brute}
    lset = {(r["query_id"], r["vec_id"]) for r in lsh}
    recall = len(bset & lset) / len(bset)
    assert recall > 0.05


def test_lang_id_and_quality(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = TS.lang_id(docs).collect()
    assert all(r["pred_lang"] in ("en", "de", "fr", "es", "ja", "und") for r in out)
    q = TS.quality_score(docs).collect()
    assert sum(1 for r in q if r["passes_quality"]) > len(q) // 2


def test_fingerprint_identifies_exact_dups(corpus):
    fp = {r["doc_id"]: r["fp"] for r in TS.fingerprint(corpus).collect()}
    for d in [k for k in fp if k >= 2_000_000]:
        assert fp[d] == fp[d - 2_000_000]


def test_multimodal_real_decode(spark):
    import numpy as np

    from gdal_spark.kernels import codecs

    media = MM.synth_media(spark, 30)
    feats = {r["media_id"]: r for r in MM.image_features(media).collect()}
    assert len(feats) == 20  # ids %3 in (0,1) are images (PNG + BMP)
    for mid, r in feats.items():
        px = MM.pattern_rgb(mid, 32, 24).astype(np.int64)
        assert len(r["hist"]) == 16 and sum(r["hist"]) == 32 * 24
        assert [r["sum_r"], r["sum_g"], r["sum_b"]] == list(
            px.reshape(-1, 3).sum(axis=0)
        )
    auds = {r["media_id"]: r for r in MM.audio_features(media).collect() if r["channel"] == 0}
    assert len(auds) == 10
    for mid, r in auds.items():
        pcm = MM.pattern_pcm(mid, 256, 2).astype(np.int64)
        assert r["sum_v"] == pcm[:, 0].sum() and r["n_samp"] == 256
        assert r["sample_rate"] == 16000
    resized = MM.resize_images(media, 8, 6).collect()
    assert len(resized) == 20
    for r in resized:
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 6
        out = codecs.decode_image(bytes(r["payload"]))  # payload is real PNG
        src = MM.pattern_rgb(r["media_id"], 32, 24)
        yi = np.arange(6) * 24 // 6
        xi = np.arange(8) * 32 // 8
        assert np.array_equal(out, src[yi][:, xi])


def test_stratified_sample_exact_quotas(spark, sf_dir):
    """Every key gets exactly min(n_per_key, group size) rows with ranks
    1..quota — Spark's sampleBy is Bernoulli-approximate; this is exact."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    out = TS.stratified_sample(docs, n_per_key=5).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["lang"], []).append(r["sample_rank"])
    assert set(by_key) == set(counts)
    for lang, ranks in by_key.items():
        quota = min(5, counts[lang])
        assert sorted(ranks) == list(range(1, quota + 1)), (lang, ranks)


def test_stratified_sample_deterministic_across_partitioning(spark, sf_dir):
    """The seeded md5 permutation makes the sample a pure function of the
    data — repartitioning must not change which rows are picked."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {(r["lang"], r["doc_id"], r["sample_rank"])
         for r in TS.stratified_sample(docs).collect()}
    b = {(r["lang"], r["doc_id"], r["sample_rank"])
         for r in TS.stratified_sample(docs.repartition(7)).collect()}
    assert a == b
    # different seed -> (almost surely) different permutation
    c = {(r["lang"], r["doc_id"], r["sample_rank"])
         for r in TS.stratified_sample(docs, seed=7).collect()}
    assert a != c


def test_stratified_sample_null_id_matches_oracle(spark):
    """A NULL id ranks at the same place in Spark and in the DuckDB
    oracle. The ids are chosen so that md5(':42') (NULL rendered empty)
    falls inside the 3-row quota and md5('42') (NULL skipped) does not."""
    import duckdb

    rows = [(i, "a") for i in range(1, 7)] + [(None, "a")]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {(r["doc_id"], r["lang"], r["sample_rank"])
           for r in TS.stratified_sample(docs, n_per_key=3).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT CAST(doc_id AS BIGINT) AS doc_id, lang "
        "FROM (VALUES (1, 'a'), (2, 'a'), (3, 'a'), (4, 'a'), (5, 'a'), "
        "(6, 'a'), (NULL, 'a')) t(doc_id, lang)"
    )
    exp = set(con.execute(TS.stratified_sample_sql("docs", n_per_key=3)).fetchall())
    assert got == exp
    assert (None, "a", 2) in got
