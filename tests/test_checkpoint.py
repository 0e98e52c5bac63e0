"""Kill-resume checkpointing: per-partition lineage, no recompute."""

import glob
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gdal_spark.operators.pages import pages_from_documents
from gdal_spark.operators.pip_join import pip_join_broadcast
from gdal_spark.operators.zones import zones_df
from gdal_spark.plans.checkpoint import CheckpointStore


@pytest.fixture()
def store(tmp_path):
    return CheckpointStore(str(tmp_path / "ckpt"))


def _transform(zones):
    def t(df):
        return pip_join_broadcast(df, zones).select("part_id", "url", "zone_id")

    return t


def test_kill_then_resume_no_recompute(spark, sf_dir, store):
    pages = pages_from_documents(spark, sf_dir, keep_internal=True)
    zones = zones_df(spark)
    expected = {
        (r["url"], r["zone_id"]) for r in pip_join_broadcast(pages, zones).collect()
    }

    # first run dies after 2 of 4 batches
    with pytest.raises(RuntimeError, match="injected failure"):
        store.run_stage(
            spark, "pip", pages, _transform(zones), lineage_key="url",
            n_parts=8, n_batches=4, fail_after_batches=2,
        )
    partial = store.completed_parts(spark, "pip")
    assert 0 < len(partial) < 8

    # resume completes only the missing parts
    out = store.run_stage(
        spark, "pip", pages, _transform(zones), lineage_key="url",
        n_parts=8, n_batches=4,
    )
    got = {(r["url"], r["zone_id"]) for r in out.collect()}
    assert got == expected

    # lineage metrics cover all 8 parts exactly once
    m = store.metrics(spark, "pip")
    per_part = m.groupBy("part_id").count().collect()
    assert len(per_part) == 8
    assert all(r["count"] == 1 for r in per_part)
    rep = store.lineage_report(spark, "pip")
    assert rep["rows"] == len(expected)
    assert rep["bytes"] > 0

    # idempotent: a third run commits nothing new
    batches_before = store.committed_batches("pip")
    store.run_stage(
        spark, "pip", pages, _transform(zones), lineage_key="url",
        n_parts=8, n_batches=4,
    )
    assert store.committed_batches("pip") == batches_before


def _few_rows(spark, n=5):
    # n rows over 8 lineage parts: at least 3 parts get no rows
    return spark.createDataFrame(
        [(f"http://x/{i}", i) for i in range(n)], "url string, v long"
    )


def _identity(df):
    return df.select("part_id", "url", "v")


def test_bookkeeping_launches_no_job(spark, store):
    store.run_stage(spark, "s", _few_rows(spark), _identity, lineage_key="url",
                    n_parts=4, n_batches=2)
    sc = spark.sparkContext
    group = f"ckpt-bookkeeping-{id(store)}"
    sc.setJobGroup(group, "bookkeeping")
    try:
        assert store.completed_parts(spark, "s") == {0, 1, 2, 3}
        assert store.committed_batches("s") == [0, 1]
        rep = store.lineage_report(spark, "s")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (rep["parts"], rep["rows"]) == (4, 5) and rep["bytes"] > 0
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_footer_counts_match_data(spark, store):
    rows = _few_rows(spark)
    store.run_stage(spark, "s", rows, _identity, lineage_key="url",
                    n_parts=8, n_batches=4)
    m = store.metrics(spark, "s").toPandas().set_index("part_id")
    assert sorted(m.index) == list(range(8))
    got = {r["part_id"]: r["count"]
           for r in store.load(spark, "s").groupBy("part_id").count().collect()}
    assert 0 < len(got) <= 5 and sum(got.values()) == 5
    # the parts missing from `got` have no directory and must read 0/0
    for p, r in m.iterrows():
        files = glob.glob(os.path.join(
            store.root, "s", f"batch={r['batch']}", f"part_id={p}", "*.parquet"))
        assert r["row_count"] == got.get(p, 0), p
        assert r["bytes"] == sum(os.path.getsize(f) for f in files), p
    batches = store.committed_batches("s")
    store.run_stage(spark, "s", rows, _identity, lineage_key="url",
                    n_parts=8, n_batches=4)
    assert store.committed_batches("s") == batches


def test_metrics_file_format(spark, store):
    store.run_stage(spark, "s", _few_rows(spark), _identity, lineage_key="url",
                    n_parts=2, n_batches=1, input_snapshot="snap")
    f = os.path.join(store.root, "s", "_metrics", "batch-0.parquet")
    schema = pq.read_schema(f)
    assert [(c.name, str(c.type)) for c in schema] == [
        ("stage", "string"), ("part_id", "int32"), ("row_count", "int64"),
        ("bytes", "int64"), ("batch", "int32"), ("input_snapshot", "string"),
        ("wall_ms", "int64"),
    ]
    # a metrics file as earlier versions wrote it (Spark toPandas ->
    # pandas.to_parquet) reads back together with the new ones
    old = pd.DataFrame({
        "stage": ["s"], "part_id": pd.Series([7], dtype="int32"),
        "row_count": pd.Series([3], dtype="int64"), "bytes": pd.Series([10], dtype="int64"),
        "batch": pd.Series([9], dtype="int32"), "input_snapshot": ["old"],
        "wall_ms": pd.Series([1], dtype="int64"),
    })
    old.to_parquet(os.path.join(store.root, "s", "_metrics", "batch-9.parquet"))
    assert store.metrics(spark, "s").count() == 3
    assert store.completed_parts(spark, "s") == {0, 1, 7}
    assert store.lineage_report(spark, "s")["rows"] == 5 + 3
