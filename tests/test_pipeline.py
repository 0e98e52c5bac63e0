"""End-to-end checkpointed pipeline: output parity + resume no-op."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pipeline_end_to_end(spark, sf_dir, tmp_path):
    store = str(tmp_path / "store")
    cmd = [
        sys.executable, "-m", "gdal_spark.pipeline",
        "--sf-dir", sf_dir, "--store", store, "--zoom", "8",
    ]
    r1 = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                        timeout=900)
    assert r1.returncode == 0, r1.stderr[-2000:]

    from gdal_spark.operators import tiles as TI
    from gdal_spark.operators.pages import pages_from_documents
    from gdal_spark.plans.checkpoint import CheckpointStore

    cs = CheckpointStore(store)
    pyr = cs.load(spark, "pyramid")
    pages = pages_from_documents(spark, sf_dir, keep_internal=True)
    expect = TI.pyramid_counts_fast(TI.rasterize_points(pages, 8), 5, 8)
    got = {
        (r["zoom"], r["tx"], r["ty"], r["px"], r["py"]): r["burn"]
        for r in pyr.collect()
    }
    exp = {
        (r["zoom"], r["tx"], r["ty"], r["px"], r["py"]): r["burn"]
        for r in expect.collect()
    }
    assert got == exp

    # resume: second invocation commits nothing new
    batches = {s: cs.committed_batches(s) for s in ("index", "pip", "pixels", "pyramid")}
    r2 = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                        timeout=900)
    assert r2.returncode == 0, r2.stderr[-2000:]
    for s, b in batches.items():
        assert cs.committed_batches(s) == b, s
