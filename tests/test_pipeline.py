"""End-to-end checkpointed pipeline in launch mode: `spark-submit
--py-files` with the package importable only from the shipped zip,
output parity, and a resume that rewrites nothing."""

import json
import os
import subprocess
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_package(dest: str) -> str:
    """Every gdal_spark/**.py into the zip that --py-files ships."""
    pkg = os.path.join(REPO, "gdal_spark")
    with zipfile.ZipFile(dest, "w") as zf:
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return dest


def _snapshot(store: str) -> list:
    """(path, size, mtime) of every file in the store."""
    out = []
    for root, _, files in os.walk(store):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out.append((os.path.relpath(os.path.join(root, f), store),
                        st.st_size, st.st_mtime_ns))
    return sorted(out)


def test_pipeline_end_to_end(spark, sf_dir, tmp_path):
    store = str(tmp_path / "store")
    cmd = [
        "spark-submit",
        "--master", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
        "--py-files", _zip_package(str(tmp_path / "gdal_spark.zip")),
        "--conf", "spark.sql.codegen.fallback=false",
        os.path.join(REPO, "tools", "submit_app.py"),
        "--sf-dir", sf_dir, "--store", store, "--zoom", "8",
    ]
    # no checkout on the child's path: cwd is not the repo and PYTHONPATH
    # is gone, so gdal_spark resolves from --py-files alone
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def launch() -> dict:
        r = subprocess.run(cmd, capture_output=True, text=True, cwd=tmp_path,
                           env=env, timeout=900)
        assert r.returncode == 0, r.stderr[-2000:]
        reports = [json.loads(line) for line in r.stdout.splitlines()
                   if line.startswith("{")]
        return {rep["stage"]: rep for rep in reports}

    lineage = launch()

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

    # resume: the second launch commits nothing new, leaves every store
    # file byte-stable and reports the same lineage
    batches = {s: cs.committed_batches(s) for s in ("index", "pip", "pixels", "pyramid")}
    snap = _snapshot(store)
    assert launch() == lineage
    assert _snapshot(store) == snap
    for s, b in batches.items():
        assert cs.committed_batches(s) == b, s
    assert set(lineage) == set(batches)
    assert all(rep["rows"] > 0 for rep in lineage.values()), lineage


def test_package_zip_per_checkout(tmp_path, monkeypatch):
    """Two copies of the package get two zips, each holding its own
    bytes — also when the later copy's files are edited but older."""
    import shutil
    import tempfile

    from gdal_spark.session import _package_zip

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pkgs = []
    for name in ("one", "two"):
        dest = tmp_path / name / "gdal_spark"
        shutil.copytree(
            os.path.join(REPO, "gdal_spark"), dest,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        pkgs.append(dest)
    edited = pkgs[1] / "operators" / "overlay.py"
    edited.write_text(edited.read_text() + "# edited\n")
    for root, _, files in os.walk(pkgs[1]):
        for f in files:
            os.utime(os.path.join(root, f), (1e9, 1e9))
    zips = [_package_zip(str(p)) for p in pkgs]
    assert zips[0] != zips[1]
    for pkg, zp in zip(pkgs, zips):
        with zipfile.ZipFile(zp) as zf:
            got = {n: zf.read(n) for n in zf.namelist()}
        want = {
            os.path.join("gdal_spark", os.path.relpath(os.path.join(r, f), pkg)):
                open(os.path.join(r, f), "rb").read()
            for r, _, fs in os.walk(pkg) for f in fs if f.endswith(".py")
        }
        assert got == want
    assert _package_zip(str(pkgs[0])) == zips[0]
