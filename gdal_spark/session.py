"""SparkSession factory with scale-oriented defaults.

Defaults follow the scale guidance in SURVEY.md §4/§7: AQE on (runtime
re-plan + skew-join splitting), Arrow for pandas_udf transport (the
reference's own columnar batch model, ogrlayerarrow.cpp:1947), shuffle
partitions sized for local mode but overridable for clusters.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

# local_df flips a session-global conf around its conversion; serialize so
# two concurrent calls can't interleave set/restore and leave the wrong
# value behind (ADVICE r3).
_LOCAL_DF_LOCK = threading.Lock()


def _package_zip(pkg_dir: str) -> str:
    """Zip every .py under pkg_dir (as gdal_spark/...) into the temp dir
    and return the zip's path.

    The zip is named by a hash of the files' relative paths and bytes, so
    two checkouts (or two versions of one) on the same box never share a
    zip whatever their mtimes, and an unchanged package reuses its zip.
    It is written under a temporary name and renamed into place, so a
    concurrent session never reads a half-written archive."""
    blobs = []
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(pkg_dir)):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.join("gdal_spark", os.path.relpath(full, pkg_dir))
                with open(full, "rb") as fh:
                    data = fh.read()
                h.update(f"{rel}\0{len(data)}\0".encode())
                h.update(data)
                blobs.append((rel, data))
    tmp_dir = tempfile.gettempdir()
    zip_path = os.path.join(tmp_dir, f"gdal_spark_pkg_{h.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        fd, tmp = tempfile.mkstemp(suffix=".zip.part", dir=tmp_dir)
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for rel, data in blobs:
                zf.writestr(rel, data)
        os.replace(tmp, zip_path)
    return zip_path


def _ship_package(spark: SparkSession) -> None:
    """Make gdal_spark importable on executors regardless of cwd/deploy mode.

    Zips the package (`_package_zip`) and registers it via addPyFile —
    the same mechanism `spark-submit --py-files gdal_spark.zip` uses on a
    real cluster (north rule). Without this, pandas_udf closures that
    reference gdal_spark.kernels fail to unpickle on workers started
    outside the repo directory.
    """
    import gdal_spark

    pkg_dir = os.path.dirname(os.path.abspath(gdal_spark.__file__))
    if not os.path.isdir(pkg_dir):
        # already imported FROM a zip (spark-submit --py-files): there is
        # no directory to walk. Re-register the containing zip so
        # executors resolve the same archive even when the session was
        # built without --py-files (addPyFile is idempotent per path).
        container = os.path.dirname(pkg_dir)
        if os.path.isfile(container):
            spark.sparkContext.addPyFile(container)
        return
    spark.sparkContext.addPyFile(_package_zip(pkg_dir))


def local_df(spark: SparkSession, rows, schema):
    """createDataFrame that yields a LocalTableScan, not a pickled-RDD scan.

    `spark.createDataFrame(list, schema)` plans as `Scan ExistingRDD`:
    every broadcast/evaluation launches an RDD job that unpickles the
    rows (measured 0.9-2.7s per join on this box vs 0.45s local). Routing
    through pandas/Arrow produces a true LocalRelation. Falls back to the
    list path for types Arrow can't convert (deeply nested structs)."""
    import numpy as np
    import pandas as pd

    rows = [
        tuple(
            v.tolist() if isinstance(v, np.ndarray) else v for v in row
        )
        if isinstance(row, tuple)
        else row
        for row in rows
    ]
    if rows:
        # the Arrow path is what makes this a LocalRelation; a raw
        # SparkSession (the driver's) has it off, and the non-arrow
        # pandas path additionally rejects ndarray cells — flip it on
        # for just this conversion and restore
        key = "spark.sql.execution.arrow.pyspark.enabled"
        with _LOCAL_DF_LOCK:
            prev = spark.conf.get(key, "false")
            try:
                spark.conf.set(key, "true")
                pdf = pd.DataFrame(rows)
                return spark.createDataFrame(pdf, schema)
            except Exception:
                pass
            finally:
                spark.conf.set(key, prev)
    return spark.createDataFrame(rows, schema)


def get_spark(
    app_name: str = "gdal-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master.startswith("local[*]"):
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size: match the reference's columnar default of 65536
        # rows/batch (ogrlayerarrow.cpp:1947)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # WholeStageCodegen class cache: the default 100 entries thrash
        # under the 123-query sweep — an evicted shared subplan class makes
        # a later family member (the overlay ops share one candidate join)
        # re-pay ~10s of janino compile mid-run. Static conf, so it must
        # be set at builder time. ~50KB source per class: worst case a
        # few hundred MB driver-side at 4096, irrelevant at 12g.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # local-mode "cluster": all tasks share the driver JVM. This box
        # first-touches memory at only ~130MB/s, so heap growth mid-job
        # shows up as 50-150s stalls at ~57% kernel time. Benchmarks set
        # SPARK_GRAFT_PRETOUCH=1 to pay that cost once at startup
        # (-Xms=-Xmx -XX:+AlwaysPreTouch) and get stable run times; tests
        # keep the default lazy heap (they never need it all).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config(
            "spark.driver.extraJavaOptions",
            # -XX:-DontCompileHugeMethods: whole-stage-codegen methods for
            # wide literal expressions (compiled zone refines, hex cell
            # math) exceed HotSpot's 8000-bytecode JIT ceiling and would
            # otherwise run in the bytecode interpreter (measured 10-20x)
            (
                f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '12g')} "
                "-XX:+AlwaysPreTouch -XX:+UseG1GC -XX:-DontCompileHugeMethods"
                if os.environ.get("SPARK_GRAFT_PRETOUCH")
                else "-XX:+UseG1GC -XX:-DontCompileHugeMethods"
            ),
        )
        .config("spark.ui.enabled", "false")
        # the console progress bar writes \r-terminated lines that can
        # clobber the bench's single JSON stdout line when a harness
        # merges the streams
        .config("spark.ui.showConsoleProgress", "false")
        # glibc mmaps >128KB allocations and returns them to the OS on
        # free, so every numpy temp array in a pandas_udf kernel
        # re-faults fresh pages — and this VM first-touches memory at
        # ~130MB/s. Raising the mmap/trim thresholds to 128MB keeps
        # typical kernel temporaries (raster blocks, batch stacks) on
        # the retained heap for warm reuse (measured 30x on the warp
        # kernel) while still letting truly huge buffers mmap —
        # MALLOC_MMAP_MAX_=0 is NOT safe here: it fragments the heap
        # under polygonize/rasterize's mixed allocation sizes (measured
        # 17x regression).
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "134217728")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "134217728")
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark
