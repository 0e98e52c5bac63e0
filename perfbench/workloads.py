"""The benchmark's three workloads and the per-op layer tracer.

Every workload is a closed loop with one client: the next op starts when
the previous one returned. Ops call the engine's public operators only.

* `pipeline` -- pages Parquet -> extract_geo -> pip_join_broadcast -> count,
  then rasterize_points(z8) -> pyramid_counts_fast(5..8) -> distinct tiles.
* `ckpt` -- the checkpointed chain of `gdal_spark.pipeline` (index -> pip ->
  pixels -> pyramid through CheckpointStore.run_stage) into a fresh store.
* `registry` -- queries of `__spark_entry__`: build the DataFrame, then a
  `noop` write, in a seeded permutation of the sorted names.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import datagen
import registry_pins
from probes import SparkProbe

MB = float(1 << 20)

# Registry panel. The q.* per-layer numbers cover Q_TRACED. The panel holds
# those of them that are not in Q_EXTRA, plus every 25th of the other
# sorted names from the 11th on: ten queries, one pass of about ten
# seconds on 4 CPUs. Each run times whole passes over the same panel in its
# seeded order, so runs differ in order only, never in which queries they
# time. Q_EXTRA queries run only in traced runs, once each after the timed
# passes: each is slow, sensitive to its position in the order, or pays a
# large one-off shared persist on first use.
Q_TRACED = [
    "sieve", "footprint", "polygonize", "dedup_embeddings", "dedup_minhash",
    "overlay_fishnet", "overlay_union", "ogr_sql_exec", "pip_bucketed",
    "grid_linear",
]
Q_EXTRA = ["dedup_embeddings", "footprint", "overlay_fishnet", "overlay_union", "polygonize"]


def registry_panel(all_names) -> list[str]:
    core = [q for q in Q_TRACED if q not in Q_EXTRA]
    rest = [n for n in sorted(all_names) if n not in Q_TRACED]
    return sorted(core + rest[10::25])


class _Op:
    """Layer values of one traced op; missing keys read as 0."""

    def __init__(self, label: str):
        self.label = label
        self.v: dict[str, float] = {}

    def add(self, key: str, val: float) -> None:
        self.v[key] = self.v.get(key, 0.0) + val


class NullTracer:
    """Tracing off: ops run with no probes, spans or job groups."""

    enabled = False

    @contextlib.contextmanager
    def op(self, label: str):
        yield None

    @contextlib.contextmanager
    def phase(self, rec, kind: str, span: str):
        yield

    @contextlib.contextmanager
    def span(self, rec, name: str):
        yield


class Tracer(NullTracer):
    """Tracing on: spans at every layer boundary the benchmark calls into,
    job groups per build/exec phase, and per-op deltas of Spark's status
    store, GC time, /proc CPU time and the UDF profiler."""

    enabled = True

    def __init__(self, spark, proc):
        self.spark = spark
        self.probe = SparkProbe(spark)
        self.proc = proc
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.ops: list[_Op] = []
        self._n = 0
        self._stack: list[str] = []

    def _span(self, name: str, start: float, end: float) -> None:
        self.spans.append({
            "op": self._n, "name": name, "parent": self._stack[-1] if self._stack else None,
            "start": round(start - self.t0, 6), "end": round(end - self.t0, 6),
        })

    @contextlib.contextmanager
    def op(self, label: str):
        self._n += 1
        rec = _Op(label)
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.probe.udf_self_seconds()  # drop anything recorded before this op
        cpu0, gc0 = self.proc.cpu_by_role(), self.probe.gc_seconds()
        last_exec = self.probe.last_execution_id()
        start = time.perf_counter()
        self._stack.append("op")
        try:
            yield rec
        finally:
            self._stack.pop()
            end = time.perf_counter()
            self._span("op:" + label, start, end)
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        rec.add("wall_s", end - start)
        cpu1 = self.proc.cpu_by_role()
        for role in ("driver", "jvm", "pyworker"):
            rec.add(f"{role}.cpu_s", cpu1[role] - cpu0[role])
        rec.add("jvm.gc_s", self.probe.gc_seconds() - gc0)
        rec.add("udf.self_s", self.probe.udf_self_seconds())
        sql = self.probe.sql_totals(last_exec)
        rec.add("exec.broadcast_collect_s", sql["broadcast_collect_s"])
        rec.add("pip.refine_in_rows", sql["refine_in_rows"])
        rec.add("pip.joined_rows", sql["joined_rows"])
        self.ops.append(rec)

    @contextlib.contextmanager
    def span(self, rec, name: str):
        start = time.perf_counter()
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            end = time.perf_counter()
            self._span(name, start, end)
            rec.add(name + "_s", end - start)

    @contextlib.contextmanager
    def phase(self, rec, kind: str, span: str):
        """A `build` (driver-side plan construction, eager probe jobs
        included) or `exec` (the action) phase of an op, as span `span`."""
        group = f"bench-{self._n}-{kind}-{len(self.spans)}"
        self.spark.sparkContext.setJobGroup(group, kind)
        start = time.perf_counter()
        try:
            with self.span(rec, span):
                yield
        finally:
            rec.add(f"{kind}.s", time.perf_counter() - start)
            jobs = self.probe.job_ids(group)
            self.spark.sparkContext.setJobGroup("bench-idle", "idle")
            rec.add(f"{kind}.jobs", len(jobs))
            if kind == "exec":
                st = self.probe.stage_totals(jobs)
                rec.add("exec.tasks", st["tasks"])
                rec.add("exec.shuffle_write_mb", st["shuffle_write"] / MB)
                rec.add("exec.spill_mb", st["spill"] / MB)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Pipeline:
    """Reads: the paper's headline path, JVM whole-stage codegen only."""

    name = "pipeline"
    n_pages = 250_000
    warmup = 4

    def __init__(self, spark, workdir: str, seed: int):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.outputs: list[tuple[int, int]] = []
        self.want: dict | None = None  # DuckDB counts, computed on first check

    def prepare(self) -> None:
        from gdal_spark.operators.pages import pages_from_documents

        self.docs_dir = os.path.join(self.workdir, "docs")
        datagen.write_documents(self.docs_dir, self.seed, self.n_pages)
        self.pages_path = os.path.join(self.workdir, "pages")
        # one pages file per documents file: 16 even splits, so 4 cores
        # share each scan instead of waiting on one straggler split
        pages_from_documents(self.spark, self.docs_dir).write.parquet(self.pages_path)

    def round(self) -> list[str]:
        return ["pipeline"]

    warm_round = round

    def op(self, label: str, tr) -> int:
        from gdal_spark.operators import tiles as TI
        from gdal_spark.operators.pages import extract_geo
        from gdal_spark.operators.pip_join import pip_join_broadcast
        from gdal_spark.operators.zones import zones_df

        with tr.op(label) as rec:
            with tr.span(rec, "stage.extract_join"):
                with tr.phase(rec, "build", "build.extract_join"):
                    geo = extract_geo(self.spark.read.parquet(self.pages_path))
                    joined = pip_join_broadcast(geo, zones_df(self.spark))
                with tr.phase(rec, "exec", "exec.join_count"):
                    n_joined = joined.count()
            with tr.span(rec, "stage.pyramid"):
                with tr.phase(rec, "build", "build.pyramid"):
                    pyr = TI.pyramid_counts_fast(TI.rasterize_points(geo, 8), 5, 8)
                    tiles = pyr.select("zoom", "tx", "ty").distinct()
                with tr.phase(rec, "exec", "exec.tile_count"):
                    n_tiles = tiles.count()
        self.outputs.append((n_joined, n_tiles))
        return self.n_pages

    def check(self) -> list[bool]:
        if self.want is None:
            self.want = page_oracle(self.docs_dir)
        want = (self.want["joined_rows"], self.want["tiles"])
        return [got == want for got in self.outputs]


def page_oracle(docs_dir: str) -> dict:
    """DuckDB over the same documents: joined (page, zone) pairs, distinct
    tiles and distinct pixels of zoom levels 5..8, and the page count."""
    import duckdb

    from gdal_spark import oracle as OR
    from gdal_spark.operators.pages import pages_cte_sql
    from gdal_spark.operators.zones import zones_oracle_match_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{docs_dir}/documents.parquet/*.parquet')"
    )
    con.execute(f"CREATE TEMP TABLE pages AS {pages_cte_sql()}")
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    zooms = range(5, 9)
    return {
        "pages": q("SELECT count(*) FROM pages"),
        "joined_rows": q(f"SELECT count(*) FROM ({zones_oracle_match_sql('pages')})"),
        "tiles": sum(
            q(f"SELECT count(*) FROM (SELECT DISTINCT tx, ty FROM ({OR.sql_pixel_rows(z, 'pages')}))")
            for z in zooms
        ),
        "pixels": sum(
            q(f"SELECT count(*) FROM (SELECT DISTINCT tx, ty, px, py FROM ({OR.sql_pixel_rows(z, 'pages')}))")
            for z in zooms
        ),
    }


class Ckpt:
    """Writes: the same kind of pages through the checkpointed chain."""

    name = "ckpt"
    n_pages = 25_000
    n_parts = 1
    warmup = 1

    def __init__(self, spark, workdir: str, seed: int):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.outputs: list[dict[str, int]] = []
        self.want: dict | None = None  # DuckDB counts, computed on first check
        self._n = 0

    def prepare(self) -> None:
        self.docs_dir = os.path.join(self.workdir, "docs")
        docs = datagen.write_documents(self.docs_dir, self.seed, self.n_pages)
        self.input_bytes = sum(os.path.getsize(os.path.join(docs, f)) for f in os.listdir(docs))

    def round(self) -> list[str]:
        return ["ckpt"]

    warm_round = round

    def op(self, label: str, tr) -> int:
        from gdal_spark import pipeline
        from gdal_spark.plans.checkpoint import CheckpointStore

        self._n += 1
        store = os.path.join(self.workdir, f"store-{self._n}")
        argv = [
            "pipeline", "--sf-dir", self.docs_dir, "--store", store,
            "--n-parts", str(self.n_parts),
        ]
        out = io.StringIO()
        with tr.op(label) as rec, _stage_spans(tr, rec, CheckpointStore):
            with tr.phase(rec, "exec", "exec.chain"), contextlib.redirect_stdout(out), _argv(argv):
                pipeline.main()
        reports = {}
        for line in out.getvalue().splitlines():
            if line.startswith("{"):
                r = json.loads(line)
                reports[r["stage"]] = r["rows"]
        self.outputs.append(reports)
        if rec is not None:
            written = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(store) for f in files
            )
            rec.add("ckpt.bytes_written_mb", written / MB)
            rec.add("ckpt.bytes_per_input_byte", written / self.input_bytes)
        shutil.rmtree(store)
        return self.n_pages

    def check(self) -> list[bool]:
        if self.want is None:
            self.want = page_oracle(self.docs_dir)
        exp = self.want
        want = {"index": exp["pages"], "pip": exp["joined_rows"], "pyramid": exp["pixels"]}
        return [all(got.get(k) == v for k, v in want.items()) for got in self.outputs]


@contextlib.contextmanager
def _argv(argv: list[str]):
    saved = sys.argv
    sys.argv = argv
    try:
        yield
    finally:
        sys.argv = saved


@contextlib.contextmanager
def _stage_spans(tr, rec, store_cls):
    """Time each checkpointed stage from the outside: a `ckpt.<stage>`
    span covers its run_stage call and the lineage report that follows."""
    if not tr.enabled:
        yield
        return
    run_stage, report = store_cls.run_stage, store_cls.lineage_report
    state: dict = {}

    def timed_run_stage(self, spark, stage, *a, **kw):
        state["stage"], state["t"] = stage, time.perf_counter()
        return run_stage(self, spark, stage, *a, **kw)

    def timed_report(self, spark, stage):
        try:
            return report(self, spark, stage)
        finally:
            start = state.pop("t")
            end = time.perf_counter()
            tr._span(f"ckpt.{stage}", start, end)
            rec.add(f"ckpt.{stage}_s", end - start)

    store_cls.run_stage, store_cls.lineage_report = timed_run_stage, timed_report
    try:
        yield
    finally:
        store_cls.run_stage, store_cls.lineage_report = run_stage, report


class Registry:
    """Ad-hoc queries: fixed per-query overhead (plan build with eager
    probe jobs, codegen, job scheduling) dominates."""

    name = "registry"
    warmup = 1  # passes over the panel, in sorted order

    def __init__(self, spark, workdir: str, seed: int):
        import __spark_entry__ as E

        self.spark, self.workdir = spark, workdir
        self.queries = E.queries()
        self.panel = registry_panel(self.queries)
        self.order = random.Random(seed).sample(self.panel, len(self.panel))
        self.want = registry_pins.load()
        self.outputs: list[tuple[str, object]] = []  # (query, DataFrame) per op

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.workdir, "tables")
        datagen.write_tables(self.sf_dir, registry_pins.TABLE_SEED)

    def warm_round(self) -> list[str]:
        return self.panel

    def round(self) -> list[str]:
        return self.order

    def op(self, name: str, tr) -> int:
        with tr.op(name) as rec:
            with tr.phase(rec, "build", "build.query"):
                df = self.queries[name](self.spark, self.sf_dir)
            with tr.phase(rec, "exec", "exec.noop_write"):
                _noop(df)
        self.outputs.append((name, df))
        return 1

    def check(self) -> list[bool]:
        """Collect each op's DataFrame once more, after the timed loop, and
        compare its row count and digest with the pinned values."""
        ok = []
        for name, df in self.outputs:
            try:
                rows, dig = registry_pins.digest(df.toPandas())
            except Exception:  # a query that cannot be collected is a failed op
                traceback.print_exc()
                ok.append(False)
                continue
            pin = self.want[name]
            ok.append(rows == pin["rows"] and dig == pin["digest"])
        return ok


WORKLOADS = {w.name: w for w in (Pipeline, Ckpt, Registry)}


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0
