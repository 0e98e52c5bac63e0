"""Benchmark entry point: one workload, one fresh Spark process.

    python3 perfbench/run.py --workload pipeline|ckpt|registry \\
        --seed N --seconds S --trace 0|1

Run from the repository root, with the `env` prefix of BENCHMARK.json's
command (it sets the engine's CPUs, heap and scratch space). Set-up
(session start, input generation, a fixed number of untimed warm-up ops)
is timed as `setup_s`; then ops run in a closed loop until their summed
wall time reaches --seconds (the registry finishes its current pass over
the panel). Every timed op's output is checked after the loop, outside
the timed wall.

--trace 0 prints the end-to-end metrics. --trace 1 alternates untraced and
traced rounds, prints the per-layer metrics (per-op means over the traced
ops) and writes the spans to perfbench/.run/traces/. The last stdout line
is the result JSON; diagnostics (per-op times, the host window burn) go to
stderr and perfbench/.run/last-<workload>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_DIR = os.path.join(HERE, ".run")

# Engine settings, set by the `env` prefix of BENCHMARK.json's command:
# 4 CPUs, a 3g pre-touched driver heap (the JVM hosts every executor in
# local mode) and Spark's scratch space inside the checkout.
ENV_KEYS = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_PRETOUCH", "SPARK_LOCAL_DIRS")

END_TO_END = {
    "setup_s": "s", "work_per_s": "1/s", "op_p50_s": "s",
    "peak_rss_mb": "MB", "ok_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    from workloads import Q_TRACED

    units = {
        "session.start_s": "s",
        "build.s": "s", "build.jobs": "count",
        "exec.s": "s", "exec.jobs": "count", "exec.tasks": "count",
        "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
        "exec.broadcast_collect_s": "s",
        "jvm.gc_s": "s", "jvm.cpu_s": "s",
        "pip.refine_in_rows": "count", "pip.joined_rows": "count",
        "pip.hit_ratio": "ratio",
        "stage.extract_join_s": "s", "stage.pyramid_s": "s",
        "pyworker.cpu_s": "s", "udf.self_s": "s",
        "ckpt.index_s": "s", "ckpt.pip_s": "s", "ckpt.pixels_s": "s",
        "ckpt.pyramid_s": "s", "ckpt.bytes_written_mb": "MB",
        "ckpt.bytes_per_input_byte": "ratio",
        "driver.cpu_s": "s",
        "trace.op_s": "s", "trace.overhead_pct": "%",
    }
    for q in Q_TRACED:
        units.update({f"q.{q}.build_s": "s", f"q.{q}.exec_s": "s", f"q.{q}.build_jobs": "count"})
    return units


def _setup_env(workdir: str) -> None:
    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(os.environ["SPARK_LOCAL_DIRS"])
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    # keep every scratch file (the shipped package zip, JVM temp files)
    # inside the checkout; no hsperfdata under /tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop_spark(spark, proc) -> None:
    """Stop the session and the gateway JVM, then wait until every process
    this run started (JVM, PySpark daemon, workers) has exited."""
    gateway_proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if gateway_proc is not None:
        gateway_proc.stdin.close()
        try:
            gateway_proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - escalate below
            gateway_proc.kill()
            gateway_proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = proc.live_descendants()
        if not alive:
            return
        if time.time() > deadline - 10:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)
    raise RuntimeError(f"processes still running: {proc.live_descendants()}")


def run(args) -> dict:
    import probes
    import workloads as W

    workdir = os.path.join(RUN_DIR, f"{args.workload}-{os.getpid()}")
    _setup_env(workdir)
    proc = probes.ProcTree().start()
    t_setup = time.perf_counter()
    from gdal_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    try:
        wl = W.WORKLOADS[args.workload](spark, workdir, args.seed)
        null = W.NullTracer()
        wl.prepare()
        warm_walls = []
        for _ in range(wl.warmup):
            for spec in wl.warm_round():
                t0 = time.perf_counter()
                wl.op(spec, null)
                warm_walls.append(time.perf_counter() - t0)
        wl.outputs.clear()  # only timed ops are checked
        settle_s = probes.settle(spark)
        setup_s = time.perf_counter() - t_setup
        proc.reset_peak()  # peak_rss_mb covers the timed loop only

        tracer = W.Tracer(spark, proc) if args.trace else null
        walls, traced, units, errors = [], [], 0, 0

        def attempt(spec, tr) -> None:
            nonlocal units, errors
            t0 = time.perf_counter()
            try:
                units += wl.op(spec, tr)
            except Exception:  # a failed op is counted and the loop goes on
                traceback.print_exc()
                errors += 1
            walls.append(time.perf_counter() - t0)
            traced.append(tr is not null)

        # traced runs alternate untraced and traced rounds; the seed's
        # parity picks which comes first, so a leftover warm-up slope does
        # not always land on the same side of trace.overhead_pct
        rnd = 0
        while sum(walls) < args.seconds or (args.trace and rnd < 2):
            tr = tracer if args.trace and (rnd + args.seed) % 2 == 1 else null
            for spec in wl.round():
                attempt(spec, tr)
            rnd += 1
        peak_bytes = proc.peak_bytes
        n_timed, timed_units = len(walls), units
        if args.trace and args.workload == "registry":
            for name in W.Q_EXTRA:  # q.* metrics of queries outside the panel
                attempt(name, tracer)
        walls, traced, units = walls[:n_timed], traced[:n_timed], timed_units
        ok = wl.check() + [False] * errors
        burn = probes.window_burn()
        trace_out = {}
        if args.trace:
            trace_out = _layer_metrics(tracer, walls, traced, session_s)
            tracer.write(
                os.path.join(RUN_DIR, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "metrics": trace_out},
            )
    finally:
        _stop_spark(spark, proc)
        proc.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    metrics = {
        "setup_s": setup_s,
        "work_per_s": units / sum(walls),
        "op_p50_s": statistics.median(walls),
        "peak_rss_mb": peak_bytes / (1 << 20),
        "ok_ratio": sum(ok) / len(ok),
    }
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "window_burn_s": burn, "session_s": session_s,
        "warmup_walls": warm_walls, "settle_s": settle_s, "op_walls": walls,
        "env": {k: os.environ[k] for k in ENV_KEYS},
    }
    with open(os.path.join(RUN_DIR, f"last-{args.workload}.json"), "w") as fh:
        json.dump({**diag, "metrics": metrics, "layers": trace_out}, fh)
    print(json.dumps({k: diag[k] for k in ("workload", "seed", "window_burn_s")}), file=sys.stderr)
    if args.trace:
        units_map = per_layer_units()
        out = {k: {"value": trace_out[k], "unit": u} for k, u in units_map.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": all(ok), "attempted": len(ok), "failed": len(ok) - sum(ok),
        "metrics": out,
    }


def _layer_metrics(tracer, walls, traced, session_s) -> dict:
    from workloads import Q_TRACED, mean

    units = per_layer_units()
    ops = tracer.ops
    out = {k: mean(op.v.get(k, 0.0) for op in ops) for k in units}
    out["session.start_s"] = session_s
    refine = out["pip.refine_in_rows"]
    out["pip.hit_ratio"] = out["pip.joined_rows"] / refine if refine else 0.0
    out["trace.op_s"] = mean(op.v["wall_s"] for op in ops)
    t_on = [w for w, t in zip(walls, traced) if t]
    t_off = [w for w, t in zip(walls, traced) if not t]
    out["trace.overhead_pct"] = 100.0 * (mean(t_on) / mean(t_off) - 1.0)
    for q in Q_TRACED:
        mine = [op for op in ops if op.label == q]
        out[f"q.{q}.build_s"] = mean(op.v.get("build.s", 0.0) for op in mine)
        out[f"q.{q}.exec_s"] = mean(op.v.get("exec.s", 0.0) for op in mine)
        out[f"q.{q}.build_jobs"] = mean(op.v.get("build.jobs", 0.0) for op in mine)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["pipeline", "ckpt", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("gdal_spark", "__spark_entry__.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    unset = [k for k in ENV_KEYS if k not in os.environ]
    if unset:
        print(f"perfbench: {unset} not set; run BENCHMARK.json's command", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    sys.stderr.flush()
    sys.stdout.write("\n" + json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
