"""Self-test of the benchmark's own checks. Run from the repository root:

    python3 perfbench/selftest.py

1. The metric names and units the benchmark prints equal BENCHMARK.json's.
2. A tampered expected value shows up as a failed op: on small inputs, one
   real op per workload is checked against its true expected values (must
   pass) and against expected values with one count or digest changed
   (must fail).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def load_bench() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def check_names(bench: dict) -> list[str]:
    errors = []
    for section, printed in (("end_to_end", run.END_TO_END), ("per_layer", run.per_layer_units())):
        declared = {m["name"]: m["unit"] for m in bench[section]}
        if declared != printed:
            errors.append(f"{section}: BENCHMARK.json {declared} != printed {printed}")
    return errors


def check_tamper(spark, workdir: str) -> list[str]:
    import registry_pins
    import workloads as W

    errors = []
    null = W.NullTracer()

    def expect(label: str, got: list[bool], want: bool) -> None:
        if not got or any(g != want for g in got):
            errors.append(f"{label}: check gave {got}, expected all {want}")

    pins = registry_pins.load()
    name = "dedup_exact"
    cases = {
        "registry/true": (pins, True),
        "registry/rows": ({name: {**pins[name], "rows": pins[name]["rows"] + 1}}, False),
        "registry/digest": ({name: {**pins[name], "digest": "0" * 16}}, False),
    }
    reg = W.Registry(spark, os.path.join(workdir, "registry"), seed=1)
    reg.prepare()
    reg.op(name, null)
    for label, (p, want) in cases.items():
        reg.want = p
        expect(label, reg.check(), want)

    for cls, n_pages, keys in ((W.Pipeline, 20_000, ("joined_rows", "tiles")),
                               (W.Ckpt, 5_000, ("pages", "joined_rows", "pixels"))):
        wl = cls(spark, os.path.join(workdir, cls.name), seed=1)
        wl.n_pages = n_pages
        wl.prepare()
        wl.op(cls.name, null)
        expect(f"{cls.name}/true", wl.check(), True)
        exp = wl.want
        for k in keys:
            wl.want = {**exp, k: exp[k] + 1}
            expect(f"{cls.name}/{k}", wl.check(), False)
    return errors


def main() -> int:
    bench = load_bench()
    errors = check_names(bench)
    # the engine settings of BENCHMARK.json's `env` prefix
    os.environ.update(a.split("=", 1) for a in bench["command"] if "=" in a)
    sys.path.insert(0, run.ROOT)
    import probes
    from gdal_spark.session import get_spark

    workdir = os.path.join(run.RUN_DIR, f"selftest-{os.getpid()}")
    run._setup_env(workdir)
    proc = probes.ProcTree().start()
    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        errors += check_tamper(spark, workdir)
    finally:
        run._stop_spark(spark, proc)
        proc.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
