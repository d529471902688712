"""Benchmark entry point.

    python3 perfbench/run.py --workload raster_io --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one JSON object as the last line
of standard output: {"correct", "attempted", "failed", "metrics"}; the
metrics are the end-to-end set with ``--trace 0`` and the per-layer set
with ``--trace 1`` (names and units in BENCHMARK.json, meaning in
perfbench/README.md). Exits non-zero without a result when the program
is missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
HARD_LIMIT_S = 170


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _units(spec: dict, key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec[key]}


def _load(path: str, default):
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


def _save(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {HARD_LIMIT_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "ccog_spark", "session.py")):
        print(f"ccog_spark not found under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # Every scratch file of the program and of Spark stays in the checkout.
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR on next use
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(HARD_LIMIT_S)

    from perfbench import harness
    from perfbench.eventlog import Attribution, load_events

    traced = bool(args.trace)
    if args.workload == "raster_io":
        from perfbench.raster_io import Workload
    else:
        from perfbench.llm_pipeline import Workload
    wl = Workload(args.seed, WORK)
    t_inputs = time.perf_counter() - t_start
    spark = harness.session(WORK, traced)
    try:
        wl.spark, wl.tr = spark, harness.Tracer(spark, traced)
        t_session = time.perf_counter() - t_start
        wl.warm_up()
        wl.tr.spans.clear()  # per-layer metrics cover the timed passes only
        setup_s = time.perf_counter() - t_start
        print(f"NOTE setup: inputs {t_inputs:.1f} s, session "
              f"{t_session - t_inputs:.1f} s, warm-up {setup_s - t_session:.1f} s",
              file=sys.stderr)

        t0 = time.perf_counter()
        while not wl.passes or time.perf_counter() - t0 < args.seconds:
            wl.run_pass()

        for op, t in wl.op_times:
            print(f"NOTE {op} done at {t:.1f} s", file=sys.stderr)
        digests_path = os.path.join(OUT, "digests.json")
        digests = _load(digests_path, {})
        bad = wl.check(digests)
        _save(digests_path, digests)
        rss = harness.peak_rss_mb(spark)
    finally:
        harness.shutdown(spark)

    attempted = wl.attempted
    failures = wl.errors + bad  # "<op>: <reason>"; an op may fail twice
    failed = len({msg.split(":", 1)[0] for msg in failures})
    for msg in failures:
        print("FAILED", msg, file=sys.stderr)
    e2e = dict(wl.end_to_end(), setup_s=setup_s, peak_rss_mb=rss,
               ok_rate=1.0 - failed / attempted)

    hist_path = os.path.join(OUT, f"untraced_{args.workload}.json")
    history = _load(hist_path, [])
    notes: list[str] = []
    if traced:
        attr = Attribution(load_events(os.path.join(WORK, "eventlog")))
        metrics = wl.per_layer(attr, notes)
        all_jobs = attr.total()
        metrics["spark.task_retries"] = all_jobs["task_retries"]
        metrics["spark.gc_s"] = all_jobs["gc_s"]
        metrics["cache_ledger.cached_bytes"] = attr.cached_bytes_peak
        metrics.update({k: v for k, v in e2e.items() if k.startswith("wall.")})
        base = [h["pass_cpu_s"] for h in history]
        if base:
            metrics["tracing_overhead_frac"] = e2e["pass_cpu_s"] / harness.median(base) - 1
        else:
            metrics["tracing_overhead_frac"] = 0.0
            notes.append("tracing overhead: no untraced run of this workload recorded yet")
        units = _units(spec, "per_layer")
        for name in units:
            metrics.setdefault(name, 0)  # a layer this workload does not use
        _save(os.path.join(OUT, f"trace_{args.workload}_{args.seed}.json"),
              {"spans": wl.tr.spans, "notes": notes, "end_to_end": e2e,
               "per_layer": metrics,
               "errors": failures})
    else:
        history.append({"seed": args.seed, "pass_cpu_s": e2e["pass_cpu_s"]})
        _save(hist_path, history[-50:])
        units = _units(spec, "end_to_end")
        metrics = e2e
        notes.append("wall " + ", ".join(
            f"{k[5:]} {v:.3f}" for k, v in e2e.items() if k.startswith("wall.")))
    for note in notes:
        print("NOTE", note, file=sys.stderr)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
