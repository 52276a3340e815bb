#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload docs_audit --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. The run builds its inputs from ``--seed``
under ``perfbench/.work``, starts a ``local[4]`` session from
``valico_spark.session.get_spark`` (no extra conf), makes the
workload's warm-up calls, then makes sequential public calls until
``--seconds`` have passed and the workload's minimum number of calls
was made, and checks every call's output. The timed calls are made in
three segments; between two segments the session waits while
``start_probe.py`` starts another session in a new process and JVM,
so a window spans more of the host's speed changes and ``setup_s`` has
three session starts to take a median of.
Human-readable ``metric`` lines go to stdout, and the last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, holding the ``end_to_end`` metrics of ``BENCHMARK.json``
with ``--trace 0`` and its ``per_layer`` metrics with ``--trace 1``.
``setup_s`` is the median session start plus the warm-up calls.

A traced run makes every unit call twice, untraced and then traced;
the per-layer values are per traced call, and ``trace.overhead_frac``
is the median over call pairs of traced over untraced latency, minus
one. It starts no sessions between its segments, since it does not
report ``setup_s``. Its spans go to ``perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
SESSION_STARTS = 3


def _env(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and let the
    Python workers import the package from the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    sys.path[:0] = [ROOT]


def _median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until both have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    if not os.path.isdir(os.path.join(ROOT, "valico_spark")):
        print("valico_spark is not in this checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(HERE, ".work",
                           f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _env(run_dir)
    try:
        return _run(args, run_dir, declared)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, declared: list[dict]) -> int:
    from ledger import Ledger, PeakRss
    from valico_spark.session import get_spark
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    props = wl.prepare(run_dir, args.seed)
    prepare_s = time.perf_counter() - t
    spark = None
    try:
        with PeakRss() as rss:
            t = time.perf_counter()
            spark = get_spark("perfbench", master=MASTER)
            starts = [time.perf_counter() - t]
            t = time.perf_counter()
            warm = wl.warmup(spark)
            warmup_s = time.perf_counter() - t
            ledger = Ledger(spark) if args.trace else None
            timed, traced = [], []
            for i in range(SESSION_STARTS):
                if i and not args.trace:  # setup_s is not traced
                    starts.append(_start_elsewhere(rss))
                share = (wl.min_calls * (i + 1) // SESSION_STARTS
                         - wl.min_calls * i // SESSION_STARTS)
                u, tr = _segment(spark, wl, args.seconds / SESSION_STARTS,
                                 share, len(timed), ledger)
                timed += u
                traced += tr
            t = time.perf_counter()
            problems = wl.finish(spark)
            finish_s = time.perf_counter() - t
    finally:
        if spark is not None:
            _stop(spark)

    every = warm + timed + traced
    failed = sum(bool(c.problems) for c in every)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        failed = min(len(every), failed + 1)
    lat = [c.latency for c in timed]
    values = {
        "setup_s": (_median(starts) + warmup_s, "s"),
        "docs_per_s": (_median([c.docs / c.latency for c in timed]),
                       "docs/s"),
        "call_p50_ms": (_median(lat) * 1e3, "ms"),
        "proc.peak_rss_mb": (rss.mb(), "MB"),
        "failed_frac": (failed / len(every), "frac"),
        "calls": (len(timed), "count"),
        "warm_calls": (len(warm), "count"),
        "prepare_s": (prepare_s, "s"),
        "session_start_s": (_median(starts), "s"),
        "warmup_s": (warmup_s, "s"),
        "finish_s": (finish_s, "s"),
    }
    for part in sorted(timed[0].parts):
        values[part] = (_median([c.parts[part] for c in timed
                                 if part in c.parts]), "s")
    if len(lat) >= 20:
        q = statistics.quantiles(lat, n=10)
        values["call_p90_ms"] = (q[8] * 1e3, "ms")
    values.update({f"input.{k}": (v, "") for k, v in props.items()})
    if ledger is not None:
        values.update(_layers(ledger, wl, traced, timed))
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        ledger.dump(os.path.join(HERE, "traces",
                                 f"{args.workload}-{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed,
                     "session_starts_s": starts,
                     "metrics": {k: v for k, (v, _u) in values.items()}})

    for name, (v, unit) in values.items():
        print(f"metric {args.workload} {name} {v} {unit}".rstrip())
    metrics = {}
    for m in declared:
        if m["name"] not in values:
            print(f"metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": values[m["name"]][0],
                              "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": len(every),
                      "failed": failed, "metrics": metrics}))
    return 0


def _start_elsewhere(rss) -> float:
    """One more session start, in a new process and so in a new JVM,
    while the run's own session waits; the seconds it took."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "start_probe.py")],
        stdout=subprocess.PIPE, text=True)
    rss.skip.add(proc.pid)
    try:
        out, _ = proc.communicate(timeout=120)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    if proc.returncode:
        raise RuntimeError(f"start_probe.py exited with {proc.returncode}")
    return float(out.split()[-1])


def _segment(spark, wl, seconds: float, min_calls: int, k0: int, ledger):
    """Closed-loop unit calls from call ``k0`` on: the next call starts
    when the previous one ends, until ``seconds`` have passed (the call
    in flight finishes) and at least ``min_calls`` calls were made.

    Traced, each call is made twice, untraced then traced, so that call
    pairs see the same inputs and the same state of the JIT. Returns the
    untraced and the traced calls."""
    from workloads import call_once

    untraced, traced = [], []
    end = time.perf_counter() + seconds
    k = k0
    while len(untraced) < min_calls or time.perf_counter() < end:
        untraced.append(call_once(spark, wl, k))
        if ledger is not None:
            with ledger.hooks():
                traced.append(call_once(spark, wl, k, ledger))
        k += 1
    return untraced, traced


def _layers(ledger, wl, calls: list, untraced: list) -> dict:
    """Per-layer values of the traced window, per workload call."""
    n = len(calls)

    def unit(k: str) -> str:
        if "bytes" in k:
            return "B"
        return next((u for end, u in ((".s", "s"), ("_s", "s"),
                                       ("_frac", "frac")) if k.endswith(end)),
                    "count")

    out = {k: (v, unit(k)) for k, v in ledger.per_call(n).items()}
    out.update(wl.layers(ledger, n))
    out["trace.overhead_frac"] = (_median(
        [t.latency / u.latency for t, u in zip(calls, untraced)]) - 1.0,
        "frac")
    return out


if __name__ == "__main__":
    sys.exit(main())
