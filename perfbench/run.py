"""Benchmark of the wavelet engine: one workload per invocation.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The run builds a ``local[nproc]`` session
and the workload's seeded inputs three times (``setup_s`` is the median
round plus the warm-up), keeps the last session, runs two untimed warm-up
passes, measures the workload for ``--seconds``, checks the program's
outputs, and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of ``perfbench/layers.py``, read from spans around the
engine calls and Spark's status store, and writes every span to
``.perfbench/traces/``. All scratch data lives under ``.perfbench/`` in the
checkout and is removed at exit. Without the engine's sources next to
``perfbench/`` the run exits with status 2 before printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_ROUNDS = 3
# the first pass in a JVM pays JIT compilation and Python worker start and
# the second still reads slow (flagship: 8.3 s, 3.9 s, then 3.1-3.3 s)
WARMUP_PASSES = 2
WORKLOADS = ("flagship", "paper_lsqr")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_dirs(workload: str, seed: int, trace: int) -> str:
    """A private scratch directory in the checkout; the JVM, its Python
    workers and the engine's temp files all write below it."""
    work = os.path.join(
        ROOT, ".perfbench", f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    )
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # one JVM heap bound for every workload, well under the host's memory
    os.environ.setdefault("WDS_DRIVER_MEM", "3g")
    return work


def main(argv=None) -> int:
    args = _parse(argv)
    engine = os.path.join(ROOT, "wavelet_decomposition_spark", "__init__.py")
    if not os.path.isfile(engine):
        print(f"perfbench: engine sources not found at {engine}", file=sys.stderr)
        return 2
    work = _prepare_dirs(args.workload, args.seed, args.trace)
    sys.path.insert(0, ROOT)
    import importlib

    from perfbench import common, host, layers
    from perfbench.trace import Tracer

    wl = importlib.import_module(f"perfbench.{args.workload}")
    ctx = host.run_context(ROOT, args.seed)
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    killed: list[int] = []
    try:
        # set-up = session + seeded inputs, three times (the median is
        # reported), then the warm-up passes once, on the kept session
        setup_walls = []
        for r in range(SETUP_ROUNDS):
            if spark is not None:
                tracer.harvest(spark)
                common.stop_session(spark)
            round_dir = os.path.join(work, f"round{r}")
            os.makedirs(round_dir)
            t0 = time.perf_counter()
            with tracer.span("setup", round=r):
                spark = common.build(work, tracer)
                state = wl.setup(spark, args.seed, round_dir, tracer)
            setup_walls.append(time.perf_counter() - t0)
            if r > 0:
                shutil.rmtree(os.path.join(work, f"round{r - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            with tracer.span("warmup"):
                wl.warmup(spark, state, tracer)
        warmup_s = time.perf_counter() - t0

        measured = wl.measure(spark, state, args.seconds, tracer)
        with tracer.span("check"):
            checks = wl.check(spark, state, tracer)
        if args.trace:
            with tracer.span("probe"):
                checks += wl.probe(spark, state, tracer)
        peak_rss_mb = host.tree_peak_rss_mb()
        tracer.harvest(spark)
        if args.trace:
            checks.append((
                "spans: SQL time inside each span and within its wall",
                not tracer.problems, "; ".join(tracer.problems[:5]) or "none",
            ))
    finally:
        if spark is not None:
            killed = common.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    host.close_context(ctx)

    attempted = measured["attempted"] + len(checks)
    failed = measured["failed"] + sum(1 for _, ok, _ in checks if not ok)
    for name, ok, detail in checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    if killed:
        print(f"note: killed {len(killed)} process(es) that outlived shutdown")
    print("context " + json.dumps(ctx))

    e2e = {
        "setup_s": common.median(setup_walls) + warmup_s,
        "items_per_s": measured["items_per_s"],
    }
    common.record(state, named={
        "pass_p50_ms": common.median(measured["samples_ms"]),
        "peak_rss_mb": peak_rss_mb,
    }, layers={"host.peak_rss_mb": peak_rss_mb})
    print(
        f"setup rounds s: {[round(w, 3) for w in setup_walls]}, "
        f"warm-up {warmup_s:.3f} s; "
        f"items are {wl.ITEM}"
    )
    print(f"{len(measured['samples_ms'])} timed samples, ms: "
          f"{[round(v, 1) for v in measured['samples_ms']]}")
    for name, value in {**e2e, **state.get("named", {})}.items():
        print(f"metric {name} = {value:.6g} {layers.unit_of(name)}")
    print(f"fail_ratio = {failed}/{attempted} = {failed / attempted:.6g}")

    if args.trace:
        values = layers.values(tracer, state.get("layer_extras", {}))
        values["tracing.harvest_s"] = tracer.harvest_s
        values["tracing.items_per_s"] = measured["items_per_s"]
        values["tracing.span_problems"] = float(len(tracer.problems))
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(
            trace_dir, f"{args.workload}-s{args.seed}-{os.getpid()}.json"
        )
        tracer.dump(trace_path)
        print(f"spans: {len(tracer.spans)} written to {trace_path}")
        for spec in layers.LAYERS:
            print(f"layer {spec.name} = {values[spec.name]:.6g} {spec.unit} "
                  f"(moves {spec.moves} on {spec.on}; flat on {spec.flat_on})")
        metrics = {
            spec.name: {"value": values[spec.name], "unit": spec.unit}
            for spec in layers.LAYERS + layers.TRACING
        }
    else:
        metrics = {
            name: {"value": value, "unit": layers.unit_of(name)}
            for name, value in e2e.items()
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
