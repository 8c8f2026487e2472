"""Helpers shared by the workloads: session lifecycle, sinks and order
statistics."""

from __future__ import annotations

import os
import statistics
import subprocess
import time

from . import host


def build(work: str, tracer):
    """A session on ``local[nproc]`` with every scratch path inside
    ``work``. ``cores`` is passed explicitly: the engine's own default is
    32 whatever the host has."""
    from wavelet_decomposition_spark.plans.session import build_session

    with tracer.span("plans.session.build_session"):
        spark = build_session(
            app_name="perfbench",
            cores=host.nproc(),
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark):
    """The Popen handle of the gateway JVM this process launched."""
    return getattr(spark.sparkContext._gateway, "proc", None)


def stop_session(spark) -> None:
    """Stop the SparkContext; the JVM stays up for the next session."""
    for q in spark.streams.active:
        q.stop()
    spark.stop()


def shutdown(spark) -> list[int]:
    """Stop the session, then the gateway JVM and everything under it, and
    wait for each process to end. Returns pids that had to be killed."""
    from py4j.protocol import Py4JError

    proc = jvm_process(spark)
    tree = host.descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    stop_session(spark)
    try:
        gateway.shutdown()
    except Py4JError:
        pass  # the JVM side is already gone
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    return host.wait_for_exit(tree)


def noop(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return float(ordered[int(rank) - 1])


def repeat_for(seconds: float, fn, min_reps: int = 3) -> list[float]:
    """Call ``fn()`` back to back (a closed loop with one client) while
    the next call is expected to end within ``seconds``, and at least
    ``min_reps`` times. Returns each call's wall in seconds."""
    walls = []
    t_end = time.perf_counter() + seconds
    while len(walls) < min_reps or time.perf_counter() + median(walls) <= t_end:
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return walls


def record(state: dict, named: dict | None = None,
           layers: dict | None = None) -> None:
    """Keep workload figures in ``state``: ``named`` ones print beside the
    end-to-end metrics; ``layers`` ones are per-layer metric values."""
    state.setdefault("named", {}).update(named or {})
    state.setdefault("layer_extras", {}).update(layers or {})


def codec_figures(state: dict, blocks, cols) -> None:
    """Stored bytes per point of the encoded blocks, kept in ``state`` for
    the printed figures and the traced run's layer metrics."""
    from pyspark.sql import functions as F
    from wavelet_decomposition_spark.operators import compress

    report = compress.compression_report(blocks, cols).agg(
        F.sum("compressed_bytes").alias("b"), F.sum("n_points").alias("n")
    ).collect()[0]
    per_point = report["b"] / report["n"]
    record(state, named={"stored_bytes_per_point": per_point}, layers={
        "operators.compress.encode_blocks.out_bytes": report["b"],
        "operators.compress.stored_bytes_per_point": per_point,
    })


def roundtrip_check(tier, blocks, cols) -> tuple[str, bool, str]:
    """``decode_blocks(blocks)`` must give back ``tier`` bit for bit: one
    full outer join on the point key, with null-safe float comparison."""
    from pyspark.sql import functions as F
    from wavelet_decomposition_spark.operators import compress

    decoded = compress.decode_blocks(blocks, cols)
    original = tier.select(
        "conv_id", "bucket_ts", *(F.col(c).cast("double").alias(c) for c in cols)
    )
    joined = original.alias("o").join(
        decoded.alias("d"), ["conv_id", "bucket_ts"], "full_outer"
    )
    same = F.lit(True)
    for c in cols:
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"d.{c}"))
    row = joined.agg(
        F.count(F.lit(1)).alias("points"),
        F.sum((~same).cast("int")).alias("bad"),
    ).collect()[0]
    return (
        "encode_blocks -> decode_blocks bit-exact",
        row["points"] > 0 and row["bad"] == 0,
        f"{row['bad']} of {row['points']} points differ or are missing",
    )
