"""``flagship``: the north-star path. Seeded synthetic transcripts go
through activity -> 1m (cached) -> 1h -> 1d rollups, Haar and db4
``dwt_window_bands`` and ``energy_windows`` over the sparse 1m tier, and
``encode_blocks`` -- the sequence ``bench.flagship_pipeline`` runs, with a
span around each engine call. One pass is one request; a single client
runs passes back to back. ``items_per_s`` counts turns."""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from .common import codec_figures, noop, record, repeat_for, roundtrip_check

N_CONVS = 3000          # ~100k turns over 7 days
MAX_TURNS = 200         # clip the heavy tail: run-to-run work stays comparable
LEVELS = 5
WINDOW_LEN = 128
WAVELETS = ("haar", "db4")
PARSEVAL_RTOL = 1e-9
ITEM = "turns"


def setup(spark, seed: int, work: str, tracer) -> dict:
    from wavelet_decomposition_spark.io.transcripts import transcripts_df

    path = os.path.join(work, "transcripts")
    with tracer.span("io.transcripts.transcripts_df.write"):
        transcripts_df(
            spark, N_CONVS, seed=seed, max_turns=MAX_TURNS,
            partitions=spark.sparkContext.defaultParallelism,
        ).write.mode("overwrite").parquet(path)
    return {"path": path, "seed": seed, "work": work}


def warmup(spark, state, tracer) -> None:
    state["turns"] = _pass(spark, state, tracer)


def _pass(spark, state, tracer) -> int:
    from wavelet_decomposition_spark.operators import (
        activity, compress, rollup, wavelet_ops,
    )

    tx = spark.read.parquet(state["path"])
    with tracer.span("operators.rollup.rollup_once.1m"):
        # activity_raw fuses into the same SQL execution as the 1m rollup
        tier_1m = rollup.rollup_once(activity.activity_raw(tx), "1m").cache()
        n_turns = tier_1m.agg(F.sum("turns")).collect()[0][0]
    with tracer.span("operators.rollup.rollup_once.1h"):
        tier_1h = rollup.rollup_once(tier_1m, "1h")
        noop(tier_1h)
    with tracer.span("operators.rollup.rollup_once.1d"):
        noop(rollup.rollup_once(tier_1h, "1d"))
    for wavelet in WAVELETS:
        with tracer.span(f"operators.wavelet_ops.dwt_window_bands.{wavelet}"):
            noop(wavelet_ops.dwt_window_bands(
                tier_1m, "turns", wavelet=wavelet, levels=LEVELS,
                window_len=WINDOW_LEN, sparse_fill_step="1 minute",
            ))
        with tracer.span(f"operators.wavelet_ops.energy_windows.{wavelet}"):
            noop(wavelet_ops.energy_windows(
                tier_1m, "turns", wavelet=wavelet, levels=LEVELS,
                window_len=WINDOW_LEN, sparse_fill_step="1 minute",
            ))
    with tracer.span("operators.compress.encode_blocks"):
        noop(compress.encode_blocks(tier_1m, activity.ACTIVITY_COUNT_COLS))
    tier_1m.unpersist()
    return int(n_turns)


def measure(spark, state, seconds: float, tracer) -> dict:
    turns = []

    def one_pass():
        with tracer.span("flagship.pass", phase="measure"):
            turns.append(_pass(spark, state, tracer))

    walls = repeat_for(seconds, one_pass)
    failed = sum(1 for t in turns if t != state["turns"])
    rate = state["turns"] * len(walls) / sum(walls)
    record(state, named={"turns_per_s": rate})
    return {
        "attempted": len(walls),
        "failed": failed,
        "items_per_s": rate,
        "samples_ms": [w * 1e3 for w in walls],
    }


def check(spark, state, tracer) -> list[tuple[str, bool, str]]:
    """Turn totals agree across raw, 1m, 1h and 1d; Parseval holds for
    every Haar and db4 window; encode -> decode is bit-exact."""
    from wavelet_decomposition_spark.operators import (
        activity, compress, rollup, wavelet_ops,
    )

    results = []
    tx = spark.read.parquet(state["path"])
    tier_1m = rollup.rollup_once(activity.activity_raw(tx), "1m").cache()
    tier_1h = rollup.rollup_once(tier_1m, "1h")
    tier_1d = rollup.rollup_once(tier_1h, "1d")
    totals = [
        tx.count(),
        *(t.agg(F.sum("turns")).collect()[0][0] for t in (tier_1m, tier_1h, tier_1d)),
    ]
    results.append((
        "turn totals raw=1m=1h=1d",
        len(set(totals)) == 1 and totals[0] == state["turns"],
        f"raw/1m/1h/1d = {totals}",
    ))

    # input energy per (conv, window): grid position from the conv's
    # first minute, as the window builder places it
    first = tier_1m.groupBy("conv_id").agg(F.min("bucket_ts").alias("t0"))
    pos = (
        (F.unix_timestamp("bucket_ts") - F.unix_timestamp("t0")) / 60
    ).cast("long")
    in_energy = (
        tier_1m.join(first, "conv_id")
        .withColumn("window_id", (pos / WINDOW_LEN).cast("int"))
        .groupBy("conv_id", "window_id")
        .agg(F.sum(F.col("turns").cast("double") ** 2).alias("e_in"))
    )
    for wavelet in WAVELETS:
        out = (
            wavelet_ops.energy_windows(
                tier_1m, "turns", wavelet=wavelet, levels=LEVELS,
                window_len=WINDOW_LEN, sparse_fill_step="1 minute",
            )
            .groupBy("conv_id", "window_id")
            .agg(F.sum("energy").alias("e_out"))
        )
        row = (
            out.join(in_energy, ["conv_id", "window_id"], "full_outer")
            .select(
                F.coalesce("e_out", F.lit(0.0)).alias("e_out"),
                F.coalesce("e_in", F.lit(0.0)).alias("e_in"),
            )
            .agg(
                F.count(F.lit(1)).alias("windows"),
                F.sum((
                    F.abs(F.col("e_out") - F.col("e_in"))
                    > PARSEVAL_RTOL * F.greatest(F.lit(1.0), F.col("e_in"))
                ).cast("int")).alias("bad"),
                F.max(F.abs(F.col("e_out") - F.col("e_in"))).alias("max_abs"),
            )
            .collect()[0]
        )
        results.append((
            f"Parseval {wavelet}",
            row["windows"] > 0 and row["bad"] == 0,
            f"{row['bad']} of {row['windows']} windows off by more than "
            f"{PARSEVAL_RTOL:g} relative (max abs diff {row['max_abs']:.3g})",
        ))

    cols = activity.ACTIVITY_COUNT_COLS
    blocks = compress.encode_blocks(tier_1m, cols).cache()
    results.append(roundtrip_check(tier_1m, blocks, cols))
    codec_figures(state, blocks, cols)
    blocks.unpersist()
    tier_1m.unpersist()
    return results


def probe(spark, state, tracer) -> list[tuple[str, bool, str]]:
    """Direct calls into the kernels on arrays shaped like the workload's:
    the 1m tier's turn counts laid into 128-minute windows (DWT) and per
    (conversation, day) blocks (codecs). ``bytes_moved`` is computed, not
    measured: float64 in and out of each analysis level for the DWT, raw
    input plus encoded output for the codecs."""
    from wavelet_decomposition_spark.kernel import deltadelta, dwt, gorilla
    from wavelet_decomposition_spark.operators import activity, rollup

    tx = spark.read.parquet(state["path"])
    pdf = (
        rollup.rollup_once(activity.activity_raw(tx), "1m")
        .select("conv_id", "bucket_ts", "turns")
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"], kind="stable")
    )
    values = pdf["turns"].to_numpy(dtype=np.float64)
    ts_us = pdf["bucket_ts"].astype("datetime64[us]").to_numpy().view(np.int64)
    n_win = max(1, values.size // WINDOW_LEN)
    M = np.zeros((n_win, WINDOW_LEN))
    M.ravel()[: min(values.size, M.size)] = values[: M.size]
    convs = pdf["conv_id"].to_numpy()
    days = ts_us // 86_400_000_000
    change = (convs[1:] != convs[:-1]) | (days[1:] != days[:-1])
    bounds = np.flatnonzero(np.r_[True, change, True])

    out = {}
    for wavelet in WAVELETS:
        taps = dwt.filters(wavelet)[0].size
        moved, n = 0, WINDOW_LEN
        for _ in range(LEVELS):
            moved += n_win * (n + taps - 2 + n) * 8  # padded read + S, D write
            n //= 2
        secs, reps = _time_calls(lambda w=wavelet: dwt.dwt_batch(M, w, LEVELS))
        out[f"kernel.dwt.dwt_batch.{wavelet}.points_per_s"] = M.size * reps / secs
        out[f"kernel.dwt.dwt_batch.{wavelet}.bytes_moved"] = float(moved)
    for name, fn, arr in (
        ("kernel.gorilla.encode_many", gorilla.encode_many, values),
        ("kernel.deltadelta.encode_many", deltadelta.encode_many, ts_us),
    ):
        blobs = fn(arr, bounds)
        secs, reps = _time_calls(lambda f=fn, a=arr: f(a, bounds))
        out[f"{name}.points_per_s"] = arr.size * reps / secs
        out[f"{name}.bytes_moved"] = float(arr.nbytes + sum(len(b) for b in blobs))
    record(state, layers=out)
    return _tier_cycle(spark, state, tracer)


def _tier_cycle(spark, state, tracer) -> list[tuple[str, bool, str]]:
    """One retention-engine cycle (``perfbench/tier_maintenance.py``) on
    this session, after one warm-up cycle: it traces the streaming,
    checkpoint, router and ``__spark_entry__`` layers."""
    from . import tier_maintenance as tm

    tier = tm.setup(spark, state["seed"], os.path.join(state["work"], "tier"), tracer)
    tm.warmup(spark, tier, tracer)
    done = tm.measure(spark, tier, tracer)
    checks = [(
        "tier cycle: every routed read matched the transcript rows",
        done["failed"] == 0, f"{done['failed']} of {done['reads']} reads wrong",
    )]
    checks += tm.check(spark, tier, tracer) + tm.probe(spark, tier, tracer)
    record(state, named=tier["named"], layers=tier["layer_extras"])
    return checks


def _time_calls(fn, min_s: float = 0.3) -> tuple[float, int]:
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= min_s:
            return elapsed, reps
