"""The retention engine's write path beside its read path, on seeded
transcripts spread over three days. Traced ``flagship`` runs run one
cycle after their kernel probes; it is not a timed workload of its own.

One cycle:

1. ingest -- the first batch of turns lands as three parquet files in
   time order, and ``streaming.facade.stream_rollup_1m`` drains each
   (``availableNow``);
2. build -- ``io.checkpoint.refresh_tier`` lays the streamed 1m rows out
   by day, then builds 1h from 1m and 1d from 1h;
3. late batch -- the remaining turns land, including turns of the day
   that was half built; a second drain and a re-refresh of every tier
   follow (``late_catchup_s``: landing to every tier consistent);
4. ``apply_retention`` drops old 1m and 1h days;
5. the 1m tier goes through ``encode_blocks`` and ``decode_blocks``;
6. one client makes ``MIN_READS`` reads in a closed loop with
   ``router.route_and_read``, over spans chosen so that each stored tier
   answers a third of them, each checked against the transcript rows.

A "clock" turn closes the stream's watermark after each batch: append mode
emits a 1m window only once the watermark passes it."""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from .common import median, noop, percentile, record, roundtrip_check

N_CONVS = 1000
MAX_TURNS = 200     # clip the heavy tail: run-to-run work stays comparable
INGEST_FILES = 3
FILE_TURNS = 5000   # every seed ingests the same number of turns per file
SPAN_DAYS = 3
MAX_POINTS = 48         # route_and_read budget: 1m <= 48 min, 1h <= 48 h
RETENTION = {"1m": 2, "1h": 3}
MIN_READS = 40     # p75 then has ten reads beyond it
_US = 1_000_000
_TX_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _write_batch(pdf: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(pdf, schema=_TX_SCHEMA, preserve_index=False)
    pq.write_table(table, path)


def _clock_row(ts_us: int) -> pd.DataFrame:
    return pd.DataFrame({
        "conv_id": ["clock"], "turn_idx": np.array([0], dtype=np.int32),
        "role": ["user"], "text": ["tick"], "tool": [None],
        "ts": pd.to_datetime([ts_us], unit="us", utc=True),
    })


def _batches(seed: int):
    """(first batch as ``INGEST_FILES`` time slices, late batch, the rows
    the drains will have emitted)."""
    from wavelet_decomposition_spark.io.transcripts import transcripts_pandas

    tx = transcripts_pandas(N_CONVS, seed=seed, max_turns=MAX_TURNS,
                            span_seconds=SPAN_DAYS * 86400)
    tx["ts"] = tx["ts"].dt.tz_localize("UTC")
    tx = tx.sort_values("ts", kind="stable", ignore_index=True)
    ts_us = tx["ts"].to_numpy(dtype="datetime64[us]").view(np.int64)
    minute = 60 * _US
    # the first batch ends at the minute boundary after its quota of turns
    cut = ts_us[INGEST_FILES * FILE_TURNS - 1] // minute * minute + minute
    # clock 1 puts the watermark one second past the cut: no late turn may
    # fall inside that second, or the stream would drop it
    while ((ts_us >= cut) & (ts_us < cut + _US)).any():
        cut += minute
    end = -(-(ts_us.max() + 1) // minute) * minute
    first, late = tx[ts_us < cut], tx[ts_us >= cut]
    # each clock turn moves the watermark (event time - 10 min) just past
    # its batch's last window; clock 1 itself is emitted by the 2nd drain
    clock1 = _clock_row(cut + 10 * minute + _US)
    clock2 = _clock_row(end + 10 * minute + _US)
    # time-ordered slices: each file's turns are newer than the watermark
    # the previous drain left
    bounds = np.linspace(0, len(first), INGEST_FILES + 1).astype(int)
    slices = [first.iloc[lo:hi] for lo, hi in zip(bounds[:-1], bounds[1:])]
    slices[-1] = pd.concat([slices[-1], clock1], ignore_index=True)
    late = pd.concat([late, clock2], ignore_index=True)
    emitted = pd.concat([tx, clock1], ignore_index=True)
    return slices, late, emitted


def _day(ts_us: np.ndarray) -> np.ndarray:
    return (ts_us // (86400 * _US)).astype("datetime64[D]").astype(str)


def setup(spark, seed: int, work: str, tracer) -> dict:
    slices, late, emitted = _batches(seed)
    first = pd.concat(slices, ignore_index=True)
    ts = emitted["ts"].to_numpy(dtype="datetime64[us]").view(np.int64)
    order = np.argsort(ts, kind="stable")
    state = {
        "work": work,
        "first": first, "slices": slices, "late": late,
        "sorted_ts": ts[order],
        "cum": np.vstack([
            np.zeros(3, dtype=np.int64),
            np.cumsum(np.stack([
                np.ones(ts.size, dtype=np.int64),
                emitted["text"].str.len().to_numpy(dtype=np.int64)[order],
                emitted["tool"].notna().to_numpy(dtype=np.int64)[order],
            ], axis=1), axis=0),
        ]),
        "late_days": sorted(set(_day(
            late["ts"].to_numpy(dtype="datetime64[us]").view(np.int64)[:-1]
        )) | set(_day(
            first["ts"].to_numpy(dtype="datetime64[us]").view(np.int64)[-1:]
        ))),
    }
    return state


def warmup(spark, state, tracer) -> None:
    """A small cycle on a slice of the first batch, in a scratch
    directory: stream, refresh, codec and read paths run once."""
    n = sum(1 for s in tracer.spans if s["name"] == "warmup")
    warm = dict(state, work=os.path.join(state["work"], f"warm{n}"))
    first = state["first"]
    small = first[first["conv_id"].isin(first["conv_id"].unique()[:40])]
    last = small["ts"].max().value // 1000
    small = pd.concat([small, _clock_row(last + 11 * 60 * _US)],
                      ignore_index=True)
    _ingest(spark, warm, small, tracer)
    _refresh_all(spark, warm, tracer)
    _codec(spark, warm, tracer)
    _read(spark, warm, *_read_plan(state, np.random.default_rng(0), 1)[0], tracer)


def _paths(state) -> dict:
    w = state["work"]
    return {k: os.path.join(w, k) for k in ("in", "stream", "ckpt", "tiers")}


def _ingest(spark, state, batch: pd.DataFrame, tracer) -> float:
    from wavelet_decomposition_spark.streaming.facade import stream_rollup_1m

    p = _paths(state)
    os.makedirs(p["in"], exist_ok=True)
    n_files = len(os.listdir(p["in"]))
    _write_batch(batch, os.path.join(p["in"], f"batch-{n_files:03d}.parquet"))
    t0 = time.perf_counter()
    with tracer.span("streaming.facade.stream_rollup_1m") as span:
        q = stream_rollup_1m(spark, p["in"], p["stream"], p["ckpt"])
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream drain failed: {q.exception()}")
    wall = time.perf_counter() - t0
    span["rows_per_s"] = len(batch) / wall
    return wall


def _refresh_all(spark, state, tracer) -> dict[str, list[str]]:
    from wavelet_decomposition_spark.io import checkpoint
    from wavelet_decomposition_spark.operators import rollup

    p = _paths(state)
    workers = spark.sparkContext.defaultParallelism
    rebuilt = {}
    sources = {
        "1m": lambda: rollup.with_day(spark.read.parquet(p["stream"])),
        "1h": lambda: checkpoint.read_tier(spark, p["tiers"], "1m"),
        "1d": lambda: checkpoint.read_tier(spark, p["tiers"], "1h"),
    }
    compute = {
        "1m": lambda day: day.drop("day"),
        "1h": lambda day: rollup.rollup_once(day, "1h"),
        "1d": lambda day: rollup.rollup_once(day, "1d"),
    }
    for tier in ("1m", "1h", "1d"):
        with tracer.span("io.checkpoint.refresh_tier", tier=tier) as span:
            rebuilt[tier] = checkpoint.refresh_tier(
                spark, sources[tier](), compute[tier], p["tiers"], tier,
                max_concurrency=workers,
            )
        span["days_rebuilt"] = len(rebuilt[tier])
    return rebuilt


def _read_plan(state, rng, n: int) -> list[tuple[str, dt.datetime, dt.datetime]]:
    """``n`` (tier, start, end) reads cycling 1m, 1h and 1d spans; each
    lies inside the days its tier still keeps after retention, aligned to
    the tier step, so a tier's rows in range are exactly the turns in
    range."""
    ts = state["sorted_ts"]
    day = 86400 * _US
    first_day, last_day = ts[0] // day, ts[-1] // day
    today = last_day + 1
    keep_from = {
        "1m": today - RETENTION["1m"], "1h": today - RETENTION["1h"],
        "1d": first_day,
    }
    out = []
    for i in range(n):
        tier = ("1m", "1h", "1d")[i % 3]
        step = {"1m": 60 * _US, "1h": 3600 * _US, "1d": day}[tier]
        lo_span, hi_span = {"1m": (20, 45), "1h": (2, 40), "1d": (3, 3)}[tier]
        span = int(rng.integers(lo_span, hi_span + 1)) * step
        lo = keep_from[tier] * day
        hi = max(lo, (last_day + 1) * day - span)
        start = lo + int(rng.integers(0, (hi - lo) // step + 1)) * step
        out.append((tier, _dt(start), _dt(start + span)))
    return out


_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _dt(us: int) -> dt.datetime:
    return _EPOCH + dt.timedelta(microseconds=int(us))


def _expected(state, start: dt.datetime, end: dt.datetime) -> tuple[int, ...]:
    """(turns, chars, tool_calls) of the emitted rows in [start, end)."""
    ts, cum = state["sorted_ts"], state["cum"]
    one = dt.timedelta(microseconds=1)
    lo = np.searchsorted(ts, (start - _EPOCH) // one)
    hi = np.searchsorted(ts, (end - _EPOCH) // one)
    return tuple(int(v) for v in cum[hi] - cum[lo])


def _read(spark, state, want_tier, start, end, tracer) -> bool:
    from wavelet_decomposition_spark.operators import router

    with tracer.span("operators.router.route_and_read") as span:
        tier, df = router.route_and_read(
            spark, _paths(state)["tiers"], start, end, MAX_POINTS,
            retention_days={"raw": 0, **RETENTION},
        )
        row = df.agg(
            F.coalesce(F.sum("turns"), F.lit(0)).alias("turns"),
            F.coalesce(F.sum("chars"), F.lit(0)).alias("chars"),
            F.coalesce(F.sum("tool_calls"), F.lit(0)).alias("tool_calls"),
        ).collect()[0]
    span["tier"] = tier
    return tier == want_tier and tuple(row) == _expected(state, start, end)


def _codec(spark, state, tracer) -> None:
    from wavelet_decomposition_spark.io import checkpoint
    from wavelet_decomposition_spark.operators import activity, compress

    tier_1m = checkpoint.read_tier(spark, _paths(state)["tiers"], "1m").drop("day")
    cols = activity.ACTIVITY_COUNT_COLS
    with tracer.span("operators.compress.encode_blocks"):
        blocks = compress.encode_blocks(tier_1m, cols).cache()
        blocks.count()
    with tracer.span("operators.compress.decode_blocks"):
        noop(compress.decode_blocks(blocks, cols))
    state["blocks"], state["tier_1m"] = blocks, tier_1m


def measure(spark, state, tracer) -> dict:
    from wavelet_decomposition_spark.io import checkpoint

    failed = 0
    with tracer.span("tier_maintenance.cycle", phase="measure"):
        rates = [len(part) / _ingest(spark, state, part, tracer)
                 for part in state["slices"]]
        _refresh_all(spark, state, tracer)

        t_land = time.perf_counter()
        with tracer.span("late_catchup"):
            _ingest(spark, state, state["late"], tracer)
            rebuilt = _refresh_all(spark, state, tracer)
        late_catchup_s = time.perf_counter() - t_land
        state["rebuilt"] = rebuilt

        ts = state["sorted_ts"]
        today = (_dt(ts[-1]).date() + dt.timedelta(days=1)).isoformat()
        with tracer.span("io.checkpoint.apply_retention") as span:
            dropped = checkpoint.apply_retention(
                _paths(state)["tiers"], RETENTION, today
            )
        span["days_dropped"] = sum(len(v) for v in dropped.values())
        state["dropped"] = dropped

        _codec(spark, state, tracer)

        plan = _read_plan(state, np.random.default_rng(state["first"].shape[0]),
                          MIN_READS)
        walls = []
        for want, start, end in plan:
            t0 = time.perf_counter()
            failed += not _read(spark, state, want, start, end, tracer)
            walls.append(time.perf_counter() - t0)
    reads = [s for s in tracer.named("operators.router.route_and_read")
             if s["start"] >= tracer.named("tier_maintenance.cycle")[-1]["start"]]
    per_tier = {
        f"operators.router.route_and_read.{t}.p50_ms":
            median([s["wall_s"] * 1e3 for s in reads if s.get("tier") == t] or [0.0])
        for t in ("1m", "1h", "1d")
    }
    read_p75 = percentile(walls, 75) * 1e3
    p50 = median(walls) * 1e3
    ingest = median(rates)
    record(state, named={
        "ingest_turns_per_s": ingest, "late_catchup_s": late_catchup_s,
        "read_p50_ms": p50, "read_p75_ms": read_p75,
    }, layers={
        **per_tier,
        "operators.router.route_and_read.p75_ms": read_p75,
        "io.checkpoint.late_catchup_s": late_catchup_s,
        "io.checkpoint.refresh_tier.days_rebuilt":
            float(sum(len(v) for v in rebuilt.values())),
    })
    return {"reads": len(walls), "failed": failed}


def check(spark, state, tracer) -> list[tuple[str, bool, str]]:
    """Late days rebuilt exactly; expired days gone; the codec round trip
    is bit-exact. (Every routed read was checked against the transcript
    rows as it ran.)"""
    from wavelet_decomposition_spark.operators import activity

    out = []
    want = state["late_days"]
    got = {t: sorted(days) for t, days in state["rebuilt"].items()}
    out.append((
        "days_rebuilt equals the days the late batch touched",
        all(days == want for days in got.values()),
        f"late batch days {want}; rebuilt {got}",
    ))
    tiers_dir = _paths(state)["tiers"]
    today = (_dt(state["sorted_ts"][-1]).date() + dt.timedelta(days=1))
    leftovers = []
    for tier, keep in RETENTION.items():
        cutoff = (today - dt.timedelta(days=keep)).isoformat()
        present = [d[4:] for d in os.listdir(os.path.join(tiers_dir, f"tier={tier}"))
                   if d.startswith("day=")]
        leftovers += [f"{tier}/{d}" for d in present if d < cutoff]
    n_dropped = sum(len(v) for v in state["dropped"].values())
    out.append((
        "expired days are gone",
        not leftovers and n_dropped > 0,
        f"dropped {n_dropped} day partitions; {len(leftovers)} expired left",
    ))
    cols = activity.ACTIVITY_COUNT_COLS
    out.append(roundtrip_check(state["tier_1m"], state["blocks"], cols))
    state["blocks"].unpersist()
    return out


def probe(spark, state, tracer) -> list[tuple[str, bool, str]]:
    """The 1m tier's partition fingerprints, timed directly, and two driver
    queries that make their own inputs, run through
    ``__spark_entry__.queries()``: every ``*_ok`` column must be true."""
    import __spark_entry__ as entry
    from wavelet_decomposition_spark.io import checkpoint

    t0 = time.perf_counter()
    checkpoint.partition_fingerprints(
        checkpoint.read_tier(spark, _paths(state)["tiers"], "1m")
    )
    fingerprint_s = time.perf_counter() - t0
    queries = entry.queries()
    checks = []
    for name in ("tier_wavelet_parity", "stream_rollup_drain"):
        with tracer.span(f"spark_entry.{name}"):
            rows = queries[name](spark, "").collect()
        flags = [c for c in (rows[0].asDict() if rows else {}) if c.endswith("_ok")]
        bad = sum(1 for r in rows for c in flags if r[c] is not True)
        checks.append((f"__spark_entry__ {name}: every *_ok true",
                       bool(rows) and bool(flags) and bad == 0,
                       f"{len(rows)} rows, {len(flags)} flags, {bad} false"))
    record(state, layers={"io.checkpoint.partition_fingerprints.wall_s": fingerprint_s})
    return checks
