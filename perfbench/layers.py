"""The per-layer metrics of a traced run, each tied beforehand to the
end-to-end metric and workload it should move, and the workloads where it
should stay flat.

A metric named ``<span>.<counter>`` is the median of that counter over the
spans of that name (the timed passes' spans where the workload has them,
otherwise every span of the name). A layer the workload never calls reads
0: that is the "flat" prediction. Counter meanings are in
``perfbench/trace.py``; ``spark_entry`` stands for ``__spark_entry__``.

The streaming, checkpoint, router and ``__spark_entry__`` layers run in the
tier-maintenance cycle of traced ``flagship`` runs. The figures they should
move (ingest rate, late catch-up, read latency) are printed by those runs,
not bounded end-to-end metrics.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass


@dataclass(frozen=True)
class Layer:
    name: str
    unit: str
    better: str
    moves: str = ""
    on: str = ""
    flat_on: str = ""


E2E_UNITS = {
    "setup_s": "s",
    "items_per_s": "1/s",
    # printed beside the end-to-end metrics
    "pass_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "turns_per_s": "turns/s",
    "series_years_per_s": "1/s",
    "lsqr_rel_residual": "ratio",
    "ingest_turns_per_s": "turns/s",
    "late_catchup_s": "s",
    "read_p50_ms": "ms",
    "read_p75_ms": "ms",
    "stored_bytes_per_point": "bytes",
}


def unit_of(name: str) -> str:
    return E2E_UNITS[name]


def _group(prefix, counters, moves, on, flat_on):
    return [
        Layer(f"{prefix}.{counter}", unit, better, moves, on, flat_on)
        for counter, unit, better in counters
    ]


_ROLLUP = (("wall_s", "s", "lower"), ("driver_s", "s", "lower"),
           ("shuffle_write_bytes", "bytes", "lower"), ("tasks", "count", "lower"))
_PYTHON = (("wall_s", "s", "lower"), ("py_sent_bytes", "bytes", "lower"),
           ("py_returned_bytes", "bytes", "lower"), ("py_run_s", "s", "lower"),
           ("shuffle_write_bytes", "bytes", "lower"))
_CODEC = (("wall_s", "s", "lower"), ("py_sent_bytes", "bytes", "lower"),
          ("py_returned_bytes", "bytes", "lower"))
_KERNEL = (("points_per_s", "1/s", "higher"), ("bytes_moved", "bytes", "lower"))
_ENTRY = (("wall_s", "s", "lower"), ("sql_execs", "count", "lower"),
          ("jobs", "count", "lower"), ("driver_s", "s", "lower"))

_TIER = ("flagship (traced cycle)", "paper_lsqr")

LAYERS: list[Layer] = [
    Layer("host.peak_rss_mb", "MB", "lower", "peak_rss_mb", "all", ""),
    Layer("flagship.pass.wall_s", "s", "lower",
          "items_per_s", "flagship", "paper_lsqr"),
    Layer("paper_lsqr.pass.wall_s", "s", "lower",
          "items_per_s", "paper_lsqr", "flagship"),
    Layer("plans.session.build_session.wall_s", "s", "lower",
          "setup_s", "all", ""),
    Layer("io.transcripts.transcripts_df.write.wall_s", "s", "lower",
          "setup_s", "flagship", "paper_lsqr"),
    *(layer for tier in ("1m", "1h", "1d") for layer in _group(
        f"operators.rollup.rollup_once.{tier}", _ROLLUP,
        "items_per_s", "flagship", "paper_lsqr")),
    *(layer for fn in ("dwt_window_bands", "energy_windows")
      for wavelet in ("haar", "db4") for layer in _group(
        f"operators.wavelet_ops.{fn}.{wavelet}", _PYTHON,
        "items_per_s", "flagship", "paper_lsqr")),
    Layer("flagship.pass.py_ops", "count", "lower",
          "items_per_s", "flagship", "paper_lsqr"),
    *_group("operators.compress.encode_blocks", _CODEC,
            "items_per_s", "flagship", "paper_lsqr"),
    *_group("operators.compress.decode_blocks", _CODEC,
            "read_p50_ms", *_TIER),
    Layer("operators.compress.encode_blocks.out_bytes", "bytes", "lower",
          "stored_bytes_per_point", "flagship", "paper_lsqr"),
    Layer("operators.compress.stored_bytes_per_point", "bytes", "lower",
          "stored_bytes_per_point", "flagship", "paper_lsqr"),
    *(layer for wavelet in ("haar", "db4") for layer in _group(
        f"kernel.dwt.dwt_batch.{wavelet}", _KERNEL,
        "items_per_s", "flagship", "paper_lsqr")),
    *_group("kernel.gorilla.encode_many", _KERNEL,
            "items_per_s", "flagship", "paper_lsqr"),
    *_group("kernel.deltadelta.encode_many", _KERNEL,
            "items_per_s", "flagship", "paper_lsqr"),
    Layer("kernel.wavelets.generate_dictionary.wall_s", "s", "lower",
          "setup_s", "paper_lsqr", "flagship"),
    Layer("operators.decompose.broadcast_dictionaries.broadcast_bytes",
          "bytes", "lower", "setup_s", "paper_lsqr", "flagship"),
    Layer("kernel.lsqr.lsqr.iterations", "count", "lower",
          "items_per_s", "paper_lsqr", "flagship"),
    Layer("kernel.lsqr.lsqr.rel_residual", "ratio", "lower",
          "lsqr_rel_residual", "paper_lsqr", "flagship"),
    *(layer for fn in ("decompose", "reconstruct") for layer in _group(
        f"operators.decompose.{fn}",
        (("wall_s", "s", "lower"), ("py_run_s", "s", "lower"),
         ("tasks", "count", "lower")),
        "items_per_s", "paper_lsqr", "flagship")),
    Layer("streaming.facade.stream_rollup_1m.wall_s", "s", "lower",
          "ingest_turns_per_s", *_TIER),
    Layer("streaming.facade.stream_rollup_1m.rows_per_s", "1/s", "higher",
          "ingest_turns_per_s", *_TIER),
    Layer("io.checkpoint.refresh_tier.wall_s", "s", "lower",
          "late_catchup_s", *_TIER),
    Layer("io.checkpoint.refresh_tier.days_rebuilt", "count", "lower",
          "late_catchup_s", *_TIER),
    Layer("io.checkpoint.partition_fingerprints.wall_s", "s", "lower",
          "late_catchup_s", *_TIER),
    Layer("io.checkpoint.apply_retention.days_dropped", "count", "lower",
          "late_catchup_s", *_TIER),
    Layer("io.checkpoint.late_catchup_s", "s", "lower",
          "late_catchup_s", *_TIER),
    *(Layer(f"operators.router.route_and_read.{tier}.p50_ms", "ms", "lower",
            "read_p50_ms", *_TIER)
      for tier in ("1m", "1h", "1d")),
    Layer("operators.router.route_and_read.p75_ms", "ms", "lower",
          "read_p50_ms", *_TIER),
    Layer("operators.router.route_and_read.files_read", "count", "lower",
          "read_p50_ms", *_TIER),
    Layer("operators.router.route_and_read.driver_s", "s", "lower",
          "read_p50_ms", *_TIER),
    # a workload of driver queries (queries_per_s) is not part of the
    # benchmark; these two queries make their own inputs
    *(layer for query in ("tier_wavelet_parity", "stream_rollup_drain")
      for layer in _group(f"spark_entry.{query}", _ENTRY,
                          "queries_per_s (not measured)", *_TIER)),
]

TRACING: list[Layer] = [
    Layer("tracing.harvest_s", "s", "lower"),
    Layer("tracing.items_per_s", "1/s", "higher"),
    Layer("tracing.span_problems", "count", "lower"),
]


def _under_measure(spans: list[dict]) -> set[int]:
    by_id = {s["id"]: s for s in spans}
    out = set()
    for s in spans:
        cur = s
        while cur is not None:
            if cur.get("phase") == "measure":
                out.add(s["id"])
                break
            cur = by_id.get(cur["parent"])
    return out


def values(tracer, extras: dict[str, float]) -> dict[str, float]:
    """Every metric of ``LAYERS``: ``extras`` first, then span medians."""
    timed = _under_measure(tracer.spans)
    out = {}
    for spec in LAYERS:
        if spec.name in extras:
            out[spec.name] = float(extras[spec.name])
            continue
        span_name, counter = spec.name.rsplit(".", 1)
        spans = [s for s in tracer.spans
                 if s["name"] == span_name and s["end"] is not None]
        in_timed = [s for s in spans if s["id"] in timed]
        picked = in_timed or spans
        vals = [float(s[counter]) for s in picked if counter in s]
        out[spec.name] = float(statistics.median(vals)) if vals else 0.0
    return out
