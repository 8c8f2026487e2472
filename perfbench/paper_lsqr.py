"""``paper_lsqr``: the source paper's job. Seeded electricity-shaped
series-years (23,360 points: 365 days x 64 samples, with daily, weekly and
annual periods plus noise, normalised to unit mean) and seeded
translation vectors go through ``decompose.broadcast_dictionaries`` ->
``decompose`` -> ``reconstruct``. One pass solves every series-year and
reconstructs it; a single client runs passes back to back.
``items_per_s`` counts series-years. The inputs are synthetic, so these
numbers are not comparable to the reference-workbook runs."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .common import record, repeat_for

SERIES = ("consumption",)
YEARS = (2015, 2016)
SHAPE = "square"
DAMP = 0.001
# a unit-mean signal against a dictionary with more columns than rows:
# seeded runs land near 9.35e-7, so 1e-5 leaves an order of magnitude
RESIDUAL_BOUND = 1e-5
ITEM = "series-years"


def _signals(seed: int) -> tuple[pd.DataFrame, dict[int, list[int]], dict]:
    from wavelet_decomposition_spark.kernel import wavelets as wl

    rng = np.random.default_rng(seed)
    n = wl.N_POINTS
    t = np.arange(n) / wl.NDPD  # days
    frames, raw = [], {}
    for sid in SERIES:
        for year in YEARS:
            phase = rng.uniform(0.0, 2 * np.pi, 3)
            amp = rng.uniform([0.2, 0.05, 0.2], [0.4, 0.15, 0.5])
            s = (
                1.0
                + amp[0] * np.sin(2 * np.pi * t + phase[0])
                + amp[1] * np.sin(2 * np.pi * t / 7 + phase[1])
                + amp[2] * np.cos(2 * np.pi * t / wl.DPY + phase[2])
                + 0.1 * rng.standard_normal(n)
            )
            s = s / s.mean()
            raw[(sid, year)] = s
            frames.append(pd.DataFrame({
                "series_id": sid, "year": np.int32(year),
                "idx": np.arange(n, dtype=np.int32), "value": s,
            }))
    translations = {
        year: [int(v) for v in rng.integers(0, [wl.NDPD, 7 * wl.NDPD, n])]
        for year in YEARS
    }
    return pd.concat(frames, ignore_index=True), translations, raw


def setup(spark, seed: int, work: str, tracer) -> dict:
    from wavelet_decomposition_spark.operators import decompose

    pdf, translations, raw = _signals(seed)
    with tracer.span("operators.decompose.broadcast_dictionaries"):
        bc = decompose.broadcast_dictionaries(spark, SHAPE, translations)
    df = spark.createDataFrame(pdf).cache()
    df.count()
    return {"df": df, "bc": bc, "translations": translations, "raw": raw}


def warmup(spark, state, tracer) -> None:
    _pass(spark, state, tracer)


def _pass(spark, state, tracer) -> dict:
    from wavelet_decomposition_spark.operators import decompose

    with tracer.span("operators.decompose.decompose"):
        betas = decompose.decompose(state["df"], state["bc"], damp=DAMP).cache()
        beta_stats = {
            (r["series_id"], r["year"]): (r["n"], r["finite"])
            for r in betas.groupBy("series_id", "year").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((~F.isnan("beta") & (F.abs("beta") < float("inf")))
                      .cast("int")).alias("finite"),
            ).collect()
        }
    with tracer.span("operators.decompose.reconstruct"):
        rec = decompose.reconstruct(betas, state["bc"])
        res = {
            (r["series_id"], r["year"]): r["rel"]
            for r in rec.join(state["df"].withColumnRenamed("value", "s"),
                              ["series_id", "year", "idx"])
            .groupBy("series_id", "year")
            .agg((F.sqrt(F.sum((F.col("value") - F.col("s")) ** 2))
                  / F.sqrt(F.sum(F.col("s") ** 2))).alias("rel"))
            .collect()
        }
    betas.unpersist()
    return {"betas": beta_stats, "residual": res}


def _pass_ok(out: dict) -> bool:
    from wavelet_decomposition_spark.kernel import wavelets as wl

    width = wl.dictionary_width()
    keys = {(s, y) for s in SERIES for y in YEARS}
    return (
        set(out["betas"]) == keys
        and all(n == width and f == width for n, f in out["betas"].values())
        and set(out["residual"]) == keys
        and all(r <= RESIDUAL_BOUND for r in out["residual"].values())
    )


def measure(spark, state, seconds: float, tracer) -> dict:
    outs = []

    def one_pass():
        with tracer.span("paper_lsqr.pass", phase="measure"):
            outs.append(_pass(spark, state, tracer))

    walls = repeat_for(seconds, one_pass)
    state["last"] = outs[-1]
    items = len(SERIES) * len(YEARS)
    rate = items * len(walls) / sum(walls)
    worst = max(max(o["residual"].values(), default=np.inf) for o in outs)
    record(state, named={"series_years_per_s": rate, "lsqr_rel_residual": worst})
    return {
        "attempted": len(walls),
        "failed": sum(1 for o in outs if not _pass_ok(o)),
        "items_per_s": rate,
        "samples_ms": [w * 1e3 for w in walls],
    }


def check(spark, state, tracer) -> list[tuple[str, bool, str]]:
    """Every series-year gets the dictionary's 23,423 finite betas, and
    the reconstruction's relative residual stays within the bound."""
    from wavelet_decomposition_spark.kernel import wavelets as wl

    out = state["last"]
    width = wl.dictionary_width()
    counts = sorted({n for n, _ in out["betas"].values()})
    finite = sorted({f for _, f in out["betas"].values()})
    worst = max(out["residual"].values(), default=np.inf)
    return [
        (f"{width} finite betas per series-year",
         len(out["betas"]) == len(SERIES) * len(YEARS)
         and counts == [width] and finite == [width],
         f"{len(out['betas'])} series-years, counts {counts}, finite {finite}"),
        ("reconstruction residual within bound",
         len(out["residual"]) == len(SERIES) * len(YEARS)
         and worst <= RESIDUAL_BOUND,
         f"max ||A beta - s|| / ||s|| = {worst:.4g} (bound {RESIDUAL_BOUND:g})"),
    ]


def probe(spark, state, tracer) -> list[tuple[str, bool, str]]:
    """Driver-side calls into the kernels for one series-year: dictionary
    build time, the exact LSQR iteration count and its residual, and the
    broadcast payload size."""
    from wavelet_decomposition_spark.kernel import wavelets as wl
    from wavelet_decomposition_spark.kernel.lsqr import lsqr

    year = YEARS[0]
    t0 = time.perf_counter()
    A = wl.generate_dictionary(SHAPE, state["translations"][year])
    gen_s = time.perf_counter() - t0
    s = state["raw"][(SERIES[0], year)]
    x, _, itn = lsqr(A, s, damp=DAMP)
    payload = 0
    for y in YEARS:
        B = wl.generate_dictionary(SHAPE, state["translations"][y])
        payload += B.data.nbytes + B.indices.nbytes + B.indptr.nbytes
    record(state, layers={
        "kernel.wavelets.generate_dictionary.wall_s": gen_s,
        "kernel.lsqr.lsqr.iterations": float(itn),
        "kernel.lsqr.lsqr.rel_residual":
            float(np.linalg.norm(A.matvec(x) - s) / np.linalg.norm(s)),
        "operators.decompose.broadcast_dictionaries.broadcast_bytes": float(payload),
    })
    return []
