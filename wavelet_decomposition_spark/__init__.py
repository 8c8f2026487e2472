"""wavelet_decomposition_spark — a from-scratch PySpark-native time-series engine.

Re-expresses the capabilities of the reference repo (jus6du/wavelet_decomposition,
a single-node numpy/scipy wavelet-decomposition pipeline for electricity time
series) as an idiomatic Spark DataFrame engine, and extends it with the
rollup/downsample/retention, compression, and transcript-analytics operators
required by the project north star.

Layout
------
kernel/     pure-numpy numeric kernels (no Spark): sparse CSR, LSQR,
            wavelet-dictionary generation, DWT/MODWT, Gorilla & delta-of-delta
            codecs, EPN analytics, golden-artifact readers.
io/         table layer: synthetic transcript generator, checkpoint manifest,
            reference golden-data loaders.
operators/  Spark DataFrame operators (ingest, resample, decompose, activity
            series, rollup tiers, gap-fill, dedup, similarity, text stats).
plans/      SparkSession builders with scale-oriented configs.
streaming/  Structured Streaming facade over the 1m tier.
"""

__version__ = "0.1.0"

from . import _zipcache

# every engine UDF imports this package when a worker unpickles it, so the
# reused worker keeps the stat-keyed zip invalidation for its later tasks
_zipcache.install()
