"""sketchlib — a PySpark-native distributed sketch / approximate-aggregation library.

Generalizes the three-stage Bloom-filter MapReduce pipeline of the reference
(martimarino/Bloom-Filters-in-MapReduce: calibrate -> build -> validate, see
/root/reference/spark/main.py:100-193) into nine mergeable sketch UDAFs —
Bloom, HyperLogLog, count-min, count sketch, t-digest, KLL, theta/KMV,
bottom-k sample, frequent directions — built from scratch on the public PySpark DataFrame API
with vectorized Arrow/pandas UDFs.

Layout:
    sketchlib.core   — pure numpy sketch kernels, zero Spark imports
    sketchlib.spark  — build / merge / validate / query layer (DataFrame ops)
    sketchlib.io     — deterministic synthetic `pages` fixture generator
"""

import importlib

__version__ = "0.2.0"

# Each public name is imported from its module on first access (PEP 562),
# so importing the package alone loads no numpy or pyarrow: Spark's Python
# worker daemon (``sketchlib.spark.worker_daemon``) imports the package as
# it starts, and the session's first tasks wait for that start.
_EXPORTS = {
    "BloomFilter": "sketchlib.core.bloom",
    "HyperLogLog": "sketchlib.core.hll",
    "CountMinSketch": "sketchlib.core.cms",
    "CountSketch": "sketchlib.core.countsketch",
    "TDigest": "sketchlib.core.tdigest",
    "KLL": "sketchlib.core.kll",
    "ThetaSketch": "sketchlib.core.theta",
    "BottomKSample": "sketchlib.core.sample",
    "FrequentDirections": "sketchlib.core.fd",
    "sketch_from_bytes": "sketchlib.core.serde",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module 'sketchlib' has no attribute {name!r}")
    return getattr(importlib.import_module(_EXPORTS[name]), name)
