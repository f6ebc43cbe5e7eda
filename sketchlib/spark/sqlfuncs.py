"""SQL-facing scalar functions over serialized sketch columns.

``register_sql_functions(spark)`` registers Arrow-batched pandas UDFs
so a sketch table written by ``build_sketches`` is queryable straight
from ``spark.sql``:

    SELECT lang, sketch_estimate(sketch) AS distinct_est
    FROM sketches WHERE sketch_name = 'url_hll'

    SELECT lang, bloom_contains(sketch, 'https://...') AS hit
    FROM sketches WHERE sketch_name = 'url_bloom'

UDF construction is deferred to registration time (pandas_udf needs an
active session to parse return types). Sketch rows are ≤ #groups, so
per-row deserialization here is driver-scale work made SQL-composable,
not a hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from sketchlib.core.serde import merge_blobs, sketch_from_bytes
from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.fd import FrequentDirections
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.theta import ThetaSketch
from sketchlib.core.sample import (BottomKSample,
                                   WeightedBottomKSample)
from sketchlib.core.countsketch import CountSketch


def _is_null(x) -> bool:
    # SQL NULL arrives as None, or as NaN for numeric columns (a null
    # int column turns float64 once its batch holds a null)
    return x is None or (isinstance(x, float) and x != x)


def _per_blob(fn, null=np.nan, load=sketch_from_bytes):
    """The one row loop behind every per-row sketch SQL function.

    A row whose blob or any argument is NULL gets ``null``; otherwise
    the blob is deserialized with ``load`` and ``fn(sketch, *args)``
    gives the value, where ``None`` also means ``null`` (a blob of a
    kind the read-out does not apply to, in a mixed sketch table).
    ``null`` also sets the output dtype: NaN -> double (Arrow sends NaN
    as SQL NULL), False -> boolean, 0 -> long, None -> arrays."""
    dtype = object if null is None else type(null)

    def udf(blobs: pd.Series, *args: pd.Series) -> pd.Series:
        out = []
        for b, *a in zip(blobs, *args):
            v = None
            if b is not None and not any(map(_is_null, a)):
                v = fn(load(bytes(b)), *a)
            out.append(null if v is None else v)
        return pd.Series(out, dtype=dtype)
    return udf


def _pair(cls, method: str, null=np.nan):
    """``a.method(b)`` between two same-kind sketch columns — pairwise
    group comparisons become a plain self-join over the sketch table."""
    def fn(a, b):
        return getattr(a, method)(cls.from_bytes(bytes(b)))
    return _per_blob(fn, null, cls.from_bytes)


def _read_points(reader):
    """(scalar, array) bodies for one point read-out: ``reader(sk)`` is
    the sketch's read-out method, or None for a non-quantile blob. The
    array form deserializes each blob once for a whole row of points.
    Per-point columns add no Arrow round trip: Spark evaluates every
    pandas UDF column of one projection in a single ArrowEvalPython
    node, so each extra column only ships and deserializes the blob
    again (five ``sketch_quantile`` columns vs one ``sketch_quantiles``
    over 50 KLL k=200 blobs: 0.42 s vs 0.37 s, median of 5 on 4
    cores)."""
    def many(sk, xs):
        fn = reader(sk)
        return None if fn is None else [float(fn(float(x))) for x in xs]

    def one(sk, x):
        vals = many(sk, [x])
        return None if vals is None else vals[0]
    return one, many


def _estimate(sk) -> float:
    """HLL/Bloom/theta/samples: distinct estimate; CMS and count
    sketch: total; quantile sketches and FD: total weight."""
    if isinstance(sk, (HyperLogLog, BloomFilter, ThetaSketch,
                       BottomKSample, WeightedBottomKSample)):
        return float(sk.estimate())
    if isinstance(sk, (CountMinSketch, CountSketch)):
        return float(sk.total)
    return float(sk.total_weight() if hasattr(sk, "total_weight") else sk.n)


def _cms_count(sk, key) -> int:
    """Point frequency estimate — CMS (overestimate-only) or count
    sketch (unbiased, signed) blobs."""
    if not isinstance(sk, (CountMinSketch, CountSketch)):
        raise TypeError(
            f"cms_count needs a frequency sketch, got {type(sk).__name__}")
    return int(sk.query_batch([key])[0])


def _make_udfs() -> dict:
    def sketch_merge(blob_lists: pd.Series) -> pd.Series:
        """Merge an array<binary> of sketch blobs into one blob — the
        SQL-side rollup aggregation, used as
        ``sketch_merge(collect_list(sketch))`` under GROUP BY. Blobs are
        merged in sorted-bytes order so the result is deterministic even
        for the lossy quantile sketches despite collect_list's
        nondeterministic ordering (lattice sketches are order-free
        anyway). Scale note: collect_list materializes one group's blobs
        in a single task — fine for sketch tables (<= #groups rows,
        fixed-size states); the wide-fan-in path is
        ``build.rollup_sketches`` (partition-wise fold). A NULL array,
        an empty one or one of only NULLs gives NULL."""
        out = []
        for lst in blob_lists:
            blobs = sorted(bytes(b) for b in lst if b is not None) \
                if lst is not None else []
            out.append(merge_blobs(blobs).to_bytes() if blobs else None)
        return pd.Series(out, dtype=object)

    quantile, quantiles = _read_points(
        lambda sk: getattr(sk, "quantile", None))
    # rank/CDF read-out: estimated fraction of values <= x (KLL via
    # rank(), t-digest via cdf()) — the inverse of sketch_quantile
    cdf, cdfs = _read_points(
        lambda sk: getattr(sk, "cdf", None) or getattr(sk, "rank", None))
    bodies = {
        "sketch_estimate": (_per_blob(_estimate), "double"),
        "bloom_contains": (_per_blob(
            lambda bf, k: bool(bf.contains_batch([k])[0]), False,
            BloomFilter.from_bytes), "boolean"),
        "cms_count": (_per_blob(_cms_count, 0), "long"),
        "sketch_quantile": (_per_blob(quantile), "double"),
        "sketch_cdf": (_per_blob(cdf), "double"),
        "sketch_quantiles": (_per_blob(quantiles, None), "array<double>"),
        "sketch_cdfs": (_per_blob(cdfs, None), "array<double>"),
        # equi-join size from two CMS blobs over the two sides' join
        # keys (inner product of frequency vectors; overestimate-only)
        "cms_join_size": (_pair(CountMinSketch, "inner_product", 0), "long"),
        # top-k squared singular values of a frequent-directions blob,
        # each within the sketch's spectral error bound
        "fd_spectrum": (_per_blob(
            lambda fd, k: [float(v) for v in fd.top_directions(int(k))[0]],
            None, FrequentDirections.from_bytes), "array<double>"),
        "sketch_merge": (sketch_merge, "binary"),
        # retained payloads of a (weighted) bottom-k sample as
        # array<string> (utf-8, lossy for non-text payloads):
        # explode(sample_values(sketch)) turns a sample table into rows
        "sample_values": (_per_blob(
            lambda sk: [p.decode("utf-8", "replace") for p in sk.sample()]
            if hasattr(sk, "sample") else None, None), "array<string>"),
        # weights aligned with sample_values, for importance-reweighting
        "sample_weights": (_per_blob(
            lambda sk: sk.sample_weights()
            if isinstance(sk, WeightedBottomKSample) else None, None),
            "array<double>"),
        "theta_intersect": (_pair(ThetaSketch, "intersect_estimate"),
                            "double"),
        "theta_difference": (_pair(ThetaSketch, "difference_estimate"),
                             "double"),
        "theta_jaccard": (_pair(ThetaSketch, "jaccard_estimate"), "double"),
        # HLL set algebra via inclusion-exclusion over register-max
        # unions (VLDB 2018 inclusion-coefficient technique) on
        # already-stored per-group HLL tables; for small intersections
        # prefer the theta functions (error scales with the
        # intersection itself there)
        "hll_union": (_pair(HyperLogLog, "union_estimate"), "double"),
        "hll_intersect": (_pair(HyperLogLog, "intersect_estimate"), "double"),
        "hll_inclusion": (_pair(HyperLogLog, "inclusion_coefficient"),
                          "double"),
    }
    udfs = {}
    for name, (body, rtype) in bodies.items():
        body.__name__ = body.__qualname__ = name  # the column name
        udfs[name] = pandas_udf(body, rtype)
    return udfs


def register_sql_functions(spark: SparkSession) -> dict:
    """Register all sketch SQL functions; returns the udf objects for
    DataFrame-API use."""
    udfs = _make_udfs()
    for name, udf in udfs.items():
        spark.udf.register(name, udf)
    return udfs
