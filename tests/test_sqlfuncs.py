"""SQL surface over sketch tables."""

import pyspark.sql.functions as F
import pytest

from sketchlib.spark.build import build_sketches
from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.sqlfuncs import register_sql_functions


@pytest.fixture(scope="module")
def sketch_view(spark, pages_tiny):
    df = build_sketches(
        pages_tiny.withColumn("hlen", F.length("html").cast("double")),
        ["lang"],
        [SketchSpec("url_hll", "hll", "url", {"b": 12}),
         SketchSpec("url_bloom", "bloom", "url", {"m": 1 << 16, "k": 6}),
         SketchSpec("len_kll", "kll", "hlen", {"k": 200})])
    df.createOrReplaceTempView("sketches")
    register_sql_functions(spark)
    return df


def test_sql_estimate(spark, pages_tiny, sketch_view):
    rows = spark.sql(
        "SELECT lang, sketch_estimate(sketch) AS est FROM sketches "
        "WHERE sketch_name = 'url_hll'").collect()
    exact = {r["lang"]: r["n"] for r in
             pages_tiny.groupBy("lang").agg(F.countDistinct("url").alias("n")).collect()}
    assert len(rows) == 10
    for r in rows:
        assert abs(r["est"] - exact[r["lang"]]) / exact[r["lang"]] < 0.1


def test_sql_bloom_contains(spark, pages_tiny, sketch_view):
    some = pages_tiny.filter("lang = 'en'").select("url").first()["url"]
    rows = spark.sql(
        f"SELECT lang, bloom_contains(sketch, '{some}') AS hit FROM sketches "
        "WHERE sketch_name = 'url_bloom'").collect()
    hits = {r["lang"]: r["hit"] for r in rows}
    assert hits["en"] is True


def test_sql_quantile(spark, sketch_view):
    rows = spark.sql(
        "SELECT lang, sketch_quantile(sketch, 0.5) AS p50 FROM sketches "
        "WHERE sketch_name = 'len_kll'").collect()
    assert len(rows) == 10
    assert all(r["p50"] > 0 for r in rows)


def test_sql_cdf_matches_exact_share(spark, pages_tiny, sketch_view):
    """sketch_cdf vs the exact share of pages at/under the per-lang
    median length: both should say ~0.5 within KLL rank error."""
    med = {r["lang"]: r["m"] for r in
           pages_tiny.groupBy("lang")
           .agg(F.expr("percentile(length(html), 0.5)").alias("m")).collect()}
    rows = spark.sql(
        "SELECT lang, sketch FROM sketches WHERE sketch_name = 'len_kll'"
    ).collect()
    from sketchlib.spark.sqlfuncs import register_sql_functions
    import pandas as pd
    udf_backed = register_sql_functions(spark)
    for r in rows:
        got = spark.sql(
            f"SELECT sketch_cdf(sketch, {med[r['lang']]}) AS c FROM sketches "
            f"WHERE sketch_name = 'len_kll' AND lang = '{r['lang']}'"
        ).first()["c"]
        assert abs(got - 0.5) < 0.05, (r["lang"], got)


def test_sql_cdf_and_quantile_null_for_non_quantile_sketch(spark, sketch_view):
    """Mixed sketch tables: rank/quantile read-outs over non-quantile
    blobs yield NULL (SQL semantics), not a task-killing exception."""
    r = spark.sql("SELECT sketch_cdf(sketch, 1.0) AS c, "
                  "sketch_quantile(sketch, 0.5) AS q FROM sketches "
                  "WHERE sketch_name = 'url_hll'").first()
    assert r["c"] is None and r["q"] is None


def test_sql_multipoint_quantiles_match_scalar(spark, sketch_view):
    """sketch_quantiles/sketch_cdfs (array-in/array-out, ONE python
    boundary) must agree element-wise with the scalar UDFs."""
    rows = spark.sql(
        "SELECT lang, "
        "sketch_quantiles(sketch, array(0.25D, 0.5D, 0.9D)) AS qs, "
        "sketch_quantile(sketch, 0.25) AS q25, "
        "sketch_quantile(sketch, 0.5) AS q50, "
        "sketch_quantile(sketch, 0.9) AS q90, "
        "sketch_cdfs(sketch, array(500D, 1000D)) AS cs, "
        "sketch_cdf(sketch, 500) AS c500, "
        "sketch_cdf(sketch, 1000) AS c1000 "
        "FROM sketches WHERE sketch_name = 'len_kll'").collect()
    assert rows
    for r in rows:
        assert r["qs"] == [r["q25"], r["q50"], r["q90"]], r
        assert r["cs"] == [r["c500"], r["c1000"]], r


def test_sql_multipoint_null_for_non_quantile_sketch(spark, sketch_view):
    r = spark.sql("SELECT sketch_quantiles(sketch, array(0.5D)) AS q, "
                  "sketch_cdfs(sketch, array(1.0D)) AS c FROM sketches "
                  "WHERE sketch_name = 'url_hll'").first()
    assert r["q"] is None and r["c"] is None


def _contract_sketches():
    """One small sketch of each kind the SQL functions read."""
    import numpy as np
    from sketchlib.core.bloom import BloomFilter
    from sketchlib.core.cms import CountMinSketch
    from sketchlib.core.fd import FrequentDirections
    from sketchlib.core.hll import HyperLogLog
    from sketchlib.core.kll import KLL
    from sketchlib.core.sample import BottomKSample, WeightedBottomKSample
    from sketchlib.core.theta import ThetaSketch
    keys = ["a", "b", "c"]
    return {
        "hll": HyperLogLog(b=4).update_batch(keys),
        "bloom": BloomFilter(64, 3).update_batch(keys),
        "cms": CountMinSketch(16, 2).update_batch(keys),
        "kll": KLL(k=8).update_batch(np.array([1.0, 2.0, 3.0])),
        "fd": FrequentDirections(l=2).update_batch([[1.0, 0.0], [0.0, 2.0]]),
        "theta": ThetaSketch(k=16).update_batch(keys),
        "sample": BottomKSample(k=4).update_batch(keys),
        "wsample": WeightedBottomKSample(k=4).update_batch(
            keys, np.array([1.0, 2.0, 3.0])),
    }


# name -> (blob kind, extra arguments as [(SQL type, value or a sketch
# kind)], result on a NULL blob or NULL/NaN argument, kind of a
# mismatched blob, result on it: a value, or the exception it raises)
_CONTRACT = {
    "sketch_estimate": ("hll", [], None, "fd", 2.0),
    "bloom_contains": ("bloom", [("string", "a")], False, "hll",
                       ValueError),
    "cms_count": ("cms", [("string", "a")], 0, "hll", TypeError),
    "sketch_quantile": ("kll", [("double", 0.5)], None, "hll", None),
    "sketch_cdf": ("kll", [("double", 2.0)], None, "hll", None),
    "sketch_quantiles": ("kll", [("array<double>", [0.5])], None, "hll",
                         None),
    "sketch_cdfs": ("kll", [("array<double>", [2.0])], None, "hll", None),
    "cms_join_size": ("cms", [("binary", "cms")], 0, "hll", ValueError),
    "fd_spectrum": ("fd", [("int", 1)], None, "hll", ValueError),
    "sample_values": ("sample", [], None, "hll", None),
    "sample_weights": ("wsample", [], None, "sample", None),
    "theta_intersect": ("theta", [("binary", "theta")], None, "hll",
                        ValueError),
    "theta_difference": ("theta", [("binary", "theta")], None, "hll",
                         ValueError),
    "theta_jaccard": ("theta", [("binary", "theta")], None, "hll",
                      ValueError),
    "hll_union": ("hll", [("binary", "hll")], None, "theta", ValueError),
    "hll_intersect": ("hll", [("binary", "hll")], None, "theta",
                      ValueError),
    "hll_inclusion": ("hll", [("binary", "hll")], None, "theta",
                      ValueError),
}


def _registered_names():
    """Every registered SQL function name, without a session (the
    parametrize list is built at collection time)."""
    return sorted([*_CONTRACT, "sketch_merge"])


def _collect_one_batch(spark, udf, schema, rows):
    """Run ``udf`` over ``rows`` in ONE Arrow batch (nulls and values
    mixed, as in a scanned table); results in row order."""
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], f"i int, {schema}").coalesce(1)
    cols = [c for c in df.columns if c != "i"]
    got = {r["i"]: r["v"] for r in
           df.select("i", udf(*cols).alias("v")).collect()}
    return [got[i] for i in range(len(rows))]


@pytest.mark.parametrize("name", _registered_names())
def test_null_and_mismatched_kind_contract(spark, name):
    """Each SQL function's answer to a NULL blob, a NULL/NaN argument
    and a blob of the wrong kind. ``bloom_contains`` answers False and
    ``cms_count``/``cms_join_size`` answer 0 on NULL input, never NULL;
    the others answer NULL."""
    udfs = register_sql_functions(spark)
    assert sorted(udfs) == _registered_names()
    sk = _contract_sketches()
    blob = {k: s.to_bytes() for k, s in sk.items()}
    udf = udfs[name]
    if name == "sketch_merge":
        schema = "lst array<binary>"
        # an array holding only NULL, then a NULL array
        assert _collect_one_batch(spark, udf, schema,
                                  [([None],), (None,)]) == [None, None]
        with pytest.raises(Exception, match="AttributeError"):
            _collect_one_batch(spark, udf, schema,
                               [([blob["hll"], blob["kll"]],)])
        return
    kind, args, null, bad_kind, bad = _CONTRACT[name]
    schema = ", ".join(["b binary"] + [f"a{j} {t}"
                                       for j, (t, _v) in enumerate(args)])
    vals = [blob[v] if t == "binary" else v for t, v in args]
    rows = [(None, *vals)]
    if args:
        # the blob is valid here; only the argument is NULL (NaN for the
        # numeric ones once nulls share a batch with values)
        rows.append((blob[kind], *[None] * len(args)))
    assert _collect_one_batch(spark, udf, schema, rows) == [null] * len(rows)
    if isinstance(bad, type):
        with pytest.raises(Exception, match=bad.__name__):
            _collect_one_batch(spark, udf, schema, [(blob[bad_kind], *vals)])
    else:
        assert _collect_one_batch(spark, udf, schema,
                                  [(blob[bad_kind], *vals)]) == [bad]
