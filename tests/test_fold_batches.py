"""Batch-shape differential tests for the partition-wise merge fold
and the partial builds, and exact-key tests for both.

The fold streams consecutive groups out of Arrow batches, so a group
can start in one batch and end in another. Every merge that runs on
it (flat, multi-level and narrow ``merge_partials``, ``rollup_sketches``,
``incremental_update``) must give the same bytes at
``spark.sql.execution.arrow.maxRecordsPerBatch`` 1 and 7 as at the
default, on input with a null group key. The merge inputs are
materialized at the default batch size first, so only the fold sees
the small batches; the KLL and t-digest states make any change in fold
order visible. The heavy hitters partial build and the Bloom
validation probe keep per-group state across batches, so they are run
at the same batch sizes.
"""

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from sketchlib.core.bloom import BloomFilter
from sketchlib.io.fixtures import generate_pages
from sketchlib.spark.build import (build_partials, build_sketches,
                                   incremental_update, merge_partials,
                                   rollup_sketches)
from sketchlib.spark.heavyhitters import cms_heavy_hitters
from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.validate import bloom_validate, collect_sketches

SPECS = [SketchSpec("k", "kll", "hlen", {"k": 16}),
         SketchSpec("t", "tdigest", "hlen", {"delta": 15}),
         SketchSpec("h", "hll", "url", {"b": 8})]
GROUPS = ["lang", "bucket"]
BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    """3000 pages rows over 3 parquet files, with a null ``lang`` group
    and ``words``, a short text of a 7-word vocabulary."""
    tbl = generate_pages(3000, seed=7)
    out = tmp_path_factory.mktemp("fold_batches_pages")
    n = tbl.num_rows // 3
    for i in range(3):
        pq.write_table(tbl.slice(i * n, n), str(out / f"part-{i}.parquet"),
                       row_group_size=400)
    pages = (spark.read.parquet(str(out))
             .select(F.when(F.length("url") % 6 == 0, None)
                     .otherwise(F.col("lang")).alias("lang"),
                     (F.length("text") % 3).alias("bucket"),
                     F.length("html").cast("double").alias("hlen"), "url",
                     F.concat_ws(" ", (F.length("url") % 7).cast("string"),
                                 (F.length("text") % 5).cast("string"))
                     .alias("words")))
    assert pages.rdd.getNumPartitions() > 1
    return pages


@pytest.fixture(scope="module")
def inputs(spark, pages, tmp_path_factory):
    """(partials, sketch table, delta) — the first two written out at
    the default batch size. The delta holds one row per group, so its
    own partial build is the same at any batch size."""
    out = tmp_path_factory.mktemp("fold_batches")
    build_partials(pages, GROUPS, SPECS).write.parquet(str(out / "partials"))
    partials = spark.read.parquet(str(out / "partials"))
    merge_partials(partials, GROUPS).write.parquet(str(out / "table"))
    table = spark.read.parquet(str(out / "table"))
    delta = pages.groupBy(*GROUPS).agg(F.min("hlen").alias("hlen"),
                                       F.min("url").alias("url"))
    return partials, table, delta


CASES = {
    "flat": lambda p, t, d: merge_partials(p, GROUPS, fanout=None),
    "tree": lambda p, t, d: merge_partials(p, GROUPS, fanout=[3, 2]),
    "narrow": lambda p, t, d: merge_partials(p.coalesce(1), GROUPS,
                                             fanout=None),
    "rollup": lambda p, t, d: rollup_sketches(t, GROUPS, ["lang"]),
    "incremental": lambda p, t, d: incremental_update(t, d, GROUPS, SPECS,
                                                      fanout=None),
}


def _blobs(df) -> dict:
    rows = df.collect()
    keys = [c for c in df.columns if c in (*GROUPS, "sketch_name")]
    out = {tuple(r[c] for c in keys): bytes(r["sketch"]) for r in rows}
    assert len(out) == len(rows)  # one row per group
    assert any(k[0] is None for k in out)  # the null lang group
    return out


@pytest.fixture(scope="module")
def at_default(inputs):
    return {name: _blobs(case(*inputs)) for name, case in CASES.items()}


@pytest.mark.parametrize("records", ["1", "7"])
@pytest.mark.parametrize("name", list(CASES))
def test_fold_bytes_independent_of_batch_size(spark, inputs, at_default,
                                              name, records):
    old = spark.conf.get(BATCH)
    spark.conf.set(BATCH, records)
    try:
        got = _blobs(CASES[name](*inputs))
    finally:
        spark.conf.set(BATCH, old)
    assert got == at_default[name]


# 2^53+1 and 2^53 are one float64: a nullable bigint key must never
# pass through pandas. One partition, so one Arrow batch holds them all.
BIG_ROWS = [(1, 2**53 + 1, "u1"), (1, 2**53 + 1, "u2"), (1, None, "u3"),
            (1, 2**53, "u4"), (2, 2**53, "u5")]


def _group_counts(rows, cols, count="n_rows") -> list:
    return sorted(((tuple(r[c] for c in cols), r[count]) for r in rows),
                  key=repr)


def test_fold_keeps_key_values_exact(spark):
    """Group keys leave the build and the fold as the Arrow values Spark
    sent, not as Python objects converted back: a timestamp under a
    non-UTC session time zone, a decimal, a date, a bigint above 2^53
    and a nullable bigint holding 2^53+1, 2^53 and null in one Arrow
    batch come out equal to a plain groupBy's keys."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rows = [(i % 3 if i % 7 else None, f"2024-01-0{1 + i % 3}",
                 f"2024-01-01 0{i % 4}:00:00", 2**53 + 1 + i % 2,
                 f"{i % 5}.25", f"u{i}") for i in range(120)]
        df = (spark.createDataFrame(
                  rows, "a int, d string, t string, big long, dec string, "
                  "url string")
              .selectExpr("a", "CAST(d AS DATE) d", "CAST(t AS TIMESTAMP) t",
                          "big", "CAST(dec AS DECIMAL(10,2)) dec", "url")
              .repartition(3))
        keys = ["a", "d", "t", "big", "dec"]
        nullable_big = spark.createDataFrame(
            BIG_ROWS, "a int, nbig long, url string").coalesce(1)
        spec = [SketchSpec("h", "hll", "url", {"b": 8})]
        table = build_sketches(df, keys, spec, fanout=None)
        nb_table = build_sketches(nullable_big, ["a", "nbig"], spec,
                                  fanout=None)
        for src, cols, out in [
                (df, keys, table),
                (df, ["t", "dec", "big"],
                 rollup_sketches(table, keys, ["t", "dec", "big"])),
                (nullable_big, ["a", "nbig"], nb_table),
                (nullable_big, ["nbig"],
                 rollup_sketches(nb_table, ["a", "nbig"], ["nbig"]))]:
            assert _group_counts(out.collect(), cols) == _group_counts(
                src.groupBy(*cols).count().collect(), cols, "count")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_heavy_hitters_and_validation_keep_bigint_keys_exact(spark):
    """``cms_heavy_hitters`` and ``bloom_validate`` group a nullable
    bigint key holding 2^53+1, 2^53 and null in one Arrow batch into
    groupBy's groups, with groupBy's row counts."""
    df = spark.createDataFrame(
        BIG_ROWS, "a int, nbig long, url string").coalesce(1) \
        .withColumn("text", F.lit("x"))
    want = dict(_group_counts(df.groupBy("nbig").count().collect(),
                              ["nbig"], "count"))
    hh = cms_heavy_hitters(df, ["nbig"], "text", k=1).collect()
    assert {(r["nbig"],): r["est_cnt"] for r in hh} == want
    filters = {}
    for key, url in [(r["nbig"], r["url"]) for r in df.collect()]:
        filters.setdefault(key, BloomFilter(1 << 12, 3)).update_batch([url])
    got = bloom_validate(df, filters, ["nbig"], "url", 0.01).collect()
    assert {(r["nbig"],): r["n_keys"] for r in got} == want
    assert all(r["false_negatives"] == 0 for r in got)


@pytest.mark.parametrize("records", ["1", "7"])
def test_partial_builds_independent_of_batch_size(spark, pages, records):
    """The heavy hitters partial build and the Bloom validation probe
    group rows inside each Arrow batch and carry a group's state across
    batches: at ``maxRecordsPerBatch`` 1 and 7 they give the default
    run's results, null ``lang`` group included."""
    filters = collect_sketches(
        build_sketches(pages, ["lang"], [SketchSpec(
            "b", "bloom", "url", {"m": 1 << 14, "k": 4})]), ["lang"], "b")
    assert None in filters

    def run():
        hh = cms_heavy_hitters(pages, ["lang"], "words", k=3).collect()
        val = bloom_validate(pages, filters, ["lang"], "url", 0.01).collect()
        return (sorted(((r["lang"], r["rnk"], r["token"], r["est_cnt"])
                        for r in hh), key=repr),
                sorted(((r["lang"], r["n_keys"], r["false_negatives"],
                         r["probes"], r["false_positives"]) for r in val),
                       key=repr))

    want = run()
    assert any(r[0] is None for r in want[0])
    old = spark.conf.get(BATCH)
    spark.conf.set(BATCH, records)
    try:
        assert run() == want
    finally:
        spark.conf.set(BATCH, old)
