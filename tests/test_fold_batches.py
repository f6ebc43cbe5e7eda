"""Batch-shape differential test for the partition-wise merge fold.

The fold streams consecutive groups out of Arrow batches, so a group
can start in one batch and end in another. Every merge that runs on
it (flat, multi-level and narrow ``merge_partials``, ``rollup_sketches``,
``incremental_update``) must give the same bytes at
``spark.sql.execution.arrow.maxRecordsPerBatch`` 1 and 7 as at the
default, on input with a null group key. The merge inputs are
materialized at the default batch size first, so only the fold sees
the small batches; the KLL and t-digest states make any change in fold
order visible.
"""

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from sketchlib.io.fixtures import generate_pages
from sketchlib.spark.build import (build_partials, build_sketches,
                                   incremental_update, merge_partials,
                                   rollup_sketches)
from sketchlib.spark.specs import SketchSpec

SPECS = [SketchSpec("k", "kll", "hlen", {"k": 16}),
         SketchSpec("t", "tdigest", "hlen", {"delta": 15}),
         SketchSpec("h", "hll", "url", {"b": 8})]
GROUPS = ["lang", "bucket"]
BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """(partials, sketch table, delta) — the first two written out at
    the default batch size. The delta holds one row per group, so its
    own partial build is the same at any batch size."""
    tbl = generate_pages(3000, seed=7)
    out = tmp_path_factory.mktemp("fold_batches")
    n = tbl.num_rows // 3
    for i in range(3):
        pq.write_table(tbl.slice(i * n, n), str(out / f"part-{i}.parquet"),
                       row_group_size=400)
    pages = (spark.read.parquet(str(out))
             .select(F.when(F.length("url") % 6 == 0, None)
                     .otherwise(F.col("lang")).alias("lang"),
                     (F.length("text") % 3).alias("bucket"),
                     F.length("html").cast("double").alias("hlen"), "url"))
    assert pages.rdd.getNumPartitions() > 1
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


def test_fold_keeps_key_values_exact(spark):
    """Group keys leave the fold as the Arrow values Spark sent, not as
    Python objects converted back: a timestamp under a non-UTC session
    time zone, a decimal, a date and a bigint above 2^53 come out
    equal to a plain groupBy's keys."""
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
        table = build_sketches(df, keys,
                               [SketchSpec("h", "hll", "url", {"b": 8})],
                               fanout=None)
        for cols, out in [(keys, table),
                          (["t", "dec", "big"],
                           rollup_sketches(table, keys, ["t", "dec", "big"]))]:
            got = sorted(((tuple(r[c] for c in cols), r["n_rows"])
                          for r in out.collect()), key=repr)
            want = sorted(((tuple(r[c] for c in cols), r["count"])
                           for r in df.groupBy(*cols).count().collect()),
                          key=repr)
            assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
