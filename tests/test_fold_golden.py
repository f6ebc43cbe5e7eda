"""Golden bytes for the lossy sketch folds.

KLL and t-digest merges are order-sensitive, so every fold site keeps a
fixed merge order: (partition_id, chunk) for the merge tree and the
collect-and-fold local build, the dropped keys for rollup, (n_rows desc, blob
bytes) for incremental update, sorted bytes for SQL ``sketch_merge``.
These digests pin the exact bytes each path produces on a fixed-seed
pages frame, so a refactor of the fold cannot silently change an order.
"""

import hashlib

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from sketchlib.io.fixtures import generate_pages
from sketchlib.spark.build import (build_sketches, build_sketches_local,
                                   incremental_update, rollup_sketches)
from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.sqlfuncs import register_sql_functions

SPECS = [SketchSpec("k", "kll", "hlen", {"k": 16}),
         SketchSpec("t", "tdigest", "hlen", {"delta": 15})]
GROUPS = ["lang", "bucket"]

GOLDEN = {
    "merge_fanout_none":
        "65adb3ad2d9d9246ec2fba03e638a91de016aac041c1d3a3f9d095ab8f71b937",
    "merge_fanout_3_2":
        "8d31cda2fe9dcef61110f75014296e525c3211e921175bc500b60717fe9221c3",
    "merge_narrow":
        "29c4e31f145b442e268850e777635ac651727fc67d07c2ef2f9ff28f3ce7dd2a",
    "rollup":
        "a498493155644467b1d58a8535826dc5c439939eafea36eeb038b01cc1a3d775",
    "incremental":
        "3eb2129c063e16918b59e9b3e880251fbff73c0759212463ee5b6b284716a5f1",
    "local":
        "65adb3ad2d9d9246ec2fba03e638a91de016aac041c1d3a3f9d095ab8f71b937",
    "sql_sketch_merge":
        "744fdb0eb2eb543870b416fb4aa245e7120e6136333f3b694c503b926dbe8d4b",
}


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    """6000 seeded pages rows over 4 parquet files with small row
    groups: a multi-partition scan whose split layout is a function of
    the files alone."""
    tbl = generate_pages(6000, seed=11)
    out = tmp_path_factory.mktemp("golden_pages")
    n = tbl.num_rows // 4
    for i in range(4):
        pq.write_table(tbl.slice(i * n, n), str(out / f"part-{i}.parquet"),
                       row_group_size=500)
    return (spark.read.parquet(str(out))
            .select("lang", (F.length("text") % 5).alias("bucket"),
                    F.length("html").cast("double").alias("hlen"),
                    (F.length("url") % 3).alias("half")))


def _digest(items) -> str:
    """SHA-256 over (key, blob) pairs in key order."""
    h = hashlib.sha256()
    for key, blob in sorted(items, key=lambda kv: repr(kv[0])):
        h.update(repr(key).encode())
        h.update(bytes(blob))
    return h.hexdigest()


def _table_digest(df, keys) -> str:
    return _digest((tuple(r[c] for c in keys), r["sketch"])
                   for r in df.collect())


def _check(name, got):
    assert got == GOLDEN[name], (name, got)


def test_merge_partials_fanout_none(pages):
    assert pages.rdd.getNumPartitions() > 1
    _check("merge_fanout_none", _table_digest(
        build_sketches(pages, GROUPS, SPECS, fanout=None),
        [*GROUPS, "sketch_name"]))


def test_merge_partials_fanout_tree(pages):
    _check("merge_fanout_3_2", _table_digest(
        build_sketches(pages, GROUPS, SPECS, fanout=[3, 2]),
        [*GROUPS, "sketch_name"]))


def test_merge_partials_narrow(pages):
    _check("merge_narrow", _table_digest(
        build_sketches(pages.coalesce(1), GROUPS, SPECS, fanout=None),
        [*GROUPS, "sketch_name"]))


def test_rollup(pages):
    fine = build_sketches(pages, GROUPS, SPECS, fanout=None)
    _check("rollup", _table_digest(
        rollup_sketches(fine, GROUPS, ["lang"]), ["lang", "sketch_name"]))


def test_incremental_update(pages):
    base = build_sketches(pages.filter("half = 0"), GROUPS, SPECS,
                          fanout=None)
    _check("incremental", _table_digest(
        incremental_update(base, pages.filter("half != 0"), GROUPS, SPECS,
                           fanout=None),
        [*GROUPS, "sketch_name"]))


def test_build_sketches_local(pages):
    _check("local", _digest(
        (key, sk.to_bytes())
        for key, sk in build_sketches_local(pages, GROUPS, SPECS).items()))


def test_sql_sketch_merge(spark, pages):
    udfs = register_sql_functions(spark)
    fine = build_sketches(pages, GROUPS, SPECS, fanout=None)
    merged = (fine.groupBy("lang", "sketch_name")
              .agg(udfs["sketch_merge"](F.collect_list("sketch"))
                   .alias("sketch")))
    _check("sql_sketch_merge", _table_digest(merged, ["lang", "sketch_name"]))
