"""Stages 1+2: calibration and distributed sketch build.

Reproduces the reference's dataflow (/root/reference/spark/main.py:
stage 1 count-per-class :100-137, stage 2 partition-local build +
OR-merge :139-164) with the Spark-native architecture from SURVEY.md §4:

  1. ``calibrate``      — exact `groupBy().count()` (Catalyst partial
                          aggregation; the only full-row shuffle-free scan).
  2. ``build_partials`` — ``mapInArrow`` over *input partitions*: one
                          partial sketch per (group, spec) per partition.
                          Raw rows NEVER shuffle (the reference's
                          `groupByKey` at main.py:146 shuffles every row —
                          its known skew trap, SURVEY.md G1). Only
                          fixed-size sketch states cross the wire.
  3. ``merge_partials`` — merge of the partials per (group, spec);
                          optional multi-level (salted) fan-in for very
                          wide clusters, treeAggregate-style.

One loop serves every partial build: ``build_groups`` groups each
Arrow batch with ``arrow_groups`` (exact keys: a bigint never passes
through float64), keeps one state per group and flushes them as
partial rows. ``build_partials``, the heavy hitters partial build and
the join-key Bloom use it; ``bloom_validate``'s probe groups with
``arrow_groups`` too.

One fold serves every merge here: ``fold_groups`` repartitions by the
group keys, sorts each partition by the keys and then the caller's own
merge order, and streams consecutive groups through ONE ``mapInArrow``
task per partition into ``serde.merge_blobs``. Each merge-tree level,
the narrow single-partition fold (the same fold without the
repartition), ``rollup_sketches``, ``incremental_update`` and the heavy
hitters merge use it; the collect-and-fold ``build_sketches_local``
calls ``merge_blobs`` in the same (partition_id, chunk) order. Every
sketch-table row is built by ``_group_row`` under the one
``_sketch_table_schema``.

At 100 TB: the shuffle volume is (#input_partitions × #groups ×
sketch_bytes) regardless of row count — the property that makes the
reference's design scale, preserved verbatim.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pa_compute
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType,
                               _parse_datatype_string)

from sketchlib.core.cms import CountMinSketch
from sketchlib.core.sample import WeightedBottomKSample
from sketchlib.core.countsketch import CountSketch
from sketchlib.core.params import bloom_params
from sketchlib.core.serde import merge_blobs
from sketchlib.spark.specs import SketchSpec


def calibrate(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Stage 1: exact per-group counts (n). Catalyst does partial agg."""
    return df.groupBy(*group_cols).agg(F.count("*").alias("n"))


def task_partition_id() -> int:
    """Current task's input partition id, or -1 when called off-task
    (driver-side tests). The -1 sentinel participates in
    ``merge_partials``' (partition_id, chunk) sort contract — every
    partial-producing kernel must use THIS helper so the sentinel can
    never drift between producers."""
    from pyspark import TaskContext
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else -1


def bloom_params_by_group(calib: DataFrame, p: float) -> dict:
    """Driver-side (m, k) per group from collected calibration counts.

    Mirrors /root/reference/spark/main.py:117-125 (collect n per class,
    derive m per class, one k) — bounded by #groups, never by #rows.
    """
    rows = calib.collect()
    out = {}
    for r in rows:
        vals = r.asDict()
        n = vals.pop("n")
        key = tuple(vals.values())
        if len(key) == 1:
            key = key[0]
        m, k = bloom_params(n, p)
        out[key] = {"m": m, "k": k}
    return out


def _group_fields(df: DataFrame, group_cols: list[str]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [StructField(c, by_name[c].dataType, True) for c in group_cols]


def _partials_schema(df: DataFrame, group_cols: list[str]) -> StructType:
    return StructType(_group_fields(df, group_cols) + [
        StructField("sketch_name", StringType(), False),
        StructField("partial", BinaryType(), False),
        StructField("n_rows", LongType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("chunk", IntegerType(), False),
    ])


def tokens_arrow(col: pd.Series) -> "pa.Array":
    """Arrow-native tokenizer: drop nulls, split on single space, drop
    empty tokens — identical semantics to the old pandas
    split/explode path and the DuckDB oracles (parity-tested), but the
    split/flatten/filter runs in Arrow C++ with no per-token Python
    objects: measured 6.3x faster on the pages corpus, where
    tokenization was 95% of the CMS build stage.

    Non-string columns coerce via pandas astype(str) — Python str()
    semantics (1.0 -> '1.0'), matching the old path, Spark's CAST AS
    STRING, and the oracles; an arrow float->string cast would yield
    '1' and silently change token identity."""
    col = col.dropna()
    try:
        arr = pa.array(col, type=pa.large_string())
    except (pa.ArrowTypeError, pa.ArrowInvalid, pa.ArrowNotImplementedError):
        # non-string / mixed batch: coerce per-element like the old
        # pandas path (Python str() semantics: 1.0 -> '1.0')
        arr = pa.array(col.astype(str), type=pa.large_string())
    toks = pa_compute.list_flatten(pa_compute.split_pattern(arr, " "))
    return toks.filter(pa_compute.not_equal(toks, ""))


def update_from_token_counts(freq_sketch, tracker, col: pd.Series) -> bool:
    """Tokenize + value_counts + weighted frequency-sketch update, with
    an optional SpaceSaving-style tracker — the one token-feed shared
    by heavy hitters and its streaming twin (so the two cannot drift).
    Returns False when the batch had no tokens."""
    toks = tokens_arrow(col)
    if not len(toks):
        return False
    vc = pa_compute.value_counts(toks)
    counts = vc.field("counts").to_numpy()
    freq_sketch.update_batch(vc.field("values"), counts)
    if tracker is not None:
        tracker.add_batch(vc.field("values").to_pylist(), counts)
    return True


def _values_for(spec: SketchSpec, sub: pd.DataFrame):
    col = sub[spec.value_col]
    if spec.tokenize:
        return tokens_arrow(col)
    if spec.numeric:
        return col.to_numpy(dtype=np.float64, na_value=np.nan)
    return col.dropna()


def _feed(spec: SketchSpec, sketch, sub: pd.DataFrame,
          vcache: dict | None = None) -> None:
    """Feed one pandas sub-frame into a sketch per its spec (tokenize /
    numeric / weighted dispatch) — the single update path shared by the
    batch build and both streaming builds, so semantics cannot drift.

    ``vcache`` memoizes extracted value columns across specs sharing a
    (value_col, tokenize, numeric) triple within one sub-frame.
    """
    if spec.weight_col is not None:  # cms/countsketch/wsample
        vals = sub[spec.value_col]
        w = pd.to_numeric(sub[spec.weight_col], errors="coerce")
        if isinstance(sketch, WeightedBottomKSample):
            # positive-float weights; the kernel applies the shared
            # null rules (null key / NaN weight drop the row) and
            # raises on non-positive weights
            sketch.update_batch(vals, w.to_numpy(np.float64))
            return
        mask = (vals.notna() & w.notna()).to_numpy()
        if mask.any():
            wf = w[mask].to_numpy(np.float64)
            wi = np.rint(wf)
            # fractions are a caller bug, not something to round away
            # quietly; negative weights would decrement CMS cells and
            # silently void its overestimate-only guarantee — but are
            # legitimate deletes for the SIGNED count sketch
            if not np.array_equal(wi, wf):
                raise ValueError(
                    f"weight_col {spec.weight_col!r} must hold "
                    "integral weights (counts)")
            if (wi < 0).any() and isinstance(sketch, CountMinSketch):
                raise ValueError(
                    f"weight_col {spec.weight_col!r} has negative "
                    "weights — CMS counters are overestimate-only; "
                    "use kind='countsketch' for delete streams")
            sketch.update_batch(vals[mask], wi.astype(np.int64))
        return
    vk = (spec.value_col, spec.tokenize, spec.numeric)
    vals = vcache.get(vk) if vcache is not None else None
    if vals is None:
        vals = _values_for(spec, sub)
        if vcache is not None:
            vcache[vk] = vals
    if not len(vals):
        return
    if spec.tokenize and isinstance(sketch, (CountMinSketch, CountSketch)):
        # weighted update over unique tokens: hashes the batch
        # vocabulary, not every occurrence
        vc = pa_compute.value_counts(vals)
        sketch.update_batch(vc.field("values"),
                            vc.field("counts").to_numpy())
    else:
        sketch.update_batch(vals)


_NAN = float("nan")  # the one Python key of every NaN group


def _py_key(v):
    """One group key value as Python, as ``collect()`` returns it, but
    every NaN is the one ``_NAN`` (so equal keys compare and hash
    equal) and a zoned timestamp is its naive wall time, as pandas
    UDFs saw it."""
    if v != v:
        return _NAN
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def arrow_groups(batch: pa.RecordBatch, keys: list[str]) -> list:
    """``[(key, rows)]``, one entry per group of ``batch`` by its
    ``keys`` columns, in order of first appearance: ``rows`` holds the
    group's row positions in batch order, ``key`` the tuple of its
    ``_py_key`` values. Groups are found on the Arrow values, so
    bigints and decimals stay exact; as in Spark's ``groupBy``, null
    is one group, every NaN is one group and -0.0 groups with 0.0. The
    one definition of "same group" for the partial builds, the Bloom
    validation probe and the merge fold."""
    if not batch.num_rows:
        return []
    ids = np.zeros(batch.num_rows, np.int64)
    for k in keys:
        col = batch.column(k)
        if pa.types.is_floating(col.type):  # one bit pattern per group
            col = pa_compute.if_else(pa_compute.is_nan(col), np.nan,
                                     pa_compute.add(col, 0.0))
        codes = pa_compute.dictionary_encode(
            col, null_encoding="encode").indices.to_numpy()
        ids = np.unique(ids * (int(codes.max()) + 1) + codes,
                        return_inverse=True)[1]
    order = np.argsort(ids, kind="stable")
    groups = sorted(np.split(order, np.flatnonzero(np.diff(ids[order])) + 1),
                    key=lambda rows: rows[0])
    firsts = [rows[0] for rows in groups]
    cols = [batch.column(k).take(firsts).to_pylist() for k in keys]
    return [(tuple(_py_key(col[i]) for col in cols), rows)
            for i, rows in enumerate(groups)]


def _rows_batch(done: list, schema: pa.Schema) -> pa.RecordBatch:
    """One output batch of ``schema`` from ``done``: [(a group's key
    row, its output rows)]. Each output row is a dict of the non-key
    columns; its key columns, those of the one-row key ``RecordBatch``,
    are copied from the key row as Arrow values, never through Python
    objects, so timestamps, decimals and bigints come out exactly as
    they went in, with the type Spark sent them (a timestamp carries
    the session time zone)."""
    key_schema = done[0][0].schema
    fields, cols = [], []
    for f in schema:
        if f.name in key_schema.names:
            f = f.with_type(key_schema.field(f.name).type)
            cols.append(pa.concat_arrays(
                [key.column(f.name) for key, rows in done for _ in rows]))
        else:  # from_pandas: a NaN read-out becomes SQL NULL
            cols.append(pa.array(
                [r[f.name] for _, rows in done for r in rows],
                type=f.type, from_pandas=True))
        fields.append(f)
    return pa.RecordBatch.from_arrays(cols, schema=pa.schema(fields))


def build_groups(df: DataFrame, keys: list[str], value_cols: list[str],
                 start, feed, emit, schema: StructType,
                 max_groups_in_flight: int | None = None) -> DataFrame:
    """The one partial-build loop: ONE ``mapInArrow`` task per input
    partition keeps a state per group of ``keys`` and emits the states
    as rows of ``schema``. Raw rows never shuffle.

    ``arrow_groups`` splits each Arrow batch into groups;
    ``start(key)`` makes a group's state when the group first appears,
    and ``feed(state, rows)`` updates it with the group's rows of
    ``value_cols`` as a pandas frame (converted once per batch).
    ``emit(state, chunk)`` returns the group's output rows as dicts of
    the non-key columns; ``_rows_batch`` copies the key columns from
    the group's first row as Arrow values.

    ``max_groups_in_flight`` (default env SKETCHLIB_MAX_GROUPS_IN_FLIGHT
    or 8192) bounds task memory on HIGH-CARDINALITY keys: when a task
    holds that many group states it FLUSHES them and starts fresh with
    ``chunk`` one higher, so memory is O(max_groups x state_bytes)
    instead of O(#groups-in-partition x state_bytes). The check runs
    per group, not per batch, so one wide Arrow batch cannot blow past
    the bound; groups arrive in first-appearance order, so chunk
    boundaries are deterministic.
    """
    if max_groups_in_flight is None:
        max_groups_in_flight = int(os.environ.get(
            "SKETCHLIB_MAX_GROUPS_IN_FLIGHT", "8192"))
    if max_groups_in_flight < 1:
        raise ValueError("max_groups_in_flight must be >= 1")
    arrow_schema = to_arrow_schema(schema)

    def sketch_partials(batches: Iterator[pa.RecordBatch]):
        acc: dict = {}  # key -> (the group's key row, its state)
        chunk = 0

        def flush() -> pa.RecordBatch:
            return _rows_batch([(key_row, emit(state, chunk))
                                for key_row, state in acc.values()],
                               arrow_schema)

        for batch in batches:
            groups = arrow_groups(batch, keys)
            if not groups:
                continue
            # one take puts each group's rows together, so a group's
            # frame is a slice
            pdf = batch.select(value_cols).take(
                np.concatenate([rows for _, rows in groups])).to_pandas()
            end = 0
            for key, rows in groups:
                slot = acc.get(key)
                if slot is None:
                    # take copies the key row, which must not pin the batch
                    slot = acc[key] = (batch.select(keys).take([rows[0]]),
                                       start(key))
                end += len(rows)
                feed(slot[1], pdf.iloc[end - len(rows):end])
                if len(acc) >= max_groups_in_flight:
                    yield flush()
                    acc.clear()
                    chunk += 1
        if acc:
            yield flush()

    return df.mapInArrow(sketch_partials, schema)


def build_partials(df: DataFrame, group_cols: list[str],
                   specs: list[SketchSpec],
                   max_groups_in_flight: int | None = None) -> DataFrame:
    """Stage 2a: one partial sketch per (input partition, group, spec),
    through ``build_groups``.

    Column-prunes to exactly the needed columns before the Python
    boundary so the parquet scan reads only those (ReadSchema check).

    ``max_groups_in_flight`` bounds task memory on high-cardinality
    group keys (see ``build_groups``); each flush tags its partial rows
    with an increasing ``chunk``. Flushed chunks are just more
    partials: lattice kernels merge back bitwise-identical to the
    unflushed build; the lossy quantile kernels get one more merge
    boundary — the same effect the partition split already has — and
    stay deterministic because the merge totally orders partial rows
    by (partition_id, chunk).
    """
    if not specs:
        raise ValueError("at least one SketchSpec required")
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names: {names}")
    value_cols = sorted({s.value_col for s in specs}
                        | {s.weight_col for s in specs if s.weight_col})
    # a group col can be sketched
    sel = df.select(*group_cols, *[c for c in value_cols
                                   if c not in group_cols])

    def start(key):
        return [[spec.make(key) for spec in specs], 0]  # sketches, n_rows

    def feed(state, rows: pd.DataFrame):
        # extract each distinct (value_col, tokenize, numeric) once per
        # group — specs often share a column (e.g. a Bloom and an HLL
        # over url)
        vcache: dict = {}
        for spec, sketch in zip(specs, state[0]):
            _feed(spec, sketch, rows, vcache)
        state[1] += len(rows)

    def emit(state, chunk: int) -> list:
        pid = task_partition_id()
        return [{"sketch_name": spec.name, "partial": sketch.to_bytes(),
                 "n_rows": state[1], "partition_id": pid, "chunk": chunk}
                for spec, sketch in zip(specs, state[0])]

    return build_groups(sel, group_cols, value_cols, start, feed, emit,
                        _partials_schema(df, group_cols),
                        max_groups_in_flight)


def _sketch_table_schema(df: DataFrame, group_cols: list[str],
                         readout: list | None = None) -> StructType:
    """The sketch-table output schema: (group_cols..., sketch_name,
    sketch, n_rows, n_partials), then one nullable column per fused
    ``readout`` entry."""
    return StructType(_group_fields(df, group_cols) + [
        StructField("sketch_name", StringType(), False),
        StructField("sketch", BinaryType(), False),
        StructField("n_rows", LongType(), False),
        StructField("n_partials", LongType(), False),
    ] + [StructField(col, _parse_datatype_string(dtype), True)
         for col, dtype, _fn in readout or ()])


def _group_row(keys: list[str], group: pa.Table, blob_col: str = "sketch",
               readout: list | None = None, context=None) -> dict:
    """One sketch-table row (``fold_groups`` adds the key columns) from
    one group's rows, which arrive already sorted into the caller's
    merge order: the folded blob, summed n_rows and n_partials (a
    partial row counts as one), and each ``readout``
    ``fn(sketch_name, sketch)`` run on the merged sketch.
    ``context(key)`` gives the group's merge-error prefix."""
    key = tuple(group.column(k)[0].as_py() for k in keys)
    sk = merge_blobs(group.column(blob_col).to_pylist(),
                     context and context(key))
    n_partials = (pa_compute.sum(group.column("n_partials")).as_py()
                  if "n_partials" in group.column_names else group.num_rows)
    return {"sketch": sk.to_bytes(),
            "n_rows": pa_compute.sum(group.column("n_rows")).as_py(),
            "n_partials": n_partials,
            **{col: fn(key[-1], sk) for col, _dtype, fn in readout or ()}}


def fold_groups(df: DataFrame, keys: list[str], order: list, row_fn,
                schema: StructType, shuffle: bool = True) -> DataFrame:
    """The one partition-wise fold behind every sketch merge.

    ``repartition(keys)`` brings each group's rows into one partition
    and ``sortWithinPartitions(keys, order)`` makes them consecutive, in
    the caller's merge ``order`` (column names or sort expressions).
    ONE ``mapInArrow`` task per partition then streams the groups,
    which ``arrow_groups`` finds in each batch: ``row_fn(group)`` gets
    one group's rows as a ``pyarrow.Table`` and returns its output rows
    as dicts of the non-key columns; ``_rows_batch`` copies each row's
    key columns from the group's first row as Arrow values. Only one
    group is held at a time, even when it spans Arrow batches, as with
    a per-group ``applyInPandas``, but the Python boundary is crossed
    once per partition instead of once per group. ``shuffle=False``
    folds each partition as it stands, which is complete only when
    every group already lives in one partition.
    """
    if shuffle:
        df = df.repartition(*keys)
    df = df.sortWithinPartitions(*keys, *order)
    arrow_schema = to_arrow_schema(schema)

    def fold(parts: list) -> tuple:
        return (parts[0].select(keys).slice(0, 1),
                row_fn(pa.Table.from_batches(parts)))

    def sketch_fold(batches: Iterator[pa.RecordBatch]):
        open_key, parts = None, []  # the open group's key and row runs
        for batch in batches:
            done = []
            for key, rows in arrow_groups(batch, keys):
                if parts and key != open_key:
                    done.append(fold(parts))
                    parts = []
                # the sort makes each group one run of rows
                open_key = key
                parts.append(batch.slice(int(rows[0]), len(rows)))
            if any(rows for _, rows in done):
                yield _rows_batch(done, arrow_schema)
        if parts:
            done = [fold(parts)]
            if done[0][1]:
                yield _rows_batch(done, arrow_schema)

    return df.mapInArrow(sketch_fold, schema)


def merge_partials(partials: DataFrame, group_cols: list[str],
                   fanout: int | str | list[int] | None = None,
                   allow_narrow: bool = True,
                   readout: list | None = None) -> DataFrame:
    """Stage 2b: hierarchical merge of partial sketches per (group, spec).

    ``fanout=S`` inserts one salted pre-merge level (treeAggregate
    depth-2): partials first merge within (group, partition_id % S)
    buckets, then across buckets. ``fanout=[b1, b2, ...]`` is the
    general MULTI-LEVEL tree — bucket counts per salt level, each
    followed by a final cross-bucket fold — bounding every task's
    fan-in AND its input bytes even when the merged state is much
    larger than a partial (a skewed group's Bloom densifies after the
    first level: one more cheap level caps the big-blob fan-in where a
    depth-2 tree must choose which side to bound). ``fanout="auto"``
    sizes the plan from the partials' partition count (resolved HERE
    so every caller — including the checkpointed build — accepts it).
    Partials are merged in (partition_id, chunk) order — a total order
    over a group's partial rows even when the memory-bounded flush
    split a partition into chunks; bucket indices become the next
    level's partition_id, so the fold order is deterministic
    run-to-run at every level for the lossy quantile sketches too.

    ``readout=[(col, dtype, fn), ...]`` fuses estimate extraction into
    the FINAL merge task: each ``fn(sketch_name, sketch)`` runs right
    after the fold, appending a value column to the output row — no
    separate python-eval read-out stage (one fewer Arrow round-trip;
    the round-4 gap vs percentile_approx was exactly these boundaries,
    BENCH/builtin_compare.py). The merged blob column still ships, so
    the result stays persistable and mergeable.
    """
    # nparts is needed to resolve "auto" and to detect the narrow
    # single-partition case; an explicit multi-level fanout needs
    # neither, so skip the DataFrame->RDD plan conversion then
    nparts = None
    if fanout == "auto":
        nparts = partials.rdd.getNumPartitions()
        fanout = _auto_fanout(nparts)
    out_schema = _sketch_table_schema(partials, group_cols, readout)
    keys = [*group_cols, "sketch_name"]
    order = ["partition_id", "chunk"]

    plan = list(fanout) if isinstance(fanout, (list, tuple)) else \
        ([int(fanout)] if fanout and fanout > 1 else [])
    if not plan and nparts is None:
        nparts = partials.rdd.getNumPartitions()

    level = partials
    if plan:
        mid_schema = _partials_schema(partials, group_cols).add(
            "n_partials", LongType(), False)

        def level_row(group):
            # bucket index becomes next level's partition_id: the fold
            # order at every level is then a pure function of the tree
            # shape, not of task scheduling
            row = _group_row(keys, group, "partial")
            return [{**row, "partial": row["sketch"], "chunk": 0,
                     "partition_id": group.column("salt")[0].as_py()}]

        for buckets in plan:
            salted = level.withColumn(
                "salt", F.pmod(F.col("partition_id"), F.lit(int(buckets))))
            level = fold_groups(salted, [*keys, "salt"], order, level_row,
                                mid_schema)
    # a single input partition already holds every partial row of a
    # (group, spec), so the final fold runs NARROW there: no Exchange,
    # no extra stage wave, pipelined with the partial build in the same
    # task (measurably faster on small inputs, where shuffle stage
    # latency dominates). Memory is the same as the shuffled fold: the
    # sort may spill, and the fold holds one group's rows at a time.
    # What the narrow fold gives up is parallelism, so callers whose
    # one partition holds many groups (a large checkpoint store read
    # back) pass allow_narrow=False to spread them over tasks.
    return fold_groups(
        level, keys, order,
        lambda group: [_group_row(keys, group, "partial", readout)],
        out_schema, shuffle=not (nparts == 1 and not plan and allow_narrow))


def rollup_sketches(sketches: DataFrame, from_cols: list[str],
                    to_cols: list[str],
                    readout: list | None = None) -> DataFrame:
    """Roll a sketch table keyed by ``from_cols`` up to ``to_cols`` by
    MERGING the stored states — no rebuild from raw rows.

    This is the other half of the mergeability contract the reference's
    ``reduceByKey(|)`` embodies (/root/reference/spark/main.py:150): a
    (lang, day) HLL table rolls up to per-lang distinct estimates by
    register-max alone. For the lattice sketches (bloom/hll/cms/theta)
    the rolled-up state is bitwise-identical to one built directly at
    the coarser key; for the lossy quantile sketches (kll/tdigest) the
    result is a valid merged sketch (deterministic here: blobs merge in
    sorted dropped-key order) whose error bound still holds.

    Input must have the ``build_sketches`` output shape
    (from_cols..., sketch_name, sketch, n_rows, n_partials).
    ``readout=[(col, dtype, fn), ...]`` appends estimate columns
    extracted inside the rollup's own merge task (same contract as
    ``merge_partials``): rolled-up read-outs with zero extra stages.
    SQL equivalent (registered by ``register_sql_functions``):
    ``SELECT to_cols, sketch_merge(collect_list(sketch)) ... GROUP BY``.
    """
    missing = [c for c in to_cols if c not in from_cols]
    if missing:
        raise ValueError(f"to_cols {missing} not in from_cols {from_cols}")
    dropped = [c for c in from_cols if c not in to_cols]
    keys = [*to_cols, "sketch_name"]

    def row(group):
        # e.g. per-group Bloom params: each fine group has its own
        # (m, k), so states across the dropped key cannot merge
        return [_group_row(keys, group, readout=readout, context=lambda key: (
            f"cannot roll up group {key}: states across the dropped "
            f"key(s) {dropped} have incompatible params; rollup "
            "requires params uniform over the dropped keys "
            "(HLL/CMS/theta/KLL/t-digest with fixed params qualify; "
            "per-group-calibrated Bloom does not)"))]

    # fold order: the dropped keys ascending, nulls last
    return fold_groups(sketches, keys,
                       [F.col(c).asc_nulls_last() for c in dropped], row,
                       _sketch_table_schema(sketches, to_cols, readout))


def build_sketches(df: DataFrame, group_cols: list[str],
                   specs: list[SketchSpec],
                   fanout: int | str | None = "auto",
                   readout: list | None = None) -> DataFrame:
    """Full stage-2: partial build then hierarchical merge.

    ``fanout="auto"`` (default) is resolved inside ``merge_partials``
    (see ``_auto_fanout``): single fold up to 64 partials per group,
    else a multi-level salt plan bounding every merge task's fan-in
    AND input bytes; a single-partition input merges in a narrow
    no-Exchange fold.

    Returns one row per (group, sketch_name):
    (group_cols..., sketch_name, sketch binary, n_rows, n_partials).
    """
    return merge_partials(build_partials(df, group_cols, specs),
                          group_cols, fanout=fanout, readout=readout)


def build_sketches_local(df: DataFrame, group_cols: list[str],
                         specs: list[SketchSpec]) -> dict:
    """ONE-python-stage build for interactive read-outs: build partials
    distributed, collect the ≤ #partitions × #groups × #specs
    fixed-size blobs, fold driver-side in (partition_id, chunk) order
    — bitwise-identical to ``merge_partials`` (same total order), but
    without the merge shuffle and its second python-eval stage. This
    closes the read-out latency gap to JVM-native aggregates
    (BENCH/builtin_compare.py: KLL median read-out 0.35s -> 0.20s vs
    percentile_approx 0.19s at sf0.1/local[32]).

    Returns {(group_key..., sketch_name): sketch object}; single group
    col keys collapse to (value, sketch_name). Use ONLY when
    #groups × #partitions is driver-small (interactive estimates,
    validation loops); the persisted/mergeable path at 10^12 rows
    stays ``build_sketches``, whose merge runs on executors.
    """
    from collections import defaultdict
    parts = build_partials(df, group_cols, specs) \
        .select(*group_cols, "sketch_name", "partition_id", "chunk",
                "partial").collect()
    groups = defaultdict(list)
    for r in parts:
        key = tuple(r[c] for c in group_cols) + (r["sketch_name"],)
        groups[key].append((r["partition_id"], r["chunk"], r["partial"]))
    # (partition_id, chunk) is unique within a group, so the tuple sort
    # is the merge tree's fold order
    return {key: merge_blobs(blob for _pid, _chunk, blob in sorted(lst))
            for key, lst in groups.items()}


def _auto_fanout(parts: int) -> list[int] | None:
    """Merge-tree plan from the partial count (per-group fan-in ==
    #partitions): single fold up to 64 partials/group; above that, a
    multi-level plan whose FIRST level caps fan-in at 16 (inputs are
    small sparse partials — spread the deserialize work) and whose
    later levels cap fan-in at 4 (inputs are merged, often densified,
    blobs — bound the straggler's input BYTES, which a two-level
    sqrt(parts) tree cannot once merged-state >> partial-state; the
    skew bench BENCH/skew.py measures the difference). Depth is
    O(log parts): 257 -> [17, 5], 10k -> [625, 157, 40, 10, 3]."""
    if parts <= 64:
        return None
    plan = [int(np.ceil(parts / 16))]
    while plan[-1] > 6:
        plan.append(int(np.ceil(plan[-1] / 4)))
    return plan


def incremental_update(sketch_table: DataFrame, new_df: DataFrame,
                       group_cols: list[str], specs: list[SketchSpec],
                       fanout: int | str | None = "auto",
                       readout: list | None = None) -> DataFrame:
    """Fold NEW rows into an existing sketch table — the daily-append
    maintenance op mergeability buys: sketch only the delta, merge with
    the stored states, never re-read the base corpus.

    For lattice kernels the result is bitwise-identical to a full
    rebuild over base+delta (test-enforced); for the lossy quantile
    kernels it is a valid merged state within bounds. Groups appearing
    only in the delta (a new lang/day) pass through from the delta
    build; groups untouched by the delta pass through unchanged from
    the stored table.

    specs must match the ones that built ``sketch_table`` (same kinds
    and params — kernel merge validates and refuses mismatches).

    Plan shape: one partial build over the DELTA only + a merge whose
    input is (stored_states + delta_state) per group — the base data
    is never scanned. At 10^12 base rows and a 10^9-row daily delta,
    that is the difference between a job and an outage.
    """
    delta = build_sketches(new_df, group_cols, specs, fanout=fanout)
    keys = [*group_cols, "sketch_name"]
    both = (sketch_table.select(*keys, "sketch", "n_rows", "n_partials")
            .unionByName(delta.select(*keys, "sketch", "n_rows",
                                      "n_partials")))

    def row(group):
        # same fused-extraction contract as merge_partials(readout=):
        # estimate columns come out of the update's own merge task
        return [_group_row(keys, group, readout=readout, context=lambda key: (
            f"cannot update group {key}: the stored state and the "
            "delta build have incompatible params — pass the same "
            "specs that built the sketch table"))]

    # deterministic merge order for the lossy kernels: base first
    # (larger n_rows), then delta. Ties on n_rows (equal base/delta
    # sizes, repeated updates) need a content-based secondary key — the
    # blob bytes — to make the fold a total order independent of
    # arrival order.
    return fold_groups(
        both, keys, [F.desc("n_rows"), F.asc("sketch")], row,
        _sketch_table_schema(sketch_table, group_cols, readout))
