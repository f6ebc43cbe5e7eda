"""Structured Streaming: incremental sketch maintenance per group.

The reference is batch-only; this is the natural Spark extension the
UDAF contract enables (SURVEY.md §2.6): sketch states are mergeable and
serializable, so they drop into ``applyInPandasWithState`` as-is —
each micro-batch updates the per-group state sketch and emits the
refreshed estimate row.

Note the execution-model tradeoff: stateful streaming hash-partitions
raw rows by group (that is what keyed state means), unlike the batch
build's partial-per-partition path. Skewed groups therefore need the
salting module upstream (key by (group, salt) and merge the salted
states downstream) — same lattice merges make that sound.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BinaryType, LongType, StringType, StructField,
                               StructType)

from sketchlib.core.serde import sketch_from_bytes
from sketchlib.spark.build import _feed, _group_fields
from sketchlib.spark.specs import SketchSpec


def _restore_feed_update(state, specs, gkey, pdfs):
    """Shared stateful core of streaming_build and
    streaming_windowed_build: restore per-group sketch states, feed
    the micro-batch through the one _feed path, persist — so state
    layout and feed semantics cannot drift between the two."""
    if state.exists:
        stored = state.get
        sketches = [sketch_from_bytes(bytes(b)) for b in stored[:-1]]
        n_rows = int(stored[-1])
    else:
        sketches = [spec.make(gkey) for spec in specs]
        n_rows = 0
    for pdf in pdfs:
        vcache: dict = {}
        for si, spec in enumerate(specs):
            _feed(spec, sketches[si], pdf, vcache)
        n_rows += len(pdf)
    blobs = [sk.to_bytes() for sk in sketches]
    state.update(tuple(blobs) + (n_rows,))
    return blobs, n_rows


def streaming_build(stream_df: DataFrame, group_cols: list[str],
                    specs: list[SketchSpec]) -> DataFrame:
    """Continuously-maintained sketch table over a stream.

    Emits one row per (group, spec) per micro-batch that touched the
    group: (group_cols..., sketch_name, sketch, n_rows) where ``sketch``
    is the full serialized state (checkpointable, mergeable with batch-
    built sketches of the same params).
    """
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names: {names}")
    n_groups = len(group_cols)
    out_schema = StructType(_group_fields(stream_df, group_cols) + [
        StructField("sketch_name", StringType(), False),
        StructField("sketch", BinaryType(), False),
        StructField("n_rows", LongType(), False),
    ])
    state_schema = StructType(
        [StructField(f"s{i}", BinaryType(), True) for i in range(len(specs))]
        + [StructField("n_rows", LongType(), True)])

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        gkey = key if n_groups > 1 else key[0]
        blobs, n_rows = _restore_feed_update(state, specs, gkey, pdfs)
        kt = key
        yield pd.DataFrame({
            **{c: [kt[i]] * len(specs) for i, c in enumerate(group_cols)},
            "sketch_name": names,
            "sketch": blobs,
            "n_rows": [n_rows] * len(specs),
        })

    return (stream_df.groupBy(*group_cols)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def streaming_heavy_hitters(stream_df: DataFrame, group_cols: list[str],
                            text_col: str, k: int = 10,
                            capacity: int = 256, w: int = 16384, d: int = 5,
                            seed: int = 0) -> DataFrame:
    """Continuously-maintained top-k tokens per group — the streaming
    twin of ``heavyhitters.cms_heavy_hitters``.

    State per group = one conservative-update CMS (counts) + one
    SpaceSaving summary (candidate retention with the freq > N/capacity
    guarantee), both carried across micro-batches. Each update emits the
    group's refreshed top-k: (group_cols..., token, est_cnt, rnk).

    Same skew note as streaming_build: keyed state hash-partitions raw
    rows by group; salt upstream for giant groups.
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType
    from sketchlib.core.cms import CountMinSketch
    from sketchlib.spark.build import update_from_token_counts
    from sketchlib.spark.heavyhitters import SpaceSaving, topk_from_cms

    out_schema = StructType(_group_fields(stream_df, group_cols) + [
        StructField("token", StringType(), False),
        StructField("est_cnt", LongType(), False),
        StructField("rnk", IntegerType(), False),
    ])
    state_schema = StructType([
        StructField("cms", BinaryType(), True),
        StructField("toks", ArrayType(StringType()), True),
        StructField("cnts", ArrayType(LongType()), True),
        StructField("errs", ArrayType(LongType()), True),
    ])

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            cms_b, toks, cnts, errs = state.get
            cms = sketch_from_bytes(bytes(cms_b))
            ss = SpaceSaving.from_state(capacity, toks, cnts, errs)
        else:
            cms = CountMinSketch(w, d, seed, conservative=True)
            ss = SpaceSaving(capacity)
        for pdf in pdfs:
            update_from_token_counts(cms, ss, pdf[text_col])
        toks, cnts, errs = ss.to_state()
        state.update((cms.to_bytes(), toks, cnts, errs))
        top_toks, top_ests = topk_from_cms(cms, toks, k)
        if not top_toks:
            return
        yield pd.DataFrame({
            **{c: [key[i]] * len(top_toks) for i, c in enumerate(group_cols)},
            "token": top_toks,
            "est_cnt": top_ests,
            "rnk": np.arange(1, len(top_toks) + 1, dtype=np.int32),
        })

    sel_cols = [*group_cols] + ([text_col] if text_col not in group_cols
                                else [])
    return (stream_df.select(*sel_cols).groupBy(*group_cols)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def streaming_dedup(stream_df: DataFrame, key_col: str,
                    n_expected: int, p: float = 0.001,
                    shards: int = 64, seed: int = 0) -> DataFrame:
    """Bounded-memory streaming dedup: emit each key's FIRST row only.

    Spark's own ``stream.dropDuplicates([key])`` keeps every key ever
    seen in state — unbounded on an unbounded stream. This keeps a
    Bloom filter per shard instead: state is a fixed
    ``shards x m/8`` bytes sized from (n_expected, p), forever.

    Semantics: NO duplicate is ever emitted twice (Bloom has no false
    negatives once a key is inserted); the price is that a genuinely
    new key is falsely dropped at rate <= p (a Bloom false positive
    reads as "seen before"). For training-data dedup that tradeoff is
    the right direction — losing ~0.1% of unique docs is noise, while
    unbounded state is an outage. NULL-key rows are DROPPED entirely
    (never emitted) — deliberate divergence from dropDuplicates,
    which emits the first null row: a null dedup key means the
    upstream extractor failed, and such rows are quarantine input,
    not corpus.

    Sharding: rows hash-partition by ``xxhash64(key) % shards``
    (JVM-side), so each shard's filter covers a disjoint key slice and
    state load spreads across executors. Size ``shards`` >= cluster
    cores; m is derived per shard from n_expected/shards.
    """
    import pyspark.sql.functions as F
    from sketchlib.core.bloom import BloomFilter
    from sketchlib.core.params import bloom_params

    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    m, k = bloom_params(max(int(n_expected // shards), 1), p)
    out_cols = stream_df.columns
    out_schema = stream_df.schema
    state_schema = StructType([StructField("bloom", BinaryType(), True),
                               StructField("n_seen", LongType(), True)])
    src = stream_df.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col(key_col).cast("string")),
                         F.lit(shards)))

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob, n_seen = state.get
            bf = BloomFilter.from_bytes(bytes(blob))
            n_seen = int(n_seen)
        else:
            bf = BloomFilter(m, k, seed)
            n_seen = 0
        for pdf in pdfs:
            keys = pdf[key_col]
            fresh = (keys.notna()
                     & ~keys.duplicated(keep="first")).to_numpy()
            if fresh.any():
                fresh[fresh] = ~bf.contains_batch(keys[fresh])
            if fresh.any():
                bf.update_batch(keys[fresh])
                n_seen += int(fresh.sum())
                yield pdf.loc[fresh, out_cols]
        state.update((bf.to_bytes(), n_seen))

    return (src.groupBy("_shard")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def streaming_windowed_build(stream_df: DataFrame, ts_col: str,
                             group_cols: list[str], specs: list[SketchSpec],
                             window: str = "1 day",
                             watermark: str = "1 hour") -> DataFrame:
    """Event-time tumbling-window sketches with late-data handling.

    ``withWatermark`` bounds state and drops rows later than
    ``watermark``; a state timeout at (window_end + watermark) emits the
    window's final sketch row (is_final=true) and evicts its state —
    the Structured-Streaming-native version of closing a day's
    per-group sketch.

    Output per update: (win_start, win_end, group_cols..., sketch_name,
    sketch, n_rows, is_final).
    """
    import pyspark.sql.functions as F
    from pyspark.sql.types import BooleanType, TimestampType

    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names: {names}")
    src = (stream_df.withWatermark(ts_col, watermark)
           .withColumn("_win", F.window(ts_col, window))
           .withColumn("win_start", F.col("_win.start"))
           .withColumn("win_end", F.col("_win.end"))
           # epoch ms computed JVM-side: the pandas key timestamps are
           # session-tz-naive and .timestamp() would misread them as UTC
           .withColumn("win_end_ms", F.unix_millis(F.col("win_end")))
           .drop("_win"))
    keys = ["win_start", "win_end", "win_end_ms", *group_cols]
    out_schema = StructType(
        [StructField("win_start", TimestampType(), False),
         StructField("win_end", TimestampType(), False)]
        + _group_fields(stream_df, group_cols) + [
            StructField("sketch_name", StringType(), False),
            StructField("sketch", BinaryType(), False),
            StructField("n_rows", LongType(), False),
            StructField("is_final", BooleanType(), False),
        ])
    state_schema = StructType(
        [StructField(f"s{i}", BinaryType(), True) for i in range(len(specs))]
        + [StructField("n_rows", LongType(), True)])
    n_extra = 3  # win_start, win_end, win_end_ms prefix in the key

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        gkey_vals = key[n_extra:]
        gkey = gkey_vals if len(gkey_vals) > 1 else gkey_vals[0]
        if state.hasTimedOut:
            stored = state.get
            blobs = [bytes(b) for b in stored[:-1]]
            n_rows = int(stored[-1])
            state.remove()
            yield pd.DataFrame({
                "win_start": [key[0]] * len(specs),
                "win_end": [key[1]] * len(specs),
                **{c: [gkey_vals[i]] * len(specs)
                   for i, c in enumerate(group_cols)},
                "sketch_name": names,
                "sketch": blobs,
                "n_rows": [n_rows] * len(specs),
                "is_final": [True] * len(specs),
            })
            return
        blobs, n_rows = _restore_feed_update(state, specs, gkey, pdfs)
        # close the window once the watermark passes its end; if this
        # batch itself advanced the watermark beyond the window end the
        # raw value would be rejected — clamp so the timeout fires on
        # the next batch instead
        state.setTimeoutTimestamp(max(int(key[2]),
                                      state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame({
            "win_start": [key[0]] * len(specs),
            "win_end": [key[1]] * len(specs),
            **{c: [gkey_vals[i]] * len(specs)
               for i, c in enumerate(group_cols)},
            "sketch_name": names,
            "sketch": blobs,
            "n_rows": [n_rows] * len(specs),
            "is_final": [False] * len(specs),
        })

    return (src.groupBy(*keys)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.EventTimeTimeout))


class SketchTableSink:
    """foreachBatch sink maintaining a PERSISTED sketch table —
    streaming's version of ``build.incremental_update``: each
    micro-batch sketches ONLY its delta rows and merges them with the
    stored per-group states; the base corpus is never re-scanned.

    Exactly-once across restarts: each fold writes a new versioned
    table ``<path>/v=<batch_id>`` and then commits it by writing a
    ``_COMMIT`` marker INSIDE that version dir (written and read
    through the Hadoop FileSystem API, write-temp then rename, so
    hdfs:// s3a:// work like file://; the leading underscore keeps
    parquet readers from seeing it as data). Nothing is ever
    overwritten, so there is no delete-then-write window: the current
    state is simply the highest-numbered version whose marker reads
    back as valid JSON. Structured Streaming replays the in-flight
    micro-batch after a crash; a replayed ``batch_id <= latest`` is a
    no-op, and a version dir without a readable marker (crash before
    or during the commit) is invisible dead weight. Old versions
    beyond ``keep_versions`` are pruned through the Hadoop FileSystem
    API (any scheme).

    For lattice kernels the maintained table is bitwise-identical to
    a batch rebuild over everything streamed so far (test-enforced);
    the reference's whole pipeline becomes a continuously-maintained
    table instead of a nightly job.
    """

    def __init__(self, spark, path: str, group_cols: list[str],
                 specs: list[SketchSpec], fanout="auto",
                 keep_versions: int = 2):
        self.spark = spark
        self.path = path.rstrip("/")
        self.group_cols = list(group_cols)
        self.specs = list(specs)
        self.fanout = fanout
        self.keep_versions = max(1, int(keep_versions))

    # -- committed-version resolution --------------------------------
    def _fs(self):
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(self.path)
        return jvm, jpath.getFileSystem(
            self.spark._jsc.hadoopConfiguration())

    def _versions(self) -> list[int]:
        """Version ids present on disk (committed or not), ascending."""
        jvm, fs = self._fs()
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        if not fs.exists(root):
            return []
        out = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("v="):
                try:
                    out.append(int(name[2:]))
                except ValueError:
                    pass
        return sorted(out)

    def _marker_text(self, v: int) -> str | None:
        """Raw _COMMIT contents for version ``v`` via the Hadoop
        FileSystem API directly — None when the marker is absent
        (never committed); raises on any other IO failure. Reading
        through ``spark.read.text().collect()`` cost a full Spark job
        per marker (measured seconds per micro-batch once the session
        is Arrow-degraded — see OPTIMIZATION_r06.md); the FS read is
        milliseconds and scheme-agnostic the same way. Accepts both
        marker shapes: the pre-r6 Spark-written DIRECTORY of text
        part files and the r6 single FILE."""
        jvm, fs = self._fs()
        p = jvm.org.apache.hadoop.fs.Path(f"{self.path}/v={v}/_COMMIT")
        if not fs.exists(p):
            return None  # never committed

        def read_one(path) -> str:
            stream = fs.open(path)
            try:
                return bytes(stream.readAllBytes()).decode("utf-8")
            finally:
                stream.close()

        if fs.getFileStatus(p).isDirectory():
            parts = [s.getPath() for s in fs.listStatus(p)
                     if s.getPath().getName().startswith("part-")]
            return "".join(read_one(pp) for pp in sorted(
                parts, key=lambda pp: pp.getName()))
        return read_one(p)

    def latest(self) -> dict | None:
        """Highest version whose _COMMIT marker reads back as valid
        JSON. An ABSENT or CORRUPT marker means the version never
        committed (crash before or mid-commit) and is skipped; any
        OTHER read error (throttling, network, permissions) RAISES —
        treating a transient IO failure as "uncommitted" would fall
        back to a stale base and silently drop committed batches."""
        import json
        for v in reversed(self._versions()):
            text = self._marker_text(v)
            if text is None:
                continue  # never committed
            try:
                doc = json.loads(text)
            except ValueError:
                continue  # crash mid-marker-write: not committed
            if int(doc.get("batch_id", -1)) == v:
                return doc
        return None

    def read_table(self) -> DataFrame | None:
        man = self.latest()
        if man is None:
            return None
        return self.spark.read.parquet(man["path"])

    # -- the foreachBatch hook ---------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        import json
        from sketchlib.spark.build import build_sketches, incremental_update
        man = self.latest()
        if man is not None and int(batch_id) == int(man["batch_id"]):
            return  # post-crash replay of the one in-flight batch
        if man is not None and int(batch_id) < int(man["batch_id"]):
            # Structured Streaming ids are monotonic within one
            # checkpoint dir; a LOWER id means the query restarted
            # with a fresh/cleared checkpointLocation. Silently
            # skipping would freeze the table forever — refuse so the
            # operator points the fresh query at a new table path (or
            # removes the old table deliberately).
            raise ValueError(
                f"micro-batch id {int(batch_id)} is behind the "
                f"committed {int(man['batch_id'])} — the streaming "
                "checkpoint was reset; use a fresh table path")
        if batch_df.isEmpty():
            return  # empty trigger: nothing to fold, keep the version
        if man is None:
            updated = build_sketches(batch_df, self.group_cols,
                                     self.specs, fanout=self.fanout)
        else:
            base = self.spark.read.parquet(man["path"])
            updated = incremental_update(base, batch_df, self.group_cols,
                                         self.specs, fanout=self.fanout)
        vpath = f"{self.path}/v={int(batch_id)}"
        updated.write.mode("overwrite").parquet(vpath)
        doc = json.dumps({"batch_id": int(batch_id), "path": vpath})
        # the version becomes canonical only when its marker reads
        # back as JSON with the matching batch_id — a crash mid-write
        # leaves a missing/unreadable marker and the version stays
        # invisible; no previously-committed version is ever touched.
        # Written directly through the Hadoop FS (write-temp + rename,
        # atomic on file:// and hdfs://): the former Spark text-write
        # job cost 7-9s PER MICRO-BATCH in an Arrow-degraded session
        # for a one-row marker — most of the sink's per-batch wall
        # time (see OPTIMIZATION_r06.md). A crash mid-create leaves
        # only _COMMIT.tmp, which readers never look at.
        jvm, fs = self._fs()
        tmp = jvm.org.apache.hadoop.fs.Path(vpath + "/_COMMIT.tmp")
        final = jvm.org.apache.hadoop.fs.Path(vpath + "/_COMMIT")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(doc.encode("utf-8")))
        finally:
            out.close()
        fs.delete(final, True)  # a stale marker shape must not block rename
        if not fs.rename(tmp, final):
            raise IOError(f"could not publish commit marker {final}")
        self._prune(int(batch_id))

    def _prune(self, committed: int) -> None:
        """Best-effort removal of stale versions — through Hadoop FS so
        any scheme works. Retention counts COMMITTED versions only: a
        crash-leftover uncommitted dir must not displace a committed
        rollback version from the keep window, so uncommitted dirs
        older than the newest commit are always deleted and the newest
        ``keep_versions`` committed versions are kept."""
        import json
        try:
            jvm, fs = self._fs()
            versions = self._versions()
            committed_vs = []
            for v in versions:
                try:
                    text = self._marker_text(v)
                except Exception:
                    # transient IO failure (throttling, network,
                    # permissions): the version's commit status is
                    # UNKNOWN — abort this prune pass entirely rather
                    # than misclassify a committed rollback version as
                    # junk and delete it (same rule latest() applies)
                    return
                if text is None:
                    continue  # marker never written -> uncommitted
                try:
                    doc = json.loads(text)
                except ValueError:
                    continue  # crash mid-marker-write -> uncommitted
                if int(doc.get("batch_id", -1)) == v:
                    committed_vs.append(v)
            keep = set(committed_vs[-self.keep_versions:])
            for v in versions:
                if v < committed and v not in keep:
                    fs.delete(jvm.org.apache.hadoop.fs.Path(
                        f"{self.path}/v={v}"), True)
        except Exception:
            pass  # retention is best-effort; correctness never depends on it


def streaming_sketch_table(stream_df: DataFrame, group_cols: list[str],
                           specs: list[SketchSpec], table_path: str,
                           checkpoint_dir: str, fanout="auto"):
    """Wire a stream into a continuously-maintained sketch table.
    Returns the DataStreamWriter (caller picks trigger and starts):

        q = streaming_sketch_table(stream, ["lang"], specs,
                                   "/tbl", "/ckpt") \
            .trigger(availableNow=True).start()
    """
    sink = SketchTableSink(stream_df.sparkSession, table_path,
                           group_cols, specs, fanout=fanout)
    return (stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir))
