"""sketch_table: the paper's calibrate -> build -> validate pipeline,
generalized to a five-kernel mergeable sketch table, on seeded ``pages``.

One pass:
  calibrate -> bloom_params_by_group(p)             (stage 1)
  build_sketches by (lang, day): Bloom on url, HLL on url, tokenized
    CMS on text, t-digest and KLL on html_len -> stored table
  rollup_sketches to lang -> stored lang table
  collect_sketches(url_bloom) -> bloom_validate      (stage 3)
  one SQL read-out (sketch_estimate and sketch_quantile per (lang, day))
Traced runs then repeat the read-out over the last pass's table and
maintain a fresh table with streaming_sketch_table (by lang) from
micro-batches of pages rows.
"""

from __future__ import annotations

import math
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
from harness import dir_bytes, median, run_stream, timed

P = 0.01
ROWS = 20_000
STREAM_BATCHES = 3
STREAM_ROWS = 5_000  # per micro-batch
READOUTS = 6  # repeated read-outs in traced runs
# per (lang, day): distinct urls (HLL) and p90 page length (KLL)
READOUT_SQL = (
    "SELECT lang, day, sketch_name, sketch_estimate(sketch) AS v "
    "FROM sketches WHERE sketch_name = 'url_hll' UNION ALL "
    "SELECT lang, day, sketch_name, sketch_quantile(sketch, 0.9) "
    "FROM sketches WHERE sketch_name = 'len_kll'")
GROUPS = ["lang", "day"]
LATTICE = ("url_bloom", "url_hll", "tok_cms")
QS = (0.5, 0.9, 0.99)
TOP_TOKENS = 20
HLL_B, CMS_W, CMS_D, KLL_K = 14, 16384, 5, 200
# Stated bounds. HLL: 1.04/sqrt(m) is a standard error, so it is
# compared with the RMS relative error over the table's groups; the
# others bound each estimate, so they are compared with the worst one.
# KLL: single-item normalized rank error (Karnin-Lang-Liberty, as
# parameterized by Apache DataSketches); t-digest has no closed form,
# so the library's accuracy-table rank bound; CMS: eps*N, eps = e/w.
HLL_SE = 1.04 / math.sqrt(1 << HLL_B)
KLL_EPS = 2.296 / KLL_K ** 0.9723
TDIGEST_EPS = 0.05
CMS_EPS = math.e / CMS_W


def _with_day(t: pa.Table) -> pa.Table:
    return t.append_column("day", pc.strftime(t["warc_ts"], "%Y-%m-%d"))


def _write(df, path: str, tr, prefix: str) -> None:
    """Write ``df``; traced, materialize it first so its plan counts
    can be read."""
    if tr.enabled:
        cp = df.localCheckpoint()
        tr.plan(df, prefix)
        df = cp
    df.write.parquet(path)


class SketchTable:
    name = "sketch_table"

    def __init__(self, seed: int, ops, work_dir: str):
        self.seed, self.ops, self.work_dir = seed, ops, work_dir
        self.version = 0
        self.readout_s: list[float] = []
        self.stream: dict = {}

    def prepare(self) -> None:
        self.path = inputs.pages(ROWS, self.seed)
        self.partition_bytes = os.path.getsize(self.path)

    def _read(self, spark):
        return spark.read.parquet(self.path).withColumn("day", _day_col())

    def _specs(self, bp_by_lang: dict, by_day: bool = True) -> list:
        from sketchlib.spark.specs import SketchSpec
        # every day of a lang gets the lang's (m, k), so the rollup to
        # lang can OR-merge the days
        days = [f"2024-01-0{d}" for d in range(1, 8)]
        bp = ({(lang, d): v for lang, v in bp_by_lang.items() for d in days}
              if by_day else bp_by_lang)
        return [
            SketchSpec("url_bloom", "bloom", "url", per_group_params=bp),
            SketchSpec("url_hll", "hll", "url", {"b": HLL_B}),
            SketchSpec("tok_cms", "cms", "text", {"w": CMS_W, "d": CMS_D},
                       tokenize=True),
            SketchSpec("len_tdigest", "tdigest", "html_len", {"delta": 200}),
            SketchSpec("len_kll", "kll", "html_len", {"k": KLL_K}),
        ]

    # -- one pass --------------------------------------------------------
    def run_pass(self, spark, tr) -> dict:
        from sketchlib.spark.build import (bloom_params_by_group,
                                           build_partials, build_sketches,
                                           calibrate, merge_partials,
                                           rollup_sketches)
        from sketchlib.spark.sqlfuncs import register_sql_functions
        from sketchlib.spark.validate import collect_sketches

        t0 = time.perf_counter()
        self.version += 1
        base_path = os.path.join(self.work_dir, f"v{self.version}_lang_day")
        lang_path = os.path.join(self.work_dir, f"v{self.version}_lang")
        pages = self._read(spark)
        t = {}
        with self.ops.op("calibrate"), tr.span("build.calibrate"):
            bp, t["calibrate"] = timed(
                lambda: bloom_params_by_group(calibrate(pages, ["lang"]), P))
        self.specs = specs = self._specs(bp)
        self.lang_specs = self._specs(bp, by_day=False)
        with self.ops.op("build"):
            s = time.perf_counter()
            if tr.enabled:  # force each stage at its boundary
                with tr.span("build.partials"):
                    parts = build_partials(pages, GROUPS, specs)
                    cp = parts.localCheckpoint()
                    tr.plan(parts, "build.partials")
                with tr.span("build.merge"):
                    _write(merge_partials(cp, GROUPS, fanout="auto"),
                           base_path, tr, "build.merge")
            else:
                build_sketches(pages, GROUPS, specs).write.parquet(base_path)
            t["build"] = time.perf_counter() - s
        base = spark.read.parquet(base_path)
        with self.ops.op("rollup"), tr.span("build.rollup"):
            s = time.perf_counter()
            _write(rollup_sketches(base, GROUPS, ["lang"]), lang_path, tr,
                   "build.rollup")
            t["rollup"] = time.perf_counter() - s
        with self.ops.op("collect"), tr.span("validate.collect"):
            filters, t["collect"] = timed(
                collect_sketches, spark.read.parquet(lang_path), ["lang"],
                "url_bloom")
        self.last = {"base": base_path, "lang": lang_path, "filters": filters}
        t["validate"] = self._probe(spark, tr)
        if self.version == 1:
            register_sql_functions(spark)
        base.createOrReplaceTempView("sketches")
        t["readout"] = self._readout(spark, tr)
        t["pass"] = time.perf_counter() - t0
        return t

    def _probe(self, spark, tr) -> float:
        from sketchlib.spark.validate import bloom_validate
        with self.ops.op("validate"), tr.span("validate.probe"):
            vdf = bloom_validate(self._read(spark), self.last["filters"],
                                 ["lang"], "url", P)
            self.validation, dt = timed(vdf.collect)
            tr.plan(vdf, "validate")
        tr.add("validate.probes", sum(r["probes"] for r in self.validation))
        tr.add("validate.broadcast_bytes", sum(
            len(f.to_bytes()) for f in self.last["filters"].values()))
        return dt

    def _readout(self, spark, tr) -> float:
        with self.ops.op("readout"), tr.span("sqlfuncs.readout"):
            df = spark.sql(READOUT_SQL)
            rows, dt = timed(df.collect)
            tr.plan(df, "sqlfuncs")
        self.readouts = {(r["lang"], r["day"], r["sketch_name"]): r["v"]
                         for r in rows}
        return dt

    # -- after the timed passes -----------------------------------------
    def traced_extras(self, spark, tr) -> None:
        """The read-out repeated, as an interactive query is; the
        streaming sink: a fresh table by lang, maintained from
        micro-batches of pages rows."""
        from sketchlib.spark.streaming import (SketchTableSink,
                                               streaming_sketch_table)
        self.readout_s = [self._readout(spark, tr) for _ in range(READOUTS)]
        streamed = pq.read_table(self.path).slice(
            0, STREAM_BATCHES * STREAM_ROWS)
        table_path = os.path.join(self.work_dir, "stream_table")
        self.stream = run_stream(
            spark, tr, self.ops, streamed, STREAM_BATCHES, self.work_dir,
            lambda s: streaming_sketch_table(
                s, ["lang"], self.lang_specs, table_path,
                os.path.join(self.work_dir, "ckpt"))
            .trigger(availableNow=True).start())
        sink = SketchTableSink(spark, table_path, ["lang"], self.lang_specs)
        self.stream["table_bytes"] = dir_bytes(sink.latest()["path"])
        self.stream["sink"] = {(r["lang"], r["sketch_name"]): bytes(r["sketch"])
                               for r in sink.read_table().collect()}
        self.stream["rows"] = streamed

    def checks(self) -> None:
        from sketchlib.core.serde import sketch_from_bytes

        val = self.validation
        self.ops.check("bloom: zero false negatives",
                       sum(r["false_negatives"] for r in val) == 0)
        blobs = _blobs(pq.read_table(self.last["base"]).to_pylist())
        sk = {k: sketch_from_bytes(v) for k, v in blobs.items()}
        rolled = {(r["lang"], r["sketch_name"]): sketch_from_bytes(
            r["sketch"]) for r in pq.read_table(self.last["lang"]).to_pylist()}
        base = _with_day(pq.read_table(self.path))
        groups = sorted({k[:2] for k in blobs})
        self.ops.check("table has every (lang, day) x spec",
                       len(blobs) == len(groups) * len(self.specs) == 70 * 5)

        # the rolled-up lattice states equal a single-process core build
        # of each lang's rows (and so equal a direct build by lang)
        ok = True
        for lang in sorted({g[0] for g in groups}):
            for spec in self.specs:
                if spec.name in LATTICE:
                    core = _core_build(spec, (lang, "2024-01-01"), base,
                                       lang)
                    ok &= core.to_bytes() == rolled[(lang, spec.name)].to_bytes()
        self.ops.check("bloom/hll/cms bytes equal core build", ok)
        if self.stream:
            # the sink's lattice states equal a core build of the
            # streamed rows
            sink, rows = self.stream["sink"], self.stream["rows"]
            ok = len(sink) == len(self.lang_specs) * len(
                set(rows["lang"].to_pylist()))
            for (lang, name), blob in sink.items():
                if name in LATTICE:
                    spec = next(s for s in self.lang_specs if s.name == name)
                    ok &= _core_build(spec, lang, rows, lang).to_bytes() == blob
            self.ops.check("streamed table equals core build (lattice)", ok)

        ratios, self.recall = _bounds(sk, rolled, base, groups)
        # cross-lang probes of every lang's filter, pooled
        ratios["bloom"] = (sum(r["false_positives"] for r in val)
                           / sum(r["probes"] for r in val) / P)
        self.bound_ratio_max = max(ratios.values())
        print(f"[perfbench] sketch_table bound ratios {ratios}",
              file=sys.stderr)
        self.ops.check("sketches within their stated bounds",
                       all(v <= 1.5 for v in ratios.values()), str(ratios))
        self.ops.check("SQL read-outs equal core read-outs", all(
            self.readouts[(*g, "url_hll")] == sk[(*g, "url_hll")].estimate()
            and self.readouts[(*g, "len_kll")]
            == float(sk[(*g, "len_kll")].quantile(0.9))
            for g in groups) and len(self.readouts) == 2 * len(groups))

    def end_to_end(self, passes: list[dict]) -> dict:
        table = pq.read_table(self.last["base"], columns=["sketch"])
        return {
            "rows_per_s": ROWS / median([p["pass"] for p in passes]),
            "bound_ratio_max": self.bound_ratio_max,
            "pair_recall": self.recall,
            "sketch_bytes": sum(len(b) for b in table["sketch"].to_pylist()),
        }

    def core_columns(self):
        t = pq.read_table(self.path, columns=["url", "text", "html_len"])
        return (t["url"].combine_chunks(), t["text"].combine_chunks(),
                t["html_len"].to_numpy())

    def layers(self, tr, pass_id) -> dict:
        out = {
            "build.calibrate_s": tr.span_seconds("build.calibrate", pass_id),
            "build.partials_s": tr.span_seconds("build.partials", pass_id),
            "build.merge_s": tr.span_seconds("build.merge", pass_id),
            "build.rollup_s": tr.span_seconds("build.rollup", pass_id),
            "validate.collect_s": tr.span_seconds("validate.collect",
                                                  pass_id),
            "validate.probe_s": tr.span_seconds("validate.probe", pass_id),
            "validate.python_s": tr.by_pass[pass_id]["validate:pythonTotalTime"],
        }
        for k in ("rows_per_s", "batch_p50_s", "addbatch_p50_s",
                  "overhead_p50_s", "table_bytes"):
            out[f"streaming.{k}"] = self.stream[k]
        return out


def _day_col():
    import pyspark.sql.functions as F
    return F.date_format("warc_ts", "yyyy-MM-dd")


def _blobs(rows) -> dict:
    return {(r["lang"], r["day"], r["sketch_name"]): bytes(r["sketch"])
            for r in rows}


def _tokens(text) -> pa.Array:
    toks = pc.list_flatten(pc.split_pattern(text, " "))
    return toks.filter(pc.not_equal(toks, ""))


def _core_build(spec, key, rows: pa.Table, lang, day=None):
    """``spec``'s sketch of the rows of one lang (and day), built in
    this process by ``sketchlib.core`` alone."""
    mask = pc.equal(rows["lang"], lang)
    if day is not None:
        mask = pc.and_(mask, pc.equal(rows["day"], day))
    col = rows.filter(mask)[spec.value_col]
    sketch = spec.make(key)
    if spec.tokenize:
        vc = pc.value_counts(_tokens(col))
        sketch.update_batch(vc.field("values"), vc.field("counts").to_numpy())
    else:
        sketch.update_batch(col.combine_chunks())
    return sketch


def _rank_error(sorted_vals: np.ndarray, x: float, q: float) -> float:
    """Distance from q to the exact rank interval of x (ties make the
    rank of a repeated value an interval)."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, x, side="left") / n
    hi = np.searchsorted(sorted_vals, x, side="right") / n
    return max(lo - q, q - hi, 0.0)


def _bounds(sk, rolled, base: pa.Table, groups):
    """Observed error / stated bound per kernel (exact values from
    pyarrow and numpy), and the CMS heavy-hitter recall: the share of
    each lang's exact top tokens that are in the sketch's top tokens."""
    ratios = {"kll": 0.0, "tdigest": 0.0, "cms": 0.0}
    hll_sq = []
    for lang, day in groups:
        g = base.filter(pc.and_(pc.equal(base["lang"], lang),
                                pc.equal(base["day"], day)))
        exact = pc.count_distinct(g["url"]).as_py()
        hll_sq.append(((sk[(lang, day, "url_hll")].estimate() - exact)
                       / exact) ** 2)
        vals = np.sort(g["html_len"].to_numpy())
        for name, eps in (("kll", KLL_EPS), ("tdigest", TDIGEST_EPS)):
            est = sk[(lang, day, f"len_{name}")].quantile(np.array(QS))
            err = max(_rank_error(vals, x, q) for x, q in zip(est, QS))
            ratios[name] = max(ratios[name], err / eps)
    ratios["hll"] = math.sqrt(np.mean(hll_sq)) / HLL_SE
    recalls = []
    for lang in sorted({g[0] for g in groups}):
        vc = pc.value_counts(_tokens(
            base.filter(pc.equal(base["lang"], lang))["text"]))
        toks = vc.field("values").to_numpy(zero_copy_only=False)
        counts = vc.field("counts").to_numpy()
        est = rolled[(lang, "tok_cms")].query_batch(vc.field("values"))
        top = np.argsort(-counts, kind="stable")[:TOP_TOKENS]
        over = (est[top] - counts[top]).max()
        ratios["cms"] = max(ratios["cms"], over / (CMS_EPS * counts.sum()))
        found = set(toks[np.argsort(-est, kind="stable")[:TOP_TOKENS]])
        recalls.append(len(found & set(toks[top])) / TOP_TOKENS)
    return ratios, float(np.mean(recalls))
