"""dedup_join: near-duplicate and join-pruning operators on seeded tables.

One pass: ngram_jaccard_pairs(n=3, 0.5) and minhash_lsh_pairs(0.5) over
``documents``; bloom_semijoin(p) of ``lineitem`` against 1996-Q1
``orders``; and the catalog's cms_join_size of lineitem x orders (one
CMS state per join key, then the cms_join_size SQL read-out of the
pair). Traced runs then repeat the read-out over the last states.
"""

from __future__ import annotations

import math
import os
import time

import pyarrow.parquet as pq

import inputs
from harness import median, plan_metrics, timed

DOCS, ORDERS = 1_000, 30_000
P = 0.01
CMS = {"w": 1 << 19, "d": 3}
CMS_EPS = math.e / CMS["w"]
READOUTS = 6  # repeated cms_join_size read-outs in traced runs
JOIN_SIZE_SQL = "SELECT cms_join_size(sk_a, sk_b) AS est FROM join_states"
Q1 = ("1996-01-01", "1996-04-01")


def _by_priority(joined):
    """The catalog's bloom_semijoin result: items and revenue by priority."""
    import pyspark.sql.functions as F
    return (joined.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum("l_extendedprice"), 2).alias("revenue")))


def _pairs(rows) -> set:
    return {(r["a_id"], r["b_id"]) for r in rows}


def _candidates(df) -> float:
    """Rows out of the largest join of the op's plan: the candidate
    pairs its generator proposed before dedup and verification."""
    return max((v.get("numOutputRows", 0.0) for cls, v in plan_metrics(df)
                if "Join" in cls), default=0.0)


class DedupJoin:
    name = "dedup_join"

    def __init__(self, seed: int, ops, work_dir: str):
        self.seed, self.ops, self.work_dir = seed, ops, work_dir
        self.layer: dict = {}
        self.readout_s: list[float] = []
        self.registered = False

    def prepare(self) -> None:
        self.docs = inputs.documents(DOCS, self.seed)
        self.orders, self.lineitem = inputs.orders_lineitem(ORDERS, self.seed)
        self.partition_bytes = os.path.getsize(self.lineitem)
        self.li_rows = pq.read_metadata(self.lineitem).num_rows

    def _tables(self, spark):
        import pyspark.sql.functions as F
        o = spark.read.parquet(self.orders)
        q1 = (o.filter((F.col("o_orderdate") >= F.lit(Q1[0]))
                       & (F.col("o_orderdate") < F.lit(Q1[1])))
              .select("o_orderkey", "o_orderpriority"))
        return (spark.read.parquet(self.docs), q1, o.select("o_orderkey"),
                spark.read.parquet(self.lineitem).select("l_orderkey",
                                                         "l_extendedprice"))

    # -- one pass --------------------------------------------------------
    def run_pass(self, spark, tr) -> dict:
        from sketchlib.spark import textops
        from sketchlib.spark.joinprune import (bloom_prune, bloom_semijoin,
                                               build_key_bloom)

        t0 = time.perf_counter()
        docs, q1, o_keys, li = self._tables(spark)
        t, res = {}, {}
        for op, fn in (
                ("ngram", lambda: textops.ngram_jaccard_pairs(
                    docs, "doc_id", "text", n=3, threshold=0.5)),
                ("minhash", lambda: textops.minhash_lsh_pairs(
                    docs, "doc_id", "text", threshold=0.5))):
            with self.ops.op(op), tr.span(f"textops.{op}"):
                s = time.perf_counter()
                df = fn()
                res[op] = df.collect()
                t[op] = time.perf_counter() - s
                tr.plan(df, f"textops.{op}")
                if tr.enabled:
                    cands = _candidates(df)
                    self.layer[f"textops.{op}_candidates"] = cands
                    self.layer[f"textops.{op}_yield"] = (
                        len(res[op]) / cands if cands else 0.0)

        with self.ops.op("bloom_semijoin"):
            s = time.perf_counter()
            if tr.enabled:
                with tr.span("joinprune.build_key_bloom"):
                    bf = build_key_bloom(q1, "o_orderkey", p=P)
                with tr.span("joinprune.semijoin"):
                    pruned = bloom_prune(li, "l_orderkey", bf)
                    survivors = pruned.count()
                    df = _by_priority(pruned.join(
                        q1, pruned["l_orderkey"] == q1["o_orderkey"]))
                    res["semijoin"] = df.collect()
                    tr.plan(df, "joinprune")
                joined = sum(r["n_items"] for r in res["semijoin"])
                self.layer.update({
                    "joinprune.filter_bytes": len(bf.to_bytes()),
                    "joinprune.pass_ratio": survivors / self.li_rows,
                    "joinprune.useful_ratio": joined / survivors})
            else:
                res["semijoin"] = _by_priority(bloom_semijoin(
                    li, "l_orderkey", q1, "o_orderkey", p=P)).collect()
            t["semijoin"] = time.perf_counter() - s
        self.last = res
        t["cms_join_size"], t["readout"] = self._join_size(spark, tr, li,
                                                           o_keys)
        t["pass"] = time.perf_counter() - t0
        return t

    def _join_size(self, spark, tr, li, o_keys) -> tuple[float, float]:
        """The catalog's cms_join_size: one CMS per side over the join
        key, then the cms_join_size read-out of the pair. Returns the
        op's seconds and its read-out's."""
        import pyspark.sql.functions as F
        from sketchlib.spark.build import build_sketches
        from sketchlib.spark.specs import SketchSpec
        from sketchlib.spark.sqlfuncs import register_sql_functions

        if not self.registered:
            register_sql_functions(spark)
            self.registered = True
        with self.ops.op("cms_join_size"):
            s = time.perf_counter()
            states = []
            with tr.span("build.join_sketches"):
                for df, col in ((li, "l_orderkey"), (o_keys, "o_orderkey")):
                    states.append(bytes(build_sketches(
                        df.select(F.lit(1).alias("g"), col), ["g"],
                        [SketchSpec("s", "cms", col, CMS)])
                        .collect()[0]["sketch"]))
            spark.createDataFrame([tuple(states)], "sk_a binary, sk_b binary") \
                .createOrReplaceTempView("join_states")
            readout = self._readout(spark, tr)
            op_s = time.perf_counter() - s
        self.states = states
        return op_s, readout

    def _readout(self, spark, tr) -> float:
        with self.ops.op("readout"), tr.span("sqlfuncs.readout"):
            df = spark.sql(JOIN_SIZE_SQL)
            rows, dt = timed(df.collect)
            tr.plan(df, "sqlfuncs")
        self.join_size = rows[0]["est"]
        return dt

    # -- after the timed passes -----------------------------------------
    def traced_extras(self, spark, tr) -> None:
        """The read-out repeated, as an interactive query is."""
        self.readout_s = [self._readout(spark, tr) for _ in range(READOUTS)]

    def checks(self) -> None:
        import duckdb
        from __spark_entry__ import oracle_sql
        from sketchlib.core.cms import CountMinSketch

        con = duckdb.connect()
        for name, path in (("documents", self.docs), ("orders", self.orders),
                           ("lineitem", self.lineitem)):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        oracle = oracle_sql()
        exact = con.sql(oracle["ngram_jaccard_pairs"]).fetchall()
        exact_pairs = {(a, b) for a, b, _j in exact}
        got = {(r["a_id"], r["b_id"]): r["jaccard"] for r in self.last["ngram"]}
        self.ops.check("ngram pairs equal DuckDB oracle",
                       set(got) == exact_pairs and all(
                           abs(got[(a, b)] - j) <= 1e-4 for a, b, j in exact))
        found = _pairs(self.last["minhash"]) & exact_pairs
        self.recall = len(found) / len(exact_pairs)

        exact_sj = sorted(con.sql(oracle["bloom_semijoin"]).fetchall())
        got_sj = sorted((r["o_orderpriority"], r["n_items"], r["revenue"])
                        for r in self.last["semijoin"])
        self.ops.check("bloom_semijoin equals DuckDB oracle",
                       len(got_sj) == len(exact_sj) and all(
                           g[:2] == e[:2] and abs(g[2] - e[2]) <= 0.01
                           for g, e in zip(got_sj, exact_sj)))

        join_rows = con.sql("SELECT count(*) FROM lineitem JOIN orders "
                            "ON l_orderkey = o_orderkey").fetchone()[0]
        est = self.join_size
        a, b = (CountMinSketch.from_bytes(s) for s in self.states)
        self.ops.check("cms join size never underestimates",
                       est >= join_rows and est == a.inner_product(b))
        self.bound_ratio = (est - join_rows) / (CMS_EPS * a.total * b.total)

    def end_to_end(self, passes: list[dict]) -> dict:
        return {
            "rows_per_s": (DOCS + self.li_rows) / median(
                [p["pass"] for p in passes]),
            "bound_ratio_max": self.bound_ratio,
            "pair_recall": self.recall,
            "sketch_bytes": sum(len(s) for s in self.states),
        }

    def core_columns(self):
        li = pq.read_table(self.lineitem)
        docs = pq.read_table(self.docs, columns=["text"])
        return (li["l_orderkey"].combine_chunks(),
                docs["text"].combine_chunks(),
                li["l_extendedprice"].to_numpy())

    def layers(self, tr, pass_id) -> dict:
        out = dict(self.layer)
        for op in ("ngram", "minhash"):
            out[f"textops.{op}_s"] = tr.span_seconds(f"textops.{op}", pass_id)
        out["joinprune.build_key_bloom_s"] = tr.span_seconds(
            "joinprune.build_key_bloom", pass_id)
        out["joinprune.semijoin_s"] = tr.span_seconds("joinprune.semijoin",
                                                      pass_id)
        return out
