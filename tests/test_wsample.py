"""Weighted bottom-k sample (Efraimidis–Spirakis, deterministic
per-value jitter): lattice merge laws, weight-proportional inclusion,
total-weight estimate, serde, and the Spark build path."""

import numpy as np
import pandas as pd
import pytest

from sketchlib.core.sample import WeightedBottomKSample
from sketchlib.core.serde import sketch_from_bytes
from sketchlib.spark.specs import SketchSpec


def _mk(values, weights, k=64, seed=0):
    s = WeightedBottomKSample(k, seed)
    s.update_batch(pd.Series(values), np.asarray(weights, dtype=float))
    return s


VALUES = [f"doc-{i}" for i in range(4000)]
RNG = np.random.default_rng(7)
WEIGHTS = RNG.lognormal(0, 1, 4000)


class TestMergeLaws:
    def test_bitwise_identity_any_split_and_order(self):
        whole = _mk(VALUES, WEIGHTS).to_bytes()
        for perm_seed in (1, 2, 3):
            rng = np.random.default_rng(perm_seed)
            idx = rng.permutation(len(VALUES))
            parts = np.array_split(idx, rng.integers(2, 9))
            sks = [_mk([VALUES[i] for i in p], WEIGHTS[p]) for p in parts]
            order = rng.permutation(len(sks))
            acc = sks[order[0]]
            for i in order[1:]:
                acc = acc.merge(sks[i])
            assert acc.to_bytes() == whole, perm_seed

    def test_duplicate_rows_max_weight_wins(self):
        """Same value with different weights: the state keeps the max
        weight (min key) regardless of arrival grouping."""
        a = _mk(["x", "y"], [1.0, 5.0], k=8)
        b = _mk(["x", "y"], [9.0, 2.0], k=8)
        merged = a.merge(b)
        byp = dict(zip(merged.sample(), merged.sample_weights()))
        assert byp[b"x"] == 9.0 and byp[b"y"] == 5.0
        direct = _mk(["x", "y", "x", "y"], [1.0, 5.0, 9.0, 2.0], k=8)
        assert direct.to_bytes() == merged.to_bytes()

    def test_mismatched_params_refused(self):
        with pytest.raises(ValueError, match="k,seed"):
            _mk(["a"], [1.0], k=8).merge(_mk(["a"], [1.0], k=16))


class TestSemantics:
    def test_below_saturation_keeps_everything(self):
        s = _mk(VALUES[:50], WEIGHTS[:50], k=64)
        assert sorted(s.sample()) == sorted(v.encode() for v in VALUES[:50])
        assert s.weight_estimate() == pytest.approx(WEIGHTS[:50].sum())

    def test_weight_proportional_inclusion(self):
        """100 heavy values (w=100) among 9900 light ones (w=1) own
        ~50% of the total weight -> ~50% of a k=200 sample."""
        vals = [f"v{i}" for i in range(10000)]
        w = np.ones(10000)
        w[:100] = 100.0
        s = _mk(vals, w, k=200)
        heavy = sum(1 for p in s.sample()
                    if int(p.decode()[1:]) < 100)
        assert 60 <= heavy <= 140  # E≈100, sigma≈7 — generous band
        # and the retained weights column aligns with the payloads
        byp = dict(zip(s.sample(), s.sample_weights()))
        for p, wt in byp.items():
            assert wt == (100.0 if int(p.decode()[1:]) < 100 else 1.0)

    def test_weight_estimate_accuracy(self):
        k = 256
        s = _mk(VALUES, WEIGHTS, k=k)
        true = WEIGHTS.sum()
        assert abs(s.weight_estimate() - true) / true < 4 / np.sqrt(k - 2)

    def test_null_and_nan_rows_drop(self):
        s = _mk(["a", None, "b", "c"], [1.0, 2.0, np.nan, 3.0], k=8)
        assert sorted(s.sample()) == [b"a", b"c"]

    def test_nonpositive_weight_raises(self):
        with pytest.raises(ValueError, match="> 0"):
            _mk(["a", "b"], [1.0, 0.0])
        with pytest.raises(ValueError, match="> 0"):
            _mk(["a"], [-2.0])

    def test_serde_roundtrip_canonical(self):
        s = _mk(VALUES, WEIGHTS, k=128)
        blob = s.to_bytes()
        back = WeightedBottomKSample.from_bytes(blob)
        assert back == s and back.to_bytes() == blob
        assert isinstance(sketch_from_bytes(blob), WeightedBottomKSample)


class TestSparkPath:
    def test_build_matches_local_and_sql_readout(self, spark, pages_tiny):
        import pyspark.sql.functions as F
        from sketchlib.spark.build import build_sketches
        from sketchlib.spark.sqlfuncs import register_sql_functions
        register_sql_functions(spark)
        d = pages_tiny.withColumn(
            "quality", (F.length("text") % 17 + 1).cast("double"))
        spec = [SketchSpec("ws", "wsample", "url", {"k": 32},
                           weight_col="quality")]
        merged = build_sketches(d.repartition(5), ["lang"], spec)
        rows = merged.collect()
        assert rows
        # distributed build == local single-state build, bitwise
        pdf = d.select("lang", "url", "quality").toPandas()
        for r in rows:
            sub = pdf[pdf["lang"] == r["lang"]]
            local = WeightedBottomKSample(32, 0)
            local.update_batch(sub["url"], sub["quality"].to_numpy())
            assert bytes(r["sketch"]) == local.to_bytes(), r["lang"]
        # SQL read-out: values + aligned weights
        merged.createOrReplaceTempView("ws_t")
        row = spark.sql(
            "SELECT sample_values(sketch) AS v, sample_weights(sketch) "
            "AS w, sketch_estimate(sketch) AS est FROM ws_t").first()
        assert len(row["v"]) == len(row["w"]) > 0
        assert row["est"] > 0

    def test_wsample_weight_col_required(self):
        with pytest.raises(ValueError, match="requires weight_col"):
            SketchSpec("w", "wsample", "url", {"k": 8})


class TestReviewRegressions:
    """Round-5 review findings."""

    def test_merge_empty_states(self):
        """Two all-null-input partials merge without crashing (a group
        whose rows in several partitions are all null-valued produces
        empty partials; the merge must be the identity, not an
        IndexError)."""
        a = WeightedBottomKSample(4)
        b = WeightedBottomKSample(4)
        assert a.merge(b).sample() == []
        # empty + nonempty in both orders
        c = _mk(["x"], [2.0], k=4)
        assert WeightedBottomKSample(4).merge(c).sample() == [b"x"]
        assert c.merge(WeightedBottomKSample(4)).sample() == [b"x"]
        # serde of the empty state round-trips (the merge_blobs path)
        blob = WeightedBottomKSample(4).to_bytes()
        assert WeightedBottomKSample.from_bytes(blob).to_bytes() == blob

    def test_null_key_with_nonpositive_weight_drops_not_raises(self):
        """Positivity is validated AFTER the null rule: a pipeline
        whose weight defaults to 0 for null values must not die."""
        s = _mk(["a", None, "b"], [1.0, 0.0, 2.0], k=8)
        assert sorted(s.sample()) == [b"a", b"b"]
        # a zero weight on a NON-null row is still a loud caller bug
        with pytest.raises(ValueError, match="> 0"):
            _mk(["a", "b"], [1.0, 0.0])
