"""Spark-free timings of the ``sketchlib.core`` kernels on a workload's
own seeded columns, so a numpy kernel change shows without Spark noise.
Each figure is the median of three runs."""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from harness import median

REPEATS = 3


def _best(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def core_timings(keys: pa.Array, text: pa.Array, values: np.ndarray,
                 tracer) -> None:
    """``keys``: string keys (Bloom/HLL/hashing); ``text``: documents
    whose space-split tokens feed the CMS; ``values``: float64 values
    for the quantile sketches."""
    from sketchlib.core import hashing
    from sketchlib.core.bloom import BloomFilter
    from sketchlib.core.cms import CountMinSketch
    from sketchlib.core.hll import HyperLogLog
    from sketchlib.core.kll import KLL
    from sketchlib.core.serde import sketch_from_bytes
    from sketchlib.core.tdigest import TDigest

    n = len(keys)

    def tokens():
        toks = pc.list_flatten(pc.split_pattern(text, " "))
        return toks.filter(pc.not_equal(toks, ""))

    def cms_add():
        # the tokenized build's feed: count each distinct token once,
        # then one weighted update
        vc = pc.value_counts(tokens())
        CountMinSketch(16384, 5).update_batch(
            vc.field("values"), vc.field("counts").to_numpy())

    n_tokens = len(tokens())
    c = tracer.counts
    with tracer.span("core.kernels"):
        c["core.hashing.rows_per_s"] = n / _best(
            lambda: hashing.hash64_pair(keys, 0))
        bf = BloomFilter.from_target(n, 0.01)
        c["core.bloom.add_rows_per_s"] = n / _best(
            lambda: bf.update_batch(keys))
        c["core.bloom.probe_rows_per_s"] = n / _best(
            lambda: bf.contains_batch(keys))
        c["core.hll.add_rows_per_s"] = n / _best(
            lambda: HyperLogLog(b=14).update_batch(keys))
        c["core.cms.add_tokens_per_s"] = n_tokens / _best(cms_add)
        c["core.kll.add_rows_per_s"] = len(values) / _best(
            lambda: KLL(k=200).update_batch(values))
        c["core.tdigest.add_rows_per_s"] = len(values) / _best(
            lambda: TDigest(delta=200).update_batch(values))

        # two halves of every kernel: merge them, and round-trip serde
        h = n // 2
        halves = []
        for part_keys, part_vals in ((keys[:h], values[:h]),
                                     (keys[h:], values[h:])):
            halves.append([BloomFilter(bf.m, bf.k).update_batch(part_keys),
                           HyperLogLog(b=14).update_batch(part_keys),
                           CountMinSketch(16384, 5).update_batch(part_keys),
                           KLL(k=200).update_batch(part_vals),
                           TDigest(delta=200).update_batch(part_vals)])
        merge_times = []
        for _ in range(REPEATS):
            left = [sketch_from_bytes(a.to_bytes()) for a in halves[0]]
            t0 = time.perf_counter()
            for a, b in zip(left, halves[1]):
                a.merge(b)
            merge_times.append(time.perf_counter() - t0)
        c["core.merge_s"] = median(merge_times)
        blobs = [s.to_bytes() for s in halves[0] + halves[1]]
        mb = sum(len(b) for b in blobs) / 1e6
        c["core.serde.mb_per_s"] = mb / _best(lambda: [
            sketch_from_bytes(s.to_bytes()) for s in halves[0] + halves[1]])
