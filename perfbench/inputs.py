"""Seeded benchmark inputs, cached on disk by (table, rows, seed).

``pages`` comes from ``sketchlib.io.fixtures.generate_pages``. The
``html`` payload is replaced by its byte length (``html_len``): the
workloads only sketch that length, and the html column (about 1 KB a
row) would make every run write and scan it for one number per row.

``documents``, ``orders`` and ``lineitem`` mirror the schema and
shape of the sf0.1 tables the catalog queries read (documents over a
31-word vocabulary with planted near-duplicates; orders with about four
line items each), drawn from the seed so the benchmark needs no data
outside its own directory. Ids are non-null ``bigint``s.
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
# cached seeds kept on disk: a benchmark campaign walks through many
# seeds
KEEP_SEEDS = 4

VOCAB = ("a the data query scan sort hash join agg group filter merge "
         "stream batch table column row key value line part order customer "
         "spark vector window fast slow big small").split()
DOC_LANGS = ["en", "zh", "de", "fr", "es"]
DOC_LANG_WEIGHTS = [0.41, 0.15, 0.14, 0.15, 0.15]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _rng(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng(
        np.random.SeedSequence([seed, zlib.crc32(name.encode())]))


def _cached(name: str, seed: int, make) -> str:
    """Path of ``name`` for ``seed``, generating it on a cache miss."""
    seed_dir = os.path.join(CACHE_DIR, f"s{seed}")
    path = os.path.join(seed_dir, f"{name}.parquet")
    if os.path.exists(path):
        os.utime(seed_dir)
        return path
    os.makedirs(seed_dir, exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(make(), tmp, row_group_size=8192)
    os.replace(tmp, path)
    _evict(keep=seed_dir)
    return path


def _evict(keep: str) -> None:
    dirs = [os.path.join(CACHE_DIR, d) for d in os.listdir(CACHE_DIR)]
    dirs = sorted((d for d in dirs if d != keep and os.path.isdir(d)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def pages(n_rows: int, seed: int) -> str:
    def make():
        from sketchlib.io.fixtures import generate_pages
        t = generate_pages(n_rows, seed=seed * 1000)
        html_len = pc.binary_length(t["html"]).cast(pa.float64())
        return t.drop_columns(["html"]).append_column("html_len", html_len)
    return _cached(f"pages_{n_rows}", seed, make)


def documents(n_docs: int, seed: int) -> str:
    """``n_docs`` documents, one in 20 a planted near-duplicate."""
    def make():
        ntok = _rng(seed, "doc_ntok").integers(8, 101, size=n_docs)
        toks = _rng(seed, "doc_tok").integers(0, len(VOCAB),
                                              size=int(ntok.sum()))
        bounds = np.concatenate([[0], np.cumsum(ntok)])
        words = [list(toks[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
        # near-duplicates: a later doc copies an earlier one and edits
        # up to two tokens, so its word-3-gram Jaccard stays >= ~0.8
        r = _rng(seed, "doc_dup")
        for dst in r.choice(np.arange(1, n_docs), n_docs // 20,
                            replace=False):
            src = int(r.integers(0, dst))
            w = list(words[src])
            for _ in range(int(r.integers(0, 3))):
                w[int(r.integers(0, len(w)))] = int(r.integers(0, len(VOCAB)))
            words[dst] = w
        text = [" ".join(VOCAB[t] for t in w) for w in words]
        lang = _rng(seed, "doc_lang").choice(DOC_LANGS, size=n_docs,
                                             p=DOC_LANG_WEIGHTS)
        return pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)],
                               pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        })
    return _cached(f"documents_{n_docs}", seed, make)


def orders_lineitem(n_orders: int, seed: int) -> tuple[str, str]:
    """(orders, lineitem): 1-7 line items per order, ~4 on average."""
    def make_orders():
        days = _rng(seed, "o_date").integers(0, 2404, size=n_orders)
        date = (np.datetime64("1995-01-01") + days).astype("datetime64[us]")
        prio = _rng(seed, "o_prio").integers(0, len(PRIORITIES), n_orders)
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_orderdate": pa.array(date, pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[prio],
                                        pa.string()),
        })

    def make_lineitem():
        per_order = _rng(seed, "l_count").integers(1, 8, size=n_orders)
        keys = np.repeat(np.arange(n_orders), per_order)
        price = np.round(_rng(seed, "l_price").uniform(900, 105000,
                                                       len(keys)), 2)
        return pa.table({
            "l_orderkey": pa.array(keys, pa.int64()),
            "l_extendedprice": pa.array(price, pa.float64()),
        })
    return (_cached(f"orders_{n_orders}", seed, make_orders),
            _cached(f"lineitem_{n_orders}", seed, make_lineitem))
