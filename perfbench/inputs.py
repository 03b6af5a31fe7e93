"""Seeded inputs for the benchmark's workloads.

Every input is a pure function of ``(workload sizes, seed)`` and is
written as parquet under the benchmark's scratch directory, so the
program under test only ever reads files the benchmark made. The same
seed always produces the same rows in the same order.

- Pipeline corpus: the package's planted-family generator
  (``generate_corpus``), which also returns the ground-truth duplicate
  pairs the output checks score against.
- Catalog tables: the shapes of the catalog's testdata tables
  (``documents``, ``embeddings``, ``orders``, ``lineitem``), drawn from
  a numpy generator. ``documents`` follows the testdata's text shape
  (a 30-word vocabulary, 10-100 tokens, twenty sources, planted near
  and exact copies) so the catalog's dispatch rules take the same
  physical paths they take on the testdata.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from imageduplicatefinder_spark.sources.generator import (
    GeneratedCorpus,
    generate_corpus,
)

#: pipeline corpus size: planted families (8 docs each) + background
#: docs + 4 degenerate docs
PIPELINE_SIZE = {"n_families": 60, "n_background": 600}
#: catalog table sizes (lineitem has 4 lines per order)
CATALOG_SIZE = {"n_docs": 600, "n_vectors": 400, "n_orders": 6000}

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_EPOCH = dt.datetime(1992, 1, 1)


@dataclass
class PipelineInput:
    path: str                 # parquet directory of input_hint-shaped rows
    corpus: GeneratedCorpus   # rows + ground-truth pairs
    n_docs: int
    n_bytes: int              # parquet bytes on disk


@dataclass
class CatalogInput:
    sf_dir: str               # directory holding <table>.parquet files
    n_docs: int
    n_bytes: int


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path) -> int:
    """Bytes of all files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def write_pipeline_input(path: str, seed: int, n_files: int,
                         size: dict = PIPELINE_SIZE) -> PipelineInput:
    """Planted-family corpus as ``n_files`` parquet parts (one scan task
    per core; a single small file would scan as one task)."""
    corpus = generate_corpus(seed=seed, **size)
    names = ("repo", "path", "commit", "lang", "content")
    cols = list(zip(*corpus.rows))
    table = pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, cols)})
    _fresh_dir(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return PipelineInput(path, corpus, table.num_rows, dir_bytes(path))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.05:
            # near copy of an earlier doc: one 'dup' token inserted
            toks = texts[int(rng.integers(0, i))].split()
            toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
            texts.append(" ".join(toks))
        elif i >= 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])  # exact copy
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, size=k)))
    langs = rng.choice(_LANGS, size=n, p=_LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] * 0.3 + rng.normal(size=(n, dim))
    # every 20th vector is a near copy of an earlier one (cosine ~0.99),
    # so the near-dup query has rows to return
    for i in range(20, n, 20):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(scale=0.05, size=dim)
        labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels),
    })


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, 365 * 7, size=n)
    return pa.array([_EPOCH + dt.timedelta(days=int(d)) for d in days],
                    pa.timestamp("us"))


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n // 10), size=n)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], size=n).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1e3, 5e5, size=n), 2)),
        "o_orderdate": _dates(rng, n),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n).tolist()),
    })


def _lineitem(rng: np.random.Generator, n_orders: int, per: int) -> pa.Table:
    n = n_orders * per
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, size=n)),
        "l_partkey": pa.array(rng.integers(0, 2000, size=n)),
        "l_suppkey": pa.array(rng.integers(0, 100, size=n)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 1e5, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n).tolist()),
        "l_shipdate": _dates(rng, n),
    })


def write_catalog_input(sf_dir: str, seed: int,
                        size: dict = CATALOG_SIZE) -> CatalogInput:
    """The four tables the catalog workload's queries read."""
    rng = np.random.default_rng(seed)
    _fresh_dir(sf_dir)
    tables = {
        "documents": _documents(rng, size["n_docs"]),
        "embeddings": _embeddings(rng, size["n_vectors"]),
        "orders": _orders(rng, size["n_orders"]),
        "lineitem": _lineitem(rng, size["n_orders"], 4),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return CatalogInput(sf_dir, size["n_docs"], dir_bytes(sf_dir))
