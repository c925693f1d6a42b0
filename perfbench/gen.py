"""Seeded input generation for the benchmark, without Spark.

Every table is built with NumPy and written with pyarrow, so no change to
the engine can move input generation. The tables follow the schemas and
value distributions of the engine's fixtures (the ``documents`` corpus
and the ``orders`` table); row counts are fixed, so every seed gives the
same amount of work and only the values move.

``generate(root, seed)`` writes two input sets and returns their content
hash:

* ``text/``: the ``documents`` corpus widened to ``TEXT_COPIES`` disjoint
  copies (a seed-derived word prefix per copy, offset ``doc_id``s,
  recomputed ``n_chars``);
* ``lakehouse/``: the ``orders`` base table and the two upsert batches
  that each pass applies.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TEXT_BASE_DOCS = 600
TEXT_COPIES = 2
LAKE_BASE_ORDERS = 15_000
LAKE_BATCH_ROWS = 300
LAKE_FILES = 4

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    day = np.timedelta64(1, "D").astype("timedelta64[us]")
    return pa.array(base + rng.integers(0, span + 1, n) * day, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.asarray(_LANGS, dtype=object)[rng.choice(5, n, p=lang_p)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def widened_corpus(seed: int, base_docs: int, copies: int) -> pa.Table:
    """``copies`` disjoint copies of a seeded corpus: each copy prefixes
    every word with its own seed-derived tag, so no shingle is shared
    across copies and the pair output grows linearly with ``copies``."""
    rng = np.random.default_rng([seed, 2])
    base = _documents(rng, base_docs)
    texts = base.column("text").to_pylist()
    out = {k: [] for k in base.column_names}
    for c in range(copies):
        tag = "".join(chr(97 + int(x)) for x in rng.integers(0, 26, 3)) + str(c)
        for i, text in enumerate(texts):
            new = " ".join(tag + w for w in text.split(" "))
            out["doc_id"].append(c * base_docs + i)
            out["text"].append(new)
            out["lang"].append(base.column("lang")[i].as_py())
            out["source"].append(base.column("source")[i].as_py())
            out["n_chars"].append(len(new))
    return pa.table(out, schema=base.schema)


def lake_batches(seed: int, n_base: int, rows: int) -> dict[str, pa.Table]:
    """Two upsert batches over an ``n_base``-row keyed table, ``rows``
    each. ``batch_uniform`` draws keys uniformly over the table plus a tail
    of new keys, so it hits every file (file skipping bypassed);
    ``batch_recent`` draws them from the most recent 5% of keys and a few
    new ones, so it hits only the newest file (file skipping works)."""
    rng = np.random.default_rng([seed, 3])
    keys = {
        "batch_uniform": rng.choice(int(n_base * 1.1), rows, replace=False),
        "batch_recent": rng.choice(np.arange(int(n_base * 0.95), int(n_base * 1.05)), rows, replace=False),
    }
    return {name: _orders(rng, rows, 1500).set_column(0, "o_orderkey", pa.array(np.sort(k), pa.int64()))
            for name, k in keys.items()}


def _write(tables: dict[str, pa.Table], d: str) -> None:
    os.makedirs(d, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(d, f"{name}.parquet"))


def generate(root: str, seed: int) -> str:
    """Write every input set for ``seed`` under ``root`` (replacing what is
    there) and return a sha256 over the written files' contents."""
    if os.path.isdir(root):
        shutil.rmtree(root)
    _write({"documents": widened_corpus(seed, TEXT_BASE_DOCS, TEXT_COPIES)}, os.path.join(root, "text"))
    _write({
        "orders": _orders(np.random.default_rng([seed, 4]), LAKE_BASE_ORDERS, 1500),
        **lake_batches(seed, LAKE_BASE_ORDERS, LAKE_BATCH_ROWS),
    }, os.path.join(root, "lakehouse"))
    return content_hash(root)


def content_hash(root: str) -> str:
    """sha256 over the relative path and bytes of every file under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
