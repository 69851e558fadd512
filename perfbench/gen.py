"""Seeded input generators.

Every generator is a pure function of its arguments: the same seed gives
byte-identical parquet files.  The engine only ever sees the files; the
ground truth (expected checkpoint, planted pairs, distinct texts) stays
in the returned ``Truth`` objects inside the benchmark.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
# 2024-01-01T00:00:00Z in epoch microseconds
BASE_TS_US = 1_704_067_200_000_000

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])


def derive_seed(seed: int, *labels) -> int:
    """Independent 63-bit seed for one pass/purpose of a run."""
    h = hashlib.blake2b(repr((seed, *labels)).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little") >> 1


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # fixed writer settings: no creation timestamp varies between runs
    pq.write_table(table, path, compression="snappy",
                   write_statistics=True, row_group_size=1 << 20)


@dataclass(frozen=True)
class EventsTruth:
    n_rows: int
    max_commit_ts: int  # the changefeed's checkpoint once the pass is done


def zipf_probs(n_keys: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** a
    return p / p.sum()


def write_events(path: str, n_rows: int, n_keys: int, seed: int,
                 zipf_a: float | None = None,
                 ts_base: int = BASE_TS_US) -> EventsTruth:
    """``events.parquet`` in the testdata schema.

    Keys are uniform over ``n_keys`` or, with ``zipf_a``, Zipf-ranked
    with the ranks scattered over the key space.  ``ts`` is unique per
    row (the mount derives the total-order ``commit_ts`` from it), one
    row per millisecond from ``ts_base`` on, and the newest row is a
    ``click`` update, which no benchmark filter drops, so the checkpoint
    target is the input's max ``commit_ts``.
    """
    rng = np.random.default_rng(seed)
    if zipf_a is None:
        user_id = rng.integers(0, n_keys, n_rows)
    else:
        ranks = rng.choice(n_keys, size=n_rows, p=zipf_probs(n_keys, zipf_a))
        user_id = rng.permutation(n_keys)[ranks]
    ts_us = (ts_base + np.arange(n_rows, dtype=np.int64) * 1000
             + rng.integers(0, 1000, n_rows))
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_rows)]
    etype[-1] = "click"
    value = np.round(rng.exponential(50.0, n_rows), 2)
    k = rng.integers(0, 100, n_rows)
    order = rng.permutation(n_rows)  # file order is not commit order
    table = pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)[order]),
        "ts": pa.array(ts_us[order], type=pa.timestamp("us")),
        "user_id": pa.array(user_id[order].astype(np.int64)),
        "event_type": pa.array(etype[order]),
        "value": pa.array(value[order]),
        "props": pa.array([f'{{"k": {int(v)}}}' for v in k[order]]),
    }, schema=EVENTS_SCHEMA)
    _write(table, path)
    return EventsTruth(n_rows=n_rows, max_commit_ts=int(ts_us[-1]))


@dataclass(frozen=True)
class DocsTruth:
    n_docs: int
    near_pairs: frozenset  # planted (a_id, b_id), a_id < b_id, Jaccard >= threshold
    n_distinct_texts: int


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, the shingle set the dedup operators hash."""
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def write_documents(path: str, n_docs: int, seed: int,
                    near_share: float = 0.1, exact_share: float = 0.05,
                    threshold: float = 0.8) -> DocsTruth:
    """``documents.parquet`` with planted near and exact duplicates.

    Base documents are 40-120 words drawn from a 5,000-word vocabulary,
    so unrelated documents share almost no 3-gram shingles.  A near
    duplicate copies a base document and replaces two words; it is
    planted only when its true shingle Jaccard to the original reaches
    ``threshold``.  An exact duplicate copies a base document verbatim.
    """
    rng = np.random.default_rng(seed)
    vocab = [f"w{i:04d}" for i in range(5000)]
    n_near = int(n_docs * near_share)
    n_exact = int(n_docs * exact_share)
    n_base = n_docs - n_near - n_exact
    texts: list[str] = []
    for _ in range(n_base):
        words = rng.integers(0, len(vocab), int(rng.integers(40, 121)))
        texts.append(" ".join(vocab[w] for w in words))
    near: set[tuple[int, int]] = set()
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        toks = texts[src].split(" ")
        for pos in rng.choice(len(toks), size=2, replace=False):
            toks[pos] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(toks))
        if jaccard(texts[src], texts[-1]) >= threshold:
            near.add((src, len(texts) - 1))
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(0, n_base))])
    order = rng.permutation(n_docs)  # doc_id order hides the planting
    doc_id = np.empty(n_docs, dtype=np.int64)
    doc_id[order] = np.arange(n_docs, dtype=np.int64)
    near_ids = frozenset(
        (min(doc_id[a], doc_id[b]), max(doc_id[a], doc_id[b]))
        for a, b in near)
    rows = sorted(range(n_docs), key=lambda i: doc_id[i])
    table = pa.table({
        "doc_id": pa.array([int(doc_id[i]) for i in rows], type=pa.int64()),
        "text": pa.array([texts[i] for i in rows]),
        "lang": pa.array(["en"] * n_docs),
        "source": pa.array([f"src{int(doc_id[i]) % 4}" for i in rows]),
        "n_chars": pa.array([len(texts[i]) for i in rows], type=pa.int64()),
    }, schema=DOCS_SCHEMA)
    _write(table, path)
    return DocsTruth(n_docs=n_docs, near_pairs=near_ids,
                     n_distinct_texts=len(set(texts)))
