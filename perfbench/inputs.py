"""Seeded input tables for the benchmark, replicas of the sf0.1 fixture.

Every table is a pure function of ``(seed, scale)`` built with NumPy and
written as parquet with small row groups, so each scan stage splits
into several tasks. Column names, types and value distributions follow
the sf0.1 fixture star schema the engine's operators read
(``documents``, ``embeddings``, ``events``, ``lineitem``); ``FIXTURE``
records what was measured there, and ``doc_stats`` measures any
``documents`` table the same way:

    python3 perfbench/inputs.py <dir holding documents.parquet>

The engine sees only these files.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture's documents draw every token uniformly from these 30 words.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
DUP_MARK = "dup"
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EMB_DIM = 64
ROW_GROUPS = 16
EPOCH_US = 1_704_067_200_000_000       # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

# sf0.1 row counts; a benchmark input is these times ``scale``.
SF01_ROWS = {"documents": 5000, "embeddings": 2000, "events": 100_000,
             "users": 1500, "lineitem": 600_000}

# Measured on the sf0.1 fixture's documents table (5,000 rows).
FIXTURE = {
    "tokens_min": 10, "tokens_max": 100, "tokens_mean": 54.14,
    "vocab": 30,            # plus the near-copy marker "dup"
    "near_copy_share": 0.05,    # docs ending in " dup": 250
    "exact_dup_share": 0.0032,  # docs whose text another doc also has: 16
    "en_share": 0.412,
    "newlines": 0, "punctuation": 0, "digits": 0,
}


def _write(table: pa.Table, path: str) -> None:
    rows = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rows)


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Space-separated tokens drawn uniformly from ``VOCAB``, 10-99 per
    document, no punctuation, digits or newlines (the fixture has
    none). A twentieth of the documents, taken in doc_id order, become
    the text of another random document plus " dup"; two that copy the
    same source are exact duplicates."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 100, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    near = np.sort(rng.choice(n, n // 20, replace=False))
    for i, src in zip(near, rng.integers(0, n - 1, len(near))):
        texts[i] = texts[src + (src >= i)] + " " + DUP_MARK
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Gaussian directions scaled to unit L2 norm, labels 0-9."""
    vecs = rng.standard_normal((n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMB_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """30 days of events in time order; value exponential with mean 50
    (the fixture's median is 34.8, its maximum 560)."""
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_US
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    """Uniform columns over the fixture's ranges; n/4 order keys."""
    start = np.datetime64("1995-01-02", "us").astype(np.int64)
    ship = start + rng.integers(0, 2499, n) * DAY_US
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n)),
        "l_partkey": pa.array(rng.integers(0, 20_000, n)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(
            np.round(rng.random(n) * 104_100 + 900, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def write_tables(out_dir: str, seed: int, scale: float) -> str:
    """Write the four tables at ``scale`` times sf0.1 under ``out_dir``.
    Idempotent: a completed directory is reused."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    n = {k: int(v * scale) for k, v in SF01_ROWS.items()}
    rng = np.random.default_rng([seed, n["documents"], 2])
    _write(documents(rng, n["documents"]), f"{out_dir}/documents.parquet")
    _write(embeddings(rng, n["embeddings"]), f"{out_dir}/embeddings.parquet")
    _write(events(rng, n["events"], n["users"]), f"{out_dir}/events.parquet")
    _write(lineitem(rng, n["lineitem"]), f"{out_dir}/lineitem.parquet")
    open(marker, "w").close()
    return out_dir


def doc_stats(texts, langs) -> dict:
    """The ``FIXTURE`` figures of a documents table's columns."""
    toks = [t.split(" ") for t in texts]
    lens = np.array([len(w) for w in toks])
    counts: dict = {}
    for t in texts:
        counts[t] = counts.get(t, 0) + 1
    n = len(texts)
    return {
        "tokens_min": int(lens.min()), "tokens_max": int(lens.max()),
        "tokens_mean": round(float(lens.mean()), 2),
        "vocab": len({w for ws in toks for w in ws} - {DUP_MARK}),
        "near_copy_share": sum(ws[-1] == DUP_MARK for ws in toks) / n,
        "exact_dup_share": sum(c for c in counts.values() if c > 1) / n,
        "en_share": round(langs.count("en") / n, 3),
        "newlines": sum(t.count("\n") for t in texts),
        "punctuation": sum(sum(t.count(c) for c in ".,;:!?'\"()-@")
                           for t in texts),
        "digits": sum(any(c.isdigit() for c in t) for t in texts),
    }


if __name__ == "__main__":
    t = pq.read_table(os.path.join(sys.argv[1], "documents.parquet"),
                      columns=["text", "lang"]).to_pydict()
    print(json.dumps(doc_stats(t["text"], t["lang"])))
