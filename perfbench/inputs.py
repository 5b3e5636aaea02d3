"""Seeded inputs the benchmark hands to the program.

``write_tables`` writes the tables the query suite and the curation job
read (documents, lineitem) with the schemas and value distributions of
the repo's sf-scaled parquet fixtures, as single-file, single-row-group
parquet like those fixtures. The web-page corpus comes
from the program's own generator (``sources.web_pages``) and is prepared
in ``workloads``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05    # copies of an earlier doc with one token appended
EXACT_DUP_SHARE = 0.002  # verbatim copies of an earlier doc


def documents(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    pos = 0
    for i in range(n):
        own = " ".join(vocab[words[pos:pos + lengths[i]]])
        pos += lengths[i]
        if i and kind[i] < EXACT_DUP_SHARE:
            own = texts[src[i]]
        elif i and kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            own = texts[src[i]] + " dup"
        texts.append(own)
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in lang], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def lineitem(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    day0 = np.datetime64("1995-01-02", "D")
    days = rng.integers(0, 2498, size=n)
    ship = (day0 + days).astype("datetime64[us]").astype(np.int64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(n // 4, 1), size=n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(n // 30, 1), size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(n // 600, 1), size=n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n), pa.string()),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


GENERATORS = {"documents": documents, "lineitem": lineitem}


def write_tables(out_dir: str, sizes: dict[str, int], seed: int) -> None:
    """Write each ``name -> rows`` table as ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, n in sizes.items():
        pq.write_table(GENERATORS[name](n, seed),
                       os.path.join(out_dir, f"{name}.parquet"))


def token_sample(n: int, seed: int) -> pa.Array:
    """``n`` tokens from the web-page corpus mixture (10% tok123, 10% tok456,
    10% tokr100..tokr110, 70% tok1000..tok9999) for single-threaded kernel
    replays."""
    rng = np.random.default_rng([seed, 4])
    r = rng.random(n)
    v = rng.integers(0, 9000, size=n)
    toks = np.where(r < 0.1, "tok123", np.where(r < 0.2, "tok456", np.where(
        r < 0.3, np.char.add("tokr", (100 + v % 11).astype(str)),
        np.char.add("tok", (1000 + v).astype(str)))))
    return pa.array(toks.tolist(), pa.string())
