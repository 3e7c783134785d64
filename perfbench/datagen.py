"""Seeded generator for the engine's ten input tables.

Writes ``region … embeddings`` as one parquet file each, with the
schemas and cardinalities of the engine's sf0.1 corpus (600k
lineitem rows, 5,000 documents over a 30-term vocabulary).  Document
words follow a Zipf law over the vocabulary, so terms range from
ones in nearly every document (zero BM25 weight) to ones in about a
seventh of them.  The seed changes every drawn value and nothing else:
row counts, vocabularies and the number of planted duplicates are
fixed, so two seeds cost the engine the same work.

:func:`documents` also makes the ``store_lifecycle`` workload's
appended and streamed document batches.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the corpus vocabulary, most frequent first ("a" falls under the
#: indexer's 3-character minimum, like a stopword)
VOCAB = (
    "the data a table row value column join filter group spark window "
    "merge vector stream small big hash customer sort order slow line "
    "part fast agg key query scan batch"
).split()
#: Zipf exponent of word frequency by rank: at 10–100 words a document,
#: the ten most frequent terms are in more than half the documents
#: (BM25 weight 0) and the rarest in about 15%
ZIPF_S = 1.5
_WORD_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** ZIPF_S
_WORD_P /= _WORD_P.sum()
#: terms the index holds (length >= 3), the pool probes draw from
INDEXED_VOCAB = [t for t in VOCAB if len(t) >= 3]
#: the ten most frequent indexed terms, each in about half the
#: documents or more: zero or low BM25 weight, the non-essential side
#: of a MaxScore split
COMMON_TERMS = INDEXED_VOCAB[:10]
#: the fifteen least frequent, each in at most about a third of the
#: documents: several times a common term's weight, the essential side
RARE_TERMS = INDEXED_VOCAB[14:]

SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_NEAR_DUP_SHARE = 0.05
_EXACT_DUP_PAIRS = 8


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(start: dt.date, n_days: int, rng, size) -> pa.Array:
    d0 = dt.datetime(start.year, start.month, start.day)
    return _ts(d0, rng.integers(0, n_days + 1, size) * 86_400_000_000)


def _money(rng, lo: float, hi: float, size) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _choice(rng, values, size, p=None) -> pa.Array:
    return pa.array(np.asarray(values)[rng.choice(len(values), size, p=p)])


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB)[rng.choice(len(VOCAB), int(lens.sum()), p=_WORD_P)]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def _plant_duplicates(rng, texts: list[str], near_share: float, exact_pairs: int) -> list[str]:
    """Turn a fixed share of ``texts`` into near duplicates (another
    text plus one token) and ``exact_pairs`` more into exact copies."""
    n = len(texts)
    out = list(texts)
    picks = rng.permutation(n)
    n_near = int(round(n * near_share))
    for i in picks[:n_near]:
        out[i] = texts[int(rng.integers(0, n))] + " dup"
    for j in range(exact_pairs):
        a, b = picks[n_near + 2 * j], picks[n_near + 2 * j + 1]
        out[b] = out[a]
    return out


def documents(rng, n: int, first_id: int = 0) -> pa.Table:
    texts = _plant_duplicates(rng, _texts(rng, n), _NEAR_DUP_SHARE, _EXACT_DUP_PAIRS)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _choice(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0xDE7])
    n = SF01
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _choice(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
            ),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    keys = np.arange(p, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": pa.array(
                [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))]
            ),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], p),
            "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
            "o_orderdate": _days(dt.date(1995, 1, 1), 2404, rng, o),
            "o_orderpriority": _choice(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
            ),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li),
            "l_partkey": rng.integers(0, p, li),
            "l_suppkey": rng.integers(0, s, li),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
            "l_returnflag": _choice(rng, ["A", "N", "R"], li),
            "l_linestatus": _choice(rng, ["F", "O"], li),
            "l_shipdate": _days(dt.date(1995, 1, 2), 2498, rng, li),
        }
    )
    ev = n["events"]
    offs = np.sort(rng.choice(30 * 86_400_000_000, ev, replace=False))
    out["events"] = pa.table(
        {
            "event_id": np.arange(ev, dtype=np.int64),
            "ts": _ts(dt.datetime(2024, 1, 1), offs),
            "user_id": rng.integers(0, 1500, ev),
            "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], ev),
            "value": np.round(rng.exponential(50.0, ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]),
        }
    )
    out["documents"] = documents(rng, n["documents"])
    e = n["embeddings"]
    vec = rng.standard_normal((e, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(e, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, e), pa.int32()),
        }
    )
    return out


def write_tables(seed: int, sf_dir: str) -> None:
    """Write every table as ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
