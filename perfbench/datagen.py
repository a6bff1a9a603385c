"""Seeded inputs for the benchmark workloads.

Two generators, both deterministic in ``seed``:

- ``write_tables`` writes the ten engine tables (``catalog.TABLES``) as one
  parquet file each, with the column names, types and value ranges of the
  repository's synthetic TPC-H-style test data: uniform keys, two-decimal
  prices, day-granular dates, a sorted 30-day event stream, 30-word
  documents of which about 5% are a copy of an earlier one plus " dup",
  and unit-norm 64-d embeddings around 10 label centroids.
- ``write_corpus`` writes the MapReduce text corpus: ``n_files`` files
  with mixed case, tabs, at least one blank line per file, short 4-word lines, prose
  lines of 10-80 words, and some lines containing "product".
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
EMBED_DIM = 64
EMBED_LABELS = 10


def _day_range(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    days = rng.integers(0, (end - start).days + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _cents(rng, n, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n), pa.int64())


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(len(texts)))] + " dup")
        else:
            words = rng.choice(len(DOC_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(DOC_WORDS[w] for w in words))
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centroids = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, EMBED_LABELS, n)
    vecs = 0.15 * centroids[labels] + rng.normal(size=(n, EMBED_DIM)) / 8.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": _keys(n),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; same (seed, sf) → same tables."""
    rng = np.random.default_rng(seed)
    rows = table_rows(sf)
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li, n_ev = rows["orders"], rows["lineitem"], rows["events"]
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _keys(n_cust),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": _pick(
                    rng,
                    ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
                    n_cust,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _keys(n_supp),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _keys(n_part),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": _pick(
                    rng,
                    ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
                    n_part,
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": _keys(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": _day_range(
                    rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)
                ),
                "o_orderpriority": _pick(
                    rng,
                    ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
                    n_ord,
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _cents(rng, n_li, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
                "l_linestatus": _pick(rng, ("F", "O"), n_li),
                "l_shipdate": _day_range(
                    rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": _keys(n_ev),
                "ts": pa.array(
                    np.datetime64("2024-01-01T00:00:00", "us")
                    + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype(
                        "timedelta64[us]"
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(
                    rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()
                ),
                "event_type": _pick(
                    rng, ("click", "error", "purchase", "signup", "view"), n_ev
                ),
                "value": np.maximum(
                    0.01, np.round(rng.exponential(50.0, n_ev), 2)
                ),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    return tables


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def _corpus_vocab(rng, size: int) -> list[str]:
    """Pronounceable lowercase words, plus the grep keyword."""
    cons, vows = "bcdfghklmnprstvwz", "aeiou"
    words = {"product"}
    while len(words) < size:
        n_syl = int(rng.integers(1, 4))
        words.add(
            "".join(
                cons[int(rng.integers(len(cons)))] + vows[int(rng.integers(len(vows)))]
                for _ in range(n_syl)
            )
        )
    return sorted(words)


def _recase(rng, word: str) -> str:
    r = rng.random()
    if r < 0.15:
        return word.capitalize()
    if r < 0.18:
        return word.upper()
    return word


def write_corpus(out_dir: str, seed: int, n_files: int, total_bytes: int) -> list[str]:
    """Write ``file01`` … ``fileNN`` totalling about ``total_bytes``."""
    rng = np.random.default_rng(seed)
    vocab = _corpus_vocab(rng, 400)
    # Zipf-like frequencies so reducers see hot and rare keys.
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights = weights[rng.permutation(len(vocab))]
    weights /= weights.sum()
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per_file = total_bytes // n_files
    for f in range(1, n_files + 1):
        lines = ["Hello World Bye World", ""]
        size = sum(len(x) + 1 for x in lines)
        while size < per_file:
            r = rng.random()
            if r < 0.03:
                line = ""
            elif r < 0.15:
                line = " ".join(
                    _recase(rng, vocab[w]) for w in rng.choice(len(vocab), 4, p=weights)
                )
            else:
                n = int(rng.integers(10, 81))
                toks = [
                    _recase(rng, vocab[w]) for w in rng.choice(len(vocab), n, p=weights)
                ]
                if rng.random() < 0.05:
                    toks[int(rng.integers(n))] = "Product"
                seps = np.where(rng.random(n - 1) < 0.02, "\t", " ")
                line = toks[0] + "".join(s + t for s, t in zip(seps, toks[1:]))
            lines.append(line)
            size += len(line) + 1
        path = os.path.join(out_dir, f"file{f:02d}")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths
