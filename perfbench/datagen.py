"""Seeded inputs for the benchmark: the ten fixture tables and the
MapReduce text corpus.

``write_tables`` mirrors the schemas and value domains of the fixture
tables described in FIXTURES.md (TPC-H-ish star schema, ``events``,
``documents``, ``embeddings``) at a chosen scale factor, so every
registered query runs on them unchanged and its DuckDB oracle applies.
Row counts follow the fixture ratios: lineitem = 6,000,000 * sf.

``write_corpus`` writes whole ``pg-*.txt``-style files for the
reference's text job: Zipf-distributed words drawn from several
Unicode scripts, separated by spaces, newlines, digits and
punctuation, so the letter-run tokenizer of ``mrapps/wc.go`` sees every
kind of boundary.

Both are pure functions of their seed: the same seed writes the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DOC_WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
_PART_NOUN = ["bolt", "gear", "plate", "ring", "widget", "nut", "pin", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = np.asarray(_PART_ADJ, dtype=object)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.asarray(_PART_NOUN, dtype=object)[rng.integers(0, len(_PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": adj + " " + noun,
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    words = np.asarray(_DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, n_doc)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.asarray([len(x) for x in texts], dtype=np.int64),
    })
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> int:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns
    the bytes written. All ten, whatever a workload reads: the DuckDB
    oracle connection registers every fixture table."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in _tables(np.random.default_rng([seed, 1]), sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total


# Letters of several scripts: the tokenizer's Unicode letter test
# (str.isalpha / \p{L}) must hold for every one of them.
_ALPHABETS = (
    "abcdefghijklmnopqrstuvwxyz",
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
    "àáâäçèéêëìíîïñòóôöùúûüß",
    "абвгдежзийклмнопрстуфхцчшщыэюя",
    "αβγδεζηθικλμνξοπρστυφχψω",
    "日本語文字列処理分散計算",
)
_SEPARATORS = np.asarray([" "] * 12 + ["\n", ", ", ". ", "; ", "-", " 42 ", "7", "_", "'"], dtype=object)


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct words. Script and length follow the rank, so the
    corpus size barely moves with the seed; the letters are random."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        rank = len(out)
        alpha = _ALPHABETS[rank % len(_ALPHABETS)]
        w = "".join(alpha[i] for i in rng.integers(0, len(alpha), 2 + rank % 7))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.asarray(out, dtype=object)


def write_corpus(out_dir: str, seed: int, n_files: int, words_per_file: int, vocab: int) -> int:
    """Write ``n_files`` whole text files ``pg-<i>.txt`` of Zipf(1.1)
    words over a ``vocab``-word vocabulary; returns the bytes written."""
    rng = np.random.default_rng([seed, 2])
    words = _vocabulary(rng, vocab)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    zipf = 1.0 / np.arange(1, vocab + 1) ** 1.1
    zipf /= zipf.sum()
    for i in range(n_files):
        ranks = rng.choice(vocab, size=words_per_file, p=zipf)
        seps = _SEPARATORS[rng.integers(0, len(_SEPARATORS), len(ranks))]
        body = "".join((words[ranks] + seps).tolist())
        path = os.path.join(out_dir, f"pg-{i:02d}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(body)
        total += os.path.getsize(path)
    return total
