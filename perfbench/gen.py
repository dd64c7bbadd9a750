"""Seeded input generation for the benchmark.

Everything a workload feeds the program comes from here and depends only
on ``seed`` and the size arguments: the TPC-H-shaped star schema behind
the metric views, the CDC change batches, the analyst query stream and
the curation corpus. Files are written with pyarrow before Spark starts,
so generation is never part of a timed interval or of ``setup_s``.
"""

from __future__ import annotations

import datetime as _dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUSES = ("F", "O")
ORDER_DAY0 = _dt.date(1995, 1, 1)
ORDER_DAYS = (_dt.date(2001, 8, 1) - ORDER_DAY0).days + 1
YEARS = tuple(range(1995, 2002))

_EPOCH = _dt.date(1970, 1, 1)


def _strings(choices, idx) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[idx], type=pa.string())


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days_to_ts(days_since_day0: np.ndarray) -> pa.Array:
    base = (ORDER_DAY0 - _EPOCH).days
    micros = (days_since_day0.astype(np.int64) + base) * 86_400_000_000
    return pa.array(micros, type=pa.timestamp("us"))


def tpch_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """Star schema with the column names and types the project's models
    read (``project.build_registry``). Every foreign key resolves, so the
    metric views' left joins equal inner joins and a DuckDB oracle can
    use either."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
    })
    adjectives = ("blue", "hot", "large", "shiny", "small", "steel")
    nouns = ("bolt", "gear", "nut", "ring", "screw", "valve")
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))
        ]),
        "p_brand": _strings([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_part)),
        "p_type": _strings(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(_cents(rng, 900.0, 2000.0, n_part)),
    })
    order_day = rng.integers(0, ORDER_DAYS, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _strings(STATUSES, rng.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days_to_ts(order_day),
        "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _strings(RETURN_FLAGS, rng.integers(0, 3, n_li)),
        "l_linestatus": _strings(LINE_STATUSES, rng.integers(0, 2, n_li)),
        "l_shipdate": _days_to_ts(np.repeat(order_day, lines) + rng.integers(1, 122, n_li)),
    })
    n_vec = max(100, int(20_000 * sf))
    centers = rng.normal(size=(10, 64)).astype(np.float32)
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + 0.3 * rng.normal(size=(n_vec, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One parquet file per table, ``<out_dir>/<name>.parquet`` — the
    layout ``project.build_registry`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def write_replica(table: pa.Table, out_dir: str, name: str, copies: int) -> str:
    """*copies* verbatim copies of *table* as one parquet directory
    ``<out_dir>/<name>.parquet/`` — the same rows ``bench.py``'s
    crossJoin(range(10)) replica holds, one file per copy (hard links of
    one written file: Spark reads each as its own split)."""
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    first = os.path.join(d, "part-000.parquet")
    pq.write_table(table, first)
    for i in range(1, copies):
        os.link(first, os.path.join(d, f"part-{i:03d}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# CDC batches over stg_lineitem
# ---------------------------------------------------------------------------

SHIP_CUTOFF_DAYS = (_dt.date(2001, 9, 2) - ORDER_DAY0).days


def cdc_batches(lineitem: pa.Table, seed: int, n_batches: int, size: int) -> list[dict]:
    """*n_batches* seeded UPDATE batches. Each picks *size* distinct rows
    inside the pricing view's filter (ship_date <= 2001-09-02) and gives
    them new quantity / price / discount / return flag, keeping the key
    and ship date so the post-image stays inside the filter. Returned as
    row indices plus post-image column arrays; the maintain workload turns
    them into stg_lineitem-shaped before/after frames."""
    rng = np.random.default_rng([seed, 2])
    ship = lineitem.column("l_shipdate").to_numpy().astype("datetime64[D]")
    day = (ship - np.datetime64(ORDER_DAY0)).astype(np.int64)
    eligible = np.flatnonzero(day <= SHIP_CUTOFF_DAYS)
    out = []
    for _ in range(n_batches):
        idx = np.sort(rng.choice(eligible, size=size, replace=False))
        out.append({
            "rows": idx,
            "l_quantity": rng.integers(1, 51, size).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, size),
            "l_discount": rng.integers(0, 11, size) / 100.0,
            "l_returnflag": np.asarray(RETURN_FLAGS, dtype=object)[rng.integers(0, 3, size)],
        })
    return out


def apply_batch(lineitem: pa.Table, batch: dict) -> pa.Table:
    """The source after *batch*'s updates — what the oracle reads."""
    cols = {}
    for name in lineitem.column_names:
        col = lineitem.column(name)
        if name in batch:
            arr = col.to_numpy(zero_copy_only=False).copy()
            arr[batch["rows"]] = batch[name]
            col = pa.array(arr, type=col.type)
        cols[name] = col
    return pa.table(cols)


# ---------------------------------------------------------------------------
# Analyst query stream
# ---------------------------------------------------------------------------


def _date(day: int) -> str:
    return (ORDER_DAY0 + _dt.timedelta(days=int(day))).isoformat()


def query_literals(rng: np.random.Generator) -> dict[str, object]:
    """One draw of every WHERE literal the templates use."""
    d0 = int(rng.integers(0, ORDER_DAYS - 120))
    return {
        "segment": SEGMENTS[int(rng.integers(0, 5))],
        "status": STATUSES[int(rng.integers(0, 3))],
        "year": int(rng.choice(YEARS)),
        "flag": RETURN_FLAGS[int(rng.integers(0, 3))],
        "region": REGIONS[int(rng.integers(0, 5))],
        "date_lo": _date(d0),
        "date_hi": _date(d0 + int(rng.integers(14, 120))),
        "limit": int(rng.integers(2, 5)),
        "min_revenue": float(rng.integers(1, 50)) * 1e6,
    }


def query_rounds(seed: int, templates: list[str], n_rounds: int) -> list[list[tuple[str, dict]]]:
    """*n_rounds* rounds; each runs every template once, in a seeded order
    and with seeded literals. Fixing the per-round mix keeps the median
    comparable across seeds while the literals and order still vary."""
    rng = np.random.default_rng([seed, 3])
    rounds = []
    for _ in range(n_rounds):
        order = rng.permutation(len(templates))
        rounds.append([(templates[i], query_literals(rng)) for i in order])
    return rounds


# ---------------------------------------------------------------------------
# Curation corpus
# ---------------------------------------------------------------------------

def _vocabulary(rng: np.random.Generator, n_words: int) -> np.ndarray:
    """*n_words* distinct random-letter words, 3 to 10 letters long."""
    words: set[str] = set()
    while len(words) < n_words:
        lens = rng.integers(3, 11, n_words)
        letters = rng.integers(0, 26, (n_words, 10)).astype(np.uint8) + ord("a")
        words.update(row[:n].tobytes().decode() for row, n in zip(letters, lens))
    return np.asarray(sorted(words)[:n_words], dtype=object)


def _zipf_words(rng, vocab, n) -> list[str]:
    """*n* words with Zipf(1.0) frequencies over the finite vocabulary."""
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1))
    ranks = np.searchsorted(cdf, rng.random(n) * cdf[-1])
    return list(vocab[ranks])


def curation_corpus(seed: int, n_docs: int) -> dict:
    """A web-like corpus with planted structure, plus an eval slice.

    * vocabulary: 50k random-letter words with Zipf(1.0) frequencies;
    * 5% of docs are exact copies of an earlier doc;
    * 5% are near copies (about 3% of words replaced);
    * 10% carry one shared boilerplate paragraph (the hot key);
    * the eval slice holds ``n_docs // 25`` docs, a third of which embed a
      40-word span copied from a corpus doc (planted leakage).

    Returns the corpus and eval tables plus the planted ground truth."""
    rng = np.random.default_rng([seed, 4])
    vocab = rng.permutation(_vocabulary(rng, 50_000))
    boiler = " ".join(_zipf_words(rng, vocab, 40))
    n_exact = n_docs // 20
    n_near = n_docs // 20
    n_base = n_docs - n_exact - n_near
    texts: list[str] = []
    for i in range(n_base):
        words = _zipf_words(rng, vocab, int(rng.integers(50, 150)))
        if rng.random() < 0.10:
            cut = int(rng.integers(0, len(words)))
            words = words[:cut] + boiler.split() + words[cut:]
        texts.append(" ".join(words))
    exact_pairs, near_pairs = [], []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        exact_pairs.append((src, len(texts)))
        texts.append(texts[src])
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        words = texts[src].split()
        for j in rng.choice(len(words), size=max(1, len(words) // 33), replace=False):
            words[j] = str(vocab[int(rng.integers(0, len(vocab)))])
        near_pairs.append((src, len(texts)))
        texts.append(" ".join(words))
    n_eval = max(8, n_docs // 25)
    eval_texts, leaked = [], []
    for e in range(n_eval):
        words = _zipf_words(rng, vocab, int(rng.integers(60, 120)))
        if e % 3 == 0:
            src = texts[int(rng.integers(0, n_base))].split()
            start = int(rng.integers(0, max(1, len(src) - 40)))
            cut = int(rng.integers(0, len(words)))
            words = words[:cut] + src[start:start + 40] + words[cut:]
            leaked.append(e)
        eval_texts.append(" ".join(words))
    corpus = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
    })
    evalset = pa.table({
        "doc_id": pa.array(np.arange(n_eval, dtype=np.int64)),
        "text": pa.array(eval_texts, type=pa.string()),
    })
    # search queries: three words of a random corpus doc, so each matches
    queries = [
        " ".join(rng.choice(texts[int(rng.integers(0, n_base))].split(), size=3))
        for _ in range(64)
    ]
    return {
        "corpus": corpus,
        "eval": evalset,
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "leaked_eval_ids": leaked,
        "queries": queries,
        "vocab_top": [str(vocab[0]), str(vocab[1])],
    }


def char_shingle_jaccard(a: str, b: str, k: int = 5) -> float:
    """Python reference of the operators' char k-shingle Jaccard
    (normalize: lower, trim, collapse whitespace; round to 6 places)."""

    def sh(t: str) -> set[str]:
        t = re.sub(r"\s+", " ", t.strip().lower())
        return {t[i:i + k] for i in range(max(len(t) - k + 1, 1))}

    x, y = sh(a), sh(b)
    return round(len(x & y) / len(x | y), 6)
