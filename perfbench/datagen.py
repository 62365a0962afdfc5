"""Seeded star-schema generator for the ``query_headline`` workload.

Writes the ten tables the headline registry queries read (region nation
customer supplier part orders lineitem events documents embeddings), with
the column names, types and value shapes of the sf-scaled test fixtures
(TPC-H-ish star schema plus an event stream, a document corpus and an
embedding set). Row counts scale with ``sf`` like TPC-H (sf 1 = 6M
lineitem rows).

The corpus properties the LSH queries' recall arguments rely on are
built in, so each query's result equals its DuckDB oracle for any seed:
- documents: random word sequences over a 32-word vocabulary (word
  3-gram Jaccard between unrelated documents stays below 0.2), a few
  exact duplicates, and planted near-duplicates that differ from a
  60+-word source in one word (Jaccard >= 0.9, the clean gap both the
  MinHash (0.4) and SimHash (0.7) verify thresholds sit in);
- embeddings: i.i.d. Gaussian 64-d vectors, so cosine >= 0.5 pairs are
  rare (a handful per corpus) exactly as in the fixtures.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "a the data row column table key value hash join sort merge scan filter "
    "group agg window stream batch query vector spark part line order fast "
    "slow big small index cache plan"
).split()
LANGS = ["en", "en", "en", "fr", "de", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, start: str, days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 100, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # planted near-duplicates: ~5% of documents copy an earlier long
    # document with exactly one word replaced
    long_ids = [i for i in range(n // 2) if lengths[i] >= 60]
    targets = rng.choice(np.arange(n // 2, n), size=min(len(long_ids), n // 20), replace=False)
    for t in targets:
        words = texts[int(rng.choice(long_ids))].split(" ")
        pos = int(rng.integers(0, len(words)))
        words[pos] = VOCAB[(VOCAB.index(words[pos]) + 1 + int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
        texts[t] = " ".join(words)
    # a few exact duplicates
    for _ in range(max(1, n // 600)):
        src, dst = rng.integers(0, n, 2)
        texts[int(dst)] = texts[int(src)]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng([seed, 7321])
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = max(2000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))

    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adjectives = np.array(["large", "hot", "small", "red", "blue", "steel", "brass"])
    nouns = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    adjectives[rng.integers(0, len(adjectives), n_part)],
                    nouns[rng.integers(0, len(nouns), n_part)],
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO"])[
                rng.integers(0, 5, n_part)
            ],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) * 0.1, 2),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 450_000, n_ord),
            "o_orderdate": _dates(rng, "1992-01-01", 2400, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 100_000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _dates(rng, "1992-01-01", 3650, n_li),
        }
    )
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, max(50, n_ev // 66), n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0, 560, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, n_doc),
        "embeddings": embeddings,
    }


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf, seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
