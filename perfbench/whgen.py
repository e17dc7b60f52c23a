"""Seeded inputs for the warehouse workload.

* TPC-H-ish star-schema tables with the column names and types the
  query registry reads (``region nation customer supplier orders
  lineitem events``), written as one parquet file each;
* a documents corpus with planted exact duplicates (case and
  whitespace variants, which the dedup normalisation folds) and
  planted near duplicates (a few words replaced), for the curation
  operators;
* the commit batches replayed against a snapshot table built from
  ``orders``.

Everything derives from one ``numpy`` generator seeded by the run's
seed, so a seed fixes every input byte.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "error", "search"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"]
EXACT_FRAC = 0.05  # share of the corpus that are planted exact duplicates
NEAR_FRAC = 0.05  # share that are planted near duplicates
BATCH_ROWS = 200  # rows per append or merge batch


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, start: str, days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The relational tables at scale factor ``sf`` (orders = 150k·sf,
    lineitem ≈ 4 rows per order, the registry's testdata shape)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 10)
    n_ord, n_ev = max(int(1_500_000 * sf), 100), max(int(1_000_000 * sf), 100)

    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS})
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999, 9999, n_supp),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _dates(rng, "1992-01-01", 2400, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(orders["o_orderkey"].to_numpy(), lines)
    n_li = len(l_ord)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_ord,
            "l_partkey": rng.integers(0, max(int(200_000 * sf), 10), n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            # Whole hundreds: every revenue and charge sum the registry
            # rounds to cents is then exact to the cent, so no sum sits
            # on a half-cent tie that Spark and DuckDB could round apart.
            "l_extendedprice": rng.integers(9, 1051, n_li) * 100.0,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _dates(rng, "1992-01-01", 2500, n_li),
        }
    )
    # Strictly increasing timestamps: the as-of join's "most recent
    # prior purchase" then has no ties to break.
    gaps = rng.integers(1_000_000, 600_000_000, n_ev).cumsum()
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + gaps.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(n_cust // 10, 5), n_ev).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_ev, p=[0.4, 0.3, 0.1, 0.1, 0.1]),
            "value": _money(rng, 0, 100, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def write_tables(tbls: dict[str, pd.DataFrame], out_dir: str) -> int:
    """One parquet file per table; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, df in tbls.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        total += os.path.getsize(path)
    return total


def corpus(seed: int, n_docs: int):
    """Documents ``(doc_id, text, lang, source, n_chars)`` plus the
    planted structure: ``exact`` maps each planted copy id to the id of
    the document it copies (after dedup normalisation the texts are
    equal), ``near`` lists the planted near-duplicate ``(orig, copy)``
    id pairs."""
    rng = np.random.default_rng([seed, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(6000)})
    vocab = np.array([w for w in vocab if w not in STOPWORDS])
    n_base = int(n_docs * (1 - EXACT_FRAC - NEAR_FRAC))
    texts: list[str] = []
    for i in range(n_base):
        n_words = int(rng.integers(20, 220))  # some fall under gopher's 50-word floor
        words = rng.choice(vocab, n_words).tolist()
        for j in rng.integers(0, n_words, max(n_words // 8, 2)):
            words[j] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        texts.append(" ".join(words))
    exact: dict[int, int] = {}
    near: list[tuple[int, int]] = []
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") >= 80]
    picks = rng.choice(long_ids, n_docs - n_base, replace=False)
    n_exact = int(n_docs * EXACT_FRAC)
    for k, orig in enumerate(picks.tolist()):
        new_id = len(texts)
        words = texts[orig].split(" ")
        if k < n_exact:
            # Same text after lower() and whitespace collapse.
            words[0] = words[0].upper()
            texts.append("  ".join(words[:5]) + " \t" + " ".join(words[5:]))
            exact[new_id] = orig
        else:
            for j in rng.choice(len(words), 2, replace=False):
                words[j] = str(rng.choice(vocab))
            texts.append(" ".join(words))
            near.append((orig, new_id))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": [f"src{i % 7}" for i in range(len(texts))],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    return docs, exact, near


class OrderBatches:
    """Commit batches against the orders snapshot, made on demand from
    one seeded generator, so a run may commit any number of times.
    ``next("append")`` and ``next("merge")`` return a DataFrame
    (a merge is half updates of live keys, half new keys);
    ``next("delete")`` returns an ``(lo, hi)`` key range."""

    def __init__(self, seed: int, orders: pd.DataFrame):
        self.rng = np.random.default_rng([seed, 3])
        self.orders = orders
        self.by_key = orders.set_index("o_orderkey")
        self.cols = list(orders.columns)
        self.next_key = int(orders["o_orderkey"].max()) + 1

    def _fresh(self, k: int) -> pd.DataFrame:
        keys = np.arange(self.next_key, self.next_key + k, dtype="int64")
        self.next_key += k
        sample = self.orders.iloc[self.rng.integers(0, len(self.orders), k)].reset_index(drop=True)
        sample["o_orderkey"] = keys
        sample["o_totalprice"] = _money(self.rng, 1000, 500_000, k)
        return sample[self.cols]

    def next(self, kind: str):
        if kind == "append":
            return self._fresh(BATCH_ROWS)
        if kind == "merge":
            upd_keys = self.rng.choice(self.by_key.index.to_numpy(), BATCH_ROWS // 2, replace=False)
            upd = self.by_key.loc[upd_keys].reset_index()
            upd["o_totalprice"] = np.round(upd["o_totalprice"] + 1.25, 2)
            return pd.concat([upd[self.cols], self._fresh(BATCH_ROWS - BATCH_ROWS // 2)], ignore_index=True)
        lo = int(self.rng.integers(0, len(self.orders) - BATCH_ROWS))
        return lo, lo + BATCH_ROWS // 4
