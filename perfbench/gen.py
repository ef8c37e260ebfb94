"""Seeded inputs for the benchmark: the tables and the analyst sessions.

The lineitem/orders tables are drawn from a fixed data seed, so every
explain call a session can make has one recorded golden digest
(``goldens.json``). ``--seed`` only picks each session step's parameters
from the fixed menus below. The documents table for ``curate_docs`` is
drawn from ``--seed`` itself: its output check is an independent DuckDB
oracle, not a golden.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# rows per scale; "bench" is what the timed runs use, "smoke" is the
# sf0.001-sized set the smoke test runs every workload on
SCALES = {
    "bench": {"lineitem": 60_000, "docs": 800},
    "smoke": {"lineitem": 6_000, "docs": 300},
}

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# ---- session menus: each step draws one entry per session
FILTER_ATTRS = ["l_quantity", "l_extendedprice", "l_discount"]
FILTER_QUANTILES = [0.5, 0.75, 0.9]
GROUP_KEYS = ["l_returnflag", "l_linestatus", "l_linenumber"]
GROUP_MEASURES = ["l_quantity", "l_extendedprice"]
GROUP_AGGS = ["mean", "sum"]
JOIN_PRIORITIES = [PRIORITIES[:1], PRIORITIES[:2], PRIORITIES[1:3], PRIORITIES[3:]]
SHAPLEY_ATTRS = ["l_extendedprice", "l_tax"]
ORDER_KEYS = ["o_orderpriority", "o_orderstatus"]
LABEL_BINS = {
    "l_quantity": [20.0, 40.0],
    "l_extendedprice": [20_000.0, 50_000.0],
    "l_discount": [0.03, 0.07],
}
META_KEYS = [
    ["l_returnflag", "l_linestatus"],
    ["l_linestatus", "l_linenumber"],
    ["l_returnflag", "l_linenumber"],
]
META_MEASURES = ["l_quantity", "l_extendedprice"]

_EPOCH = dt.datetime(1992, 1, 1)


def _timestamps(days: np.ndarray) -> pa.Array:
    us = (days.astype(np.int64) * 86_400_000_000)
    base = int(_EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(us + base, type=pa.timestamp("us"))


def make_tables(n_lineitem: int) -> dict[str, pa.Table]:
    """TPC-H-shaped lineitem and orders with planted structure (return
    flag tracks quantity, order price tracks priority) so every explainer
    has something to find."""
    rng = np.random.default_rng(DATA_SEED)
    n_orders = n_lineitem // 4
    prio_idx = rng.integers(0, len(PRIORITIES), n_orders)
    o_days = rng.integers(0, 2400, n_orders)

    l_order = np.sort(rng.integers(1, n_orders + 1, n_lineitem))
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    unit = rng.uniform(900.0, 2000.0, n_lineitem)
    # urgent orders carry pricier parts: the outlier step's planted cause
    unit *= 1.0 + 0.15 * (prio_idx[l_order - 1] == 0)
    price = np.round(qty * unit, 2)
    disc = rng.integers(0, 11, n_lineitem) / 100.0
    tax = rng.integers(0, 9, n_lineitem) / 100.0
    p_return = np.where(qty > 40, 0.6, 0.15)
    flag = np.where(rng.random(n_lineitem) < p_return, "R",
                    np.where(rng.random(n_lineitem) < 0.5, "A", "N"))
    ship_days = o_days[l_order - 1] + rng.integers(1, 120, n_lineitem)
    status = np.where(ship_days < 1800, "F", "O")

    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_lineitem // 30 + 2, n_lineitem), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_lineitem // 600 + 2, n_lineitem), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": flag,
        "l_linestatus": status,
        "l_shipdate": _timestamps(ship_days),
    })
    revenue = np.bincount(l_order - 1, weights=price * (1 - disc) * (1 + tax), minlength=n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_orders // 10 + 2, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders, p=[0.49, 0.49, 0.02]),
        "o_totalprice": np.round(revenue, 2),
        "o_orderdate": _timestamps(o_days),
        "o_orderpriority": np.array(PRIORITIES)[prio_idx],
    })
    return {"lineitem": lineitem, "orders": orders}


_WORDS = ("spark group query row data slow small filter customer line batch value "
          "merge table join agg sort part column key window stream vector hash "
          "scan order big fast").split()
_STOP = ["the", "a", "an", "and", "of", "to", "in", "is", "it"]


def make_documents(seed: int, n_docs: int) -> pa.Table:
    """Bag-of-words documents with planted exact duplicates, near
    duplicates (a few tokens changed) and low-quality rows, in fixed
    shares so every seed costs about the same."""
    rng = np.random.default_rng([DATA_SEED, seed])
    vocab = np.array(_WORDS + _STOP)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.10:  # exact duplicate, whitespace/case changed
            texts.append("  " + texts[rng.integers(0, i)].upper())
        elif i > 10 and r < 0.20:  # near duplicate
            toks = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = str(rng.choice(vocab))
            texts.append(" ".join(toks))
        elif r < 0.27:  # repetitive or short: fails the quality gates
            w = str(rng.choice(vocab))
            texts.append(" ".join([w] * int(rng.integers(2, 40))))
        else:
            n = int(rng.integers(20, 90))
            toks = list(rng.choice(vocab, n))
            for j in range(0, n, int(rng.integers(6, 14))):
                toks[j] = toks[j] + str(rng.choice([".", ",", "!", "?"]))
            texts.append(" ".join(toks))
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "zh"], n_docs),
        "source": np.array([f"src{i % 7}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_inputs(workload: str, seed: int, scale: str, data_dir: str) -> dict:
    """Write the workload's tables as single parquet files under
    ``data_dir``; return what the session generator needs to know."""
    os.makedirs(data_dir, exist_ok=True)
    sizes = SCALES[scale]
    if workload == "curate_docs":
        docs = make_documents(seed, sizes["docs"])
        pq.write_table(docs, os.path.join(data_dir, "documents.parquet"))
        return {"n_docs": docs.num_rows}
    tables = make_tables(sizes["lineitem"])
    for name, t in tables.items():
        pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"))
    li = tables["lineitem"]
    thresholds = {
        a: {q: float(np.quantile(li[a].to_numpy(), q)) for q in FILTER_QUANTILES}
        for a in FILTER_ATTRS
    }
    return {"thresholds": thresholds}


# each step kind's menu: the list of parameter choices one session draws from
def _menus(info: dict) -> dict[str, list[dict]]:
    th = info["thresholds"]
    filters = [(a, q) for a in FILTER_ATTRS for q in FILTER_QUANTILES]
    joins = list(enumerate(JOIN_PRIORITIES))
    return {
        "fedex_filter": [{"attr": a, "threshold": th[a][q], "key": f"{a}>{q}"} for a, q in filters],
        "fedex_groupby": [{"by": [k], "measure": m, "agg": g, "key": f"{k}:{g}({m})"}
                          for k in GROUP_KEYS for m in GROUP_MEASURES for g in GROUP_AGGS],
        "fedex_join": [{"priorities": p, "key": f"p{i}"} for i, p in joins],
        "shapley_join": [{"priorities": p, "key": f"p{i}"} for i, p in joins],
        "shapley_filter": [{"attr": a, "threshold": th[a][q], "value_attr": v,
                            "key": f"{a}>{q}:mean({v})"} for a, q in filters for v in SHAPLEY_ATTRS],
        "outlier": [{"by": [k], "measure": "o_totalprice", "agg": "mean", "key": k} for k in ORDER_KEYS],
        "many_to_one": [{"label_attr": b, "edges": LABEL_BINS[b], "key": b} for b in sorted(LABEL_BINS)],
        "metainsight": [{"by": ks, "measure": m, "agg": "mean", "key": f"k{i}:mean({m})"}
                        for i, ks in enumerate(META_KEYS) for m in META_MEASURES],
    }


def _step(kind: str, choice: dict) -> dict:
    return {**choice, "kind": kind, "key": f"{kind}:{choice['key']}"}


def make_session(rng: np.random.Generator, info: dict) -> list[dict]:
    """One analyst session: the 8 step kinds in order, each with
    parameters drawn from its menu. A step is a plain dict the runner
    turns into library calls; ``key`` names the call for golden lookup."""
    return [_step(kind, menu[int(rng.integers(0, len(menu)))])
            for kind, menu in _menus(info).items()]


def all_steps(info: dict) -> list[dict]:
    """Every step the menus can produce (for recording goldens)."""
    return [_step(kind, c) for kind, menu in _menus(info).items() for c in menu]
