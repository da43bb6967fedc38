"""Seeded generator for the benchmark's input tables.

Writes the ten tables ``__spark_entry__`` queries read (TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the column types and value distributions of the
reference synthetic data set at scale factor ``sf`` (``sf=0.1`` gives
600 000 lineitem rows). ``copies > 1`` replicates the base tables into
disjoint-key copies: every copy shifts its primary and foreign keys by
a per-copy offset and salts its free text and vectors, so no key or
document collides across copies and group cardinalities grow with the
data. The seed fixes every value, the copy offsets and the row order.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    ),
}
TABLES = tuple(SCHEMAS)

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n: int, first: tuple, last: tuple) -> np.ndarray:
    lo, hi = _epoch_us(*first), _epoch_us(*last)
    return lo + rng.integers(0, (hi - lo) // _DAY_US + 1, n) * _DAY_US


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def base_tables(sf: float, rng: np.random.Generator) -> dict:
    """One copy of every table at scale factor ``sf`` as column dicts."""
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_li = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    t = {}
    t["region"] = {"r_regionkey": np.arange(5), "r_name": np.array(REGIONS, dtype=object)}
    t["nation"] = {
        "n_nationkey": np.arange(25),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
        "n_regionkey": np.arange(25) % 5,
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }
    pk = np.arange(n_part)
    t["part"] = {
        "p_partkey": pk,
        "p_name": _pick(rng, PART_ADJ, n_part) + " " + _pick(rng, PART_NOUN, n_part),
        "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], dtype=object),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4)),
    }
    # events arrive as a Poisson stream over 30 days, ordered by ts
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev)
    t["events"] = {
        "event_id": np.arange(n_ev),
        "ts": _epoch_us(2024, 1, 1) + np.cumsum(gaps).astype(np.int64),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], dtype=object),
    }
    words = np.asarray(VOCAB, dtype=object)
    text = np.array(
        [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 101, n_doc)],
        dtype=object,
    )
    # ~5% near-duplicates: another document's text plus one token
    dup = np.flatnonzero(rng.random(n_doc) < 0.05)
    text[dup] = text[rng.integers(0, n_doc, len(dup))] + " dup"
    t["documents"] = {
        "doc_id": np.arange(n_doc),
        "text": text,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": np.array([f"src{i % 20}" for i in range(n_doc)], dtype=object),
    }
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb),
        "embedding": emb / np.linalg.norm(emb, axis=1, keepdims=True),
        "label": rng.integers(0, 10, n_emb),
    }
    return t


# key columns shifted per copy, by the table whose primary key they name
_KEYS = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
_FOREIGN = {
    "o_custkey": "customer",
    "l_orderkey": "orders",
    "l_partkey": "part",
    "l_suppkey": "supplier",
    "user_id": "customer",
}


def replicate(base: dict, copies: int, rng: np.random.Generator) -> dict:
    """``copies`` disjoint-key copies of ``base``; region and nation are
    shared dimensions and stay single."""
    if copies == 1:
        return base
    stride = {t: len(base[t][k]) for t, k in _KEYS.items()}
    slots = rng.permutation(copies)
    out = {t: base[t] for t in ("region", "nation")}
    for t in base:
        if t in out:
            continue
        parts = []
        for c, slot in enumerate(slots):
            cols = dict(base[t])
            for name in cols:
                owner = t if _KEYS.get(t) == name else _FOREIGN.get(name)
                if owner is not None:
                    cols[name] = cols[name] + int(slot) * stride[owner]
            if c and t == "documents":
                cols["text"] = cols["text"] + f" copy{slot}"
            if c and t == "embeddings":
                e = cols["embedding"] + rng.normal(0, 0.05, cols["embedding"].shape).astype(np.float32)
                cols["embedding"] = e / np.linalg.norm(e, axis=1, keepdims=True)
            parts.append(cols)
        out[t] = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
    return out


def _finish(t: dict) -> dict:
    """Derived columns that follow the (possibly replicated) keys."""
    t["customer"]["c_name"] = np.array(
        [f"Customer#{k:09d}" for k in t["customer"]["c_custkey"]], dtype=object
    )
    t["supplier"]["s_name"] = np.array(
        [f"Supplier#{k:09d}" for k in t["supplier"]["s_suppkey"]], dtype=object
    )
    t["documents"]["n_chars"] = np.array([len(s) for s in t["documents"]["text"]])
    return t


def _to_arrow(name: str, cols: dict) -> pa.Table:
    schema = SCHEMAS[name]
    arrays = []
    for field in schema:
        v = cols[field.name]
        if field.name == "embedding":
            flat = pa.array(v.reshape(-1), type=pa.float32())
            offsets = pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32))
            arrays.append(pa.ListArray.from_arrays(offsets, flat))
        elif pa.types.is_timestamp(field.type):
            arrays.append(pa.array(v.astype("datetime64[us]"), type=field.type))
        else:
            arrays.append(pa.array(v, type=field.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def generate(out_dir: str, sf: float, copies: int, seed: int) -> dict:
    """Write every table under ``out_dir``; returns ``{table: (rows, bytes)}``."""
    rng = np.random.default_rng(seed)
    tables = _finish(replicate(base_tables(sf, rng), copies, rng))
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name in TABLES:
        cols = tables[name]
        n = len(next(iter(cols.values())))
        if name == "events":  # a stream table stays in arrival order
            order = np.argsort(cols["ts"], kind="stable")
        else:
            order = rng.permutation(n)
            cols = {k: v[order] for k, v in cols.items()}
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(_to_arrow(name, cols), path, compression="snappy", row_group_size=1 << 30)
        stats[name] = (n, os.path.getsize(path))
    return stats
