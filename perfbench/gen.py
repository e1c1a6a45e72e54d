"""Seeded input generators for the benchmark.

Every generator writes into a directory it creates (the caller passes a
path that does not exist yet), so a new seed never rewrites files an
earlier seed left behind. Two package memos are keyed on the path
(``workload_banded._stage_mod3_split`` and
``sources.parquet._TABLE_SCHEMA_MEMO``) and would otherwise serve the
previous seed's data.

Values that the checks compare bit-exactly are multiples of 1/8 far below
2**53, so sums and means come out the same in any summation order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from nbi_oedi_etl_spark.operators.resample import REFERENCE_MEASURE_COLUMNS

STATES = ("AK", "CA", "NY", "TX")
UPGRADES = (0, 1)
META_SUBPATH = "_building_meta"  # "_" prefix: partition discovery skips it
KETCHIKAN = "AK, Ketchikan Gateway Borough"

_COUNTIES = {
    "AK": (KETCHIKAN, "AK, Anchorage Municipality", "AK, Juneau City and Borough"),
    "CA": ("CA, Los Angeles County", "CA, Alameda County"),
    "NY": ("NY, Kings County", "NY, Erie County"),
    "TX": ("TX, Harris County", "TX, Travis County"),
}
_BUILDING_TYPES = (
    ("Hospital", "Healthcare"),
    ("Outpatient", "Healthcare"),
    ("PrimarySchool", "Education"),
    ("SecondarySchool", "Education"),
    ("SmallOffice", "Office"),
    ("LargeOffice", "Office"),
    ("RetailStandalone", "Mercantile"),
    ("Warehouse", "Warehouse and Storage"),
)

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "zh", "de", "fr", "es")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


@dataclass
class OediSource:
    """An OEDI-shaped source: ``upgrade=<u>/state=<s>/`` with one parquet per
    (building, upgrade), plus a metadata parquet under ``META_SUBPATH``."""

    root: str
    bldgs: dict[str, list[int]]  # state -> building ids
    rows_per_file: int
    bytes_by_partition: dict[tuple[int, str], int]
    meta_rows: int

    def rows(self, states, upgrades=UPGRADES) -> int:
        return sum(len(self.bldgs[s]) for s in states) * len(upgrades) * self.rows_per_file

    def bytes(self, states, upgrades=UPGRADES) -> int:
        return sum(self.bytes_by_partition[(u, s)] for s in states for u in upgrades)


def oedi_source(root: str, seed: int, bldgs_per_partition: int, days: int) -> OediSource:
    rng = np.random.default_rng(seed)
    os.makedirs(root)
    n = days * 96
    ts = pa.array(
        np.datetime64("2018-01-01T00:00", "us") + np.arange(n) * np.timedelta64(15, "m")
    )
    bldgs = {
        s: sorted(
            int(b)
            for b in rng.choice(np.arange(1, 5000), bldgs_per_partition, replace=False)
            + 10_000 * (i + 1)
        )
        for i, s in enumerate(STATES)
    }
    sizes: dict[tuple[int, str], int] = {}
    for u in UPGRADES:
        for s in STATES:
            part = os.path.join(root, f"upgrade={u}", f"state={s}")
            os.makedirs(part)
            sizes[(u, s)] = 0
            for b in bldgs[s]:
                cols = {"timestamp": ts, "bldg_id": pa.array(np.full(n, b, np.int64))}
                vals = rng.integers(0, 1 << 20, size=(len(REFERENCE_MEASURE_COLUMNS), n))
                for c, v in zip(REFERENCE_MEASURE_COLUMNS, vals / 8.0):
                    cols[c] = pa.array(v)
                sizes[(u, s)] += _write(
                    pa.table(cols), os.path.join(part, f"bldg{b}-up{u}.parquet")
                )
    ids, st, county, btype, group = [], [], [], [], []
    for s in STATES:
        for b in bldgs[s]:
            t, g = _BUILDING_TYPES[rng.integers(len(_BUILDING_TYPES))]
            ids.append(b)
            st.append(s)
            county.append(_COUNTIES[s][rng.integers(len(_COUNTIES[s]))])
            btype.append(t)
            group.append(g)
    meta_dir = os.path.join(root, META_SUBPATH)
    os.makedirs(meta_dir)
    meta = pa.table(
        {
            "bldg_id": pa.array(ids, pa.int64()),
            "in.state": st,
            "in.county_name": county,
            "in.comstock_building_type": btype,
            "in.comstock_building_type_group": group,
        }
    )
    _write(meta, os.path.join(meta_dir, "metadata.parquet"))
    return OediSource(root, bldgs, n, sizes, len(ids))


def _text(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(len(WORDS), size=n_tokens))


def _edit(rng: np.random.Generator, text: str) -> str:
    """One to three token substitutions, insertions or deletions."""
    toks = text.split()
    for _ in range(int(rng.integers(1, 4))):
        i = int(rng.integers(len(toks)))
        kind = rng.integers(3)
        if kind == 0:
            toks[i] = WORDS[rng.integers(len(WORDS))]
        elif kind == 1:
            toks.insert(i, WORDS[rng.integers(len(WORDS))])
        elif len(toks) > 10:
            del toks[i]
    return " ".join(toks)


def documents_table(rng: np.random.Generator, n: int, edit_share: float) -> pa.Table:
    """``documents`` (doc_id, text, lang, source, n_chars). A share of the
    documents are few-token edits of an earlier one, so near-duplicate
    probes find real candidates."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < edit_share:
            texts.append(_edit(rng, texts[int(rng.integers(i))]))
        else:
            texts.append(_text(rng, int(rng.integers(10, 100))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in rng.permutation(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def corpus_dir(root: str, seed: int, n_docs: int, edit_share: float = 0.3) -> dict:
    """A directory holding only ``documents.parquet``."""
    os.makedirs(root)
    t = documents_table(np.random.default_rng(seed), n_docs, edit_share)
    size = _write(t, os.path.join(root, "documents.parquet"))
    return {"documents": t.num_rows, "bytes": size}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int):
    return pa.array(
        np.datetime64(start, "us") + rng.integers(0, span_days, n) * np.timedelta64(1, "D")
    )


def star_schema_dir(root: str, seed: int, scale: float) -> dict[str, int]:
    """TPC-H-shaped tables plus ``events``, ``documents`` and ``embeddings``,
    with the column names and types the registry's query builders read.
    ``scale`` 1.0 is 1,500 customers and 60,000 line items."""
    rng = np.random.default_rng(seed)
    os.makedirs(root)
    n_cust, n_part, n_supp = int(1500 * scale), int(2000 * scale), max(10, int(100 * scale))
    n_ord, n_li = int(15000 * scale), int(60000 * scale)
    n_ev, n_users, n_docs = int(10000 * scale), max(10, int(150 * scale)), int(500 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(["blue", "hot", "small", "old", "red", "new", "cold", "large"])
    noun = np.array(["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"])
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(adj[rng.integers(0, 8, n_part)], noun[rng.integers(0, 8, n_part)])
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": ptypes[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_li),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            # nanosecond parquet like the reference testdata; values are
            # whole microseconds so the ns -> us truncation is exact
            "ts": pa.array(
                np.datetime64("2024-01-01", "ns") + ev_us * np.timedelta64(1000, "ns")
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(["click", "signup", "error", "view", "purchase"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents_table(rng, n_docs, 0.1)
    emb = rng.normal(0.0, 0.1, (n_docs, 64)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
        }
    )
    for name, table in t.items():
        _write(table, os.path.join(root, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
