"""Seeded input generator: the warehouse tables every workload reads.

Writes the ten tables of the repository's fixture schema (TPC-H-ish star
schema, the ``events`` stream, ``documents`` and ``embeddings``) as one
single-row-group parquet file each, the layout the fixtures have. The same
seed gives byte-identical tables. Value domains follow the fixtures (money
rounded to cents, TPC-H-ish sizes of sf0.01, half of its events and
documents), so every query the benchmark runs sees the shapes it was
written for. The documents carry seeded near-duplicates
and shared boilerplate lines so that the dedup pipelines find pairs,
clusters and passages instead of running on an all-unique corpus.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_COLORS = ("red", "blue", "green", "small", "large", "steel", "brass", "tin")
_NOUNS = ("widget", "bolt", "ring", "gear", "valve", "spring", "plate", "nut")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big query customer "
    "order group filter stream vector"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")


def _write(out_dir: str, name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(df) or 1)


def events_frame(rng: np.random.Generator, days: int, per_day: int) -> pd.DataFrame:
    """``days`` of irregularly spaced events from 2024-01-01, strictly
    increasing µs timestamps (so (series, ts) is a key), event ids in ts
    order."""
    n = days * per_day
    gaps = rng.exponential(1.0, n) + 1e-3
    offsets = np.cumsum(gaps)
    us = (offsets / offsets[-1] * (days * DAY_US - 60_000_000)).astype(np.int64)
    us += np.arange(n, dtype=np.int64)  # strictly increasing even after rounding
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": EVENTS_START + us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    words = np.array(_WORDS, dtype=object)
    boiler = [" ".join(words[rng.integers(0, len(words), 16)]) for _ in range(3)]
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i >= 10 and roll < 0.15:  # near-duplicate of an earlier document
            toks = texts[int(rng.integers(0, i))].split(" ")
            for pos in rng.integers(0, len(toks), int(rng.integers(1, 4))):
                toks[pos] = words[rng.integers(0, len(words))]
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 90)))])
        if roll > 0.9:  # shared boilerplate passage
            toks += boiler[int(rng.integers(0, len(boiler)))].split(" ")
        texts.append(" ".join(toks))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS, dtype=object)[
                rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
            ],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    centers = rng.normal(0.0, 0.1, (10, dim))
    label = rng.integers(0, 10, n)
    vecs = centers[label] + rng.normal(0.0, 0.05, (n, dim))
    dup = np.flatnonzero(rng.random(n) < 0.1)
    dup = dup[dup > 0]
    src = rng.integers(0, dup, len(dup))  # each near-duplicate copies an earlier vector
    vecs[dup] = vecs[src] + rng.normal(0.0, 0.002, (len(dup), dim))
    label[dup] = label[src]
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )


def _dates(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "ms") + rng.integers(0, span_days, n).astype(
        "timedelta64[D]"
    ).astype("timedelta64[ms]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int) -> dict:
    """Write all ten tables under ``out_dir``; returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line = 1_500, 100, 2_000, 15_000, 60_000
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us = pa.timestamp("us")
    tables = {
        "region": (
            pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}),
            [("r_regionkey", i32), ("r_name", s)],
        ),
        "nation": (
            pd.DataFrame(
                {
                    "n_nationkey": np.arange(25, dtype=np.int32),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": np.arange(25, dtype=np.int32) % 5,
                }
            ),
            [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)],
        ),
        "customer": (
            pd.DataFrame(
                {
                    "c_custkey": np.arange(n_cust, dtype=np.int64),
                    "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                    "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
                    "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                    "c_mktsegment": np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
                }
            ),
            [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
             ("c_mktsegment", s)],
        ),
        "supplier": (
            pd.DataFrame(
                {
                    "s_suppkey": np.arange(n_supp, dtype=np.int64),
                    "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                    "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
                    "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
                }
            ),
            [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)],
        ),
        "part": (
            pd.DataFrame(
                {
                    "p_partkey": np.arange(n_part, dtype=np.int64),
                    "p_name": [
                        f"{_COLORS[c]} {_NOUNS[w]}"
                        for c, w in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                    ],
                    "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                    "p_type": np.array(_PTYPES, dtype=object)[rng.integers(0, 6, n_part)],
                    "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
                    "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
                }
            ),
            [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
             ("p_retailprice", f64)],
        ),
        "orders": (
            pd.DataFrame(
                {
                    "o_orderkey": np.arange(n_ord, dtype=np.int64),
                    "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
                    "o_orderstatus": np.array(("F", "O", "P"), dtype=object)[
                        rng.integers(0, 3, n_ord)
                    ],
                    "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                    "o_orderdate": _dates(rng, "1995-01-01", 2400, n_ord),
                    "o_orderpriority": np.array(_PRIORITIES, dtype=object)[
                        rng.integers(0, 5, n_ord)
                    ],
                }
            ),
            [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
             ("o_orderdate", ts_us), ("o_orderpriority", s)],
        ),
    }
    orderkey = rng.integers(0, n_ord, n_line, dtype=np.int64)
    lines = pd.DataFrame(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": (
                pd.Series(orderkey).groupby(orderkey).cumcount().to_numpy() + 1
            ).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(("A", "N", "R"), dtype=object)[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(("F", "O"), dtype=object)[rng.integers(0, 2, n_line)],
            "l_shipdate": _dates(rng, "1995-01-02", 2500, n_line),
        }
    )
    tables["lineitem"] = (
        lines,
        [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
         ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
         ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts_us)],
    )
    tables["events"] = (
        events_frame(rng, 30, 170),
        [("event_id", i64), ("ts", ts_us), ("user_id", i64), ("event_type", s),
         ("value", f64), ("props", s)],
    )
    tables["documents"] = (
        _documents(rng, 250),
        [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)],
    )
    tables["embeddings"] = (
        _embeddings(rng, 250),
        [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)],
    )
    for name, (df, fields) in tables.items():
        _write(out_dir, name, df, pa.schema(fields))
    return {name: len(df) for name, (df, _) in tables.items()}
