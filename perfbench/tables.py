"""Seeded synthetic input tables for the ``query_suite`` workload.

The same ten tables and column domains the query suite is written against
(a TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``), at four times the row counts of the smallest published
scale, generated from the workload seed inside the run's own directory. At
that size a warm pass of the ann and dedup entries takes 1.5-1.9 s, about
half of it operator work (1.1 s at the smallest scale), so the operators,
not only Spark's fixed cost per job, show in the samples. About a
tenth of the documents are near-copies of another, so the dedup queries
have clusters to find."""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SIZES = {
    "customer": 600, "supplier": 40, "part": 800, "orders": 6_000,
    "events": 4_000, "documents": 2_000, "embeddings": 2_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "cold", "old", "large", "big"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "es", "de", "fr", "zh"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "vector order line table data agg value key stream window spark a part "
    "group big sort query fast the dup"
).split()
_DIM = 64


def _ts(base: datetime, seconds: np.ndarray) -> pd.Series:
    return pd.Series(pd.to_datetime(base) + pd.to_timedelta(seconds, unit="s")).astype(
        "datetime64[us]"
    )


def _days(rng, n: int, start: str, span_days: int) -> pd.Series:
    d = rng.integers(0, span_days, n)
    return _ts(datetime.fromisoformat(start), d * 86_400)


def build(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS,
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2),
    })
    price = np.round(rng.uniform(900, 2000, n["part"]), 2)
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_ADJ, n["part"]), rng.choice(_NOUN, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PTYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": price,
    })
    no = n["orders"]
    odate = _days(rng, no, "1995-01-01", 2_400)
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, no), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    nl = len(okey)
    pkey = rng.integers(0, n["part"], nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odate.to_numpy()[okey] + rng.integers(1, 120, nl).astype("timedelta64[D]")
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pd.Series(ship).astype("datetime64[us]"),
    })
    ne = n["events"]
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * 86_400, ne))),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0.01, 500, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, _DIM))
    vec = centers[labels] + 0.5 * rng.normal(size=(nv, _DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(vec),
        "label": labels.astype(np.int32),
    })
    return out


def write_tables(directory: str, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    for name, df in build(seed).items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(directory, f"{name}.parquet"),
        )


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column order, integer width and row order normalised; integer vs
    float kept apart, as the repository's oracle gate does."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif s.dtype == object:
            sample = s.dropna()
            if len(sample) and hasattr(sample.iloc[0], "isoformat"):
                df[c] = pd.to_datetime(s).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
            else:
                df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    try:
        pd.testing.assert_frame_equal(
            _canon(got), _canon(want), check_dtype=True, check_exact=True
        )
    except AssertionError:
        return False
    return True

