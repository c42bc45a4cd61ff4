"""Seeded input generator for the benchmark.

Everything the program under test reads comes from here, and only from
the seed: the same seed gives byte-identical inputs.

Two input sets:

- ``etl_events``: an ``events``-schema history (``event_id, ts, user_id,
  event_type, value, props``) over ``HISTORY_DAYS`` days plus
  ``FUTURE_DAYS`` further day slices that the tick workload lands one
  at a time. ``user_id`` is the SKU, drawn from a finite Zipf law over
  ``N_SKUS`` SKUs; a fixed share of events are ``signup`` (the pipeline's
  absolute stock reset). Event ids rise with time, and every event sits
  inside ``[00:00:00, 23:59:58)`` of its day, so a slice never falls
  into the raw-movements pipeline's +1 s late-data buffer behind the
  previous slice.
- ``query_tables``: the tables the fixed query mix reads (``events``,
  ``customer``, ``orders``, ``lineitem``, ``nation``, ``region``,
  ``documents``) in the same parquet layout as the repo's test data,
  so the DuckDB oracles read them unchanged.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ETL history. A tick lands one day, i.e. 1/HISTORY_DAYS of the history.
HISTORY_DAYS = 30
FUTURE_DAYS = 40
EVENTS_PER_DAY = 1000
N_SKUS = 1500
ZIPF_S = 1.1
RESET_SHARE = 0.05
START = dt.datetime(2024, 1, 1)
DAY_SECONDS = 86398  # keeps a 1 s gap before midnight (late-data buffer)

# Query-mix tables.
Q_EVENTS = 20000
Q_USERS = 300
Q_CUSTOMERS = 1500
Q_ORDERS = 15000
Q_LINES = 60000
Q_DOCS = 600
Q_ORIG = 100  # documents before the first near-duplicate

OTHER_TYPES = np.array(["purchase", "click", "view", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = (
    "a the data table row column key value part line order customer query "
    "join merge scan sort hash group agg window batch stream filter spark "
    "fast slow big small vector index cache shuffle stage task job plan"
).split()
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])


def params() -> dict:
    """The generator's fixed parameters (the seed only permutes them)."""
    return {
        "history_days": HISTORY_DAYS,
        "history_events": HISTORY_DAYS * EVENTS_PER_DAY,
        "slice_events": EVENTS_PER_DAY,
        "future_slices": FUTURE_DAYS,
        "n_skus": N_SKUS,
        "zipf_exponent": ZIPF_S,
        "reset_share": RESET_SHARE,
        "query_events": Q_EVENTS,
        "query_docs": Q_DOCS,
        "query_lineitems": Q_LINES,
    }


def _zipf_skus(rng: np.random.Generator, n: int) -> np.ndarray:
    """Finite Zipf over N_SKUS ranks; the seed also permutes which SKU
    id holds which rank, so hot keys move between seeds."""
    w = 1.0 / np.arange(1, N_SKUS + 1) ** ZIPF_S
    ranks = rng.choice(N_SKUS, size=n, p=w / w.sum())
    return rng.permutation(N_SKUS)[ranks].astype(np.int64)


def _day_events(rng: np.random.Generator, day: int, first_id: int) -> pd.DataFrame:
    n = EVENTS_PER_DAY
    secs = np.sort(rng.integers(0, DAY_SECONDS, size=n))
    micros = rng.integers(0, 1_000_000, size=n)
    ts = (
        np.datetime64(START + dt.timedelta(days=day), "us")
        + secs.astype("timedelta64[s]")
        + micros.astype("timedelta64[us]")
    )
    order = np.argsort(ts, kind="stable")
    types = np.where(
        rng.random(n) < RESET_SHARE, "signup", rng.choice(OTHER_TYPES, size=n)
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": ts[order],
            "user_id": _zipf_skus(rng, n),
            "event_type": types,
            "value": np.round(rng.uniform(0.01, 500.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def etl_days(seed: int) -> list[pd.DataFrame]:
    """HISTORY_DAYS + FUTURE_DAYS day slices, in time order."""
    rng = np.random.default_rng([seed, 1])
    return [
        _day_events(rng, d, d * EVENTS_PER_DAY)
        for d in range(HISTORY_DAYS + FUTURE_DAYS)
    ]


ETL_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        # UTC-adjusted, as the pipelines' own Spark writers produce it:
        # a raw spark.read.parquet then yields TimestampType.
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def write_etl_slice(df: pd.DataFrame, path: str) -> int:
    """Write one slice as one parquet file; returns its size in bytes."""
    df = df.assign(ts=df["ts"].dt.tz_localize("UTC"))
    pq.write_table(pa.Table.from_pandas(df, schema=ETL_SCHEMA, preserve_index=False), path)
    return os.path.getsize(path)


def slice_key_stats(days: list[pd.DataFrame]) -> dict:
    """Distinct SKUs per day slice: merge_upsert_partitioned's touched
    bucket count follows it."""
    k = np.array([d["user_id"].nunique() for d in days])
    return {"min": int(k.min()), "median": float(np.median(k)), "max": int(k.max())}


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def write_query_tables(seed: int, out_dir: str) -> None:
    """The query mix's input tables, TPC-H-like plus events and documents."""
    rng = np.random.default_rng([seed, 2])
    n = Q_EVENTS
    secs = np.sort(rng.integers(0, 30 * 86400, size=n))
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": np.datetime64(START, "us") + secs.astype("timedelta64[s]")
            + rng.integers(0, 1_000_000, size=n).astype("timedelta64[us]"),
            "user_id": rng.integers(0, Q_USERS, size=n).astype(np.int64),
            "event_type": rng.choice(
                np.array(["click", "signup", "error", "view", "purchase"]), size=n
            ),
            "value": np.round(rng.uniform(0.01, 500.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )
    _write(ev, f"{out_dir}/events.parquet")

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }), f"{out_dir}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), f"{out_dir}/nation.parquet")
    nc = Q_CUSTOMERS
    _write(pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, size=nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, size=nc),
    }), f"{out_dir}/customer.parquet")
    no = Q_ORDERS
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 2400, size=no).astype("timedelta64[D]")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, size=no).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), size=no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=no), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(PRIORITIES, size=no),
    }), f"{out_dir}/orders.parquet")
    nl = Q_LINES
    okey = np.sort(rng.integers(0, no, size=nl)).astype(np.int64)
    _write(pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 2000, size=nl).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, size=nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, size=nl), 2),
        "l_discount": rng.integers(0, 11, size=nl) / 100.0,
        "l_tax": rng.integers(0, 9, size=nl) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), size=nl),
        "l_linestatus": rng.choice(np.array(["F", "O"]), size=nl),
        "l_shipdate": odate[okey] + rng.integers(1, 122, size=nl).astype("timedelta64[D]"),
    }), f"{out_dir}/lineitem.parquet")

    # A fixed near-duplicate shape, so the dedup tier's graph (component
    # count and depth) is the same for every seed: every fifth document
    # from N_ORIG on copies an earlier one with two word edits, and every
    # third copy copies the previous copy, making a chain of three.
    texts: list[str] = []
    for i in range(Q_DOCS):
        if i < Q_ORIG or i % 5:
            words = list(rng.choice(WORDS, size=int(rng.integers(30, 70))))
        else:
            src = texts[i - 5] if (i // 5) % 3 == 2 else texts[(i * 7) % Q_ORIG]
            words = src.split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts.append(" ".join(words))
    _write(pd.DataFrame({
        "doc_id": np.arange(Q_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=Q_DOCS),
        "source": [f"src{i}" for i in rng.integers(0, 20, size=Q_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")
