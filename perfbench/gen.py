"""Seeded input generators.

Everything the program reads in a benchmark run is written here from the
run's ``--seed``: the same seed gives byte-identical rows. The batch
tables follow the schema and value domains of the project's
``region nation customer supplier orders lineitem events documents``
test tables (row counts scale with ``sf`` as in TPC-H); the event replay
is one parquet file per micro-batch.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, n_days, n).astype(
        "timedelta64[D]"
    )


def batch_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The star schema plus ``events`` and ``documents`` at scale ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(20, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_ev = max(200, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_users = max(5, int(15_000 * sf))

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": np.repeat(np.arange(n_ord, dtype="int64"), lines),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
        }
    )
    # events: dense event_id, strictly increasing distinct timestamps over
    # 30 days, exponential money values
    gaps = rng.integers(1, 2 * (30 * 86_400_000_000 // n_ev), n_ev)
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": EVENT_EPOCH + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_words = rng.integers(10, 100, n_doc)
    words = np.asarray(WORDS)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in n_words]
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": text,
            "lang": rng.choice(LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in text], dtype="int64"),
        }
    )
    return out


def write_batch_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write one parquet file per table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in batch_tables(seed, sf).items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(df)
    return rows


def event_batches(
    seed: int,
    n_events: int,
    n_batches: int,
    n_keys: int,
    zipf_s: float = 1.2,
    max_displacement: int = 32,
) -> list[pd.DataFrame]:
    """An IoT event replay of the ``events`` schema, split into
    ``n_batches`` micro-batches in arrival order.

    Keys are Zipf-skewed over ``n_keys`` users. Event time strictly
    increases with ``event_id`` (about one event per second); arrival
    order is event-time order with each event moved by at most
    ``max_displacement`` positions. Gaps are 0.5-1.5 s, so no event
    arrives more than ``1.5 * max_displacement`` seconds behind the newest
    one seen: any wider watermark drops nothing.
    """
    rng = np.random.default_rng(seed)
    ids = np.arange(n_events, dtype="int64")
    ts = EVENT_EPOCH + np.cumsum(rng.integers(500_000, 1_500_000, n_events)).astype(
        "timedelta64[us]"
    )
    ranks = np.arange(1, n_keys + 1, dtype="float64")
    p = ranks**-zipf_s
    users = rng.permutation(n_keys)[rng.choice(n_keys, n_events, p=p / p.sum())]
    # bounded out-of-order arrival: sort by position + jitter in
    # [0, max_displacement], so an event overtakes at most that many
    order = np.argsort(ids + rng.integers(0, max_displacement + 1, n_events), kind="stable")
    df = pd.DataFrame(
        {
            "event_id": ids,
            "ts": ts,
            "user_id": users.astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    ).iloc[order]
    cuts = np.linspace(0, n_events, n_batches + 1).astype(int)
    return [df.iloc[a:b].reset_index(drop=True) for a, b in zip(cuts[:-1], cuts[1:])]


def stage_event_files(batches: list[pd.DataFrame], out_dir: str) -> list[str]:
    """One parquet file per micro-batch, mtimes stepped so the file
    source (``maxFilesPerTrigger=1``) admits them in list order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, df in enumerate(batches):
        path = os.path.join(out_dir, f"b{i:05d}.parquet")
        _write(df, path)
        os.utime(path, (1_000_000_000 + 10 * i, 1_000_000_000 + 10 * i))
        paths.append(path)
    return paths
