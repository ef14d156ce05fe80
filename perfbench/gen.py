"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (and the size arguments), so
the same seed always yields the same input, and the same fingerprint.

* Transcripts: ``rdfcmap_spark.synth.SEED`` is a module constant, so the
  seed namespaces the conversation ids instead. Every planted choice in
  :func:`rdfcmap_spark.synth.turn_text` hashes the conversation id, and the
  pipeline never parses it, so a new namespace is a new corpus with the
  same statistical shape.
* Graph tables: the graph queries read the TPC-H-ish ``lineitem``,
  ``orders``, ``customer`` and ``events`` tables. They are generated here
  with the shape of the sf0.01 test tables (uniform keys, 1-13 lineitems
  per order, 5 event types over 30 days), scaled by ``scale``.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)
ROLES = ["user", "assistant", "tool"]

#: lineitems per order in the sf0.01 test tables: weight of 1..13 lines
LINES_PER_ORDER = np.array(
    [1120, 2129, 2955, 3024, 2295, 1550, 936, 434, 203, 55, 25, 11, 6], dtype=float
)
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _h(key: str) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16)


def conv_id(seed: int, conv: int, tag: str = "") -> str:
    return f"s{seed}{tag}-conv-{conv:06d}"


def transcripts_frame(
    seed: int, n_convs: int, turns_per_conv: int, tag: str = ""
) -> pd.DataFrame:
    """The transcripts table (``rdfcmap_spark.schemas.TRANSCRIPTS`` columns).
    ``tag`` names a second corpus of the same seed and shape."""
    from rdfcmap_spark.synth import turn_text

    rows = []
    for c in range(n_convs):
        cid = conv_id(seed, c, tag)
        for t in range(turns_per_conv):
            role = ROLES[_h(f"role|{cid}|{t}") % len(ROLES)]
            rows.append(
                {
                    "conv_id": cid,
                    "turn_idx": t,
                    "role": role,
                    "text": turn_text(cid, t, n_convs),
                    "tool": "search" if role == "tool" else "",
                    "ts": BASE_TS + timedelta(seconds=c * 3600 + t * 30),
                }
            )
    return pd.DataFrame(rows)


TRANSCRIPTS_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def graph_frames(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """``lineitem``, ``orders``, ``customer`` and ``events`` at ``scale`` x
    the sf0.01 row counts (15k orders, 2k parts, 1.5k customers, 10k
    events over 150 users)."""
    rng = np.random.default_rng(seed)
    n_orders = max(16, int(15000 * scale))
    n_parts = max(16, int(2000 * scale))
    n_cust = max(8, int(1500 * scale))
    n_events = max(16, int(10000 * scale))
    n_users = max(8, int(150 * scale))

    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    day0 = np.datetime64("1995-01-01")
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
            "o_orderdate": day0 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]"),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    lines = rng.choice(
        np.arange(1, len(LINES_PER_ORDER) + 1), n_orders, p=LINES_PER_ORDER / LINES_PER_ORDER.sum()
    )
    n_li = int(lines.sum())
    l_orderkey = np.repeat(orders["o_orderkey"].to_numpy(), lines)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, n_parts, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
            "l_linenumber": l_linenumber,
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": day0 + rng.integers(0, 2500, n_li).astype("timedelta64[D]"),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.uniform(0, 20, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem, "events": events}


def fingerprint(frames: dict[str, pd.DataFrame]) -> str:
    """Content hash of the generated input, stable across processes."""
    h = hashlib.sha256()
    for name in sorted(frames):
        h.update(name.encode())
        h.update(pd.util.hash_pandas_object(frames[name], index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]


def write_transcripts(frame: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(frame, schema=TRANSCRIPTS_ARROW, preserve_index=False)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def write_tables(frames: dict[str, pd.DataFrame], table_dir: str) -> None:
    os.makedirs(table_dir, exist_ok=True)
    for name, df in frames.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(table_dir, f"{name}.parquet"),
        )
