"""Seeded input generators for the benchmark.

Everything here is numpy + pyarrow: the program under test only ever
sees the parquet files these functions write. The same seed always
writes byte-identical files (``tests/test_gen.py``).

Events day-files use the fixture ``events`` schema (event_id BIGINT,
ts TIMESTAMP[us], user_id BIGINT, event_type STRING, value DOUBLE,
props STRING JSON) and carry every input property the ETL's branches
depend on:

- untracked ``error`` events (dropped by F3);
- NULL ``user_id`` (dropped by F1);
- ``props`` without the ``k`` key (extraction yields NULL);
- rows sharing a dedup key (user_id, ts, event_type) with a different
  ``event_id`` and ``props`` (dropped by the K4 minimum-event_id dedup);
- late rows whose ``ts`` lies two to three days before the file's own
  day, i.e. at or below any watermark a load of that file sees, so F4
  drops them and a one-day replay never reaches them.

The query fixture writes the TPC-H-ish tables plus ``events``,
``documents`` and ``embeddings`` in the fixture layout
(``<dir>/<table>.parquet``) that ``io.load_table`` and the DuckDB
oracles read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
# 2024-01-01T00:00:00 UTC in epoch microseconds
EPOCH0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype("int64"))
EVENT_TYPES = np.array(["click", "purchase", "error", "signup", "view"])
TRACKED = ["click", "purchase", "signup", "view"]

NULL_USER_SHARE = 0.01
NO_K_SHARE = 0.05
DUP_KEY_SHARE = 0.03
LATE_SHARE = 0.02
_K_PROPS = np.array(['{"k": %d}' % i for i in range(100)], dtype=object)
_J_PROPS = np.array(['{"j": %d}' % i for i in range(100)], dtype=object)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def day_start_us(day: int) -> int:
    return EPOCH0_US + day * DAY_US


def events_day(seed: int, day: int, rows: int) -> pa.Table:
    """One day-file of events: ``rows`` rows, on-time rows inside
    [day_start, day_start + 1 day), event ids unique across days."""
    r = _rng(seed, 1, day)
    n_late = int(rows * LATE_SHARE)
    n_dup = int(rows * DUP_KEY_SHARE)
    n_base = rows - n_late - n_dup
    lo = day_start_us(day)
    ts = r.integers(lo, lo + DAY_US, n_base)
    users = r.integers(0, 50_000, n_base)
    kinds = r.integers(0, len(EVENT_TYPES), n_base)
    # duplicates copy the key of a random base row
    src = r.integers(0, n_base, n_dup)
    late_ts = r.integers(lo - 3 * DAY_US, lo - 2 * DAY_US, n_late)
    ts = np.concatenate([ts, ts[src], late_ts])
    users = np.concatenate([users, users[src], r.integers(0, 50_000, n_late)])
    kinds = np.concatenate([kinds, kinds[src], r.integers(0, len(EVENT_TYPES), n_late)])
    user_valid = r.random(rows) >= NULL_USER_SHARE
    user_valid[n_base:n_base + n_dup] = user_valid[src]  # keep the duplicate's key whole
    k = r.integers(0, 100, rows)
    has_k = r.random(rows) >= NO_K_SHARE
    props = np.where(has_k, _K_PROPS[k], _J_PROPS[k])
    # ids: a random permutation of the day's id block, so a duplicate's
    # id is as likely to be below its original's as above it
    ids = rows * day + r.permutation(rows)
    order = np.argsort(ts, kind="stable")
    return pa.table(
        {
            "event_id": pa.array(ids[order], pa.int64()),
            "ts": pa.array(ts[order].astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(users[order], pa.int64(), mask=~user_valid[order]),
            "event_type": pa.array(EVENT_TYPES[kinds[order]], pa.string()),
            "value": pa.array(np.round(r.random(rows)[order] * 200, 2), pa.float64()),
            "props": pa.array(props[order], pa.string()),
        }
    )


def write_events_day(events_dir: str, seed: int, day: int, rows: int) -> str:
    """Write one day-file into an ``events.parquet/`` directory and
    return its path."""
    os.makedirs(events_dir, exist_ok=True)
    path = os.path.join(events_dir, f"day-{day:04d}.parquet")
    tmp = path + ".tmp"
    pq.write_table(events_day(seed, day, rows), tmp)
    os.replace(tmp, path)  # a concurrent listing never sees half a file
    return path


# ---------------------------------------------------------------------
# query fixture (sf0.01-sized: lineitem ~60k rows)
# ---------------------------------------------------------------------

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_ADJ = np.array(["small", "large", "red", "blue", "hot", "old", "new", "cold"])
_NOUN = np.array(["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"])
_PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_WORDS = np.array(
    "a the big small fast slow data table row column key value hash join "
    "merge sort scan filter group agg window order line part customer "
    "query spark stream batch vector".split()
)
_LANGS = np.array(["en", "fr", "es", "zh", "de"])


def _ts_days(r, lo: str, hi: str, n: int) -> pa.Array:
    a = np.datetime64(lo, "D").astype("int64")
    b = np.datetime64(hi, "D").astype("int64")
    days = r.integers(a, b, n).astype("datetime64[D]").astype("datetime64[us]")
    return pa.array(days, pa.timestamp("us"))


def query_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    r = _rng(seed, 2)
    n_cust = int(150_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_part = max(200, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_ev = int(1_000_000 * scale)
    n_doc = 500
    n_emb = 500
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _SEGMENTS[r.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(_ADJ[r.integers(0, 8, n_part)], " "), _NOUN[r.integers(0, 8, n_part)]
        ),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": _PTYPES[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts_days(r, "1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": _PRIORITIES[r.integers(0, 5, n_ord)],
    })
    # popular parts make the co-purchase graph non-trivial
    part_pick = np.minimum(r.zipf(1.3, n_line) - 1, n_part - 1)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.permutation(n_part)[part_pick], pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts_days(r, "1995-01-02", "2001-11-05", n_line),
    })
    ev = events_day(seed, 0, n_ev)
    t["events"] = ev
    docs = []
    for i in range(n_doc):
        if i >= 20 and r.random() < 0.05:  # near-duplicate of an earlier doc
            words = docs[r.integers(0, i)].split()
            words[r.integers(0, len(words))] = "dup"
            docs.append(" ".join(words))
        else:
            docs.append(" ".join(_WORDS[r.integers(0, len(_WORDS), r.integers(10, 100))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": docs,
        "lang": _LANGS[r.integers(0, 5, n_doc)],
        "source": np.char.add("src", r.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(size=(10, 64))
    vec = centers[labels] + 0.5 * r.normal(size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_query_fixture(sf_dir: str, seed: int, scale: float = 0.01) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in query_tables(seed, scale).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
