"""Seeded input generator for the benchmark.

`tables` writes the TPC-H-ish star schema plus `events` and `documents`
with the column names and types of the repository's test tables (see
FIXTURES.md), scaled by `sf` (sf 0.1 = 600k lineitem rows). Their value
distributions and the selectivities the pipelines depend on were compared
with the sf0.01 test tables; the figures are in NOTES.md. `stream_files`
writes the time-ordered event files the streaming workload feeds to its
watched directory. The same seed gives the same bytes of data; only
values change between seeds, never row counts.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("merge window customer spark part group stream filter the sort scan "
         "vector join query big hash data column agg table line small slow "
         "key fast order row value a batch").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
UTC_US = pa.timestamp("us", tz="UTC")


def _day_us(y, m, d):
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


EPOCH_2024_US = _day_us(2024, 1, 1)


def _dates(rng, n, lo, hi):
    days = rng.integers(0, (hi - lo) // 86_400_000_000 + 1, n)
    return pa.array(lo + days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    # several row groups per table, so that Spark can split a scan
    # across cores once a table outgrows one split
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1024, table.num_rows // 8))


def _events(rng, n, users, t0_us, span_us, first_id=0):
    ts = np.sort(t0_us + rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    langs = rng.choice(["en", "es", "zh", "de", "fr"], n, p=[0.41, 0.15, 0.15, 0.14, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(out_dir, seed, sf, docs_sf=None):
    """Write every table the batch pipelines read into `out_dir`; the
    documents table is scaled by `docs_sf` when given."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_doc = int(50_000 * (docs_sf or sf))
    i32 = pa.int32()

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], n_cust),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }), f"{out_dir}/supplier.parquet")
    adjs = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
    nouns = ["ring", "widget", "bolt", "rod", "plate", "gear", "gizmo", "anvil"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adjs, n_part), rng.choice(nouns, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_ord, _day_us(1995, 1, 1), _day_us(2001, 8, 1)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _dates(rng, n_li, _day_us(1995, 1, 2), _day_us(2001, 11, 4)),
    }), f"{out_dir}/lineitem.parquet")
    _write(_events(rng, n_ev, n_users, EPOCH_2024_US, 30 * 86_400_000_000),
           f"{out_dir}/events.parquet")
    _write(_documents(rng, n_doc), f"{out_dir}/documents.parquet")


def stream_files(out_dir, seed, n_files, rows_per_file, file_span_s, n_late, late_span_s):
    """Write `n_files` time-ordered event files, a file of `n_late` rows
    that lie far behind the watermark by the time it is fed, and a
    one-row sentinel far in the future that closes every open window.

    File i holds `rows_per_file` events whose times fall in
    [i, i + 1) * file_span_s seconds after 2024-01-01. The late rows
    fall in the first `late_span_s` seconds, which the stream has passed
    long before they are fed, each in its own one-minute window and so
    its own (window, event_type) group: the number of rows the watermark
    drops then equals the number of groups it drops.
    Returns the file names in feed order.
    """
    late_step_us = late_span_s * 1_000_000 // n_late
    assert late_step_us >= 60_000_000, "late rows must fall in distinct windows"
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    span_us = file_span_s * 1_000_000
    names = []
    for i in range(n_files):
        t = _events(rng, rows_per_file, 500, EPOCH_2024_US + i * span_us, span_us,
                    first_id=i * rows_per_file)
        names.append(f"ev-{i:05d}.parquet")
        t = t.select(["event_id", "ts", "user_id", "event_type", "value"])
        _write(t.set_column(1, "ts", t["ts"].cast(UTC_US)), f"{out_dir}/{names[-1]}")
    late_ts = EPOCH_2024_US + np.arange(n_late) * late_step_us + 1_000
    _write(pa.table({
        "event_id": pa.array(-1 - np.arange(n_late), pa.int64()),
        "ts": pa.array(late_ts, UTC_US),
        "user_id": pa.array(np.zeros(n_late, np.int64)),
        "event_type": pa.array([EVENT_TYPES[i % len(EVENT_TYPES)] for i in range(n_late)]),
        "value": np.full(n_late, 999.0),
    }), f"{out_dir}/late.parquet")
    _write(pa.table({
        "event_id": pa.array([-1_000_000], pa.int64()),
        "ts": pa.array([EPOCH_2024_US + 400 * 86_400_000_000], UTC_US),
        "user_id": pa.array([0], pa.int64()),
        "event_type": pa.array(["view"]),
        "value": np.array([0.0]),
    }), f"{out_dir}/sentinel.parquet")
    return names
