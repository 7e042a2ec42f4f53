"""Seeded input generators for the warehouse benchmark.

Everything here is a pure function of its seed: the same seed gives
byte-identical parquet and CSV inputs. The shapes follow TPC-H
``lineitem``/``orders`` (column names, value ranges, ~4 lines per
order) closely enough for the workloads' predicates, without needing
any fixture outside the benchmark's own directory.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

EPOCH_1992 = (dt.date(1992, 1, 1) - dt.date(1970, 1, 1)).days
DAYS = 7 * 365
ROWS_PER_ORDER_MAX = 7


def tpch_tables(seed: int, orders: int) -> tuple[pa.Table, pa.Table]:
    """(lineitem, orders) for ``orders`` orders; lineitem is sorted by
    ``(l_orderkey, l_linenumber)`` and has ~4 rows per order."""
    rng = np.random.default_rng([seed, 1])
    okey = np.arange(1, orders + 1, dtype=np.int64)
    odate = rng.integers(0, DAYS - 160, orders) + EPOCH_1992
    lines = rng.integers(1, ROWS_PER_ORDER_MAX + 1, orders)
    n = int(lines.sum())
    l_okey = np.repeat(okey, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = (np.arange(n) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.integers(90_000, 200_000, n) / 100.0, 2)
    disc = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n)
    cutoff = EPOCH_1992 + 1260  # ~1995-06-17, TPC-H's linestatus split
    status = np.where(ship > cutoff, "O", "F")
    flag = np.where(ship > cutoff, "N", np.array(["R", "A"])[rng.integers(0, 2, n)])
    lineitem = pa.table(
        {
            "l_orderkey": l_okey,
            "l_partkey": rng.integers(1, 20_001, n, dtype=np.int64),
            "l_suppkey": rng.integers(1, 1_001, n, dtype=np.int64),
            "l_linenumber": l_line,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": disc,
            "l_tax": tax,
            "l_returnflag": flag,
            "l_linestatus": status,
            "l_shipdate": pa.array(ship.astype(np.int32), pa.date32()),
        }
    )
    totals = np.bincount(l_okey - 1, weights=price * (1 + tax) * (1 - disc), minlength=orders)
    order_tbl = pa.table(
        {
            "o_orderkey": okey,
            "o_custkey": rng.integers(1, 15_001, orders, dtype=np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, orders)],
            "o_totalprice": np.round(totals, 2),
            "o_orderdate": pa.array(odate.astype(np.int32), pa.date32()),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, orders)],
        }
    )
    return lineitem, order_tbl


def write_parquet(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


CSV_COLUMNS = ("id", "score", "active", "event_ts", "city", "email")


def csv_table(seed: int, index: int, rows: int) -> pa.Table:
    """One ingest source: int, float, bool, timestamp and string
    columns, plus the ``email`` PII column."""
    rng = np.random.default_rng([seed, 2, index])
    ids = np.arange(index * rows, (index + 1) * rows, dtype=np.int64)
    secs = rng.integers(1_577_836_800, 1_735_689_600, rows)  # 2020..2025
    cities = np.array(["Oslo", "Lima", "Pune", "Kyiv", "Cork", "Hue", "Bern", "Nice"])
    return pa.table(
        {
            "id": ids,
            "score": np.round(rng.random(rows) * 1000, 3) + 0.5,
            "active": rng.random(rows) < 0.5,
            "event_ts": pa.array(secs * 1_000_000, pa.timestamp("us")),
            "city": cities[rng.integers(0, len(cities), rows)],
            "email": np.char.add(
                np.char.add("user", ids.astype(str)),
                np.array(["@example.com", "@example.org"])[rng.integers(0, 2, rows)],
            ),
        }
    )


def write_csv(table: pa.Table, path: str) -> int:
    """Write ``table`` with a header row; returns the file's size."""
    pacsv.write_csv(
        table, path, pacsv.WriteOptions(include_header=True, quoting_style="none")
    )
    return os.path.getsize(path)
