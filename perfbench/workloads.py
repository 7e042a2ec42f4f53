"""The three benchmark workloads and their independent DuckDB checks.

Each workload is one client issuing a fixed cycle of operation kinds
whose parameters come from the seed. ``Harness`` (run.py) times the
calls to ``run``; everything else here (DuckDB replays, result checks,
byte accounting) happens between timed calls.
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow.parquet as pq

import data

ORDERS = 150_000  # TPC-H sf0.1: ~600k lineitem rows
FILES = 16
UPDATE_ROWS = 800  # per UPDATE / DELETE / re-INSERT
MERGE_ROWS = 200  # MERGE source
LI_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
)


def dir_files(path: str) -> dict[str, int]:
    """{relative path: size} of every regular file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def added_bytes(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(data bytes, metadata bytes) of files present only in ``after``."""
    data_b = meta_b = 0
    for rel, size in after.items():
        if rel in before:
            continue
        if rel.startswith("_manifests"):
            meta_b += size
        else:
            data_b += size
    return data_b, meta_b


def rows_equal(got, want, rel=1e-9) -> bool:
    """Order-insensitive row comparison; floats within ``rel``."""
    def key(r):
        return tuple((v is None, str(v) if not isinstance(v, float) else round(v, 4)) for v in r)

    got = sorted((tuple(r) for r in got), key=key)
    want = sorted((tuple(r) for r in want), key=key)
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=rel, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True


@dataclass
class Base:
    """The seed's base tables on disk."""

    lineitem: str  # directory of FILES parquet files, one l_orderkey range each
    orders: str  # parquet file
    rows: int
    order_rows: np.ndarray  # lineitem rows of order k at index k - 1


def write_base(scratch: str, seed: int, orders: int = ORDERS) -> Base:
    lineitem, order_tbl = data.tpch_tables(seed, orders)
    base = os.path.join(scratch, "base_lineitem")
    os.makedirs(base)
    per = orders // FILES
    keys = lineitem.column("l_orderkey").to_numpy()
    cuts = np.searchsorted(keys, [i * per + 1 for i in range(FILES)] + [orders + 1])
    for i in range(FILES):
        part = lineitem.slice(cuts[i], cuts[i + 1] - cuts[i])
        pq.write_table(part, os.path.join(base, f"part-{i:02d}.parquet"))
    orders_path = data.write_parquet(order_tbl, os.path.join(scratch, "base_orders.parquet"))
    return Base(base, orders_path, lineitem.num_rows, np.bincount(keys - 1, minlength=orders))


class DmlStream:
    """Seeded COW DML statements against one lineitem table, in a
    fixed cycle: UPDATE, DELETE, INSERT ... SELECT (re-inserting the
    rows the DELETE removed, so the row count stays stationary), a
    second UPDATE and a whole-row MERGE upsert. Five kinds put the
    median op inside one kind's cluster (the UPDATEs) rather than
    between two. A range covers a fixed number of rows, rounded up to
    whole orders, and never straddles two base files, so a seed moves
    parameters, never the work done."""

    KINDS = ("update", "delete", "insert", "update", "merge")

    def __init__(self, seed: int, stream: int, table: str, base: Base) -> None:
        self.rng = np.random.default_rng([seed, stream])
        self.table, self.base = table, base.lineitem
        self.order_rows = base.order_rows
        self.orders = len(base.order_rows)
        self.per = self.orders // FILES
        self.scale = self.orders / ORDERS
        self._deleted: tuple[int, int] | None = None

    def _range(self, rows: int) -> tuple[int, int]:
        target = max(1, round(rows * self.scale))
        f = int(self.rng.integers(FILES))
        first = f * self.per + 1
        last = (f + 1) * self.per if f < FILES - 1 else self.orders
        # every order has a row, so `target` orders always suffice
        lo = first + int(self.rng.integers(0, max(1, last - first + 1 - target)))
        cum = np.cumsum(self.order_rows[lo - 1 : last])
        return lo, lo + min(int(np.searchsorted(cum, target)), last - lo)

    def cycle(self) -> list[dict]:
        ops = []
        for kind in self.KINDS:
            if kind == "update":
                lo, hi = self._range(UPDATE_ROWS)
                d = int(self.rng.integers(0, 11)) / 100
                sql = (f"UPDATE {{t}} SET l_quantity = l_quantity + 1, l_discount = {d:.2f} "
                       f"WHERE l_orderkey BETWEEN {lo} AND {hi}")
            elif kind == "delete":
                lo, hi = self._deleted = self._range(UPDATE_ROWS)
                sql = f"DELETE FROM {{t}} WHERE l_orderkey BETWEEN {lo} AND {hi}"
            elif kind == "insert":
                lo, hi = self._deleted
                sql = (f"INSERT INTO {{t}} SELECT * FROM {{base}} "
                       f"WHERE l_orderkey BETWEEN {lo} AND {hi}")
            else:
                lo, hi = self._range(MERGE_ROWS)
                src = LI_COLS.replace("l_tax", "l_tax + 0.01 AS l_tax")
                sql = (f"MERGE INTO {{t}} t USING (SELECT {src} FROM {{base}} "
                       f"WHERE l_orderkey BETWEEN {lo} AND {hi}) s "
                       "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber "
                       "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
            ops.append({"kind": kind, "sql": sql, "range": (lo, hi)})
        return ops

    def spark_sql(self, op: dict) -> str:
        return op["sql"].format(t=f"cow.`{self.table}`", base=f"parquet.`{self.base}`")


class DuckReplay:
    """The same statements applied to an in-memory DuckDB copy of the
    base table: the independent oracle. Returns rows changed."""

    def __init__(self, con: duckdb.DuckDBPyConnection, name: str, base: str) -> None:
        self.con, self.name = con, name
        self.src = f"read_parquet('{base}/*.parquet')"
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM {self.src}")

    def apply(self, op: dict) -> int:
        if op["kind"] != "merge":
            sql = op["sql"].format(t=self.name, base=self.src)
            return int(self.con.execute(sql).fetchone()[0])
        # DuckDB 1.0 has no MERGE: a whole-row upsert on unique keys is
        # "delete matched keys, insert every source row"
        lo, hi = op["range"]
        src = (f"SELECT {LI_COLS.replace('l_tax', 'l_tax + 0.01 AS l_tax')} "
               f"FROM {self.src} WHERE l_orderkey BETWEEN {lo} AND {hi}")
        self.con.execute(
            f"DELETE FROM {self.name} t USING ({src}) s "
            "WHERE t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
        )
        return int(self.con.execute(f"INSERT INTO {self.name} {src}").fetchone()[0])

    def table_matches(self, arrow_table) -> bool:
        self.con.register("spark_result", arrow_table)
        try:
            extra = self.con.execute(
                f"SELECT count(*) FROM (SELECT * FROM spark_result EXCEPT ALL "
                f"SELECT * FROM {self.name})"
            ).fetchone()[0]
            missing = self.con.execute(
                f"SELECT count(*) FROM (SELECT * FROM {self.name} EXCEPT ALL "
                f"SELECT * FROM spark_result)"
            ).fetchone()[0]
        finally:
            self.con.unregister("spark_result")
        return extra == 0 and missing == 0


def create_lineitem(h, path: str, base: str) -> None:
    """One COW table, FILES files clustered on l_orderkey, one CHECK."""
    files = [os.path.join(base, f) for f in sorted(os.listdir(base))]
    # an explicit schema spares each later read its own schema-inference job
    schema = h.spark.read.parquet(files[0]).schema
    parts = [h.spark.read.schema(schema).parquet(f) for f in files]
    df = functools.reduce(lambda a, b: a.union(b), parts)  # one partition per base file
    df = df.sortWithinPartitions("l_orderkey", "l_linenumber")
    h.cowtable.create(h.spark, path, df, check_constraints={"qty_positive": "l_quantity > 0"})


def fresh_bytes(h, table: str, snapshot: int | None, scratch_name: str) -> int:
    """Bytes of ``table``'s live rows written once into a new table."""
    fresh = os.path.join(h.scratch, scratch_name)
    h.cowtable.create(h.spark, fresh, h.cowtable.read(h.spark, table, snapshot))
    return sum(dir_files(fresh).values())


class CowDml:
    """SQL DML through ``sql_gate.run_sql`` against one COW table."""

    name = "cow_dml"
    min_cycles = 1

    def prepare(self, h) -> None:
        self.base = write_base(h.scratch, h.seed, h.orders)
        self.duck = DuckReplay(duckdb.connect(), "lineitem", self.base.lineitem)

    def setup(self, h) -> None:
        self.table = os.path.join(h.scratch, "t_lineitem")
        create_lineitem(h, self.table, self.base.lineitem)
        self.bytes_per_row = sum(dir_files(self.table).values()) / self.base.rows
        self.stream = DmlStream(h.seed, 3, self.table, self.base)
        self.files = dir_files(self.table)
        self.written = [0, 0.0]  # bytes added, logical bytes (checkpoint prefix)
        self.snapshot = None

    def warm_up(self, h) -> None:
        for op in self.cycle():
            self.after(h, op, self.run(h, op), in_prefix=False)

    def cycle(self) -> list[dict]:
        return self.stream.cycle()

    def run(self, h, op: dict):
        return h.sql_gate.run_sql(h.spark, self.stream.spark_sql(op)).collect()

    def after(self, h, op: dict, result, in_prefix: bool) -> bool:
        changed = self.duck.apply(op)
        files = dir_files(self.table)
        d, m = added_bytes(self.files, files)
        self.files = files
        if in_prefix:
            self.written[0] += d + m
            self.written[1] += changed * self.bytes_per_row
            self.snapshot = result[0]["snapshot_id"]
            self.prefix_bytes = sum(files.values())
            h.commit_stats(result[0].asDict(), d, m)
        return True

    def finish(self, h) -> tuple[bool, dict]:
        got = h.sql_gate.run_sql(h.spark, f"SELECT * FROM cow.`{self.table}`").toArrow()
        ok = self.duck.table_matches(got)
        space = self.prefix_bytes / fresh_bytes(h, self.table, self.snapshot, "fresh")
        return ok, {"write_amp": self.written[0] / self.written[1], "space_amp": space}


# five kinds, so the median op of whole cycles falls inside one kind
QUERY_KINDS = ("point_lookup", "range_agg", "q1_scan", "q6_scan", "join_agg")


SETUP_DML = 3  # UPDATE, DELETE, INSERT: two files rewritten, one added


class CowQuery:
    """Analytical SELECTs through ``run_sql`` over COW tables whose
    layout a seeded batch of DML commits has already reshaped."""

    name = "cow_query"
    min_cycles = 5

    def prepare(self, h) -> None:
        self.base = write_base(h.scratch, h.seed, h.orders)
        self.con = duckdb.connect()
        self.replay = DuckReplay(self.con, "lineitem", self.base.lineitem)
        self.con.execute(
            f"CREATE TABLE orders AS SELECT * FROM read_parquet('{self.base.orders}')"
        )

    def setup(self, h) -> None:
        self.li = os.path.join(h.scratch, "t_lineitem")
        self.od = os.path.join(h.scratch, "t_orders")
        create_lineitem(h, self.li, self.base.lineitem)
        h.cowtable.create(h.spark, self.od, h.spark.read.parquet(self.base.orders))
        bytes_per_row = sum(dir_files(self.li).values()) / self.base.rows
        stream = DmlStream(h.seed, 4, self.li, self.base)
        before = dir_files(self.li)
        logical = 0.0
        for op in stream.cycle()[:SETUP_DML]:
            h.sql_gate.run_sql(h.spark, stream.spark_sql(op)).collect()
            logical += self.replay.apply(op) * bytes_per_row
        after = dir_files(self.li)
        self.write_amp = sum(added_bytes(before, after)) / logical
        self.li_bytes = sum(after.values())
        # orders is never modified: its table is its rows written once
        self.od_bytes = sum(dir_files(self.od).values())
        self.rng = np.random.default_rng([h.seed, 5])
        self.orders = h.orders

    def warm_up(self, h) -> None:
        for op in self.cycle():
            self.run(h, op)

    def cycle(self) -> list[dict]:
        r = self.rng
        width = max(2, self.orders // 75)  # ~2000 orders at sf0.1
        ops = []
        for kind in QUERY_KINDS:
            if kind == "point_lookup":
                sql = (f"SELECT l_linenumber, l_quantity, l_discount, l_shipdate FROM {{li}} "
                       f"WHERE l_orderkey = {int(r.integers(1, self.orders + 1))}")
            elif kind == "range_agg":
                lo = int(r.integers(1, self.orders - width))
                sql = (f"SELECT l_returnflag, count(*), sum(l_quantity), sum(l_extendedprice) "
                       f"FROM {{li}} WHERE l_orderkey BETWEEN {lo} AND {lo + width - 1} "
                       f"GROUP BY l_returnflag")
            elif kind == "q1_scan":
                day = f"1998-{int(r.integers(8, 13)):02d}-01"
                sql = (f"SELECT l_returnflag, l_linestatus, sum(l_quantity), "
                       f"sum(l_extendedprice * (1 - l_discount)), avg(l_discount), count(*) "
                       f"FROM {{li}} WHERE l_shipdate <= DATE '{day}' "
                       f"GROUP BY l_returnflag, l_linestatus")
            elif kind == "q6_scan":
                y = int(r.integers(1993, 1998))
                d = int(r.integers(2, 10)) / 100
                sql = (f"SELECT sum(l_extendedprice * l_discount), count(*) FROM {{li}} "
                       f"WHERE l_shipdate >= DATE '{y}-01-01' AND l_shipdate < DATE '{y + 1}-01-01' "
                       f"AND l_discount BETWEEN {d - 0.01:.2f} AND {d + 0.01:.2f} "
                       f"AND l_quantity < {int(r.integers(20, 30))}")
            else:
                y = int(r.integers(1993, 1998))
                sql = (f"SELECT o_orderpriority, count(*), sum(l_extendedprice) "
                       f"FROM {{li}} JOIN {{od}} ON l_orderkey = o_orderkey "
                       f"WHERE o_orderdate >= DATE '{y}-01-01' AND o_orderdate < DATE '{y}-07-01' "
                       f"GROUP BY o_orderpriority")
            ops.append({"kind": kind, "sql": sql})
        return ops

    def run(self, h, op: dict):
        df = h.sql_gate.run_sql(
            h.spark, op["sql"].format(li=f"cow.`{self.li}`", od=f"cow.`{self.od}`")
        )
        return df, df.collect()

    def expected(self, op: dict) -> list[tuple]:
        return self.con.execute(op["sql"].format(li="lineitem", od="orders")).fetchall()

    def after(self, h, op: dict, result, in_prefix: bool) -> bool:
        df, rows = result
        h.select_done(df)  # plan metrics, read outside the timed call
        return rows_equal([tuple(r) for r in rows], self.expected(op))

    def finish(self, h) -> tuple[bool, dict]:
        fresh = fresh_bytes(h, self.li, None, "fresh_li") + self.od_bytes
        return True, {"write_amp": self.write_amp,
                      "space_amp": (self.li_bytes + self.od_bytes) / fresh}


CSV_FILES = 4
HEX64 = "[0-9a-f]{64}"
CANONICAL = {"id": "bigint", "score": "double", "active": "boolean",
             "event_ts": "timestamp", "city": "string", "email": "string"}


def write_sources(h, rows: int, tag: str) -> tuple[list[str], int]:
    src = os.path.join(h.scratch, f"csv{tag}")
    os.makedirs(src)
    paths, size = [], 0
    for i in range(CSV_FILES):
        path = os.path.join(src, f"src_{i}.csv")
        size += data.write_csv(data.csv_table(h.seed, i, rows), path)
        paths.append(path)
    return paths, size


class IngestCsv:
    """``ingest.ingest_many`` of four seeded CSV files, overwrite mode,
    sha256 anonymization of the ``email`` column."""

    name = "ingest_csv"
    min_cycles = 3

    def prepare(self, h) -> None:
        self.rows = h.orders * 2 // 3  # 100k rows per file at sf0.1
        self.tables = [f"src_{i}" for i in range(CSV_FILES)]
        self.paths, self.csv_bytes = write_sources(h, self.rows, "")
        self.warm_paths, _ = write_sources(h, max(10, self.rows // 100), "_warm")
        self.samples, self.id_sums = {}, {}
        for i, t in enumerate(self.tables):
            tbl = data.csv_table(h.seed, i, self.rows)
            ids, emails = tbl.column("id").to_pylist(), tbl.column("email").to_pylist()
            self.id_sums[t] = sum(ids)
            self.samples[t] = {
                k: (hashlib.sha256(e.encode()).hexdigest(), e)
                for k, e in zip(ids, emails) if k % 997 == 0
            }
        self.workers = min(4, len(os.sched_getaffinity(0)))

    def setup(self, h) -> None:
        self.dirs = [os.path.join(h.warehouse, t) for t in self.tables]
        self.files = self._files()
        self.written = [0, 0]

    def warm_up(self, h) -> None:
        self._ingest(h, self.warm_paths, [f"warm_{t}" for t in self.tables])

    def _files(self) -> dict[str, int]:
        out = {}
        for d in self.dirs:
            out.update({os.path.join(d, k): v for k, v in dir_files(d).items()})
        return out

    def cycle(self) -> list[dict]:
        return [{"kind": "ingest_many"}]

    def _ingest(self, h, paths: list[str], tables: list[str]) -> list[str]:
        jobs = [
            h.ingest.IngestJob(path=p, table=t, anonymize=True, sensitive_columns=["email"])
            for p, t in zip(paths, tables)
        ]
        return h.ingest.ingest_many(h.spark, jobs, max_workers=self.workers)

    def run(self, h, op: dict):
        return self._ingest(h, self.paths, self.tables)

    def after(self, h, op: dict, result, in_prefix: bool) -> bool:
        files = self._files()
        self.last_added = sum(added_bytes(self.files, files))
        if in_prefix:
            self.written[0] += self.last_added
            self.written[1] += self.csv_bytes
        self.files = files
        ok = sorted(result) == self.tables
        for t, d in zip(self.tables, self.dirs):
            ok &= self.check_table(t, d)
        return ok

    def check_table(self, table: str, path: str) -> bool:
        """Read the table's parquet files with DuckDB: row count, id
        sum, every email a 64-hex digest, sampled digests equal to
        sha256 of the source value."""
        src = f"read_parquet('{path}/*.parquet')"
        n, id_sum, bad = duckdb.sql(
            f"SELECT count(*), sum(id), count(*) FILTER "
            f"(WHERE NOT regexp_full_match(email, '{HEX64}')) FROM {src}"
        ).fetchone()
        got = dict(duckdb.sql(f"SELECT id, email FROM {src} WHERE id % 997 = 0").fetchall())
        want = self.samples[table]
        return (
            n == self.rows and id_sum == self.id_sums[table] and bad == 0
            and got.keys() == want.keys()
            and all(got[k] == sha and got[k] != plain for k, (sha, plain) in want.items())
        )

    def finish(self, h) -> tuple[bool, dict]:
        ok = all(dict(h.spark.table(t).dtypes) == CANONICAL for t in self.tables)
        # overwrite replaces a table's files, so the last op's output is
        # the live rows written once: anything beyond it is kept garbage
        space = sum(self.files.values()) / self.last_added
        return ok, {"write_amp": self.written[0] / self.written[1], "space_amp": space}


WORKLOADS = {w.name: w for w in (CowDml, CowQuery, IngestCsv)}
