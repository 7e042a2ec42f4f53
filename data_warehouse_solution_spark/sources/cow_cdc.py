"""``cowcdc`` — a Spark 4 Python STREAMING Data Source that streams a
COW table's Change Data Feed: each micro-batch delivers the row-level
delta of the snapshot commits that happened since the last batch,
with ``_change_type`` ('insert' | 'delete') and ``_commit_snapshot``
columns — Delta's ``readChangeFeed`` shape, built on this repo's
``cowtable`` manifest log and the public
``pyspark.sql.datasource.DataSourceStreamReader`` API.

Design (mirrors the batch ``cowtable.changes`` exactly):

- **Offsets are snapshot ids.** ``initialOffset`` = the
  ``startingSnapshot`` option (default: the table's current snapshot
  at stream start, i.e. only NEW commits stream; pass 0 to replay
  history). ``latestOffset`` = the table's current snapshot — one
  filesystem listing, no data touched. Spark's checkpoint persists
  the offsets, so restart-resume is exactly-once per commit without
  any cursor file of our own.
- **One InputPartition per commit** in ``(start, end]``, carrying
  only the commit's file-list DIFF (removed + added file names from
  the two manifests — files present in both snapshots cancel without
  ever being opened). Per-partition work is bounded by the commit's
  touched files, the same bound the batch CDC has.
- **Executor-side read is pure pyarrow/pandas** (a stream reader runs
  in a Python worker with no SparkSession; ``_local_table.read_file``
  is the per-file read the batch ``cow`` reader uses): read the removed and
  added parquet files, bag-EXCEPT them by counting (+1 added / -1
  removed per row), and emit the net rows — a copy-on-write rewrite
  carries unaffected rows over byte-identical, so they cancel and
  only truly changed rows surface; a ``compact`` commit yields zero
  rows.

Scale/portability caveats (documented, not hidden): manifests and
data files are opened with ``pyarrow``'s local filesystem semantics —
on HDFS/S3 swap ``open``/``os.listdir`` for ``pyarrow.fs`` handles
(same API shape); NaN and NULL both normalize to None in the
bag-EXCEPT keys (the fixture tables carry no NaN).

Usage::

    register_cow_cdc(spark)
    stream = (spark.readStream.format("cowcdc")
              .option("tablePath", "/path/to/cow_table")
              .option("startingSnapshot", "0")   # optional: replay all
              .load())
"""

from __future__ import annotations

import json as _json
import os as _os

from . import _local_table as lt


def _build_stream_source_class():
    """Factory for the source's classes. Their hooks run in Python
    planner and executor workers; the functions they call live in
    importable modules, which ``register_once`` ships there."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class CommitPartition(InputPartition):
        def __init__(
            self, data_dir, dv_dir, snapshot, removed, added, col_names, col_types, pmap
        ):
            self.data_dir = data_dir
            self.dv_dir = dv_dir
            self.snapshot = snapshot
            self.removed = removed  # [(file name, dv name | None), ...]
            self.added = added
            self.col_names = col_names
            self.col_types = col_types
            self.pmap = pmap  # logical -> physical (renamed tables)

    class CowCdcStreamReader(DataSourceStreamReader):
        def __init__(self, schema, options):
            self.table_path = lt.table_path(options)
            if not self.table_path:
                raise ValueError("cowcdc requires the 'tablePath' option")
            # table columns only (schema() appended the two CDC cols)
            self.col_names = [f.name for f in schema.fields[:-2]]
            self.col_types = {
                f.name: f.dataType.simpleString() for f in schema.fields[:-2]
            }
            snaps = lt.snapshots(self.table_path)
            if not snaps:
                raise ValueError(f"no COW snapshots at {self.table_path}")
            start = options.get("startingsnapshot") or options.get("startingSnapshot")
            ts = options.get("startingtimestamp") or options.get(
                "startingTimestamp"
            )
            if start is not None and ts is not None:
                raise ValueError(
                    "pass startingSnapshot OR startingTimestamp, not both"
                )
            if ts is not None:
                # Delta CDF parity (INCLUSIVE): the first snapshot
                # committed at-or-after the instant is the first one
                # streamed, so the base is the latest snapshot
                # committed STRICTLY BEFORE it (0 when the instant
                # precedes the first commit: replay all)
                want = lt.utc_instant(ts)
                self.start_snapshot = 0
                for n in snaps:
                    m = lt.load_manifest(self.table_path, n, expand=False)
                    if lt.committed_at(self.table_path, m, n) < want:
                        self.start_snapshot = n
            elif start is not None and not str(start).isdigit():
                # a non-numeric start is a snapshot tag name
                self.start_snapshot = lt.tag_snapshot(self.table_path, snaps[-1], start)
            else:
                self.start_snapshot = (
                    int(start) if start is not None else snaps[-1]
                )

        def initialOffset(self):
            return {"snapshot": self.start_snapshot}

        def latestOffset(self):
            snaps = lt.snapshots(self.table_path)
            return {"snapshot": snaps[-1] if snaps else self.start_snapshot}

        def partitions(self, start, end):
            lo, hi = start["snapshot"], end["snapshot"]
            data_dir = _os.path.join(lt.local(self.table_path), "data")
            dv_dir = _os.path.join(lt.local(self.table_path), "_dv")
            out = []

            def _eff(f):
                # CDC identity = (file, deletion vector): a merge-on-read
                # commit keeps the file but swaps its dv reference, which
                # must stream as removed(old live rows) + added(new live
                # rows) — mirroring cowtable.changes()
                return (f["name"], (f.get("dv") or {}).get("name"))

            # startingSnapshot=0 replays ALL history: snapshot ids start
            # at 1, so the pre-create state is a synthesized empty
            # manifest and commit 1 streams as pure inserts
            prev = {"files": []} if lo == 0 else lt.load_manifest(self.table_path, lo)
            for n in range(lo + 1, hi + 1):
                m = lt.load_manifest(self.table_path, n)
                pf = {_eff(f) for f in prev["files"]}
                cf = {_eff(f) for f in m["files"]}
                out.append(
                    CommitPartition(
                        data_dir,
                        dv_dir,
                        n,
                        sorted(pf - cf),
                        sorted(cf - pf),
                        self.col_names,
                        self.col_types,
                        m.get("physical_names") or {},
                    )
                )
                prev = m
            return out

        def read(self, partition):
            def _rows(entries):
                for name, dv_name in entries:
                    dv_path = None if dv_name is None else _os.path.join(partition.dv_dir, dv_name)
                    yield from lt.frame_rows(
                        lt.read_file(
                            partition.data_dir,
                            name,
                            dv_path,
                            partition.col_names,
                            partition.col_types,
                            partition.pmap,
                        ).to_pandas()
                    )

            counts: dict[tuple, int] = {}
            for key in _rows(partition.added):
                counts[key] = counts.get(key, 0) + 1
            for key in _rows(partition.removed):
                counts[key] = counts.get(key, 0) - 1
            for key, net in counts.items():
                if net == 0:
                    continue  # carried-over row of a rewrite: not a change
                change = "insert" if net > 0 else "delete"
                for _ in range(abs(net)):
                    yield key + (change, partition.snapshot)

        def commit(self, end):
            pass  # Spark's checkpoint owns the offsets; nothing to persist

    class CowCdcDataSource(DataSource):
        """``format("cowcdc")`` after ``register_cow_cdc(spark)``."""

        @classmethod
        def name(cls):
            return "cowcdc"

        def schema(self):
            table_path = lt.table_path(self.options)
            if not table_path:
                raise ValueError("cowcdc requires the 'tablePath' option")
            snaps = lt.snapshots(table_path)
            if not snaps:
                raise ValueError(f"no COW snapshots at {table_path}")
            from pyspark.sql.types import (
                LongType,
                StringType,
                StructField,
                StructType,
            )

            m = lt.load_manifest(table_path, snaps[-1], expand=False)
            base = StructType.fromJson(_json.loads(m["schema"]))
            return StructType(
                list(base.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_snapshot", LongType()),
                ]
            )

        def streamReader(self, schema):
            return CowCdcStreamReader(schema, self.options)

    return CowCdcDataSource


CowCdcDataSource = _build_stream_source_class()


def register_cow_cdc(spark) -> None:
    """Register the streaming CDC source on a session (idempotent)."""
    from . import register_once

    register_once(spark, "cowcdc", lambda: spark.dataSource.register(CowCdcDataSource))
