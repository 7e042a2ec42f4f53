"""``cow`` — a Spark 4 Python BATCH Data Source reading copy-on-write
snapshot tables, time travel included::

    register_cow_batch(spark)
    df = (spark.read.format("cow")
          .option("tablePath", "/path/to/table")
          .option("versionAsOf", "3")          # or timestampAsOf
          .load())

Completes the format-string surface around the table format: ``cowcdc``
is the STREAMING reader (change feed), ``cowsink`` the STREAMING
writer, this is the BATCH reader — so a DataFrame user never needs the
Python ``cowtable`` API for reads (SQL users have the gate's
``cow.`path``` references). Mirrors ``cowtable.read`` semantics
exactly: the MANIFEST schema is authoritative (columns added by
schema evolution read as NULL from older files), Hive partition
directory values are re-injected typed, ``timestampAsOf`` resolves
to the latest snapshot committed at-or-before the instant
(``committed_at`` stamp; legacy manifests fall back to file mtime),
and merge-on-read entries apply their deletion vector (the entry's
``dv`` positions are masked out inside the partition read — row
position IS the pyarrow read order).

Scale shape: one InputPartition per SURVIVING data file (executors
read only their file via pyarrow — the same parallelism a parquet
scan gets); the driver touches only the manifest. The reader
implements ``pushFilters`` (Spark 4.1 Python DataSource pushdown):
pushed =/range/IN/IS-NULL conjuncts prune FILES against the manifest
entries' min/max + null-count stats, per-file Bloom filters and, when
they pin every bucket column, the key's Murmur3 bucket, before any
partition is emitted — so a point SELECT over a bloom-indexed,
clustered or bucketed table opens O(matching files), not O(table).
The decision is ``format_rules._file_may_match`` and
``_bucket_candidate_filter``, the functions ``cowtable`` prunes with,
so the two readers cannot disagree about which files may match. All
filters are also returned as residual: Spark re-evaluates rows over
the surviving files.
Remaining limits, documented not hidden: column pruning does not
reach the pyarrow read (Spark's Python DataSource API has no
prune-columns hook yet — every projection reads full files; use
``cowtable.read`` — a real parquet scan — where that matters);
local-filesystem paths only, like ``cowcdc``/``cowsink``.
"""

from __future__ import annotations

import datetime as _dt
import json as _json
import os as _os

from ..format_rules import (
    _bucket_candidate_filter,
    _canon_ts,
    _child,
    _file_may_match,
)
from . import _local_table as lt
from ._staging import _SPARK_JSON_CANON, changed_features, plan_write, stage_task


def _resolve_snapshot(table_path, options):
    snaps = lt.snapshots(table_path)
    if not snaps:
        raise ValueError(f"no COW table at {table_path}")
    version = options.get("versionasof") or options.get("versionAsOf")
    ts = options.get("timestampasof") or options.get("timestampAsOf")
    if version is not None and ts is not None:
        raise ValueError("pass versionAsOf OR timestampAsOf, not both")
    if version is not None:
        # a non-numeric versionAsOf is a snapshot tag name
        n = (
            int(version)
            if str(version).isdigit()
            else lt.tag_snapshot(table_path, snaps[-1], version)
        )
        if n not in snaps:
            raise ValueError(
                f"snapshot {n} is not available at {table_path} "
                "(expired by vacuum, or never committed)"
            )
        return n
    if ts is not None:
        want = lt.utc_instant(ts)
        best = None
        for n in snaps:
            m = lt.load_manifest(table_path, n, expand=False)
            if lt.committed_at(table_path, m, n) <= want:
                best = n
        if best is None:
            raise ValueError(
                f"no snapshot at {table_path} is as old as {ts} "
                "(timestamp precedes the first commit)"
            )
        return best
    return snaps[-1]


def _table_path(options):
    p = lt.table_path(options) or options.get("path")
    if not p:
        raise ValueError(
            "cow batch source requires a path / 'tablePath' option "
            "(or a registered name via option('table', ...))"
        )
    return p


def _filter_literal(val):
    """Spark Filter value -> the manifest-stats-comparable form;
    None means the type has no sound comparison against recorded
    stats (decimals, binaries...) and the conjunct must not
    prune."""
    if isinstance(val, bool):
        return None  # boolean stats not recorded; stay conservative
    if isinstance(val, (int, float, str)):
        return val
    if isinstance(val, _dt.datetime):
        # TIMESTAMP stats are canonical fixed-width strings (r12)
        return _canon_ts(val)
    if isinstance(val, _dt.date):
        return val.isoformat()  # DATE stats are ISO strings
    return None


def _build_batch_source_class():
    """Factory for the source's classes. Their hooks run in Python
    planner and executor workers; the functions they call live in
    importable modules, which ``register_once`` ships there."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    class FilePartition(InputPartition):
        def __init__(self, data_dir, name, col_names, col_types, dv_path=None, pmap=None):
            self.data_dir = data_dir
            self.name = name
            self.col_names = col_names
            self.col_types = col_types
            self.dv_path = dv_path  # deletion-vector parquet, or None
            self.pmap = pmap or {}  # logical -> physical (renames)

    class CowBatchReader(DataSourceReader):
        def __init__(self, schema, options):
            self.table_path = _table_path(options)
            self.snapshot = _resolve_snapshot(self.table_path, options)
            self.col_names = [f.name for f in schema.fields]
            self.col_types = {f.name: f.dataType.simpleString() for f in schema.fields}
            self.arrow_schema = to_arrow_schema(schema)  # what read() yields
            self.conjuncts = []  # (logical col, op, literal) accepted for pruning

        def pushFilters(self, filters):
            """File-level pruning from Spark's pushed conjuncts: =,
            </<=/>/>=, IN, IS [NOT] NULL on top-level columns are
            checked against each manifest entry's min/max + null-count
            stats and per-file Bloom filters in ``partitions()`` —
            point SELECTs over a bloom-indexed or clustered table open
            O(matching files), not O(table). EVERY filter is returned
            as residual (partial pushdown): pruning only skips whole
            files whose stats PROVE no row can match; Spark still
            evaluates the predicate over the survivors' rows, so an
            unsound prune is impossible by construction and exotic
            literal types simply decline to prune."""
            from pyspark.sql.datasource import (
                EqualTo,
                GreaterThan,
                GreaterThanOrEqual,
                In,
                IsNotNull,
                IsNull,
                LessThan,
                LessThanOrEqual,
            )

            ops = {
                EqualTo: "=",
                GreaterThan: ">",
                GreaterThanOrEqual: ">=",
                LessThan: "<",
                LessThanOrEqual: "<=",
            }
            for f in filters:
                attr = getattr(f, "attribute", None)
                if attr is not None and len(attr) == 1:
                    col = attr[0]
                    if isinstance(f, (IsNull, IsNotNull)):
                        self.conjuncts.append(
                            (col, "isnull" if isinstance(f, IsNull) else "notnull", None)
                        )
                    elif isinstance(f, In):
                        vals = [_filter_literal(v) for v in f.value]
                        if vals and all(v is not None for v in vals):
                            self.conjuncts.append((col, "in", vals))
                    elif type(f) in ops:
                        v = _filter_literal(f.value)
                        if v is not None:
                            self.conjuncts.append((col, ops[type(f)], v))
                yield f  # always residual: Spark re-checks rows

        def partitions(self):
            m = lt.load_manifest(self.table_path, self.snapshot)
            data_dir = _os.path.join(lt.local(self.table_path), "data")
            dv_dir = _os.path.join(lt.local(self.table_path), "_dv")
            pmap = m.get("physical_names") or {}
            files = m["files"]
            if self.conjuncts:
                # entry stats are keyed by PHYSICAL names (rename
                # never rewrites stats); probe under those
                conjs = [(pmap.get(c, c), op, v) for c, op, v in self.conjuncts]
                types = {pmap.get(k, k): v for k, v in self.col_types.items()}
                files = [f for f in files if _file_may_match(f, conjs, types)]
                files = _bucket_candidate_filter(m, files, conjs, types)
            return [
                FilePartition(
                    data_dir,
                    f["name"],
                    self.col_names,
                    self.col_types,
                    _os.path.join(dv_dir, f["dv"]["name"]) if f.get("dv") else None,
                    pmap,
                )
                for f in files
            ]

        def read(self, partition):
            if partition is None:
                # Spark hands a reader whose partitions() is empty one
                # None partition: every file was pruned, or the
                # snapshot has none
                return
            yield from lt.read_file(
                partition.data_dir,
                partition.name,
                partition.dv_path,
                partition.col_names,
                partition.col_types,
                partition.pmap,
            ).cast(self.arrow_schema).to_batches()

    class CowStagedFile(WriterCommitMessage):
        def __init__(self, entries):
            self.entries = entries  # list of manifest entries (0..n)

    class CowBatchWriter(DataSourceWriter):
        """Executor-staged batch append/overwrite: ``write`` stages one
        parquet per (partition, Hive-partition-value) under ``data/``
        (typed by the TABLE schema, written under PHYSICAL column
        names so renamed tables stay consistent) and returns the
        manifest entries; ``commit`` publishes ONE atomic snapshot via
        the same exists-checked link the streaming sink uses, retrying
        lost races by reloading the head (append conflicts with
        nothing; a raced overwrite keeps last-overwrite-wins
        semantics).

        Parity with the engine staging path (``cowtable._stage_files``):
        partitioned tables land each group under its ``col=value/``
        directory with the values recorded (decoded) on the entry and
        min==max partition stats; bloom-indexed columns get the same
        manifest-level filter (``format_rules``' XXH64 positions, the
        ones the engine stages and probes with); CHECK
        constraints are validated over the task's rows BEFORE any byte
        lands (DuckDB evaluation of the ANSI expression — parseability
        is probed at planning time so a non-portable expression fails
        the job upfront, not per task). NULL results pass, the SQL
        three-valued CHECK rule, matching
        ``cowtable._validate_constraints``."""

        def __init__(
            self,
            table_path,
            col_names,
            col_types,
            pmap,
            overwrite,
            partition_by=(),
            bloom_columns=(),
            check_constraints=None,
            bucket=None,
            generated=None,
        ):
            self.table_path = table_path
            self.col_names = col_names  # logical, table order
            self.col_types = col_types  # logical -> simpleString
            self.pmap = pmap  # logical -> physical
            self.overwrite = overwrite
            self.partition_by = list(partition_by)
            self.bloom_columns = list(bloom_columns)  # logical names
            self.check_constraints = dict(check_constraints or {})
            self.bucket = dict(bucket) if bucket else None  # bucket_by spec
            self.generated = dict(generated or {})  # col -> ANSI expr

        def write(self, iterator):
            rows = [r.asDict() if hasattr(r, "asDict") else dict(r) for r in iterator]
            if not rows:
                # the batch contract requires a message (unlike the
                # streaming sink); an entry-less one means "no file"
                return CowStagedFile([])
            return CowStagedFile(stage_task(rows, self, "cow writer", "batch"))

        def commit(self, messages):
            import tempfile as _tempfile

            entries = [
                e
                for m in messages
                if m is not None
                for e in (m.entries or [])
            ]
            for _attempt in range(8):
                # manifest proper only: an append references the
                # parent's shards by name
                snaps = lt.snapshots(self.table_path)
                head = lt.load_manifest(self.table_path, snaps[-1], expand=False)
                appeared = changed_features(head, self)
                if appeared:
                    # the engine path re-validates on this race; a
                    # detached writer can only abort loudly
                    lt.drop_staged(self.table_path, messages)
                    raise RuntimeError(
                        f"cow writer: {'/'.join(appeared)} changed on "
                        f"{self.table_path} between planning and commit; "
                        "re-run the write"
                    )
                n = head["snapshot_id"] + 1
                manifest = _child(
                    head,
                    "overwrite" if self.overwrite else "batch_append",
                    committed_at=lt.utc_now(),
                )
                if self.overwrite:
                    manifest["files"] = entries
                else:
                    lt.append_files(self.table_path, head, entries, manifest)
                if head.get("txns"):
                    manifest["txns"] = head["txns"]
                mdir = lt.manifest_dir(self.table_path)
                fd, tmp = _tempfile.mkstemp(dir=mdir, suffix=".tmp")
                with _os.fdopen(fd, "w") as fh:
                    _json.dump(manifest, fh)
                try:
                    _os.link(tmp, lt.manifest_path(self.table_path, n))
                    _os.remove(tmp)
                    return
                except FileExistsError:
                    _os.remove(tmp)  # lost the race: reload head, retry
            lt.drop_staged(self.table_path, messages)
            raise RuntimeError(
                f"cow batch write lost {8} commit races at {self.table_path}"
            )

        def abort(self, messages):
            lt.drop_staged(self.table_path, messages)

    class CowBatchDataSource(DataSource):
        """``spark.read.format("cow")`` / ``df.write.format("cow")``
        after ``register_cow_batch``."""

        @classmethod
        def name(cls):
            return "cow"

        def schema(self):
            from pyspark.sql.types import StructType

            table_path = _table_path(self.options)
            n = _resolve_snapshot(table_path, self.options)
            m = lt.load_manifest(table_path, n, expand=False)
            return StructType.fromJson(_json.loads(m["schema"]))

        def reader(self, schema):
            return CowBatchReader(schema, self.options)

        def writer(self, schema, overwrite):
            table_path = _table_path(self.options)
            snaps = lt.snapshots(table_path)
            if not snaps:
                raise ValueError(
                    f"no COW table at {table_path} — create it with "
                    "cowtable.create first (the writer appends/overwrites "
                    "an existing table's content, it does not define schema)"
                )
            head = lt.load_manifest(table_path, snaps[-1], expand=False)
            if head.get("identity_columns"):
                # identity allocation needs the engine's high-water
                # commit (manifest counter state a detached DSv2 task
                # cannot atomically advance) — route through the
                # engine API / gate INSERT instead
                raise ValueError(
                    "cow writer: table declares IDENTITY column(s) "
                    f"{sorted(head['identity_columns'])} — use "
                    "cowtable.append or gate INSERT (the engine "
                    "allocates their values)"
                )
            tnames, col_types = plan_write(
                head, [f.name for f in schema.fields], "cow writer", "cowtable.append"
            )
            for f in schema.fields:
                want = col_types[f.name]
                got = _SPARK_JSON_CANON.get(
                    f.dataType.jsonValue() if isinstance(f.dataType.jsonValue(), str) else "",
                    f.dataType.simpleString(),
                )
                if got != want:
                    raise ValueError(
                        f"cow writer: column {f.name} is {got}, table wants "
                        f"{want} (cast first — the batch writer never casts)"
                    )
            return CowBatchWriter(
                table_path,
                tnames,
                col_types,
                head.get("physical_names") or {},
                bool(overwrite),
                partition_by=head.get("partition_by") or [],
                bloom_columns=head.get("bloom_columns") or [],
                check_constraints=head.get("check_constraints") or {},
                bucket=head.get("bucket_by") or None,
                generated=head.get("generated_columns") or {},
            )

    CowBatchDataSource._reader_cls = CowBatchReader
    return CowBatchDataSource


CowBatchDataSource = _build_batch_source_class()


def register_cow_batch(spark) -> None:
    """Register the batch COW reader on a session (idempotent).

    Also enables ``spark.sql.python.filterPushdown.enabled`` (a
    runtime SQL conf, default false in 4.1): with it off, Spark
    REFUSES any reader that implements ``pushFilters`` rather than
    silently skipping pushdown, so the flag is part of registering
    this source. The conf is set on every call, since a later reset
    would otherwise break cow reads; only the registration itself is
    done once per session."""
    from . import register_once

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_once(
        spark, "cow", lambda: spark.dataSource.register(CowBatchDataSource)
    )
