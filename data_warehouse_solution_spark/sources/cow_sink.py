"""``cowsink``: a Spark 4 Python STREAMING Data Source WRITER that
commits each micro-batch into a copy-on-write snapshot table.

Completes the custom-source surface: ``httpcsv`` is a batch READER,
``cowcdc`` a streaming READER, this is the streaming WRITER — so the
whole lakehouse loop (files -> stream -> COW table -> change feed ->
derived table) runs through idiomatic ``readStream``/``writeStream``
format strings instead of ``foreachBatch`` plumbing (which remains
available, and required, for the merge/upsert and constraint-checked
shapes: ``stream_upsert_to_cow_table``).

Protocol mapping (the Spark DSv2 writer contract onto the COW commit
protocol):

- ``write(iterator)`` runs PER PARTITION on executors: it stages one
  parquet file under the table's ``data/`` dir (typed by the TABLE
  schema resolved at ``streamWriter`` time, so the physical parquet
  types always match the manifest) and returns the manifest entry
  (rows, min/max stats with ISO-encoded temporals, null counts) as
  its commit message. Staged bytes are INVISIBLE until a manifest
  publishes them — a mid-batch crash orphans files that ``vacuum``
  reclaims, never corrupts the table.
- ``commit(messages, batchId)``: ONE atomic new-files-only snapshot.
  The operation label embeds a PER-QUERY app id (hash of the
  checkpoint location or an explicit ``txnAppId`` option) plus the
  ``batchId`` — Delta's (appId, version) txn action — so two queries
  feeding one table never mistake each other's batches for replays.
  A REPLAYED batch (restart from checkpoint after a crash between
  sink commit and checkpoint write) is detected from the per-app txn
  sidecar (``_sink_txn/<app>.json``, atomically replaced after each
  successful OR skipped commit and durable across ``vacuum`` — label
  evidence alone would expire with old manifests), backed by a
  label scan over retained heads for the crash window where the
  sidecar lags the manifest link; the scan is incremental per writer
  instance (amortized O(new commits) per batch, not O(history));
  detected replays delete their re-staged files and commit nothing —
  at-least-once delivery, exactly-once table effect. The manifest publish is an ``os.link`` (fails if the
  target snapshot exists), which is the local-FS equivalent of the
  exists-check + rename ``cowtable._commit`` does — losing a race
  against a concurrent writer reloads the head and retries, exactly
  like ``cowtable.append``; a mid-stream appearance of a feature the
  sink cannot honor (constraints/partitioning/blooms) fails the
  batch loudly instead of erasing it from the manifest chain.
- ``abort`` deletes whatever the failed batch staged.

Spark runs these hooks in separate Python worker processes with no
SparkSession, so they read and publish the manifest log through the
local-filesystem helpers in ``_local_table`` and stage through
``_staging`` (the package ships to the workers when the source is
registered); table-level validation that needs the engine (schema
match, unsupported table features) happens in ``streamWriter``,
which runs in the real driver.

Scope: local-filesystem tables (same as ``cowcdc``). Partitioned,
bloom-indexed, CHECK-constrained, and BUCKETED tables are FULLY
supported at engine parity (same Hive-dir staging, identical XXH64
manifest blooms and Murmur3 bucket assignment from ``format_rules``
— one bucket per staged file, ``_000NN`` suffix, within-bucket sort
honored — DuckDB-ANSI constraint validation over each task's rows
before any byte lands; parseability probed at query start).
Generated-column tables are supported when every generated
expression is DuckDB-expressible AND type-exact (probed at query
start — see ``_staging.probe_generated``); the sink then
recomputes the generated values per micro-batch task, overwriting
whatever the stream carried, exactly like the engine's
``_apply_generated``. Spark-dialect expressions are still refused
loudly with a pointer to foreachBatch + cowtable.append. A mid-stream
DIVERGENCE of any table feature from what the writer captured fails
the batch loudly.
"""

from __future__ import annotations

import hashlib
import json as _json
import os as _os
import uuid as _uuid

from ..format_rules import _child
from . import _local_table as lt
from ._staging import changed_features, plan_write, stage_task


def _build_sink_class():
    """Factory for the sink's classes. Their hooks run in executor and
    sink-runner workers; the functions they call live in importable
    modules, which ``register_once`` ships there."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class CowStagedFile(WriterCommitMessage):
        def __init__(self, entries):
            self.entries = entries  # manifest entries (0..n per task)

    class CowSinkStreamWriter(DataSourceStreamWriter):
        def __init__(
            self,
            table_path,
            col_names,
            col_types,
            app_id,
            pmap=None,
            partition_by=(),
            bloom_columns=(),
            check_constraints=None,
            bucket=None,
            generated=None,
        ):
            self.table_path = table_path
            self.col_names = col_names
            self.col_types = col_types
            self.app_id = app_id
            self.pmap = pmap or {}  # logical -> physical (renamed tables)
            self.partition_by = list(partition_by)
            self.bloom_columns = list(bloom_columns)  # logical names
            self.check_constraints = dict(check_constraints or {})
            self.bucket = dict(bucket) if bucket else None  # bucket_by spec
            self.generated = dict(generated or {})  # col -> ANSI expr
            # incremental head-scan cache for the replay fallback
            self._seen_ops: set = set()
            self._scanned_upto = 0

        def write(self, iterator):
            # one micro-batch partition: bounded
            rows = [r.asDict() if hasattr(r, "asDict") else dict(r) for r in iterator]
            if not rows:
                return CowStagedFile([])
            return CowStagedFile(stage_task(rows, self, "cowsink", "sink"))

        def _txn_path(self):
            return _os.path.join(
                lt.local(self.table_path), "_sink_txn", f"{self.app_id}.json"
            )

        def _already_committed(self, batchId):
            """Replay probe. The per-app txn sidecar (one read,
            survives vacuum — snapshot-label evidence alone would
            vanish with expired manifests and let a late replay
            duplicate rows) answers the replay-positive case; the
            crash window where the sidecar lags the manifest link is
            covered by a label scan over retained heads that is
            INCREMENTAL per writer instance (each head is parsed once
            per stream lifetime, so steady-state commits re-read only
            the snapshots added since the previous batch — amortized
            O(new commits), not O(history) per batch)."""
            try:
                with open(self._txn_path()) as fh:
                    if batchId <= _json.load(fh)["last_batch"]:
                        return True
            except (FileNotFoundError, ValueError, KeyError):
                pass
            for n in lt.snapshots(self.table_path):
                if n <= self._scanned_upto:
                    continue
                self._seen_ops.add(lt.load_manifest(self.table_path, n, expand=False).get("operation"))
                self._scanned_upto = max(self._scanned_upto, n)
            # ONLY app-scoped labels count as replay evidence. An
            # unscoped legacy label (pre-app-id sink builds wrote
            # "stream_append_batch_N") must NOT match: on a table that
            # ever received such commits, a brand-new query's batches
            # 0..N would read as replays and be silently dropped —
            # data loss, the exact failure the app scoping prevents.
            # The framework is unreleased, so there is no upgrade
            # population to honor; old-label tables just get their
            # crash window re-covered by the sidecar going forward.
            return f"stream_append_{self.app_id}_batch_{batchId}" in self._seen_ops

        def _record_txn(self, batchId):
            d = _os.path.dirname(self._txn_path())
            _os.makedirs(d, exist_ok=True)
            # never regress the high-water mark: a replay detected via
            # the label scan for an OLD batch must not rewind the
            # sidecar below batches already recorded (their vacuum-
            # durable replay evidence would silently weaken)
            try:
                with open(self._txn_path()) as fh:
                    batchId = max(batchId, _json.load(fh)["last_batch"])
            except (FileNotFoundError, ValueError, KeyError):
                pass
            tmp = _os.path.join(d, f".tmp-{_uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                _json.dump({"last_batch": batchId}, fh)
            _os.replace(tmp, self._txn_path())  # atomic on POSIX

        def commit(self, messages, batchId):
            snaps = lt.snapshots(self.table_path)
            if not snaps:
                raise ValueError(f"cowsink: no COW table at {self.table_path}")
            if self._already_committed(batchId):
                # replayed batch after a crash between sink commit and
                # checkpoint write: the snapshot already holds these
                # rows — drop the re-staged duplicates, commit nothing
                # (and repair the lagging sidecar so the next batches
                # take the fast path again)
                self._record_txn(batchId)
                lt.drop_staged(self.table_path, messages)
                return
            entries = [
                e
                for msg in messages
                if msg is not None
                for e in (msg.entries or [])
            ]
            if not entries:
                return
            op = f"stream_append_{self.app_id}_batch_{batchId}"
            last_err = None
            for _attempt in range(6):  # optimistic retry like append()
                # manifest PROPER only (r12): an append references the
                # parent's shards by name — no file-list expansion
                m = lt.load_manifest(
                    self.table_path, lt.snapshots(self.table_path)[-1], expand=False
                )
                appeared = changed_features(m, self)
                if appeared:
                    # a table feature DIVERGED from what this writer
                    # captured at start (or a feature this sink can
                    # never honor appeared) MID-STREAM — the staged
                    # files no longer satisfy the table's contract:
                    # fail the batch loudly instead of silently
                    # erasing it from the manifest chain
                    lt.drop_staged(self.table_path, messages)
                    raise RuntimeError(
                        f"cowsink: {'/'.join(appeared)} changed on "
                        f"{self.table_path} mid-stream; restart the query "
                        "(or use the foreachBatch + cowtable.append path)"
                    )
                manifest = _child(m, op, committed_at=lt.utc_now())
                lt.append_files(self.table_path, m, entries, manifest)
                if m.get("txns"):
                    # engine writers' txn replay evidence (a dropped map
                    # would let their retries append twice)
                    manifest["txns"] = m["txns"]
                final = lt.manifest_path(self.table_path, manifest["snapshot_id"])
                tmp = _os.path.join(
                    lt.manifest_dir(self.table_path), f".tmp-{_uuid.uuid4().hex}.json"
                )
                with open(tmp, "w") as fh:
                    _json.dump(manifest, fh)
                try:
                    # link-then-unlink: fails with EEXIST if a rival
                    # committed the same snapshot id first — the
                    # local-FS equivalent of cowtable._commit's
                    # exists-check + atomic rename
                    _os.link(tmp, final)
                    _os.unlink(tmp)
                    self._record_txn(batchId)
                    return
                except FileExistsError as e:
                    last_err = e
                    _os.unlink(tmp)
            lt.drop_staged(self.table_path, messages)
            raise RuntimeError(
                f"cowsink: lost the commit race {6} times at {self.table_path}"
            ) from last_err

        def abort(self, messages, batchId):
            lt.drop_staged(self.table_path, messages)

    class CowSinkDataSource(DataSource):
        """``writeStream.format("cowsink").option("tablePath", p)``
        after ``register_cow_sink(spark)``. The target table must
        already exist (create it with ``cowtable.create``)."""

        @classmethod
        def name(cls):
            return "cowsink"

        def streamWriter(self, schema, overwrite):
            table_path = lt.table_path(self.options)
            if not table_path:
                raise ValueError("cowsink requires the 'tablePath' option")
            if overwrite:
                raise ValueError("cowsink supports append mode only")
            snaps = lt.snapshots(table_path)
            if not snaps:
                raise ValueError(f"cowsink: no COW table at {table_path}")
            head = lt.load_manifest(table_path, snaps[-1], expand=False)
            if head.get("identity_columns"):
                raise ValueError(
                    "cowsink: table declares IDENTITY column(s) "
                    f"{sorted(head['identity_columns'])} — the engine "
                    "allocates their values; stream through "
                    "foreachBatch + cowtable.append instead"
                )
            # the TABLE's types, so executors write parquet whose
            # physical types match the manifest schema (an int32 file
            # under a bigint manifest poisons reads)
            tnames, col_types = plan_write(
                head,
                [f.name for f in schema.fields],
                "cowsink",
                "foreachBatch + cowtable.append",
            )
            # replay guard must be scoped PER QUERY: keying on batchId
            # alone would make a second query's batch 0 look like a
            # replay of the first's and silently drop its data. The
            # stable query identity is the checkpoint location (Spark
            # already requires one per query) or an explicit txnAppId,
            # hashed into the operation label and the txn sidecar name
            # — Delta's (appId, version) txn action, same idea.
            app_src = (
                self.options.get("txnappid")
                or self.options.get("txnAppId")
                or self.options.get("checkpointlocation")
                or self.options.get("checkpointLocation")
            )
            if not app_src:
                # a silent shared default would collide two queries'
                # replay guards and swallow one side's batches — the
                # identity must be explicit (a session-level default
                # checkpoint dir does not reach the sink options)
                raise ValueError(
                    "cowsink needs a per-query identity: set the "
                    "'checkpointLocation' or 'txnAppId' writeStream option"
                )
            app_id = hashlib.md5(app_src.encode()).hexdigest()[:10]
            return CowSinkStreamWriter(
                table_path, tnames, col_types, app_id,
                head.get("physical_names") or {},
                partition_by=head.get("partition_by") or [],
                bloom_columns=head.get("bloom_columns") or [],
                check_constraints=head.get("check_constraints") or {},
                bucket=head.get("bucket_by") or None,
                generated=head.get("generated_columns") or {},
            )

    return CowSinkDataSource


CowSinkDataSource = _build_sink_class()


def register_cow_sink(spark) -> None:
    """Register the streaming COW sink on a session (idempotent)."""
    from . import register_once

    register_once(spark, "cowsink", lambda: spark.dataSource.register(CowSinkDataSource))
