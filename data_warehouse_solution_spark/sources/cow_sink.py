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

Spark runs every one of these hooks in SEPARATE Python worker
processes where neither this package nor a SparkSession exists, so
the whole class closes over its dependencies by value (stdlib +
pyarrow only — the same closure rule as ``http_csv``/``cow_cdc``);
table-level validation that needs the engine (schema match,
unsupported table features) happens in ``streamWriter``, which runs
in the real driver.

Scope: local-filesystem tables (same as ``cowcdc``). Partitioned,
bloom-indexed, CHECK-constrained, and BUCKETED tables are FULLY
supported at engine parity (same Hive-dir staging, identical XXH64
manifest blooms and Murmur3 bucket assignment via ``_closure_hash``
— one bucket per staged file, ``_000NN`` suffix, within-bucket sort
honored — DuckDB-ANSI constraint validation over each task's rows
before any byte lands; parseability probed at query start).
Generated-column tables are supported when every generated
expression is DuckDB-expressible AND type-exact (probed at query
start — see ``_closure_staging.probe_generated``); the sink then
recomputes the generated values per micro-batch task, overwriting
whatever the stream carried, exactly like the engine's
``_apply_generated``. Spark-dialect expressions are still refused
loudly with a pointer to foreachBatch + cowtable.append. A mid-stream
DIVERGENCE of any table feature from what the writer captured fails
the batch loudly.
"""

from __future__ import annotations


def _build_sink_class():
    """Factory: classes close over their deps by value (cloudpickle
    ships them to executors and the sink-runner worker; the package
    need not be importable there)."""
    import json as _json
    import os as _os
    import re as _re
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    from ._closure_staging import make_staging_fns

    # nested closures: pickled BY VALUE into the executor workers
    (_arrow_schema, _validate_rows, _stage_groups, _probe_checks,
     _probe_generated, _apply_generated_rows) = make_staging_fns()

    _SNAP_RE = _re.compile(r"^manifest-(\d{8})\.json$")

    def _local(path):
        return path[7:] if path.startswith("file://") else path.removeprefix("file:")

    def _table_path_opt(options):
        """tablePath, or a catalog NAME via ``option("table", ...)``
        (r11 punch #5) — the self-contained ``catalog.resolve_or_raise``
        mirror (runs in the sink-runner worker; parity pinned by
        ``tests/test_cow_batch_source.py``). ``catalogDir`` option
        overrides the engine-default ``<cwd>/spark-warehouse/
        _cow_catalog``."""
        name = options.get("table")
        if name:
            name = name.strip().strip("`\"").lower()
            cat = _local(
                options.get("catalogdir")
                or options.get("catalogDir")
                or _os.path.join(_os.getcwd(), "spark-warehouse", "_cow_catalog")
            )
            entry = _os.path.join(cat, f"{name}.json")
            if not _os.path.isfile(entry):
                known = (
                    sorted(f[:-5] for f in _os.listdir(cat) if f.endswith(".json"))
                    if _os.path.isdir(cat)
                    else []
                )
                raise ValueError(
                    f"unknown table name {name!r} — registered tables: "
                    f"{known if known else '(none)'}"
                )
            with open(entry) as fh:
                return _local(_json.loads(fh.read())["path"])
        return options.get("tablepath") or options.get("tablePath")

    def _mdir(table_path):
        return _os.path.join(_local(table_path), "_manifests")

    def _snapshots(table_path):
        try:
            names = _os.listdir(_mdir(table_path))
        except FileNotFoundError:
            return []
        return sorted(int(m.group(1)) for n in names if (m := _SNAP_RE.match(n)))

    def _load_head(table_path, n):
        with open(_os.path.join(_mdir(table_path), f"manifest-{n:08d}.json")) as fh:
            return _json.load(fh)

    # engine parity constant (cowtable.MANIFEST_SHARD_ROWS): the sink
    # is closure-self-contained, so the threshold is re-declared here
    _SHARD_ROWS = 10_000

    def _write_content_shard(table_path, entries):
        """Engine-parity content-addressed shard publish (r12 — the
        stdlib twin of cowtable._write_content_shard): identical
        content ⇒ identical name ⇒ the write is skipped; tmp + rename
        so a concurrent identical writer never interleaves bytes."""
        import hashlib as _hashlib

        blob = _json.dumps(entries).encode()
        name = (
            f"manifest-files-{_hashlib.sha256(blob).hexdigest()[:16]}.json"
        )
        dst = _os.path.join(_mdir(table_path), name)
        if not _os.path.exists(dst):
            tmp = _os.path.join(
                _mdir(table_path), f".tmp-shard-{_uuid.uuid4().hex}.json"
            )
            with open(tmp, "wb") as fh:
                fh.write(blob)
            _os.replace(tmp, dst)  # atomic; identical content if raced
        return name

    def _append_shards(table_path, m, entries, manifest):
        """Attach ``parent ∪ entries`` to ``manifest`` with O(new)
        metadata I/O (r12 engine parity with cowtable._commit_carry):
        a sharded parent's shard names are REFERENCED from its
        manifest proper — never loaded, never rewritten — and only a
        trailing sub-half shard is read and merged so per-batch
        commits can't grow the shard count unboundedly. THE property
        that keeps streaming-sink commit metadata flat-cost on a
        1M-file table. Inline parents stay inline (the engine's next
        commit shards them past the threshold)."""
        if "file_shards" not in m:
            manifest["files"] = m["files"] + entries
            manifest["n_files"] = len(manifest["files"])
            return
        names = list(m["file_shards"])
        tail = list(entries)
        if names:
            with open(_os.path.join(_mdir(table_path), names[-1])) as fh:
                last = _json.load(fh)
            if (
                len(last) < _SHARD_ROWS // 2
                and len(last) + len(tail) <= _SHARD_ROWS
            ):
                tail = last + tail
                names.pop()
        for k in range(0, len(tail), _SHARD_ROWS):
            names.append(
                _write_content_shard(table_path, tail[k : k + _SHARD_ROWS])
            )
        manifest["file_shards"] = names
        if m.get("n_files") is not None:
            manifest["n_files"] = int(m["n_files"]) + len(entries)

    _PA_TYPES = {
        "tinyint": "int8",
        "smallint": "int16",
        "int": "int32",
        "bigint": "int64",
        "float": "float32",
        "double": "float64",
        "string": "string",
        "boolean": "bool_",
        "date": "date32",
    }

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
            # generated columns recomputed FIRST (overwriting stream
            # values — a generated column IS its expression), so
            # CHECKs referencing them validate the landed values
            rows = _apply_generated_rows(
                rows, self.col_names, self.col_types, self.generated,
                "cowsink",
            )
            # validate, THEN stage: a violating task leaves no bytes
            # (shared staging closures: _closure_staging — identical
            # entries to the batch writer and engine paths)
            _validate_rows(
                rows, self.col_names, self.col_types,
                self.check_constraints, "cowsink",
            )
            entries = _stage_groups(
                rows,
                {
                    "col_names": self.col_names,
                    "col_types": self.col_types,
                    "pmap": self.pmap,
                    "partition_by": self.partition_by,
                    "bloom_columns": self.bloom_columns,
                    "bucket": self.bucket,
                    "data_dir": _os.path.join(_local(self.table_path), "data"),
                    "prefix": "sink",
                },
            )
            return CowStagedFile(entries)

        def _drop_staged(self, messages):
            data_dir = _os.path.join(_local(self.table_path), "data")
            for msg in messages:
                for e in getattr(msg, "entries", None) or []:
                    try:
                        _os.remove(_os.path.join(data_dir, *e["name"].split("/")))
                    except OSError:
                        pass

        def _txn_path(self):
            return _os.path.join(
                _local(self.table_path), "_sink_txn", f"{self.app_id}.json"
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
            for n in _snapshots(self.table_path):
                if n <= self._scanned_upto:
                    continue
                self._seen_ops.add(_load_head(self.table_path, n).get("operation"))
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
            snaps = _snapshots(self.table_path)
            if not snaps:
                raise ValueError(f"cowsink: no COW table at {self.table_path}")
            if self._already_committed(batchId):
                # replayed batch after a crash between sink commit and
                # checkpoint write: the snapshot already holds these
                # rows — drop the re-staged duplicates, commit nothing
                # (and repair the lagging sidecar so the next batches
                # take the fast path again)
                self._record_txn(batchId)
                self._drop_staged(messages)
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
                m = _load_head(self.table_path, _snapshots(self.table_path)[-1])
                drifted = {
                    "partitioning": (m.get("partition_by") or [])
                    != self.partition_by,
                    "bloom indexing": (m.get("bloom_columns") or [])
                    != self.bloom_columns,
                    "CHECK constraints": (m.get("check_constraints") or {})
                    != self.check_constraints,
                    "generated columns": (m.get("generated_columns") or {})
                    != self.generated,
                    "bucketing": (m.get("bucket_by") or None) != self.bucket,
                }
                appeared = [k for k, v in drifted.items() if v]
                if appeared:
                    # a table feature DIVERGED from what this writer
                    # captured at start (or a feature this sink can
                    # never honor appeared) MID-STREAM — the staged
                    # files no longer satisfy the table's contract:
                    # fail the batch loudly instead of silently
                    # erasing it from the manifest chain
                    self._drop_staged(messages)
                    raise RuntimeError(
                        f"cowsink: {'/'.join(appeared)} changed on "
                        f"{self.table_path} mid-stream; restart the query "
                        "(or use the foreachBatch + cowtable.append path)"
                    )
                manifest = {
                    "snapshot_id": m["snapshot_id"] + 1,
                    "parent": m["snapshot_id"],
                    "operation": op,
                    "schema": m["schema"],
                    "partition_by": self.partition_by,
                    "bloom_columns": self.bloom_columns,
                    "check_constraints": self.check_constraints,
                }
                _append_shards(self.table_path, m, entries, manifest)
                # carry the column-mapping / mode keys the engine's
                # _carried() propagates — dropping physical_names here
                # would NULL out every renamed column on later reads
                for k in (
                    "write_mode",
                    "physical_names",
                    "used_physical",
                    "bucket_by",
                    "widened_columns",
                    "generated_columns",
                    "partition_specs",
                    "default_spec_id",
                    # r12 review find: dropping these from a sink
                    # commit forfeited vacuum's tag retention (file
                    # deletion under a live VERSION AS OF promise),
                    # stopped declared DEFAULTs applying to later
                    # engine INSERTs, and erased engine writers' txn
                    # replay evidence (duplicate appends on retry)
                    "tags",
                    "column_defaults",
                    "txns",
                ):
                    # default_spec_id 0 is falsy but only meaningful
                    # alongside partition_specs, which is never empty
                    # when present — `get(k)` stays correct
                    if m.get(k):
                        manifest[k] = m[k]
                final = _os.path.join(
                    _mdir(self.table_path), f"manifest-{manifest['snapshot_id']:08d}.json"
                )
                tmp = _os.path.join(_mdir(self.table_path), f".tmp-{_uuid.uuid4().hex}.json")
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
            self._drop_staged(messages)
            raise RuntimeError(
                f"cowsink: lost the commit race {6} times at {self.table_path}"
            ) from last_err

        def abort(self, messages, batchId):
            self._drop_staged(messages)

    class CowSinkDataSource(DataSource):
        """``writeStream.format("cowsink").option("tablePath", p)``
        after ``register_cow_sink(spark)``. The target table must
        already exist (create it with ``cowtable.create``)."""

        @classmethod
        def name(cls):
            return "cowsink"

        def streamWriter(self, schema, overwrite):
            table_path = _table_path_opt(self.options)
            if not table_path:
                raise ValueError("cowsink requires the 'tablePath' option")
            if overwrite:
                raise ValueError("cowsink supports append mode only")
            snaps = _snapshots(table_path)
            if not snaps:
                raise ValueError(f"cowsink: no COW table at {table_path}")
            head = _load_head(table_path, snaps[-1])
            if head.get("identity_columns"):
                raise ValueError(
                    "cowsink: table declares IDENTITY column(s) "
                    f"{sorted(head['identity_columns'])} — the engine "
                    "allocates their values; stream through "
                    "foreachBatch + cowtable.append instead"
                )
            gen = head.get("generated_columns") or {}
            # resolve the TABLE's types so executors write parquet whose
            # physical types match the manifest schema (an int32 file
            # under a bigint manifest poisons reads)
            tschema = _json.loads(head["schema"])
            tnames = [f["name"] for f in tschema["fields"]]
            ttypes = {f["name"]: f["type"] for f in tschema["fields"]}
            non_scalar = [c for c, t in ttypes.items() if not isinstance(t, str)]
            if non_scalar:
                raise ValueError(f"cowsink: unsupported nested columns {non_scalar}")
            parts = head.get("partition_by") or []
            # canonicalize the type-JSON names before supported checks
            _CANON0 = {"long": "bigint", "integer": "int",
                       "short": "smallint", "byte": "tinyint"}
            ctypes = {
                c: _CANON0.get(t, t) if isinstance(t, str) else t
                for c, t in ttypes.items()
            }
            _GROUPABLE = ("tinyint", "smallint", "int", "bigint", "string", "date")
            bad_part = [c for c in parts if ctypes.get(c) not in _GROUPABLE]
            if bad_part:
                raise ValueError(
                    f"cowsink: unsupported partition column type(s) for "
                    f"{bad_part} — use foreachBatch + cowtable.append"
                )
            bucket = head.get("bucket_by") or None
            if bucket:
                # Murmur3 bucket parity via the shared _closure_hash
                # closures — supported for exactly the types they hash
                # bit-identically to F.hash
                bad_bkt = [
                    c for c in bucket["columns"] if ctypes.get(c) not in _GROUPABLE
                ]
                if bad_bkt:
                    raise ValueError(
                        f"cowsink: unsupported bucket column type(s) for "
                        f"{bad_bkt} — use foreachBatch + cowtable.append"
                    )
            frame_cols = sorted(f.name for f in schema.fields)
            missing = set(tnames) - set(frame_cols)
            if frame_cols != sorted(tnames) and (
                missing - set(gen) or set(frame_cols) - set(tnames)
            ):
                # generated columns may be OMITTED from the stream
                # (recomputed per micro-batch anyway)
                raise ValueError(
                    f"cowsink: stream columns {frame_cols}"
                    f" != table columns {sorted(tnames)}"
                    " (only generated columns may be omitted)"
                )
            # Spark's type JSON name 'long'/'integer' vs simpleString
            _CANON = {"long": "bigint", "integer": "int", "short": "smallint", "byte": "tinyint"}
            col_types = {c: _CANON.get(t, t) for c, t in ttypes.items()}
            checks = head.get("check_constraints") or {}
            # probe ANSI parseability at START (driver) so a
            # Spark-only expression fails the query upfront, never
            # per micro-batch (shared probe: _closure_staging)
            try:
                _probe_checks(tschema["fields"], checks, "cowsink")
                # generated columns (r8 punch-list #5): same probe as
                # the batch writer — DuckDB-parseable + exact declared
                # type, or refuse upfront with the engine-path pointer
                _probe_generated(tschema["fields"], gen, "cowsink")
                # planning-time staging-type check (column named)
                _arrow_schema(tnames, col_types, {})
            except ValueError as e:
                raise ValueError(
                    str(e).replace("cowtable.append",
                                   "foreachBatch + cowtable.append")
                ) from None
            # replay guard must be scoped PER QUERY: keying on batchId
            # alone would make a second query's batch 0 look like a
            # replay of the first's and silently drop its data. The
            # stable query identity is the checkpoint location (Spark
            # already requires one per query) or an explicit txnAppId,
            # hashed into the operation label and the txn sidecar name
            # — Delta's (appId, version) txn action, same idea.
            import hashlib

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
                partition_by=parts,
                bloom_columns=head.get("bloom_columns") or [],
                check_constraints=checks,
                bucket=bucket,
                generated=gen,
            )

    return CowSinkDataSource


CowSinkDataSource = _build_sink_class()


def register_cow_sink(spark) -> None:
    """Register the streaming COW sink on a session (idempotent)."""
    from . import register_once

    register_once(spark, "cowsink", lambda: spark.dataSource.register(CowSinkDataSource))
