"""Copy-on-write snapshot table format: real DELETE / UPDATE / MERGE.

The reference whitelists DELETE and UPDATE verbs (``pipeline.py:
110-114`` in /root/reference) but delegates their execution to its
warehouse backend; plain parquet can only emulate them by rewriting
the whole table (``warehouse_patterns.dml_delete_emulation``). This
module closes that gap with the same design every transactional lake
format uses (Iceberg/Delta COW mode), built from primitives already
in the environment — no extra jars:

- A table is a directory: immutable parquet **data files** plus a
  ``_manifests/`` log of JSON **snapshots**. Snapshot N lists exactly
  the data files that make up the table at version N.
- DML never mutates a file. DELETE/UPDATE/MERGE (1) find the data
  files that actually contain affected rows, (2) rewrite ONLY those
  files, (3) commit snapshot N+1 = (untouched files) + (rewritten
  files). Readers of snapshot <= N never see a partial write, and
  old snapshots remain readable (time travel) until ``vacuum``.
- Commit is a write-temp-then-rename of the manifest with an
  existence check: atomic on HDFS-semantics filesystems (rename onto
  an existing path fails there); on a local FS the check-then-rename
  pair has a small race window — same caveat as
  ``incremental.refresh_daily_revenue``, documented rather than
  hidden. Every write that stages files publishes through ONE
  optimistic-commit loop (``_optimistic_commit``, Iceberg's
  optimistic-concurrency step). A loser reloads the head and the
  verb decides: appends (INSERT, COPY INTO, pre-staged appends) have
  no read-set and always rebase; predicate DML and MERGE rebase only
  when the winner provably left what they read alone
  (``_rebase_head``); create/replace and the rest refuse with
  ``CowConcurrentWrite``. The loop itself refuses a head whose
  identity high-water marks moved, re-validates the staged files
  when the CHECK set changed, and stops after ``COMMIT_ATTEMPTS``
  (6) publishes. Cleanup rule: a write that does not publish deletes
  every data file and deletion vector it staged, because no manifest
  can reference them before the rename; only when the rename itself
  fails with an unknown outcome are they left for ``vacuum``.
  Content-addressed manifest shards are never deleted (a winner may
  share them).
- CHECK constraints are enforced on the files a write stages, never
  the table: proven from their footer min/max and null counts when
  those imply every constraint (``_checks_hold``: no read), else
  counted by one read of the new files, usually riding the bloom or
  stats pass.

Affected-file selection prunes twice before touching data: the
manifest keeps per-file min/max stats for numeric and string columns
and a small sound analyzer skips files whose ranges refute the
predicate's recognized ``col op literal`` conjuncts (exactly what
Iceberg manifests do; unrecognized predicates prune nothing and stay
correct). Declared ``bloom_columns`` additionally carry per-file
Bloom filters, so point (`=`) predicates on high-cardinality
unordered keys — where every file's min/max spans the whole domain —
still prune to the handful of files that may hold the value (see the
bloom section below). When several candidates survive, or one large
file, COW DELETE/UPDATE probe them with an exact predicate scan over
the hidden ``_metadata.file_path`` column (``_affected_files``) —
Catalyst prunes to the predicate's columns and parquet row-group stats
skip clean stripes — and rewrite only the files that match. A single
small surviving candidate (``_UNPROBED_MAX_ROWS``) is not probed: its
rewrite is staged directly and the staging write counts the matches,
so a statement that matched nothing publishes nothing (one Spark job
instead of three). At 100 TB the rewrite cost is proportional to the
affected files and the planning cost to the stat-surviving candidates,
not the table — the entire point of COW.

Manifest scalability: beyond ``MANIFEST_SHARD_ROWS`` file entries a
snapshot's file list is sharded into side ``manifest-N-files-K.json``
files (the Iceberg manifest-list move) and the manifest proper holds
only their names, so no single JSON grows with the table; the atomic
rename of the manifest proper remains the one commit point.
``compact(cluster_by=...)`` keeps the file COUNT bounded and makes
the stats a range index; ``changes()`` exposes the row-level delta
between snapshots (CDC) at O(changed files) cost.

Merge-on-read DELETE/UPDATE (deletion vectors): ``delete``/``update``
with ``mode="mor"`` — or any mode on a table created with
``write_mode="mor"`` (Delta's ``enableDeletionVectors`` analogue) —
skip the file rewrite entirely. The commit writes one small
**deletion-vector file** (``_dv/dv-*.parquet``: ``file``, ``pos``
rows — ``pos`` is the row's 0-based position within its data file,
the same index Spark surfaces as ``_metadata.row_index``) and the
affected manifest entries gain a ``dv`` reference; data files are
untouched. Reads anti-join the referenced positions back out
(files without a ``dv`` take the plain scan path unchanged), UPDATE
appends the transformed rows alongside the DV, compaction
materializes (purges) DVs, and ``changes()`` diffs on the
(file, dv) pair so CDC stays O(touched files). The 100 TB shape:
deleting 0.01% of rows from a wide fact table costs one
positions-file write instead of rewriting every touched gigabyte —
write amplification drops from O(affected file bytes) to O(deleted
rows). Delta encodes the same structure as per-file roaring bitmaps;
a sorted positions column in parquet is the equivalent here and
keeps both engines able to read it. MOR trades a per-read anti-join
for that write saving, so COW mode remains the default and the
right call for bulk deletes.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import re
import time
import uuid
import weakref
from urllib.parse import urlsplit

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .format_rules import (
    _BLOOM_TYPES,
    _ISO_TS_RE,
    _STATS_TYPES,
    BLOOM_K,
    BLOOM_M_BITS,
    MANIFEST_SHARD_ROWS,
    _bloom_positions,
    _bloom_probe_value,
    _bucket_candidate_filter,
    _bucket_of_key,
    _build_bloom,
    _canon_ts,
    _canon_ts_literal,
    _carried,
    _child,
    _file_may_match,
    _spark_hash_literal,
    _stat_comparable,
    _stat_val,
)

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
DV_DIR = "_dv"
BUCKETVIEW_DIR = "_bucketview"
# internal staging-only column carrying the row's bucket id; becomes a
# Hive staging dir, never lands inside any data file
_BUCKET_COL = "__dws_bucket"


class CowConcurrentWrite(RuntimeError):
    """Another writer committed the same snapshot number first."""


class CowTableNotFound(RuntimeError):
    pass


class CowConstraintViolation(RuntimeError):
    """A CHECK constraint evaluated FALSE for rows in a write — the
    commit is refused and no snapshot is created. SQL-standard
    three-valued semantics: rows where the expression is NULL pass."""


# Per-session JVM handle cache (r13). Every _fs/_jpath/_read_file call
# used to pay 3-6 py4j round trips re-resolving the Path class, the
# Hadoop configuration, and the FileSystem — a fixed ~ms constant on
# EVERY metadata touch, which the r12 O(changed-files) commit design
# made the dominant commit cost. The Path constructor stays 1 round
# trip (per-path, unavoidable); the class handle, the conf, the
# IOUtils helper, and the per-(scheme, authority) FileSystem are all
# session-stable and cached here. WeakKey so a stopped session's
# handles are collectable; FileSystem objects are Hadoop-cached
# JVM-side already, so holding them leaks nothing.
_JVM_HANDLES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _handles(spark: SparkSession) -> dict:
    h = _JVM_HANDLES.get(spark)
    if h is None:
        h = {
            "Path": spark._jvm.org.apache.hadoop.fs.Path,
            "conf": spark._jsc.hadoopConfiguration(),
            "IOUtils": spark._jvm.org.apache.commons.io.IOUtils,
            "fs": {},
            "local": {},
        }
        _JVM_HANDLES[spark] = h
    return h


def _fs(spark: SparkSession, path: str):
    h = _handles(spark)
    jpath = h["Path"](path)
    sp = urlsplit(path)
    fs = h["fs"].get((sp.scheme, sp.netloc))
    if fs is None:
        fs = jpath.getFileSystem(h["conf"])
        h["fs"][(sp.scheme, sp.netloc)] = fs
    return fs, jpath


def _on_local_fs(spark: SparkSession, path: str) -> bool:
    """Whether Hadoop resolves ``path`` on the local filesystem. A path
    without a scheme resolves on ``fs.defaultFS``, which may be HDFS."""
    sp = urlsplit(path)
    local = _handles(spark)["local"]
    if (sp.scheme, sp.netloc) not in local:
        fs, _ = _fs(spark, path)
        local[(sp.scheme, sp.netloc)] = fs.getScheme() == "file"
    return local[(sp.scheme, sp.netloc)]


def _jpath(spark: SparkSession, path: str):
    return _handles(spark)["Path"](path)


def _write_file(spark: SparkSession, path: str, payload: bytes) -> None:
    fs, jp = _fs(spark, path)
    out = fs.create(jp, True)
    out.write(payload)
    out.close()


def _read_file(spark: SparkSession, path: str) -> bytes:
    fs, jp = _fs(spark, path)
    stream = fs.open(jp)
    data = _handles(spark)["IOUtils"].toByteArray(stream)
    stream.close()
    return bytes(data)


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``ddl`` column order) as a
    DataFrame over a LocalRelation. It is built from an Arrow table
    because a frame built from a Python list is a parallelized RDD,
    and collecting that costs a Spark job; collecting this one costs
    none. Names, types and nullability are those of ``ddl``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = to_arrow_schema(_parse_datatype_string(ddl))
    cols = list(zip(*rows)) or [()] * len(schema)
    return spark.createDataFrame(
        pa.table(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
    )


def _manifest_path(table_path: str, n: int) -> str:
    return f"{table_path}/{MANIFEST_DIR}/manifest-{n:08d}.json"


_SNAPSHOT_RE = re.compile(r"^manifest-(\d{8})\.json$")
# legacy (≤ r11) snapshot-owned shard names, still readable/vacuumable
_SHARD_RE = re.compile(r"^manifest-(\d{8})-files-\d{4}(?:-[0-9a-f]{8})?\.json$")
# r12 content-addressed shard names (shared across snapshots)
_SHARD_CONTENT_RE = re.compile(r"^manifest-files-[0-9a-f]{16}\.json$")

# Manifest shards (``MANIFEST_SHARD_ROWS`` entries each, see
# format_rules). r12 — INCREMENTAL commit metadata (the one 100×-scale
# gap left in the lake format): shards are CONTENT-ADDRESSED
# (``manifest-files-<sha256[:16]>.json``) and REUSED across commits.
# ``_commit`` regroups the new file list by the PARENT's shard
# membership (Iceberg's append-group model: each commit's new files
# become one group; later commits reference untouched groups by name
# and rewrite only the groups whose entries were removed or mutated),
# so an append/DML touching k files writes O(k / SHARD_ROWS) shards
# — not O(table files) — and a metadata-only commit (tag, properties,
# spec ALTER) writes ZERO shard files. Content addressing makes shard
# files immutable (safe to cache driver-side, and a lost commit race
# can never need to delete one — an orphan is harmless and vacuum's
# ref-count + age guard reclaims it); small trailing groups coalesce
# once a run reaches SHARD_ROWS // 2 entries, bounding shard count at
# ~2× the ideal without ever dirtying a full, untouched shard.

# Driver-side cache of shard BYTES, keyed by full path. Sound because
# shard files are write-once (content-addressed, or the legacy
# attempt-unique names): a path's bytes never change while referenced,
# and a vacuumed-then-recreated content name carries identical bytes
# by construction. Bytes — not parsed objects — so every caller parses
# its own copy and in-place entry mutation (MOR attaching a ``dv``)
# can never corrupt the cache or fool _commit's unchanged-group check.
# Bounded FIFO — at the 1M-file scale this holds one table's ~100
# shards, making repeated _load_manifest/_commit rounds O(changed
# shards) read I/O instead of O(table).
_SHARD_CACHE: "dict[str, bytes]" = {}
_SHARD_CACHE_MAX = 512


def _read_shard(spark: SparkSession, path: str) -> list:
    blob = _SHARD_CACHE.get(path)
    if blob is None:
        blob = _read_file(spark, path)
        while len(_SHARD_CACHE) >= _SHARD_CACHE_MAX:
            _SHARD_CACHE.pop(next(iter(_SHARD_CACHE)))
        _SHARD_CACHE[path] = blob
    return json.loads(blob.decode())


# Driver-side cache of manifest-PROPER bytes (r13), keyed by full
# path. A manifest path is write-once while the table lives (tmp +
# atomic rename, exists-checked), so path -> bytes is stable; the
# cache is seeded at _publish (the committer never re-reads its own
# commit) and consulted by every manifest-proper load — the txn-carry
# parent read, _load_manifest_meta, _load_manifest, snapshot_as_of —
# which were each a py4j exists + open/read/close round per call.
# Invalidation: create()/drop() purge the table's prefix (a dropped or
# rmtree'd-and-recreated path restarts snapshot numbering with new
# content), and vacuum evicts each manifest it deletes. Bytes, not
# dicts, so callers can mutate their parse freely.
_MANIFEST_CACHE: "dict[str, bytes]" = {}
_MANIFEST_CACHE_MAX = 1024


def _manifest_bytes(spark: SparkSession, path: str) -> bytes | None:
    """Cached manifest-proper bytes, or None when the file is absent
    (never committed / expired by vacuum)."""
    blob = _MANIFEST_CACHE.get(path)
    if blob is None:
        fs, jp = _fs(spark, path)
        if not fs.exists(jp):
            return None
        blob = _read_file(spark, path)
        _cache_manifest_bytes(path, blob)
    return blob


def _cache_manifest_bytes(path: str, blob: bytes) -> None:
    while len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
        _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
    _MANIFEST_CACHE[path] = blob


def _purge_table_caches(table_path: str) -> None:
    """Forget every cached manifest/shard under ``table_path`` — the
    path may be about to hold a DIFFERENT table (drop/recreate)."""
    prefix = f"{table_path}/{MANIFEST_DIR}/"
    for k in [k for k in _MANIFEST_CACHE if k.startswith(prefix)]:
        _MANIFEST_CACHE.pop(k, None)
    for k in [k for k in _SHARD_CACHE if k.startswith(prefix)]:
        _SHARD_CACHE.pop(k, None)


def _list_snapshots(spark: SparkSession, table_path: str) -> list[int]:
    local = _local_fs_path(table_path)
    names = None
    if local is not None and os.path.isabs(local) and _on_local_fs(spark, table_path):
        # no py4j: a Hadoop listing costs ~3 round trips per entry,
        # and every snapshot adds an entry. A missing directory asks
        # Hadoop, which settles a table that is not there.
        try:
            names = [e.name for e in os.scandir(f"{local}/{MANIFEST_DIR}")]
        except (FileNotFoundError, NotADirectoryError):
            pass
    if names is None:
        fs, _ = _fs(spark, table_path)
        mdir = _jpath(spark, f"{table_path}/{MANIFEST_DIR}")
        if not fs.exists(mdir):
            return []
        names = [st.getPath().getName() for st in fs.listStatus(mdir)]
    return sorted(
        int(mm.group(1)) for n in names if (mm := _SNAPSHOT_RE.match(n))
    )


def _load_manifest(spark: SparkSession, table_path: str, n: int) -> dict:
    blob = _manifest_bytes(spark, _manifest_path(table_path, n))
    if blob is None:
        raise ValueError(
            f"snapshot {n} is not available at {table_path} "
            "(expired by vacuum, or never committed)"
        )
    m = json.loads(blob.decode())
    if "file_shards" in m:
        files: list[dict] = []
        for name in m["file_shards"]:
            files += _read_shard(spark, f"{table_path}/{MANIFEST_DIR}/{name}")
        m["files"] = files
    return m


def _shard_groups(
    spark: SparkSession, table_path: str, parent: int | None, files: list[dict]
) -> list[tuple[list[dict], str | None]]:
    """Regroup ``files`` by the PARENT snapshot's shard membership:
    entries keep their parent group; entries new to this commit form
    trailing SHARD_ROWS-sized groups of their own (Iceberg's
    append-group model). Returns ``(entries, reuse_name)`` per final
    group — ``reuse_name`` is the parent shard to reference verbatim
    (zero write) when the group survived byte-identical. Small
    consecutive groups (< SHARD_ROWS // 2) coalesce once their run
    reaches half a shard, bounding shard count at ~2× the ideal
    without ever dirtying a full, untouched shard — so a
    metadata-only commit reuses every name and writes nothing."""
    groups: list[tuple[list[dict], str | None]] = []  # (entries, parent shard)
    entry_group: dict[str, int] = {}
    parent_names: list[str | None] = []
    parent_entries: list[list[dict]] = []
    if parent is not None:
        try:
            blob = _manifest_bytes(spark, _manifest_path(table_path, parent))
            pm = json.loads(blob.decode()) if blob is not None else {}
        except Exception:
            pm = {}
        if pm.get("file_shards"):
            for sname in pm["file_shards"]:
                ents = _read_shard(spark, f"{table_path}/{MANIFEST_DIR}/{sname}")
                gi = len(parent_names)
                parent_names.append(sname)
                parent_entries.append(ents)
                for e in ents:
                    entry_group.setdefault(e["name"], gi)
        elif pm.get("files"):
            # inline parent crossing the shard threshold: its entries
            # form group 0, but there is no disk shard to reuse
            parent_names.append(None)
            parent_entries.append(pm["files"])
            for e in pm["files"]:
                entry_group.setdefault(e["name"], 0)
    buckets: list[list[dict]] = [[] for _ in parent_names]
    fresh: list[dict] = []
    for e in files:
        gi = entry_group.get(e["name"])
        if gi is None:
            fresh.append(e)
        else:
            buckets[gi].append(e)
    raw: list[tuple[list[dict], str | None]] = []
    for gi, ents in enumerate(buckets):
        if not ents:
            continue
        pname = parent_names[gi]
        if pname is not None and ents == parent_entries[gi]:
            raw.append((ents, pname))  # byte-identical: reference, don't write
        else:
            raw.append((ents, None))
    for k in range(0, len(fresh), MANIFEST_SHARD_ROWS):
        raw.append((fresh[k : k + MANIFEST_SHARD_ROWS], None))
    # coalesce runs of small groups (never touching a reusable group
    # unless the run actually merges >1 group — a lone small group
    # that survived unchanged keeps its zero-write reuse)
    small = max(1, MANIFEST_SHARD_ROWS // 2)
    out: list[tuple[list[dict], str | None]] = []
    run: list[dict] = []
    run_groups: list[tuple[list[dict], str | None]] = []

    def _flush():
        if not run_groups:
            return
        if len(run_groups) == 1:
            out.append(run_groups[0])
        else:
            out.append((list(run), None))
        run.clear()
        run_groups.clear()

    for ents, reuse in raw:
        if len(ents) < small:
            run.extend(ents)
            run_groups.append((ents, reuse))
            if len(run) >= small:
                _flush()
        else:
            _flush()
            out.append((ents, reuse))
    _flush()
    return out


def _commit(spark: SparkSession, table_path: str, manifest: dict) -> int:
    """Optimistic commit of snapshot ``manifest['snapshot_id']``.
    Large file lists are sharded out first (see MANIFEST_SHARD_ROWS)
    via content-addressed shard REUSE — only groups whose entries
    changed are written, so commit metadata I/O is O(changed files),
    not O(table files), and metadata-only commits write zero shards.
    The atomic rename of the manifest proper remains the single commit
    point; a lost race orphans at most its newly-written content
    shards, which are harmless (immutable, unreferenced) and reclaimed
    by vacuum's ref-count + age guard — never deleted here, because a
    content name the loser wrote may simultaneously be referenced by
    the WINNER (two committers deriving an identical surviving group
    produce the same name), and deleting it would corrupt the winner's
    published snapshot."""
    n = manifest["snapshot_id"]
    fs, _ = _fs(spark, table_path)
    final = _jpath(spark, _manifest_path(table_path, n))
    if fs.exists(final):
        raise CowConcurrentWrite(f"snapshot {n} already committed at {table_path}")
    # idempotent-writer txn map (Delta's SetTransaction): every commit
    # carries the parent's {app_id: last_version} map forward, so the
    # replay evidence appends record is durable through ANY later verb
    # (delete/update/compact/...) and through vacuum (the head always
    # holds the merged map). append() adds its own entry before
    # calling; other verbs inherit here.
    if "txns" not in manifest and manifest.get("parent"):
        try:
            blob = _manifest_bytes(
                spark, _manifest_path(table_path, manifest["parent"])
            )
            parent = json.loads(blob.decode()) if blob is not None else {}
            if parent.get("txns"):
                manifest["txns"] = parent["txns"]
        except Exception:
            pass  # parent expired mid-read: txn map starts fresh
    files = manifest.get("files") or []
    # O(1) arity/cardinality for meta-only readers (r12 n_files; r13
    # n_rows/n_rows_live) — what lets history()/DESCRIBE DETAIL on a
    # 50k-commit streaming table read manifest PROPERS only, never
    # expanding a single file shard
    manifest["n_files"] = len(files)
    manifest["n_rows"] = sum(f["rows"] for f in files)
    manifest["n_rows_live"] = sum(
        f["rows"] - ((f.get("dv") or {}).get("count") or 0) for f in files
    )
    if len(files) > MANIFEST_SHARD_ROWS:
        manifest = {k: v for k, v in manifest.items() if k != "files"}
        names = []
        for ents, reuse in _shard_groups(
            spark, table_path, manifest.get("parent"), files
        ):
            if reuse is not None:
                names.append(reuse)  # unchanged group: zero I/O
                continue
            names.append(
                _write_content_shard(spark, fs, table_path, json.dumps(ents).encode())
            )
        manifest["file_shards"] = names
    return _publish(spark, fs, table_path, manifest, final)


def _write_content_shard(spark: SparkSession, fs, table_path: str, blob: bytes) -> str:
    """Publish one content-addressed shard blob, skipping the write
    when the name already exists (identical content by construction).
    tmp + rename so a concurrent committer deriving the SAME content
    never interleaves writes on the final path; if the rename loses,
    the file exists with these exact bytes."""
    name = f"manifest-files-{hashlib.sha256(blob).hexdigest()[:16]}.json"
    spath = f"{table_path}/{MANIFEST_DIR}/{name}"
    sjp = _jpath(spark, spath)
    if not fs.exists(sjp):
        stmp = _jpath(
            spark,
            f"{table_path}/{MANIFEST_DIR}/.tmp-shard-{uuid.uuid4().hex}.json",
        )
        _write_file(spark, stmp.toString(), blob)
        if not fs.rename(stmp, sjp):
            fs.delete(stmp, False)
            if not fs.exists(sjp):
                raise IOError(f"cannot publish manifest shard {spath}")
        while len(_SHARD_CACHE) >= _SHARD_CACHE_MAX:
            _SHARD_CACHE.pop(next(iter(_SHARD_CACHE)))
        _SHARD_CACHE[spath] = blob
    return name


def _publish(spark: SparkSession, fs, table_path: str, manifest: dict, final) -> int:
    """The single commit point: stamp the time-travel timestamp and
    atomically rename the manifest proper into place. Content shards
    already written are NOT deleted on a lost race: the winner may
    reference the same content name (identical surviving group ⇒
    identical hash), so deletion here could corrupt a published
    snapshot. Orphans are immutable and unreferenced — vacuum's
    ref-count + age guard reclaims them."""
    n = manifest["snapshot_id"]
    # commit timestamp (UTC ISO, microseconds): the TIMESTAMP AS OF
    # time-travel anchor. Stamped at publish time, so it is
    # monotone in snapshot id on a single writer; concurrent losers
    # never publish their stamp.
    manifest.setdefault(
        "committed_at",
        datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="microseconds"),
    )
    tmp = _jpath(spark, f"{table_path}/{MANIFEST_DIR}/.tmp-{uuid.uuid4().hex}.json")
    blob = json.dumps(manifest).encode()
    _write_file(spark, tmp.toString(), blob)
    if fs.exists(final) or not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise CowConcurrentWrite(f"snapshot {n} commit lost the race at {table_path}")
    # seed the manifest-proper cache: the committer (and every verb it
    # runs next) never re-reads its own just-published bytes
    _cache_manifest_bytes(_manifest_path(table_path, n), blob)
    return n


def _load_manifest_meta(spark: SparkSession, table_path: str, n: int) -> dict:
    """The manifest PROPER, never expanding ``file_shards`` — the
    O(1)-metadata load for commits that don't need the file list
    (append: r12). Small tables still carry ``files`` inline."""
    blob = _manifest_bytes(spark, _manifest_path(table_path, n))
    if blob is None:
        raise ValueError(
            f"snapshot {n} is not available at {table_path} "
            "(expired by vacuum, or never committed)"
        )
    return json.loads(blob.decode())


def _n_files(spark: SparkSession, table_path: str, meta: dict) -> int:
    """File-entry count of a manifest-proper dict without expansion
    when possible (``n_files`` is stamped by every r12+ commit; the
    legacy fallback sums cached shard reads once)."""
    if meta.get("n_files") is not None:
        return int(meta["n_files"])
    if "file_shards" in meta:
        return sum(
            len(_read_shard(spark, f"{table_path}/{MANIFEST_DIR}/{s}"))
            for s in meta["file_shards"]
        )
    return len(meta.get("files") or [])


def _commit_carry(
    spark: SparkSession, table_path: str, pm: dict, manifest: dict,
    entries: list[dict] | tuple = (),
) -> int:
    """Commit ``parent ∪ entries`` without expanding the parent's file
    list — the fast path for APPENDS (r12) and, with no ``entries``,
    METADATA-ONLY commits (tag / write-mode / DEFAULT / constraint,
    r13). ``pm`` is the parent manifest PROPER (``_load_manifest_meta``
    — file_shards unexpanded; a FULL-loaded parent also works, its
    shards are referenced by name). The parent's shards are referenced
    BY NAME, never loaded or rewritten; only the trailing small shard,
    if any, is read (cached) and merged with the new entries so
    streaming sinks can't grow the shard count unboundedly (at most
    one sub-half shard trails, same bound as ``_shard_groups``'s
    coalescing). This is what makes a 1-row INSERT into a 1M-file
    table a ~KB metadata write AND read, and a tag commit O(1) at any
    size: the general ``_commit`` path is O(changed) on writes but
    still parses the full parent list to regroup; these commits
    provably change no existing entry, so they skip the regroup."""
    if "file_shards" not in pm:
        # inline parent: small table — the general path's cost IS
        # O(new + inline) and it handles the threshold crossing
        manifest["files"] = list(pm.get("files") or []) + list(entries)
        return _commit(spark, table_path, manifest)
    n = manifest["snapshot_id"]
    fs, _ = _fs(spark, table_path)
    final = _jpath(spark, _manifest_path(table_path, n))
    if fs.exists(final):
        raise CowConcurrentWrite(f"snapshot {n} already committed at {table_path}")
    if "txns" not in manifest and pm.get("txns"):
        manifest["txns"] = pm["txns"]
    names = list(pm["file_shards"])
    tail: list[dict] = list(entries)
    if names and tail:
        last = _read_shard(spark, f"{table_path}/{MANIFEST_DIR}/{names[-1]}")
        if (
            len(last) < MANIFEST_SHARD_ROWS // 2
            and len(last) + len(tail) <= MANIFEST_SHARD_ROWS
        ):
            tail = last + tail
            names.pop()
    for k in range(0, len(tail), MANIFEST_SHARD_ROWS):
        names.append(
            _write_content_shard(
                spark, fs, table_path,
                json.dumps(tail[k : k + MANIFEST_SHARD_ROWS]).encode(),
            )
        )
    manifest.pop("files", None)
    manifest["file_shards"] = names
    manifest["n_files"] = _n_files(spark, table_path, pm) + len(entries)
    # appended entries carry no DVs, so both counts advance by the
    # same delta; a legacy parent without stamps stays unstamped
    # (history falls back to expansion for those snapshots only)
    if pm.get("n_rows") is not None:
        new_rows = sum(e["rows"] for e in entries)
        manifest["n_rows"] = int(pm["n_rows"]) + new_rows
        manifest["n_rows_live"] = (
            int(pm.get("n_rows_live", pm["n_rows"])) + new_rows
        )
    return _publish(spark, fs, table_path, manifest, final)


# Publish attempts per write: the first commit plus up to five rebases
# onto a newer head before sustained contention refuses the write.
COMMIT_ATTEMPTS = 6


class _Commit:
    """One write's way through ``_optimistic_commit``: the files it
    staged (manifest entries under ``data/``, at most one deletion
    vector under ``_dv/``), the head its manifest is built on, and the
    manifest it published (None when it published nothing)."""

    def __init__(self, base: dict):
        self.entries: list[dict] = []
        self.dv: str | None = None
        self.head = base
        self.manifest: dict | None = None

    def discard(self, spark: SparkSession, table_path: str) -> None:
        fs, _ = _fs(spark, table_path)
        for e in self.entries:
            fs.delete(_jpath(spark, f"{table_path}/{DATA_DIR}/{e['name']}"), False)
        if self.dv:
            fs.delete(_jpath(spark, f"{table_path}/{DV_DIR}/{self.dv}"), False)


def _optimistic_commit(
    spark: SparkSession,
    table_path: str,
    base: dict,
    stage,
    child,
    rebase=None,
    append: bool = False,
    validated: dict | None = None,
) -> _Commit:
    """The one optimistic-commit loop every staging write publishes
    through (Iceberg's optimistic-concurrency step). ``stage(c)``
    writes the commit's files into ``c``; ``child(c)`` builds the
    manifest to publish over ``c.head``, or returns None when there is
    nothing to publish (an idempotent replay, a rival that already
    loaded the same source files). ``append`` publishes through the
    new-files-only fast path (``_commit_carry``).

    A lost race asks ``rebase(head)`` for the newer head to rebuild on,
    or None to refuse (without ``rebase`` every race refuses). The
    loop itself refuses a head whose identity high-water marks moved
    (the staged ids could collide), re-validates the staged files
    (from their stats when these prove it, else by a read) when the
    head's CHECK set differs from ``validated`` (default: the base's,
    which staging checked), and gives up after
    ``COMMIT_ATTEMPTS`` publishes.

    Every exit that did not publish deletes what was staged: nothing
    can reference those files before the manifest rename, and a
    ``CowConcurrentWrite`` from ``_commit``/``_publish`` means the
    rename did not happen. Any other error from the publish leaves the
    files for vacuum, since the rename may have landed. Content shards
    are never deleted (see ``_commit``)."""
    c = _Commit(base)
    if validated is None:
        validated = base.get("check_constraints") or {}
    publishing = False
    try:
        stage(c)
        for _ in range(COMMIT_ATTEMPTS):
            manifest = child(c)
            if manifest is None:
                c.discard(spark, table_path)
                return c
            checks = c.head.get("check_constraints") or {}
            if checks and checks != validated and c.entries:
                if not _checks_hold(
                    checks, c.entries, _types(_snapshot_schema(c.head)),
                    _phys_map(c.head),
                ):
                    names = [e["name"] for e in c.entries]
                    _validate_constraints(
                        _read_files(spark, table_path, c.head, names), checks
                    )
                validated = checks
            publishing = True
            try:
                if append:
                    _commit_carry(spark, table_path, c.head, manifest, c.entries)
                else:
                    _commit(spark, table_path, manifest)
                c.manifest = manifest
                return c
            except CowConcurrentWrite:
                publishing = False
                head = rebase(c.head) if rebase is not None else None
                if head is None:
                    raise
                if _identity_moved(c.head, head):
                    raise CowConcurrentWrite(
                        f"concurrent write advanced an identity high-water "
                        f"mark at {table_path}; re-run the statement (its "
                        "staged values could collide)"
                    ) from None
                c.head = head
        raise CowConcurrentWrite(
            f"commit retries exhausted under sustained contention at {table_path}"
        )
    except BaseException:
        if not publishing:
            c.discard(spark, table_path)
        raise


def _validate_constraints(df: DataFrame, constraints: dict | None) -> None:
    """Count CHECK violations in ``df`` (ONE aggregate job for all
    constraints) and refuse the write if any expression is FALSE for
    any row. NULL results pass (SQL three-valued CHECK semantics).
    Runs only over the rows of the write at hand, never the table."""
    if constraints:
        _refuse_violations(
            _sum_check_rows(df.agg(*_check_aggs(constraints)).collect(), constraints)
        )


def _refuse_violations(viol: dict[str, int] | None) -> None:
    """Refuse the write when any CHECK constraint counted a violation."""
    bad = {name: n for name, n in sorted((viol or {}).items()) if n}
    if bad:
        raise CowConstraintViolation(
            f"CHECK constraint(s) violated by this write (name: rows): {bad}"
        )


def _apply_generated(df: DataFrame, generated: dict[str, str] | None) -> DataFrame:
    """Overwrite-or-add every generated column as its expression over
    the incoming rows. Recompute-ALWAYS semantics (uniform across
    INSERT/UPDATE/MERGE/rewrite): a generated column IS its
    expression — explicitly supplied values are replaced, never
    validated-against (stricter than Delta, which lets a matching
    explicit value through; the uniform rule costs one projection and
    removes the stale-value class entirely). Declaration order is
    irrelevant because generated expressions may only reference
    NON-generated columns (enforced at ``create``)."""
    for col, expr in sorted((generated or {}).items()):
        df = df.withColumn(col, F.expr(expr))
    return df


def _stage_files(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    snap: int,
    layout: dict,
    checks: dict | None = None,
) -> list[dict]:
    """Write ``df`` as new immutable data files and return their
    manifest entries (name = path relative to ``data/``, row count,
    per-column min/max stats — the manifest-level pruning index).
    ``layout`` is the manifest the files are staged for: its
    partitioning, Bloom columns, physical column names, generated
    columns and bucket spec shape the write.
    With ``checks`` the staged bytes are ALSO validated against the
    CHECK constraints before returning: proven from the new files'
    stats when they imply every constraint (``_checks_hold``: no read
    at all), else fused into the bloom/stats value pass when one runs
    (one columnar job instead of two, r15; guide §1.2), else one
    dedicated read that counts the violations. On ANY failure
    once the write has started (a violation, a failing stats pass, a
    refused rename) every staged file is deleted before re-raising:
    no manifest references them yet.
    With a partitioned layout the staging write is ``partitionBy`` so
    each file belongs to exactly ONE partition, lands under its
    Hive-style ``col=value/`` directory, and the entry records the
    partition values. Files get snapshot-scoped unique names; the
    staging dir is removed. Stats collection is ONE distributed
    aggregate over the new files only (partition columns included —
    the read re-injects them from the paths, so their per-file
    min==max values prune like any other column)."""
    from urllib.parse import unquote

    from pyspark.sql.types import StructType

    partition_by = layout.get("partition_by") or []
    physical_names = _phys_map(layout)
    bucket_by = _bucket_spec(layout)
    # the one choke point every write path funnels through: new
    # bytes can never land with a generated column out of sync
    # with its expression (all callers pass manifest-schema-typed
    # frames, so the recomputed type equals the declared type)
    df = _apply_generated(df, layout.get("generated_columns"))
    if bucket_by:
        # bucketed layout: every row is assigned to bucket
        # pmod(hash(cols), n) — EXACTLY Spark's bucket-id expression
        # (HashPartitioning.partitionIdExpression = Pmod(Murmur3Hash,
        # n); F.hash IS Murmur3 seed 42 — pinned by
        # tests/test_cow_bucketed.py against files Spark's own
        # bucketBy writer produced). The staging write partitions by
        # the bucket id (Hive dir per bucket, stripped after rename),
        # so each data file belongs to exactly ONE bucket whatever
        # commit wrote it; the repartition bounds the write to ~one
        # file per bucket per commit. Computed on LOGICAL names
        # (before the physical rename) like generated expressions.
        bcols, nb, bsort = bucket_by
        df = df.withColumn(
            _BUCKET_COL, F.pmod(F.hash(*[F.col(c) for c in bcols]), F.lit(nb))
        ).repartition(nb, F.col(_BUCKET_COL))
        if bsort:
            # within-bucket SORT (the FULL partitionBy key list leads —
            # partition dirs, then bucket id — so the writer's required
            # ordering is already satisfied and it never re-sorts,
            # which would destroy the within-bucket row order): after
            # compaction (one file per bucket per partition) Spark's
            # bucketed scan reports outputOrdering and SMJs skip their
            # Sort entirely
            df = df.sortWithinPartitions(*partition_by, _BUCKET_COL, *bsort)
    # logical view of the frame (pre-rename, sans the staging-only
    # bucket column) — the schema CHECK constraints evaluate against
    logical = StructType([f for f in df.schema.fields if f.name != _BUCKET_COL])
    # write under PHYSICAL names so every file vintage agrees with
    # the manifest's column mapping (stats/blooms below are then
    # physical-keyed too, matching pre-rename entries); partition
    # columns can't be renamed, so partition_by needs no mapping
    if physical_names:
        df = df.select(
            *[F.col(c).alias(physical_names.get(c, c)) for c in df.columns]
        )
    bloom_columns = [
        physical_names.get(c, c) for c in layout.get("bloom_columns") or []
    ]
    fs, _ = _fs(spark, table_path)
    staging = f"{table_path}/_staging-{uuid.uuid4().hex}"
    writer = df.write.mode("overwrite")
    staging_parts = list(partition_by) + ([_BUCKET_COL] if bucket_by else [])
    if staging_parts:
        writer = writer.partitionBy(*staging_parts)
    for c in bloom_columns:
        if c in df.columns:
            # parquet-native row-group blooms INSIDE the data files:
            # the exact predicate scan (and any external parquet
            # reader) gets row-group skipping on the same key even
            # for files the manifest-level filter could not exclude
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    data_root = f"{table_path}/{DATA_DIR}"
    sroot = _jpath(spark, staging)
    entries: list[dict] = []
    moved: list[str] = []
    try:
        writer.parquet(staging)
        fs.mkdirs(_jpath(spark, data_root))
        sprefix = sroot.toUri().getPath().rstrip("/")
        bucket_of: dict[str, int] = {}
        it = fs.listFiles(sroot, True)
        while it.hasNext():
            p = it.next().getPath()
            if not p.getName().endswith(".parquet"):
                continue
            rel_src = p.toUri().getPath()[len(sprefix) :].lstrip("/")
            reldir = rel_src.rsplit("/", 1)[0] if "/" in rel_src else ""
            bucket_id: int | None = None
            if bucket_by:
                # strip the staging-only bucket dir and carry its id into
                # the FILE NAME as a Spark bucket suffix (_000NN) — the
                # exact convention BucketingUtils.getBucketId parses, so a
                # bucketed_view over these files (or symlinks to them)
                # reads as a native bucketed table
                kept = []
                for s in (s for s in reldir.split("/") if s):
                    if s.startswith(f"{_BUCKET_COL}="):
                        bucket_id = int(s.split("=", 1)[1])
                    else:
                        kept.append(s)
                reldir = "/".join(kept)
            suffix = f"_{bucket_id:05d}" if bucket_id is not None else ""
            new_name = f"snap{snap:08d}-{uuid.uuid4().hex[:12]}{suffix}.parquet"
            rel = f"{reldir}/{new_name}" if reldir else new_name
            if bucket_id is not None:
                bucket_of[rel] = bucket_id
            dest = _jpath(spark, f"{data_root}/{rel}")
            fs.mkdirs(dest.getParent())
            if not fs.rename(p, dest):
                raise IOError(f"failed to move staged file {rel_src}")
            moved.append(rel)
        if not moved:
            return entries
        dtypes = dict(df.dtypes)
        dtypes.pop(_BUCKET_COL, None)  # staging-only, not in any file
        bloom_cols = [
            c
            for c in bloom_columns
            if c in df.columns and dtypes.get(c) in _BLOOM_TYPES
        ]
        # CHECK fusion gate: constraint expressions name LOGICAL
        # columns; the staged files carry PHYSICAL names. With no
        # renames the names coincide and validation rides the value
        # pass below; with renames the (rare) mapped read at the end
        # of this function validates instead — correctness first.
        fuse_ok = not any(l != p for l, p in physical_names.items())
        # explicit schema so partition columns keep their declared
        # types under the constraint expressions (no dir inference)
        pschema = logical if checks and fuse_ok else None
        viol: dict[str, int] | None = None
        # stats come from the freshly written parquet FOOTERS — O(files)
        # driver-side metadata reads, no second pass over the data (the
        # Iceberg write path); parquet guarantees the footer min/max are
        # valid BOUNDS even when long binary values are truncated, which
        # is all pruning soundness needs. Falls back to one distributed
        # aggregate when the filesystem isn't footer-readable here.
        by_name = _footer_stats(table_path, data_root, moved, dtypes)
        footers = by_name is not None
        if not footers:
            by_name, viol = _spark_file_stats(
                spark, data_root, moved, partition_by, dtypes, bloom_cols,
                checks if fuse_ok else None, pschema,
            )
        for m in moved:
            entry: dict = {"name": m}
            part_vals: dict[str, str] = {}
            if partition_by:
                part_vals = {
                    c: unquote(v)
                    for seg in m.split("/")[:-1]
                    for c, _, v in (seg.partition("="),)
                }
                entry["partition"] = part_vals
            r = by_name.get(m.rsplit("/", 1)[-1])
            if r is None or not r.get("__rows"):
                # a zero-row staged file (empty input partition):
                # registering it would only add a planning entry and an
                # open() per scan — drop the file instead of the entry
                fs.delete(_jpath(spark, f"{data_root}/{m}"), False)
                continue
            n_rows = r["__rows"]
            stats: dict = dict(r.get("__stats") or {})
            nulls: dict = dict(r.get("__nulls") or {})
            # partition columns are not IN the data files; their per-file
            # min == max == the directory value — typed from the schema,
            # no read needed
            for c, raw in part_vals.items():
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    nulls[c] = n_rows
                    continue
                t = dtypes.get(c)
                if t in ("int", "bigint", "smallint", "tinyint"):
                    val: object = int(raw)
                elif t in ("float", "double"):
                    val = float(raw)
                elif t in ("timestamp", "timestamp_ntz"):
                    # directory value -> the canonical stat form; an
                    # unparsable spelling records no stat (conservative)
                    val = _canon_ts_literal(raw)
                    if val is None:
                        continue
                elif t in _STATS_TYPES:
                    val = raw
                else:
                    continue
                stats[c] = [val, val]
            entry.update({"rows": n_rows, "stats": stats, "nulls": nulls})
            if m in bucket_of:
                entry["bucket"] = bucket_of[m]
            if r.get("__blooms"):
                entry["blooms"] = r["__blooms"]
            entries.append(entry)
        # the CHECKs this write still owes a read: none when the stats
        # aggregate counted them or the new files' stats prove them
        owed = checks if checks and viol is None and entries else None
        if owed and _checks_hold(owed, entries, _types(logical), physical_names):
            owed = None
        fused = owed if fuse_ok else None
        paths = [f"{data_root}/{e['name']}" for e in entries]
        if footers and bloom_cols and entries:
            # blooms still need a value pass — but only over the bloom
            # columns (a narrow columnar read), not the whole schema;
            # CHECK validation rides the same job (r15, guide §1.2)
            blooms_by_name, viol = _spark_bloom_positions(
                spark, data_root, paths, partition_by, bloom_cols, fused, pschema,
            )
            for e in entries:
                bl = blooms_by_name.get(e["name"].rsplit("/", 1)[-1], {})
                if bl.get("__blooms"):
                    e["blooms"] = bl["__blooms"]
        elif fused:
            # no value pass to ride: ONE dedicated read of only the
            # new files (column pruning keeps it narrow)
            reader = spark.read.schema(pschema)
            if partition_by:
                reader = reader.option("basePath", data_root)
            _validate_constraints(reader.parquet(*paths), fused)
        _refuse_violations(viol)
        if owed and not fuse_ok:
            # renamed-column tables: constraint expressions need the
            # logical->physical mapped read, which _read_files provides —
            # one dedicated validation scan (the pre-r15 shape)
            _validate_constraints(
                _read_files(
                    spark, table_path,
                    {"schema": logical.json(), "physical_names": physical_names},
                    [e["name"] for e in entries],
                ),
                owed,
            )
    except BaseException:
        for mv in moved:
            fs.delete(_jpath(spark, f"{data_root}/{mv}"), False)
        raise
    finally:
        fs.delete(sroot, True)
    return entries


def _local_fs_path(path: str) -> str | None:
    """Filesystem path when ``path`` is local (no scheme or file:),
    else None — the gate on the footer-stats fast path."""
    if path.startswith("file://"):
        return path[7:]
    if path.startswith("file:"):
        return path[5:]
    if "://" in path:
        return None
    return path


def _footer_stats(
    table_path: str, data_root: str, moved: list[str], dtypes: dict[str, str]
) -> dict[str, dict] | None:
    """Per-file {rows, stats, nulls} from the parquet footers of the
    just-staged files. Returns None when the path isn't locally
    footer-readable (caller falls back to the distributed aggregate;
    on HDFS/S3 swap in a ``pyarrow.fs`` handle — same shape).

    Soundness: a column's [min, max] is recorded only when EVERY row
    group has exact-flagged min/max; null counts only when every row
    group has them (an absent column in ``nulls`` asserts ZERO nulls,
    so an unknown count must fall back to the aggregate, not be
    omitted). Parquet writers truncate long binary stats to valid
    WIDER bounds, which pruning tolerates by construction."""
    root = _local_fs_path(data_root)
    if root is None:
        return None
    try:
        import pyarrow.parquet as _pq
    except Exception:  # pragma: no cover — pyarrow is baked in
        return None
    stat_cols = {c for c, t in dtypes.items() if t in _STATS_TYPES}
    out: dict[str, dict] = {}
    for rel in moved:
        try:
            md = _pq.ParquetFile(f"{root}/{rel}").metadata
        except Exception:
            return None  # unreadable footer: use the aggregate for all
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        ncs: dict[str, int] = {}
        dead: set[str] = set()
        nc_dead: set[str] = set()
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                col = rg.column(i)
                if "." in col.path_in_schema:
                    # nested column: footer null counts are LEAF-level,
                    # not top-level-row-level — recording them would
                    # corrupt the "absent column == zero nulls" proof.
                    # The distributed aggregate counts correctly.
                    return None
                name = col.path_in_schema
                st = col.statistics
                if st is None or not st.has_null_count:
                    nc_dead.add(name)
                else:
                    ncs[name] = ncs.get(name, 0) + st.null_count
                if name not in stat_cols or name in dead:
                    continue
                if st is None or not st.has_min_max:
                    # e.g. an all-null chunk: no bounds for this file
                    dead.add(name)
                    continue
                lo, hi = _stat_val(st.min), _stat_val(st.max)
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
        if nc_dead:
            return None  # a writer without null counts: aggregate knows
        out[rel.rsplit("/", 1)[-1]] = {
            "__rows": md.num_rows,
            "__stats": {c: [mins[c], maxs[c]] for c in mins if c not in dead},
            "__nulls": {c: n for c, n in ncs.items() if n},
        }
    return out


def _bloom_aggs(bloom_cols: list[str]) -> list[Column]:
    """collect_set aggregates of the K seeded hash positions per bloom
    column — the per-file staging-time side of `_bloom_positions`."""
    aggs: list[Column] = []
    for c in bloom_cols:
        for i in range(BLOOM_K):
            aggs.append(
                F.collect_set(
                    F.when(
                        F.col(c).isNotNull(),
                        F.pmod(
                            F.xxhash64(F.lit(i).cast("long"), F.col(c).cast("string")),
                            F.lit(BLOOM_M_BITS),
                        ),
                    )
                ).alias(f"__bl_{c}_{i}")
            )
    return aggs


def _check_aggs(checks: dict) -> list[Column]:
    """Per-constraint violation-count aggregates — ``_validate_constraints``
    runs them alone, and they ride any per-file aggregate over the
    staged bytes so CHECK enforcement shares the bloom/stats value
    pass instead of paying its own scan (r15)."""
    return [
        F.sum(F.when(F.expr(f"NOT ({expr})"), 1).otherwise(0)).alias(f"__ck_{name}")
        for name, expr in sorted(checks.items())
    ]


def _sum_check_rows(rows, checks: dict) -> dict[str, int]:
    """Fold per-file violation counts into the total per constraint."""
    viol: dict[str, int] = {name: 0 for name in checks}
    for r in rows:
        for name in checks:
            n = r[f"__ck_{name}"]
            if n:
                viol[name] += int(n)
    return viol


def _spark_bloom_positions(
    spark: SparkSession,
    data_root: str,
    paths: list[str],
    partition_by: list[str] | None,
    bloom_cols: list[str],
    checks: dict | None = None,
    schema=None,
) -> tuple[dict[str, dict], dict[str, int] | None]:
    """One distributed aggregate over ONLY the bloom columns of the
    staged files -> {basename: {"__blooms": {...}}}. With ``checks``
    the SAME job also counts CHECK violations (guide §1.2: one
    columnar pass instead of a bloom pass plus a validation pass);
    column pruning keeps the scan at bloom ∪ constraint columns."""
    reader = spark.read
    if schema is not None and checks:
        # explicit schema only on the fused path: constraint
        # expressions must see partition columns at their DECLARED
        # type (directory-string inference could retype them)
        reader = reader.schema(schema)
    if partition_by:
        reader = reader.option("basePath", data_root)
    new_df = reader.parquet(*paths)
    aggs = _bloom_aggs(bloom_cols)
    if checks:
        aggs = aggs + _check_aggs(checks)
    rows = (
        new_df.groupBy(
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("__f")
        )
        .agg(*aggs)
        .collect()
    )
    out: dict[str, dict] = {}
    for r in rows:
        blooms = {}
        for c in bloom_cols:
            bl = _build_bloom([r[f"__bl_{c}_{i}"] for i in range(BLOOM_K)])
            if bl is not None:
                blooms[c] = bl
        out[r["__f"]] = {"__blooms": blooms} if blooms else {}
    return out, (_sum_check_rows(rows, checks) if checks else None)


def _spark_file_stats(
    spark: SparkSession,
    data_root: str,
    moved: list[str],
    partition_by: list[str] | None,
    dtypes: dict[str, str],
    bloom_cols: list[str],
    checks: dict | None = None,
    schema=None,
) -> tuple[dict[str, dict], dict[str, int] | None]:
    """The distributed fallback: ONE aggregate over the staged files
    computing rows + min/max + null counts (+ bloom positions, + CHECK
    violation counts) per file — used when footers can't be read
    driver-side."""
    reader = spark.read
    if schema is not None and checks:
        reader = reader.schema(schema)
    if partition_by:
        reader = reader.option("basePath", data_root)
    new_df = reader.parquet(*[f"{data_root}/{m}" for m in moved])
    data_cols = [c for c in new_df.columns if c not in (partition_by or [])]
    stat_cols = [c for c in data_cols if dtypes.get(c) in _STATS_TYPES]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    # null counts for EVERY column (any type): entries store only the
    # NONZERO ones, so "present nulls dict + absent column" is a proof
    # of zero nulls — what IS NULL pruning needs
    aggs += [F.sum(F.col(c).isNull().cast("long")).alias(f"__nc_{c}") for c in data_cols]
    aggs += _bloom_aggs(bloom_cols)
    if checks:
        aggs += _check_aggs(checks)
    rows = (
        new_df.groupBy(
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("__f")
        )
        .agg(*aggs)
        .collect()
    )
    out: dict[str, dict] = {}
    for r in rows:
        blooms = {}
        for c in bloom_cols:
            bl = _build_bloom([r[f"__bl_{c}_{i}"] for i in range(BLOOM_K)])
            if bl is not None:
                blooms[c] = bl
        out[r["__f"]] = {
            "__rows": r["__rows"],
            "__stats": {
                c: [_stat_val(r[f"__min_{c}"]), _stat_val(r[f"__max_{c}"])]
                for c in stat_cols
                if r[f"__min_{c}"] is not None
            },
            "__nulls": {c: r[f"__nc_{c}"] for c in data_cols if r[f"__nc_{c}"]},
            "__blooms": blooms,
        }
    return out, (_sum_check_rows(rows, checks) if checks else None)


# -- manifest-stat pruning --------------------------------------------------
# A tiny sound analyzer for the common DML predicate shape: a top-level
# AND of `col op literal` conjuncts (op in =, <, <=, >, >=, and the
# reversed literal-first forms via normalization). Any condition this
# can't recognize simply prunes nothing — pruning only ever produces a
# SUPERSET of the files the exact predicate scan would flag, so the
# result is always exact; stats just bound how much the scan reads.
# a literal: a quoted string or a plain number
_LIT = r"('(?:[^']*)'|-?\d+(?:\.\d+)?)"
_CONJUNCT_RE = re.compile(rf"^\s*(\w+)\s*(=|<=|>=|<|>)\s*{_LIT}\s*$")
# null-test conjuncts prune via per-file null COUNTS: `IS NULL` is
# refuted by a zero null count, `IS NOT NULL` by an all-null file
_NULL_TEST_RE = re.compile(r"^\s*(\w+)\s+IS\s+(NOT\s+)?NULL\s*$", re.IGNORECASE)
# any of these OUTSIDE quoted literals means the condition is not a
# pure top-level conjunction, so no AND-split part is individually
# required and stats pruning on it would be UNSOUND. (`IS NOT NULL`'s
# inner NOT is masked before this check — it is a leaf test, not a
# connective.)
_NON_CONJUNCTIVE_RE = re.compile(r"\b(?:OR|NOT)\b", re.IGNORECASE)
_IS_NOT_NULL_MASK_RE = re.compile(r"\bIS\s+NOT\s+NULL\b", re.IGNORECASE)


# IN-list head: the standard point-lookup batch (`k IN (1, 2, 3)`);
# the paren body is comma-split quote-aware and every item must be a
# plain literal or the conjunct contributes nothing
_IN_HEAD_RE = re.compile(r"^\s*(\w+)\s+IN\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)
_EQ_ONLY_RE = re.compile(rf"^\s*(\w+)\s*=\s*{_LIT}\s*$")
_LIT_RE = re.compile(rf"^\s*{_LIT}\s*$")
# `col BETWEEN lit AND lit` is `col >= lit AND col <= lit`; the AND
# splitter cuts it in two, so _parse_conjuncts glues the halves back
_BETWEEN_WORD_RE = re.compile(r"\bBETWEEN\b", re.IGNORECASE)
_BETWEEN_RE = re.compile(
    rf"^\s*(\w+)\s+BETWEEN\s+{_LIT}\s+AND\s+{_LIT}\s*$", re.IGNORECASE
)


def _mask_quotes_parens(text: str) -> str | None:
    """``text`` with quoted literals AND parenthesized groups blanked
    out; None for unbalanced quotes (not a shape we understand)."""
    out, in_quote, depth = [], False, 0
    for ch in text:
        if ch == "'":
            in_quote = not in_quote
            out.append(" ")
        elif in_quote:
            out.append(" ")
        elif ch == "(":
            depth += 1
            out.append(" ")
        elif ch == ")":
            depth = max(0, depth - 1)
            out.append(" ")
        else:
            out.append(ch if depth == 0 else " ")
    return None if in_quote else "".join(out)


def _split_toplevel_kw(text: str, keyword: str) -> list[str]:
    """Split on whole-word ``keyword`` (case-insensitive) outside
    quotes and parens."""
    up, kw = text.upper(), keyword.upper()
    parts, buf = [], []
    in_quote, depth, i, n = False, 0, 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            in_quote = not in_quote
        elif not in_quote:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and up.startswith(kw, i):
                before = text[i - 1] if i else " "
                j = i + len(kw)
                after = text[j] if j < n else " "
                if not (before.isalnum() or before == "_") and not (
                    after.isalnum() or after == "_"
                ):
                    parts.append("".join(buf))
                    buf = []
                    i = j
                    continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _split_commas(text: str) -> list[str]:
    """Comma split outside quotes/parens."""
    parts, buf, in_quote, depth = [], [], False, 0
    for ch in text:
        if ch == "'":
            in_quote = not in_quote
        elif not in_quote:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
        if ch == "," and not in_quote and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def _parse_literal(lit: str) -> object:
    return lit[1:-1] if lit.startswith("'") else (float(lit) if "." in lit else int(lit))


def _strip_one_paren(s: str) -> str:
    """Remove ONE balanced outer paren pair wrapping the whole string."""
    s = s.strip()
    if not (s.startswith("(") and s.endswith(")")):
        return s
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0 and i != len(s) - 1:
                return s
    return s[1:-1].strip()


def _parse_conjuncts(condition: str) -> list[tuple[str, str, object]]:
    """The pruning facts of ``condition``'s recognized top-level
    conjuncts; none when it is not a pure top-level conjunction."""
    return [f for part in _required_parts(condition) or [] for f in part]


def _required_parts(condition: str) -> list[list[tuple[str, str, object]]] | None:
    """The facts of each top-level conjunct of ``condition`` (an empty
    list for a part not understood), or None when the conjuncts are
    not each required.

    Soundness guard: a TOP-LEVEL OR / NOT (outside quotes AND outside
    parens — SQL precedence puts OR below AND) means the AND-split
    parts are not individually REQUIRED ("a = 1 AND b = 2 OR c = 3"
    parses as (a=1 AND b=2) OR c=3 — a file holding only c=3 rows
    refutes a=1 by stats yet must survive): parse nothing, prune
    nothing. OR *inside parens* is contained — each top-level AND
    part is still required, and a parenthesized OR-of-equality on one
    column is recognized as an IN-list below. Quoted literals never
    split (the splitter is quote-aware), so "s = 'a AND k = 3'" is
    one conjunct, not two; NOT BETWEEN falls to the NOT guard. A
    backslash is a Spark string escape: the literal's text is then not
    its value, and an escaped quote would mislead the quote-aware
    splitter, so such a condition is not analyzed at all."""
    masked = _mask_quotes_parens(condition)
    if masked is None or "\\" in condition:
        return None
    if _NON_CONJUNCTIVE_RE.search(_IS_NOT_NULL_MASK_RE.sub("ISNOTNULL", masked)):
        return None
    parts = _split_toplevel_kw(condition, "AND")
    out = []
    i = 0
    while i < len(parts):
        part = parts[i]
        if _BETWEEN_WORD_RE.search(_mask_quotes_parens(part) or "") and i + 1 < len(parts):
            # the next part is this BETWEEN's upper bound, never a
            # conjunct of its own (`k BETWEEN 1 AND j = 2` bounds k by
            # `j = 2`)
            i += 1
            part = f"{part} AND {parts[i]}"
        out.append(_parse_part(part))
        i += 1
    return out


def _parse_part(part: str) -> list[tuple[str, str, object]]:
    """One REQUIRED top-level conjunct -> its pruning facts (possibly
    none: an unrecognized part contributes no pruning but the other
    conjuncts remain individually required and sound to prune on)."""
    bm = _BETWEEN_RE.match(part)
    if bm:
        col, lo, hi = bm.groups()
        return [(col, ">=", _parse_literal(lo)), (col, "<=", _parse_literal(hi))]
    nm = _NULL_TEST_RE.match(part)
    if nm:
        return [(nm.group(1), "notnull" if nm.group(2) else "isnull", None)]
    m = _CONJUNCT_RE.match(part)
    if m:
        col, op, lit = m.groups()
        return [(col, op, _parse_literal(lit))]
    im = _IN_HEAD_RE.match(part)
    if im:
        items = [i.strip() for i in _split_commas(im.group(2))]
        if items and all(_LIT_RE.match(i) for i in items):  # plain literals only
            return [(im.group(1), "in", [_parse_literal(i) for i in items])]
        return []
    stripped = _strip_one_paren(part)
    if stripped != part.strip():
        ors = _split_toplevel_kw(stripped, "OR")
        if len(ors) == 1:
            return _parse_part(stripped)  # plain parenthesized conjunct
        eqs = [_EQ_ONLY_RE.match(p) for p in ors]
        cols = {e.group(1) for e in eqs if e}
        if all(eqs) and len(cols) == 1:
            # (k = 1 OR k = 2 OR ...) == k IN (1, 2, ...)
            return [(cols.pop(), "in", [_parse_literal(e.group(2)) for e in eqs])]
    return []


# -- CHECK constraints proven from stats ------------------------------------
# A write whose files' [min, max] and null counts already imply every
# CHECK needs no read to validate it (Dremel's answer-from-metadata
# habit). The prover accepts only a top-level AND of `col op literal`
# and `col IS NOT NULL` facts and says False to anything else, so the
# violation-counting scan stays the one source of refusal messages.
_PROVABLE_OPS = ("=", "<", "<=", ">", ">=")


def _types(schema) -> dict[str, str]:
    """Column name -> simple type name of a StructType."""
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def _checks_hold(
    checks: dict,
    entries: list[dict],
    types: dict[str, str],
    physical_names: dict[str, str] | None = None,
) -> bool:
    """True only when the stats of ``entries`` PROVE every CHECK in
    ``checks`` for every row they hold. ``types`` maps the constraints'
    logical column names to their types; entry stats are keyed by the
    ``physical_names`` they map to. NULL passes a CHECK (SQL
    three-valued logic); a missing stat or a constraint shape the
    prover does not understand returns False. Bounds may be wider
    than the values (truncated strings, stats of DV-masked rows), which
    keeps a proof sound."""
    facts = []
    for expr in checks.values():
        parts = _required_parts(expr)
        if not parts or not all(parts):
            return False
        facts += [f for part in parts for f in part]
    if any(col not in types for col, _, _ in facts):
        return False  # the scan raises the analysis error
    pmap = physical_names or {}
    return all(
        _fact_holds(e, pmap.get(col, col), op, val, types[col])
        for e in entries
        for col, op, val in facts
    )


def _fact_holds(entry: dict, col: str, op: str, val: object, col_type: str) -> bool:
    """Do the entry's stats prove ``col op val`` (or ``col IS NOT
    NULL``) true or NULL for each of its rows?"""
    nulls = entry.get("nulls")
    bounds = (entry.get("stats") or {}).get(col)
    if nulls is None:
        return False  # an entry from before null counts were kept
    if op == "notnull":
        # a bound shows the column is in the file, so its absence from
        # ``nulls`` means zero nulls rather than a missing column
        return bounds is not None and not nulls.get(col)
    if op not in _PROVABLE_OPS:
        return False
    if nulls.get(col, 0) == entry.get("rows"):
        return True  # every value NULL
    if bounds is None:
        return False
    if col_type in ("float", "double") and op not in (">", ">="):
        # NaN sorts above every value: it satisfies > and >= only, and
        # footer bounds need not count it
        return False
    if col_type not in _STATS_TYPES:
        return False
    lo, hi = bounds
    val = _stat_comparable(lo, val, col_type)
    if val is None:
        return False
    if op == "=":
        return lo == val == hi
    if op == "<":
        return hi < val
    if op == "<=":
        return hi <= val
    if op == ">":
        return lo > val
    return lo >= val


def stats_candidate_files(m: dict, condition: str) -> list[dict]:
    """Manifest entries that MAY contain rows matching ``condition``
    per their min/max + null-count stats — the file set the exact
    predicate scan then reads (everything else is skipped without
    touching data). Conjuncts naming columns NOT in the snapshot
    schema are ignored rather than refuted, so a typo'd predicate
    still reaches the exact scan and raises its analysis error
    instead of silently no-opping."""
    conjuncts = _parse_conjuncts(condition)
    types = None
    if m.get("schema"):
        types = _types(_snapshot_schema(m))
        conjuncts = [c for c in conjuncts if c[0] in types]
    pmap = m.get("physical_names") or {}
    if pmap:
        # entry stats are keyed by PHYSICAL column names (rename never
        # rewrites files or stats); probe under the physical name
        conjuncts = [(pmap.get(c, c), op, v) for c, op, v in conjuncts]
        if types is not None:
            types = {pmap.get(k, k): v for k, v in types.items()}
    files = [f for f in m["files"] if _file_may_match(f, conjuncts, types)]
    return _bucket_candidate_filter(m, files, conjuncts, types)


def _snapshot_schema(m: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(m["schema"]))


def _phys_map(m: dict) -> dict[str, str]:
    """logical -> PHYSICAL column-name map (``alter_rename_column``
    keeps the parquet bytes and stats under the original physical
    name forever; absent entries are identity)."""
    return m.get("physical_names") or {}


def _part_keys(name: str) -> tuple[str, ...]:
    """Ordered Hive partition keys encoded in a data file's RELATIVE
    path (``a=1/b=2/part-...parquet`` -> ``("a", "b")``). The file's
    path IS its partition-spec vintage (r11 partition evolution): a
    file written before ``ALTER TABLE ... ADD PARTITION FIELD b``
    has no ``b=`` segment — that column lives in its data bytes —
    so the spec a file was written under is derivable from the name
    alone, with no per-entry bookkeeping to migrate."""
    return tuple(
        seg.partition("=")[0] for seg in name.split("/")[:-1] if "=" in seg
    )


def _partition_specs(m: dict) -> list[dict]:
    """The manifest's partition-spec history (r11, the Iceberg
    per-table spec list): ``[{"spec_id": n, "fields": [cols]}, ...]``.
    Tables that never evolved carry no ``partition_specs`` key — their
    create-time layout is synthesized as spec 0, so pre-evolution
    manifests never rewrite."""
    specs = m.get("partition_specs")
    if specs:
        return specs
    return [{"spec_id": 0, "fields": list(m.get("partition_by") or [])}]


def _all_spec_fields(m: dict) -> set[str]:
    """Every column that is (or ever was) a partition field under any
    spec vintage — the conservative refusal set for drop/rename/widen:
    an OLD file's bytes for such a column may live in its directory
    name, which column-mapping and schema surgery cannot reach."""
    out = set(m.get("partition_by") or [])
    for s in _partition_specs(m):
        out.update(s["fields"])
    return out


def _read_files(
    spark: SparkSession, table_path: str, m: dict, names, lineage: bool = False
) -> DataFrame:
    """Read specific data files PROJECTED THROUGH THE MANIFEST SCHEMA.
    Every internal read must go through here: a bare
    ``spark.read.parquet`` samples ONE footer for the schema, so after
    ``alter_add_column`` it can silently drop the evolved column from
    whatever it rewrites (and predicates/assignments naming the new
    column fail on pre-evolution files). For a partitioned table the
    ``basePath`` option re-injects the partition columns from the
    Hive-style directory names (the writer strips them from the
    files), typed by the manifest schema. Renamed columns read under
    their PHYSICAL name and alias back to the logical one (column
    mapping: the files never rewrite for a rename)."""
    from pyspark.sql.types import StructField, StructType

    schema = _snapshot_schema(m)
    pmap = _phys_map(m)
    pschema = (
        StructType(
            [
                StructField(pmap.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        if pmap
        else schema
    )
    # r11 partition evolution: group the files by SPEC VINTAGE (the
    # partition keys their paths encode) — Spark's partition discovery
    # requires a uniform directory shape per scan, so each vintage
    # gets its own scan and the groups union AFTER normalization. A
    # never-evolved table has exactly one group (the common case:
    # one scan, plan-identical to before). Columns that are partition
    # fields under the CURRENT spec but not a file's own spec read
    # from that file's DATA bytes (the writer only strips the columns
    # it partitioned by), so every vintage surfaces the full schema.
    groups: dict[tuple[str, ...], list[str]] = {}
    for n in names:
        groups.setdefault(_part_keys(n), []).append(n)
    if not groups:
        df = spark.createDataFrame([], schema)
        if lineage:
            df = df.withColumn("_cow_file", F.lit(None).cast("string")).withColumn(
                "_cow_pos", F.lit(None).cast("long")
            )
        return df
    # ``lineage`` surfaces (_cow_file, _cow_pos) from the hidden
    # ``_metadata`` columns — those resolve only against the SCAN,
    # not past a Union, so they must attach per vintage group here
    # a column that was never renamed is selected by name: a Column
    # object per name costs a few py4j round trips each
    sel = [F.col(pmap[n]).alias(n) if n in pmap else n for n in schema.fieldNames()]
    if lineage:
        sel += [
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                "_cow_file"
            ),
            F.col("_metadata.row_index").alias("_cow_pos"),
        ]
    parts_out: list[DataFrame] = []
    for keys in sorted(groups):
        grp = groups[keys]
        reader = spark.read.schema(pschema)
        if not keys:
            df = reader.parquet(*[f"{table_path}/{DATA_DIR}/{n}" for n in grp])
        else:
            df = reader.option("basePath", f"{table_path}/{DATA_DIR}").parquet(
                *[f"{table_path}/{DATA_DIR}/{n}" for n in grp]
            )
        # restore manifest column order (the partitioned scan surfaces
        # partition columns LAST) and map physical -> logical names; a
        # rename-free table compiles to a plain column-order projection
        parts_out.append(df.select(*sel))
    out = parts_out[0]
    for extra in parts_out[1:]:
        out = out.unionAll(extra)
    return out


def _bucket_spec(m: dict) -> tuple[list[str], int, list[str]] | None:
    """(bucket columns, bucket count, within-bucket sort columns) from
    the manifest, or None."""
    b = m.get("bucket_by")
    if not b:
        return None
    return list(b["columns"]), int(b["buckets"]), list(b.get("sort_by") or [])


def _entries_for(m: dict, names) -> list[dict]:
    """Manifest entries for the given file names, manifest order."""
    want = set(names)
    return [f for f in m["files"] if f["name"] in want]


def _dv_positions_df(
    spark: SparkSession, table_path: str, entries: list[dict]
) -> DataFrame | None:
    """(file basename, pos) pairs deleted from ``entries``' files,
    read from exactly the DV files those entries reference. Each DV
    read is filtered to the basenames that still reference it — a
    later MOR commit supersedes a file's positions in a NEWER DV
    file, and time travel must apply each snapshot's own reference,
    not the latest one. Returns None when no entry carries a DV."""
    by_dv: dict[str, set[str]] = {}
    for e in entries:
        dv = e.get("dv")
        if dv:
            by_dv.setdefault(dv["name"], set()).add(e["name"].rsplit("/", 1)[-1])
    if not by_dv:
        return None
    out: DataFrame | None = None
    for dv_name in sorted(by_dv):
        d = spark.read.parquet(f"{table_path}/{DV_DIR}/{dv_name}").filter(
            F.col("file").isin(sorted(by_dv[dv_name]))
        )
        out = d if out is None else out.unionAll(d)
    return out


def _read_entries(
    spark: SparkSession,
    table_path: str,
    m: dict,
    entries: list[dict],
    lineage: bool = False,
) -> DataFrame:
    """The LIVE rows of ``entries``' files under manifest ``m``'s
    schema: files without a deletion vector take the plain scan path
    (zero overhead — the common case); files with one are scanned
    with their hidden position (``_metadata.row_index``) and the
    referenced positions are removed by a LEFT ANTI join. The DV side
    is tiny relative to the data (O(deleted rows of these files)), so
    AQE plans it as a broadcast anti-join — no shuffle of the data.

    ``lineage=True`` additionally surfaces ``_cow_file`` (data-file
    basename) and ``_cow_pos`` (0-based row position within the file)
    — the coordinates MOR DML records in new deletion vectors."""
    schema = _snapshot_schema(m)
    cols = schema.fieldNames()
    out_cols = cols + (["_cow_file", "_cow_pos"] if lineage else [])

    plain = [e["name"] for e in entries if not e.get("dv")]
    dvd = [e for e in entries if e.get("dv")]
    parts: list[DataFrame] = []
    if plain:
        parts.append(_read_files(spark, table_path, m, plain, lineage=lineage))
    if dvd:
        scan = _read_files(
            spark, table_path, m, [e["name"] for e in dvd], lineage=True
        )
        dvdf = _dv_positions_df(spark, table_path, dvd)
        live = scan.join(
            dvdf,
            (scan["_cow_file"] == dvdf["file"]) & (scan["_cow_pos"] == dvdf["pos"]),
            "left_anti",
        )
        parts.append(live.select(*out_cols))
    if not parts:
        df = spark.createDataFrame([], schema)
        if lineage:
            df = df.withColumn("_cow_file", F.lit(None).cast("string")).withColumn(
                "_cow_pos", F.lit(None).cast("long")
            )
        return df
    return parts[0] if len(parts) == 1 else parts[0].unionAll(parts[1])


_COW_TABLE_MEMO: set[str] = set()


def is_cow_table(spark: SparkSession, table_path: str) -> bool:
    """True when ``table_path`` holds a committed snapshot log. The
    public probe the SQL gate uses per DML statement. Positive
    results are memoized driver-side — a path that is a COW table
    stays one (commits only ever ADD manifests) — while negatives
    are re-checked, because the table may be created after the first
    probe. The memo saves one filesystem listing per statement on
    hot write paths (streaming upsert does one DML per micro-batch)."""
    if table_path in _COW_TABLE_MEMO:
        return True
    if _list_snapshots(spark, table_path):
        _COW_TABLE_MEMO.add(table_path)
        return True
    return False


def current_snapshot(spark: SparkSession, table_path: str) -> int:
    snaps = _list_snapshots(spark, table_path)
    if not snaps:
        raise CowTableNotFound(table_path)
    return snaps[-1]


def last_txn_version(
    spark: SparkSession, table_path: str, txn_app_id: str
) -> int | None:
    """Highest ``txn_version`` the table has committed for
    ``txn_app_id`` (Delta's ``txnVersion(appId)``), or None if the app
    never wrote. Lets an at-least-once writer decide whether a batch
    already landed before recomputing it — metadata-only read."""
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    v = (m.get("txns") or {}).get(txn_app_id)
    return None if v is None else int(v)


def snapshot_as_of(spark: SparkSession, table_path: str, ts: str) -> int:
    """Latest snapshot committed at or before ``ts`` (Delta's
    TIMESTAMP AS OF semantics). ``ts`` is an ISO-8601 instant; a bare
    date/time is treated as UTC. Manifests record ``committed_at`` at
    publish; legacy manifests without the stamp fall back to the
    manifest file's modification time. Raises if ``ts`` precedes the
    first commit."""
    want = datetime.datetime.fromisoformat(ts)
    if want.tzinfo is None:
        want = want.replace(tzinfo=datetime.timezone.utc)
    fs, _ = _fs(spark, table_path)
    best = None
    for n in _list_snapshots(spark, table_path):
        # manifest proper only — never expand file shards for a stamp
        m = _load_manifest_meta(spark, table_path, n)
        stamp = m.get("committed_at")
        if stamp is not None:
            at = datetime.datetime.fromisoformat(stamp)
        else:
            ms = fs.getFileStatus(
                _jpath(spark, _manifest_path(table_path, n))
            ).getModificationTime()
            at = datetime.datetime.fromtimestamp(ms / 1000.0, tz=datetime.timezone.utc)
        if at <= want:
            best = n  # snapshots are ordered; keep the latest that fits
    if best is None:
        raise ValueError(
            f"no snapshot at {table_path} is as old as {ts} "
            "(timestamp precedes the first commit)"
        )
    return best


def create(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    partition_by: list[str] | None = None,
    bloom_columns: list[str] | None = None,
    check_constraints: dict[str, str] | None = None,
    write_mode: str | None = None,
    generated_columns: dict[str, str] | None = None,
    bucket_by: list[str] | None = None,
    num_buckets: int = 16,
    bucket_sort_by: list[str] | None = None,
    column_defaults: dict[str, str] | None = None,
    identity_columns: dict[str, dict] | None = None,
    _replace_head: dict | None = None,
) -> int:
    """Create the table at ``table_path`` from ``df`` (snapshot 1).
    ``partition_by`` declares Hive-style partition columns: every data
    file then belongs to exactly one partition (manifest entries carry
    the values), DML prunes on them via the same min/max machinery
    (a partition file's min == max == the value), and every rewrite /
    append / compact preserves the layout. The 100 TB
    date-partitioned fact-table shape.

    ``bloom_columns`` declares string/integer columns to index with
    per-file Bloom filters (manifest-level point-lookup pruning for
    `col = literal` DML where min/max can't help; see the bloom
    section above). The declaration persists in the manifest and
    every later commit's new files are indexed the same way.

    ``write_mode="mor"`` makes merge-on-read (deletion vectors) the
    table's DEFAULT for DELETE/UPDATE — the Delta
    ``enableDeletionVectors`` table property; SQL DML through the
    gate inherits it. Per-call ``mode=`` overrides either way."""
    if _replace_head is None and _list_snapshots(spark, table_path):
        raise ValueError(f"table already exists at {table_path}")
    if _replace_head is None:
        # the path may have held a DIFFERENT table (dropped or rmtree'd
        # out-of-band, then recreated): cached manifest bytes for its
        # snapshot numbers would be stale. Content-addressed shards are
        # immune (identical name => identical bytes) but purge them too
        # — legacy shard names are only attempt-unique.
        _purge_table_caches(table_path)
    if write_mode not in (None, "cow", "mor"):
        raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
    generated_columns = dict(generated_columns or {})
    if generated_columns:
        # expressions may reference only NON-generated columns (no
        # chains, no self-reference — order-independence by
        # construction); resolve each against the base frame now so a
        # typo'd declaration fails at create, not at first write
        base = df.drop(*[c for c in generated_columns if c in df.columns])
        for col, expr in sorted(generated_columns.items()):
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", col):
                raise ValueError(f"invalid generated column name: {col!r}")
            try:
                base.select(F.expr(expr).alias(col)).schema
            except Exception as e:
                raise ValueError(
                    f"generated column {col}: expression {expr!r} does not "
                    f"resolve against the non-generated columns ({e})"
                ) from None
        df = _apply_generated(df, generated_columns)
    partition_by = list(partition_by or [])
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns not in the data: {missing}")
    bloom_columns = list(bloom_columns or [])
    dtypes = dict(df.dtypes)
    bad = [c for c in bloom_columns if dtypes.get(c) not in _BLOOM_TYPES]
    if bad:
        raise ValueError(
            f"bloom columns must be existing string/integer columns; bad: {bad}"
        )
    check_constraints = dict(check_constraints or {})
    bucket_by = list(bucket_by or [])
    if bucket_by:
        missing = [c for c in bucket_by if c not in df.columns]
        if missing:
            raise ValueError(f"bucket columns not in the data: {missing}")
        if _BUCKET_COL in df.columns:
            # the staging-only bucket-id column: a user column with
            # this name would be silently overwritten by the bucket
            # assignment and stripped from every data file (data loss)
            raise ValueError(
                f"column name {_BUCKET_COL!r} is reserved on bucketed "
                "tables (staging bucket-id column) — rename it"
            )
        overlap = [c for c in bucket_by if c in (partition_by or [])]
        if overlap:
            # a partition column is CONSTANT within its file and absent
            # from the file bytes — hashing it into the bucket id would
            # put every partition's rows into one bucket per partition
            # and break the catalog bucketed-view read; refuse
            raise ValueError(
                f"bucket columns cannot also be partition columns: {overlap}"
            )
        if num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    bucket_sort_by = list(bucket_sort_by or [])
    if bucket_sort_by:
        if not bucket_by:
            raise ValueError("bucket_sort_by requires bucket_by")
        missing = [c for c in bucket_sort_by if c not in df.columns]
        if missing:
            raise ValueError(f"bucket sort columns not in the data: {missing}")
    column_defaults = dict(column_defaults or {})
    if column_defaults:
        _validate_column_defaults(spark, df.schema, generated_columns, column_defaults)
    identity_columns = {
        c: {"start": int(s.get("start", 1)), "step": int(s.get("step", 1)),
            "high_water": None}
        for c, s in (identity_columns or {}).items()
    }
    if identity_columns:
        present = [c for c in identity_columns if c in df.columns]
        if present:
            raise ValueError(
                f"columns {present} are GENERATED ALWAYS AS IDENTITY — "
                "the engine assigns them; they cannot appear in the "
                "CREATE payload"
            )
        df = _apply_identity({"identity_columns": identity_columns}, df)
        _validate_identity_columns(
            df.schema, generated_columns, column_defaults,
            partition_by, bucket_by, identity_columns,
        )
    snap = 1 if _replace_head is None else _replace_head["snapshot_id"] + 1
    manifest = {
        "snapshot_id": snap,
        "parent": None if _replace_head is None else _replace_head["snapshot_id"],
        "operation": "create" if _replace_head is None else "replace",
        "schema": df.schema.json(),
        "partition_by": partition_by,
        "bloom_columns": bloom_columns,
        "check_constraints": check_constraints,
        "files": [],
        "used_physical": [f.name for f in df.schema.fields],
    }
    if generated_columns:
        manifest["generated_columns"] = generated_columns
    if bucket_by:
        manifest["bucket_by"] = {"columns": bucket_by, "buckets": num_buckets}
        if bucket_sort_by:
            manifest["bucket_by"]["sort_by"] = bucket_sort_by
    if write_mode:
        manifest["write_mode"] = write_mode
    if column_defaults:
        manifest["column_defaults"] = column_defaults
    if identity_columns:
        manifest["identity_columns"] = identity_columns
    if _replace_head is not None and _replace_head.get("tags"):
        # tags are SNAPSHOT refs, not layout: the old snapshots stay
        # readable across an in-place REPLACE (time travel / RESTORE
        # cross it), so their named refs — and the vacuum retention
        # those refs promise — must survive too. Everything else is
        # deliberately reset (REPLACE resets what it doesn't
        # re-declare); dropping the tag map would silently break
        # VERSION AS OF '<tag>' and let vacuum delete tagged
        # snapshots' files while their manifests remain readable.
        manifest["tags"] = _replace_head["tags"]

    def stage(c: _Commit) -> None:
        # validation happens on the STAGED files, not the input frame —
        # fused into the staging value pass (r15): validating the frame
        # would evaluate a possibly-expensive source twice, and for a
        # non-deterministic source (rand(), a changing view) the staged
        # rows would not be the validated rows
        c.entries = _stage_files(
            spark, table_path, df, snap, manifest, check_constraints
        )

    def child(c: _Commit) -> dict:
        manifest["files"] = c.entries
        _advance_identity(manifest, manifest, c.entries)
        return manifest

    # a create or replace that loses the race refuses: it never rebases
    _optimistic_commit(spark, table_path, manifest, stage, child)
    return snap


def create_like(spark: SparkSession, table_path: str, source_path: str) -> int:
    """``CREATE TABLE ... LIKE`` — a new EMPTY table with the source's
    full declared shape: schema, partitioning (including generated
    partition columns), bucket spec, Bloom columns, CHECK constraints,
    column DEFAULTs, write mode, and identity specs (counters RESET to
    their declared start — a fresh table owns its own id space). Data,
    tags, txn maps, and the COPY INTO registry do not copy: LIKE is a
    shape clone, not a data clone (that is ``shallow_clone``).
    Metadata-only: one empty-frame create commit."""
    from pyspark.sql.types import StructType

    sm = _load_manifest_meta(
        spark, source_path, current_snapshot(spark, source_path)
    )
    schema = _snapshot_schema(sm)
    gen = dict(sm.get("generated_columns") or {})
    ident = {
        c: {k: int(v) for k, v in (spec or {}).items() if k in ("start", "step")}
        for c, spec in (sm.get("identity_columns") or {}).items()
    }
    payload = StructType(
        [f for f in schema.fields if f.name not in gen and f.name not in ident]
    )
    b = _bucket_spec(sm)
    return create(
        spark,
        table_path,
        spark.createDataFrame([], payload),
        partition_by=list(sm.get("partition_by") or []),
        bloom_columns=list(sm.get("bloom_columns") or []),
        check_constraints=dict(sm.get("check_constraints") or {}),
        write_mode=sm.get("write_mode"),
        generated_columns=gen or None,
        bucket_by=list(b[0]) if b else None,
        num_buckets=b[1] if b else 16,
        bucket_sort_by=list(b[2]) if b and b[2] else None,
        column_defaults=dict(sm.get("column_defaults") or {}),
        identity_columns=ident or None,
    )


def _validate_column_defaults(
    spark: SparkSession,
    schema,
    generated_columns: dict | None,
    defaults: dict[str, str],
) -> None:
    """Column DEFAULTs (r11, Delta/Spark 3.4's surface): each entry
    must name an existing non-generated column and its expression
    must be CONSTANT-FOLDABLE — probed by resolving it against a
    zero-column row, so any column reference fails the declaration,
    not the first INSERT (Spark's own constant-foldability rule for
    defaults). Generated columns refuse a default outright: they
    recompute from their expression on every write, so a default
    could never take effect — accepting one would be a silent lie."""
    names = set(schema.fieldNames())
    types = {f.name: f.dataType for f in schema.fields}
    for col, expr in sorted(defaults.items()):
        if col not in names:
            raise ValueError(f"DEFAULT on unknown column {col!r}")
        if col in (generated_columns or {}):
            raise ValueError(
                f"column {col!r} is GENERATED — its value recomputes on "
                "every write, so a DEFAULT would never apply"
            )
        try:
            probe = spark.range(1).drop("id").select(
                F.expr(expr).alias("_raw"),
                F.expr(expr).cast(types[col]).alias(col),
            )
            row = probe.collect()[0]
        except Exception as e:
            raise ValueError(
                f"DEFAULT for {col!r}: expression {expr!r} must be a "
                f"constant (no column references) castable to the "
                f"column type ({e})"
            ) from None
        # value check at DECLARATION time (r12 review fix, Delta's
        # semantics): a constant that analyzes but cannot CONVERT
        # (e.g. DEFAULT 'abc' on a DOUBLE column) casts to NULL and
        # would otherwise silently fill NULL on every INSERT
        if row[1] is None and row[0] is not None:
            raise ValueError(
                f"DEFAULT for {col!r}: expression {expr!r} is not "
                f"convertible to the column type "
                f"({types[col].simpleString()}) — the cast yields NULL"
            )


def _validate_identity_columns(
    schema,
    generated_columns: dict | None,
    column_defaults: dict | None,
    partition_by: list | None,
    bucket_by: list | None,
    identity: dict,
) -> None:
    """IDENTITY columns (r11, Delta's GENERATED ALWAYS AS IDENTITY):
    each entry is {col: {"start": int, "step": int}}. The column must
    be BIGINT (values allocate from a table-lifetime counter), cannot
    be generated/defaulted (conflicting fill rules), and cannot be a
    partition or bucket column (every row would get its own partition
    directory / the bucket hash would depend on an engine-assigned
    value)."""
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    for col, spec in sorted(identity.items()):
        if col not in types:
            raise ValueError(f"IDENTITY on unknown column {col!r}")
        if types[col] != "bigint":
            raise ValueError(
                f"IDENTITY column {col!r} must be BIGINT, is {types[col]}"
            )
        if col in (generated_columns or {}):
            raise ValueError(f"column {col!r} cannot be both GENERATED and IDENTITY")
        if col in (column_defaults or {}):
            raise ValueError(f"column {col!r} cannot carry both DEFAULT and IDENTITY")
        if col in (partition_by or []):
            raise ValueError(f"IDENTITY column {col!r} cannot be a partition column")
        if col in (bucket_by or []):
            raise ValueError(f"IDENTITY column {col!r} cannot be a bucket column")
        if int(spec.get("step", 1)) == 0:
            raise ValueError(f"IDENTITY column {col!r}: step must be nonzero")


def _apply_identity(m_or_spec: dict, df: DataFrame) -> DataFrame:
    """Assign fresh values to every identity column of ``df`` —
    value = next_base + step * monotonically_increasing_id(). The
    contract is Delta's: unique, start/step-aligned, monotone within
    the write in (partition, row) order, GAPS ALLOWED — which is what
    lets allocation be ZERO-SHUFFLE and ZERO-EXTRA-PASS (no global
    row numbering; the sparse 33-bit-partition-stride ids become
    sparse identity values, so gaps can be LARGE — same class of
    behavior Delta documents). The new high-water mark is read back
    from the staged files' footer max stats (``_advance_identity``),
    so allocation costs nothing beyond the write itself at any scale.
    Envelope: each write advances the mark by at most
    step * (n_partitions * 2^33); int64 holds ~10^6 such commits at
    1,000 partitions per write — beyond any manifest chain's
    practical length. A dense allocator would need a per-partition
    count pass (Spark's zipWithIndex shape), re-evaluating possibly
    non-deterministic sources — the same hazard the staged-validation
    design avoids — so sparse-with-gaps is the deliberate trade."""
    identity = m_or_spec.get("identity_columns") or {}
    for col, spec in sorted(identity.items()):
        hw = spec.get("high_water")
        step = int(spec.get("step", 1))
        base = int(spec["start"]) if hw is None else int(hw) + step
        df = df.withColumn(
            col,
            (F.lit(base) + F.lit(step) * F.monotonically_increasing_id()).cast(
                "bigint"
            ),
        )
    return df


def _refuse_explicit_identity(m: dict, cols: list[str], what: str) -> None:
    hit = [c for c in cols if c in (m.get("identity_columns") or {})]
    if hit:
        raise ValueError(
            f"columns {hit} are GENERATED ALWAYS AS IDENTITY — explicit "
            f"values cannot be {what} (the engine assigns them)"
        )


def _advance_identity(
    manifest: dict, m: dict, new_entries: list[dict]
) -> None:
    """Fold the staged files' max stats into the identity high-water
    marks — carried rows can never exceed the old mark, so this only
    advances when a write actually allocated. Mutates ``manifest``."""
    identity = m.get("identity_columns")
    if not identity:
        return
    pmap = _phys_map(m)
    out = {}
    for col, spec in identity.items():
        phys = pmap.get(col, col)
        hw = spec.get("high_water")
        step = int(spec.get("step", 1))
        for e in new_entries:
            s = (e.get("stats") or {}).get(phys)
            if s is None:
                continue
            cand = s[1] if step > 0 else s[0]
            if cand is None:
                continue
            if hw is None or (step > 0 and cand > hw) or (step < 0 and cand < hw):
                hw = int(cand)
        out[col] = {**spec, "high_water": hw}
    manifest["identity_columns"] = out


def _identity_moved(base: dict, head: dict) -> bool:
    """True when a concurrent winner advanced any identity high-water
    mark past what this writer allocated from — retrying with the
    already-staged values could duplicate ids, so the caller must
    refuse and re-run."""
    b = base.get("identity_columns") or {}
    h = head.get("identity_columns") or {}
    return any(
        (h.get(c) or {}).get("high_water") != (b.get(c) or {}).get("high_water")
        for c in set(b) | set(h)
    )


def _insert_rows(m: dict, rows: DataFrame, what: str) -> DataFrame:
    """``rows`` as new rows of ``m``'s table. Identity columns are
    engine-assigned (GENERATED ALWAYS): explicit values refuse (``what``
    names the verb in the error) and fresh ones allocate from the
    high-water mark. Input columns match by name and cast through the
    manifest schema; a schema column absent from the input fills with
    its declared DEFAULT (r11) or NULL — standard column-list INSERT
    semantics."""
    _refuse_explicit_identity(m, list(rows.columns), what)
    rows = _apply_identity(m, rows)
    defaults = m.get("column_defaults") or {}

    def column(f) -> Column:
        if f.name in rows.columns:
            c = F.col(f.name)
        elif f.name in defaults:
            c = F.expr(defaults[f.name])
        else:
            c = F.lit(None)
        return c.cast(f.dataType).alias(f.name)

    return rows.select(*[column(f) for f in _snapshot_schema(m).fields])


def alter_set_write_mode(spark: SparkSession, table_path: str, write_mode: str) -> int:
    """``ALTER TABLE t SET TBLPROPERTIES ('write_mode'='mor'|'cow')``
    (r11): flip the table's DML DEFAULT between copy-on-write and
    merge-on-read with a metadata-only commit — Delta's
    ``enableDeletionVectors`` toggle. Existing files and deletion
    vectors are untouched (a table switched to 'cow' still reads its
    outstanding DVs correctly; they age out as rewrites materialize
    them); only FUTURE DELETE/UPDATE/MERGE calls without an explicit
    ``mode=`` change behavior. Returns the new snapshot id (or the
    current one when already set — a no-op never burns a snapshot)."""
    if write_mode not in ("cow", "mor"):
        raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    if (m.get("write_mode") or "cow") == write_mode:
        return m["snapshot_id"]
    return _commit_carry(
        spark, table_path, m,
        _child(m, f"set_write_mode_{write_mode}", write_mode=write_mode),
    )


def alter_set_column_default(
    spark: SparkSession, table_path: str, col: str, expr: str
) -> int:
    """``ALTER TABLE t ALTER COLUMN c SET DEFAULT (expr)`` (r11,
    Delta/Spark 3.4 surface): a METADATA-ONLY commit recording the
    fill expression future INSERTs use when the column is omitted.
    Existing rows are untouched (Delta's rule — defaults are not
    backfill). The expression must be constant-foldable and castable
    to the column's type, probed at declaration."""
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    if col in (m.get("identity_columns") or {}):
        raise ValueError(
            f"column {col!r} is GENERATED ALWAYS AS IDENTITY — the "
            "engine assigns it; a DEFAULT can never apply"
        )
    defaults = dict(m.get("column_defaults") or {})
    defaults[col] = expr
    _validate_column_defaults(
        spark, _snapshot_schema(m), m.get("generated_columns"), {col: expr}
    )
    return _commit_carry(
        spark, table_path, m, _child(m, f"set_default_{col}", column_defaults=defaults)
    )


def alter_drop_column_default(
    spark: SparkSession, table_path: str, col: str
) -> int:
    """``ALTER TABLE t ALTER COLUMN c DROP DEFAULT`` — metadata-only;
    future INSERTs omitting the column fill NULL again."""
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    defaults = dict(m.get("column_defaults") or {})
    if col not in defaults:
        raise ValueError(
            f"column {col!r} has no DEFAULT at {table_path}; defaulted "
            f"columns: {sorted(defaults) or '(none)'}"
        )
    del defaults[col]
    manifest = _child(m, f"drop_default_{col}")
    manifest.pop("column_defaults", None)
    if defaults:
        manifest["column_defaults"] = defaults
    return _commit_carry(spark, table_path, m, manifest)


_TAG_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_.\-]*$")


def create_tag(
    spark: SparkSession,
    table_path: str,
    name: str,
    snapshot: int | None = None,
    replace: bool = False,
) -> int:
    """Iceberg-style named snapshot ref: ``name`` durably points at
    ``snapshot`` (default: the current head). A tag is a METADATA-ONLY
    commit — the ``tags`` map lives in the manifest and every child
    commit carries it forward (``_carried``), so creating/dropping a
    tag is atomic under the same optimistic rename as any commit and
    costs O(1) bytes whatever the table size.

    Tags participate in two contracts: ``VERSION AS OF '<tag>'``
    time travel resolves through the HEAD manifest's map, and
    ``vacuum`` treats every tagged snapshot as retained — its
    manifest and data files survive expiry until the tag is dropped
    (Iceberg's expire-snapshots ref rule). Returns the new snapshot
    id. ``replace=True`` retargets an existing name (CREATE OR
    REPLACE TAG); without it a duplicate name refuses."""
    if not _TAG_NAME_RE.match(name or ""):
        raise ValueError(
            f"invalid tag name {name!r} — letters/digits/_/./- , "
            "starting with a letter or underscore"
        )
    snaps = _list_snapshots(spark, table_path)
    if not snaps:
        raise CowTableNotFound(table_path)
    m = _load_manifest_meta(spark, table_path, snaps[-1])
    target = m["snapshot_id"] if snapshot is None else int(snapshot)
    if target not in snaps:
        raise ValueError(
            f"cannot tag snapshot {target} at {table_path} — it does "
            f"not exist (have {snaps[0]}..{snaps[-1]}); it may have "
            "been vacuum-expired"
        )
    tags = dict(m.get("tags") or {})
    if name in tags and not replace:
        raise ValueError(
            f"tag {name!r} already exists (points at snapshot "
            f"{tags[name]}); use CREATE OR REPLACE TAG to retarget"
        )
    if tags.get(name) == target:
        return m["snapshot_id"]  # no-op never burns a snapshot
    tags[name] = target
    return _commit_carry(
        spark, table_path, m, _child(m, f"create_tag_{name}", tags=tags)
    )


def drop_tag(spark: SparkSession, table_path: str, name: str) -> int:
    """Remove a named snapshot ref (metadata-only commit). The
    snapshot it pointed at becomes eligible for vacuum expiry like
    any other. Unknown names refuse with the known-tag list."""
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    tags = dict(m.get("tags") or {})
    if name not in tags:
        raise ValueError(
            f"unknown tag {name!r} at {table_path}; known tags: "
            f"{sorted(tags) or '(none)'}"
        )
    del tags[name]
    return _commit_carry(spark, table_path, m, _child(m, f"drop_tag_{name}", tags=tags))


def tags(spark: SparkSession, table_path: str) -> dict[str, int]:
    """The HEAD manifest's tag map (name -> snapshot id)."""
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    return dict(m.get("tags") or {})


def resolve_ref(spark: SparkSession, table_path: str, ref: str | int) -> int:
    """A VERSION AS OF operand: an integer snapshot id passes
    through; a string resolves as a tag through the HEAD manifest."""
    if isinstance(ref, int) or (isinstance(ref, str) and ref.isdigit()):
        return int(ref)
    t = tags(spark, table_path)
    if ref in t:
        return t[ref]
    raise ValueError(
        f"unknown tag {ref!r} at {table_path}; known tags: "
        f"{sorted(t) or '(none)'}"
    )


def replace_table(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    **create_kwargs,
) -> int:
    """Delta-style atomic REPLACE (r11, closing the r10 documented
    divergence): snapshot N+1 carries ENTIRELY new files, schema, AND
    layout (partitioning / bucketing / blooms / write_mode /
    constraints all re-declared from the arguments — REPLACE resets
    what it doesn't re-declare, Delta's semantics), committed through
    the same optimistic manifest rename as every other commit. The
    old snapshots stay READABLE: time travel crosses the replace,
    RESTORE can roll back over it, CDC streams it as full
    delete+insert, and the old files age out via vacuum — none of
    which a drop-and-recreate gives. A failing payload or validation
    leaves the table untouched (nothing publishes until the manifest
    commits). Takes ``create``'s layout keyword arguments."""
    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    return create(spark, table_path, df, _replace_head=m, **create_kwargs)


def shallow_clone(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    snapshot: int | None = None,
) -> int:
    """Delta's SHALLOW CLONE: snapshot 1 of a NEW table whose data
    files are SYMLINKS to the source snapshot's files — O(files)
    metadata operations, ZERO data bytes copied, which is what makes
    "give me a writable copy of the 100 TB table for this experiment"
    a seconds-long operation. The clone is fully independent going
    forward: its DML/compaction writes its own files under its own
    ``data/``; dropping the clone deletes only links; the source
    never observes the clone.

    Carried verbatim: schema, layout (partition/bucket/bloom/CHECK/
    generated/defaults), per-file stats and blooms (they describe the
    same bytes), deletion vectors (linked like data files), and
    identity HIGH-WATER marks (the cloned rows embed allocated ids —
    a reset counter would re-issue them). NOT carried: tags (refs to
    source snapshot ids are meaningless in a 1-snapshot table) and
    txn idempotency maps (a new writer lineage).

    HAZARD (Delta's own, documented not solved): VACUUM on the SOURCE
    deletes files the clone still links — coordinate retention, or
    ``compact()`` the clone (rewrites every row into its own files)
    to sever the dependency. Local-filesystem only, like
    ``bucketed_view`` (on HDFS/S3 the same design records absolute
    file URIs in the manifest via a metastore-backed catalog)."""
    n = snapshot if snapshot is not None else current_snapshot(spark, source_path)
    m = _load_manifest(spark, source_path, n)
    if _list_snapshots(spark, table_path):
        raise ValueError(f"table already exists at {table_path}")
    src_local = _local_fs_path(source_path)
    dst_local = _local_fs_path(table_path)
    if src_local is None or dst_local is None:
        raise ValueError(
            "shallow_clone requires local-filesystem tables (symlink "
            "materialization); on HDFS/S3 record absolute file URIs in "
            "a metastore-backed catalog instead"
        )
    # PRE-SCAN every source file before creating any link (r12 review
    # fix): discovering a vacuumed file mid-loop used to leave a
    # partially-built data/ dir behind, and a retry then died on
    # os.symlink FileExistsError instead of the clean refusal
    links: list[tuple[str, str]] = []
    for f in m["files"]:
        src = os.path.abspath(os.path.join(src_local, DATA_DIR, f["name"]))
        if not os.path.exists(src):
            raise ValueError(
                f"snapshot {n} of {source_path} is not clonable: "
                f"{f['name']} was vacuumed"
            )
        links.append((src, os.path.join(dst_local, DATA_DIR, *f["name"].split("/"))))
        dv = f.get("dv")
        if dv:
            dsrc = os.path.abspath(os.path.join(src_local, DV_DIR, dv["name"]))
            if not os.path.exists(dsrc):
                raise ValueError(
                    f"snapshot {n} of {source_path} is not clonable: "
                    f"deletion vector {dv['name']} was vacuumed"
                )
            links.append((dsrc, os.path.join(dst_local, DV_DIR, dv["name"])))
    try:
        for src, dst in links:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if not os.path.exists(dst):  # DVs can be shared by files
                os.symlink(src, dst)
        manifest = {
            "snapshot_id": 1,
            "parent": None,
            "operation": f"shallow_clone@{n}",
            **_carried(m),
            "files": m["files"],
        }
        manifest.pop("tags", None)
        return _commit(spark, table_path, manifest)
    except BaseException:
        # a failed link or commit must not strand a half-built clone:
        # remove the destination so a retry starts clean (the table
        # only EXISTS once the manifest commits, so this deletes
        # nothing a reader could have seen)
        import shutil as _sh

        _sh.rmtree(dst_local, ignore_errors=True)
        raise


def convert_to_cow(
    spark: SparkSession,
    table_path: str,
    partition_by: list[str] | None = None,
) -> int:
    """IN-PLACE adoption of an existing parquet directory as snapshot
    1 of a COW table — Delta's ``CONVERT TO DELTA`` analogue. No data
    bytes are read-and-rewritten: each ``*.parquet`` file is RENAMED
    under ``data/`` (a same-volume metadata operation, O(files) not
    O(bytes) — THE property that makes adoption viable at 100 TB),
    its footer supplies the per-file row count + min/max stats the
    manifest-level pruning index needs (the same soundness rules as
    ``_footer_stats``; non-local filesystems fall back to one
    distributed aggregate over the adopted files), and one manifest
    commit publishes the table. Hive-partitioned inputs must pass
    ``partition_by`` naming the directory keys in order (Delta's
    CONVERT requires the partition schema too — directory names alone
    can't be trusted as the full spec); the layout then prunes
    exactly like a native created table. After converting, every DML
    verb / time-travel read / gate statement works unchanged, and
    ``CREATE TABLE name USING cow LOCATION`` can register it.

    ``partition_by`` entries are ``"name"`` or ``"name type"``: a
    bare name takes Spark's directory-value type INFERENCE (a
    directory of digits infers int), a typed entry casts the
    partition column to the declared type — pass types whenever the
    producer's column type isn't what inference would guess (e.g.
    string keys with numeric values), exactly why Delta's CONVERT
    takes a partition SCHEMA.

    Failure atomicity: the table exists only once the manifest
    commits (readers key on ``_cow/``); a rename failure midway moves
    the already-moved files back before raising, leaving the plain
    parquet directory as found."""
    if _list_snapshots(spark, table_path):
        raise ValueError(f"table already exists at {table_path}")
    _purge_table_caches(table_path)  # path may have held a dropped table
    part_types: dict[str, str] = {}
    names: list[str] = []
    for spec in partition_by or []:
        parts = spec.split()
        if len(parts) == 2:
            names.append(parts[0])
            part_types[parts[0]] = parts[1]
        elif len(parts) == 1:
            names.append(parts[0])
        else:
            raise ValueError(f"bad partition spec {spec!r} (use 'name [type]')")
    partition_by = names
    fs, root = _fs(spark, table_path)
    if not fs.exists(root):
        raise ValueError(f"no such directory: {table_path}")
    prefix = root.toUri().getPath().rstrip("/")
    rels: list[str] = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        p = it.next().getPath()
        name = p.getName()
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        rel = p.toUri().getPath()[len(prefix) :].lstrip("/")
        if rel.startswith(f"{DATA_DIR}/"):
            raise ValueError(
                f"{table_path!r} already has a {DATA_DIR}/ subtree — "
                "refusing a half-converted or colliding layout"
            )
        rels.append(rel)
    if not rels:
        raise ValueError(f"no parquet files to convert under {table_path!r}")
    for rel in sorted(rels):
        keys = [
            s.partition("=")[0] for s in rel.split("/")[:-1] if "=" in s
        ]
        if keys != partition_by:
            raise ValueError(
                f"file {rel!r} has partition directories {keys} but "
                f"partition_by={partition_by} — pass the directory keys "
                "in order (or none for a flat layout)"
            )
    reader = spark.read
    if partition_by:
        reader = reader.option("basePath", table_path)
    df = reader.parquet(*[f"{table_path}/{r}" for r in sorted(rels)])
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns not in the data: {missing}")
    for c, t in part_types.items():
        df = df.withColumn(c, F.col(c).cast(t))
    dtypes = dict(df.dtypes)
    data_root = f"{table_path}/{DATA_DIR}"
    fs.mkdirs(_jpath(spark, data_root))
    # adopted files get snapshot-scoped UNIQUE basenames (the engine
    # convention): producer basenames COLLIDE across partition dirs
    # (Spark reuses part-NNNNN-<job-uuid> in every partition), and the
    # footer-stats map — like the DV machinery — keys by basename
    moved: list[tuple[str, str]] = []  # (src rel, dest rel)
    try:
        for rel in sorted(rels):
            reldir = rel.rsplit("/", 1)[0] if "/" in rel else ""
            new_name = f"snap{1:08d}-{uuid.uuid4().hex[:12]}.parquet"
            dst = f"{reldir}/{new_name}" if reldir else new_name
            dest = _jpath(spark, f"{data_root}/{dst}")
            fs.mkdirs(dest.getParent())
            if not fs.rename(_jpath(spark, f"{table_path}/{rel}"), dest):
                raise IOError(f"failed to move {rel} under {DATA_DIR}/")
            moved.append((rel, dst))
    except Exception:
        for rel, dst in moved:  # best-effort restore of the original layout
            fs.rename(
                _jpath(spark, f"{data_root}/{dst}"),
                _jpath(spark, f"{table_path}/{rel}"),
            )
        raise
    moved_rels = [dst for _, dst in moved]
    from urllib.parse import unquote

    by_name = _footer_stats(table_path, data_root, moved_rels, dtypes)
    if by_name is None:
        by_name = _spark_file_stats(
            spark, data_root, moved_rels, partition_by, dtypes, []
        )
    entries: list[dict] = []
    for rel in sorted(moved_rels):
        entry: dict = {"name": rel}
        part_vals: dict[str, str] = {}
        if partition_by:
            part_vals = {
                c: unquote(v)
                for seg in rel.split("/")[:-1]
                for c, _, v in (seg.partition("="),)
            }
            entry["partition"] = part_vals
        r = by_name.get(rel.rsplit("/", 1)[-1])
        if r is None or not r.get("__rows"):
            continue  # zero-row file: adopted dir keeps it, no entry
        n_rows = r["__rows"]
        stats: dict = dict(r.get("__stats") or {})
        nulls: dict = dict(r.get("__nulls") or {})
        for c, raw in part_vals.items():
            if raw == "__HIVE_DEFAULT_PARTITION__":
                nulls[c] = n_rows
                continue
            t = dtypes.get(c)
            if t in ("int", "bigint", "smallint", "tinyint"):
                val: object = int(raw)
            elif t in ("float", "double"):
                val = float(raw)
            elif t in ("timestamp", "timestamp_ntz"):
                val = _canon_ts_literal(raw)
                if val is None:
                    continue
            elif t in _STATS_TYPES:
                val = raw
            else:
                continue
            stats[c] = [val, val]
        entry.update({"rows": n_rows, "stats": stats, "nulls": nulls})
        entries.append(entry)
    manifest = {
        "snapshot_id": 1,
        "parent": None,
        "operation": "convert",
        "schema": df.schema.json(),
        "partition_by": partition_by,
        "bloom_columns": [],
        "check_constraints": {},
        "files": entries,
        "used_physical": [f.name for f in df.schema.fields],
    }
    return _commit(spark, table_path, manifest)


def read(spark: SparkSession, table_path: str, snapshot: int | None = None) -> DataFrame:
    """The table's content at ``snapshot`` (default: latest),
    projected through THAT SNAPSHOT'S schema — the manifest schema is
    authoritative, not the union of parquet footers, so (a) reads are
    schema-stable whatever mix of file vintages a snapshot holds and
    (b) columns added by ``alter_add_column`` read as NULL from files
    written before the evolution (standard lake-format semantics)."""
    n = snapshot if snapshot is not None else current_snapshot(spark, table_path)
    m = _load_manifest(spark, table_path, n)
    if not m["files"]:
        return spark.createDataFrame([], _snapshot_schema(m))
    return _read_entries(spark, table_path, m, m["files"])


def bucketed_view(
    spark: SparkSession,
    table_path: str,
    name: str,
    snapshot: int | None = None,
    pin_sort_conf: bool = True,
) -> DataFrame:
    """Register the table's current (or time-travel) snapshot as a
    NATIVE Spark bucketed catalog table and return it: equi-joins and
    aggregations between two such views on the bucket key plan with
    ZERO hash-partitioning Exchange — the storage-partitioned-join
    shape, THE dominant 100 TB cost SCALE.md names for fact-fact
    joins.

    How: every data file of a ``bucket_by`` table holds exactly one
    bucket (pmod(hash(cols), n) — bit-identical to Spark's own
    ``bucketBy`` assignment, pinned by tests against files Spark's
    writer produced) and carries the bucket id as the ``_000NN``
    file-name suffix ``BucketingUtils.getBucketId`` parses. The view
    materializes the SNAPSHOT'S live-file list as a directory of
    symlinks (O(files) metadata ops, immutable once built — snapshots
    never change) and registers ``CREATE TABLE ... USING PARQUET
    CLUSTERED BY (cols) INTO n BUCKETS LOCATION <dir>`` over it, so
    Catalyst sees genuine HashPartitioning from the scan. Joining a
    bucketed view with a NON-bucketed frame is also safe: Spark
    shuffles the other side with the same partitionIdExpression the
    writer used.

    With a ``bucket_sort_by`` spec every staged file is additionally
    SORTED within its bucket (the spec lands as ``SORTED BY`` on the
    catalog table), so on a compacted table (one file per bucket) a
    sort-merge join also skips its Sort. Spark only reports the
    scan's output ordering under
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` (off
    by default since 3.0), so this function SETS that conf whenever
    the table declares a sort spec — the sort elimination is the
    spec's whole point, and a future Spark default flip must not
    silently re-introduce the Sort. **This is a deliberate
    SESSION-WIDE side effect**: the conf must hold at QUERY time, not
    just at registration time (Catalyst reads it when planning each
    scan), so a set-before/restore-after scope around this call would
    silently forfeit the Sort elimination the moment the view is
    queried — the pin therefore stays set for the session's lifetime
    and survives re-registration. It is safe to leave on: the conf
    only enables ordering REPORTING for one-file-per-bucket scans and
    never changes results; its documented cost is that a MULTI-file
    bucketed scan under it cannot parallelize beyond one task per
    bucket — which is exactly this table layout's shape anyway.
    Without a sort spec the conf is never touched. Callers sharing
    the session with a conf-sensitive workload can opt out with
    ``pin_sort_conf=False`` (r14): the build then leaves the conf at
    its pre-call value (registration itself never needs it — only
    query-time planning does), the caller accepting that a
    sort-merge join against the view re-grows its Sort unless they
    set the conf themselves at query time.

    PARTITIONED bucketed tables (the 100 TB fact shape: date
    partitions for pruning AND key buckets for the exchange-free
    join) register with their Hive directory tree preserved under the
    view and ``PARTITIONED BY`` on the catalog table (+ one ``MSCK
    REPAIR`` — O(partitions) metadata), so partition pruning and the
    zero-Exchange join COMPOSE on the same scan.

    Snapshots with live DELETION VECTORS register the raw file scan
    under ``<name>__files`` and expose ``<name>`` as a TEMP VIEW that
    masks the DV'd positions with a broadcast LEFT ANTI join on
    (file basename, ``_metadata.row_index``) — exactly the engine
    read path's mask (``_read_entries``). A broadcast hash join
    preserves the streamed side's output partitioning, so the join
    stays exchange-free WITHOUT compacting first — bucketed + MOR,
    the production pairing. DV-free snapshots register the catalog
    table directly under ``name`` (zero overhead, the common case).

    On a non-local filesystem the symlink materialization is
    unavailable — there the same design registers the manifest's file
    list in a metastore (Iceberg/Delta expose it as
    storage-partitioned joins through their JVM DSv2 readers); this
    engine's Python DSv2 reader cannot report partitioning, so the
    catalog route is the honest Spark-native path.

    Refused (loudly) when the snapshot has renamed columns (files
    store physical names the catalog schema would mislabel) or
    pre-widening file vintages (``alter_widen_column`` is metadata-
    only: old files keep the NARROW physical type, which the raw
    catalog scan — unlike the engine read path — may fail to upcast;
    ``compact()`` rewrites every file and lifts the refusal)."""
    n = snapshot if snapshot is not None else current_snapshot(spark, table_path)
    m = _load_manifest(spark, table_path, n)
    spec = _bucket_spec(m)
    if spec is None:
        raise ValueError(
            f"{table_path} is not bucketed — create it with bucket_by=[...]"
        )
    if m.get("physical_names"):
        raise ValueError(
            "bucketed_view on a column-mapped (renamed) table is not "
            "supported: data files store physical column names"
        )
    if m.get("widened_columns"):
        raise ValueError(
            "bucketed_view on a snapshot with pre-widening file vintages "
            f"(columns {m['widened_columns']}) is not supported: the raw "
            "catalog scan may not upcast the old files' narrower physical "
            "type — run compact() to rewrite them under the current schema"
        )
    local = _local_fs_path(table_path)
    if local is None:
        raise ValueError(
            "bucketed_view requires a local-filesystem table (symlink "
            "materialization); on HDFS/S3 register the manifest file list "
            "in a metastore instead"
        )
    bcols, nb, bsort = spec
    parts = m.get("partition_by") or []
    if any(_part_keys(f["name"]) != tuple(parts) for f in m["files"]):
        # r11 partition evolution: the native catalog table this view
        # registers needs ONE uniform directory shape; a snapshot
        # holding pre-evolution vintages serves through the engine
        # read instead (caller falls back by contract) until compact()
        # migrates every file to the current spec
        raise ValueError(
            "bucketed_view requires every file under the current "
            "partition spec — run compact() to migrate older vintages"
        )
    dvd = [f for f in m["files"] if f.get("dv")]
    view_dir = os.path.join(local, BUCKETVIEW_DIR, f"snap-{n:08d}")
    if not os.path.isdir(view_dir):
        # build aside + atomic rename: a crashed builder never leaves a
        # half-linked dir a later call would trust. Hive partition dirs
        # are PRESERVED in the link tree so the catalog table's
        # partition discovery sees them.
        tmp = f"{view_dir}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp, exist_ok=True)
        for f in m["files"]:
            src = os.path.abspath(os.path.join(local, DATA_DIR, f["name"]))
            dst = os.path.join(tmp, *f["name"].split("/"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.symlink(src, dst)
        try:
            os.rename(tmp, view_dir)
        except OSError:
            import shutil as _sh

            _sh.rmtree(tmp, ignore_errors=True)  # lost the race: reuse winner
            if not os.path.isdir(view_dir):
                raise
    schema = _snapshot_schema(m)
    cols_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    bcols_sql = ", ".join(f"`{c}`" for c in bcols)
    sorted_sql = (
        " SORTED BY (" + ", ".join(f"`{c}`" for c in bsort) + ")" if bsort else ""
    )
    part_sql = (
        " PARTITIONED BY (" + ", ".join(f"`{c}`" for c in parts) + ")"
        if parts
        else ""
    )
    if bsort and pin_sort_conf:
        # pin the conf the sort elimination rides on (see docstring);
        # pin_sort_conf=False leaves session state untouched
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    cat_name = f"{name}__files" if dvd else name
    # drop BOTH possible prior registrations of `name`: an earlier
    # DV'd snapshot left a temp view + helper table, a DV-free one a
    # catalog table — whichever shape this call produces must win
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    if dvd:
        spark.sql(f"DROP TABLE IF EXISTS {cat_name}")
    spark.sql(
        f"CREATE TABLE {cat_name} ({cols_ddl}) USING PARQUET"
        f"{part_sql} "
        f"CLUSTERED BY ({bcols_sql}){sorted_sql} INTO {nb} BUCKETS "
        f"LOCATION '{view_dir}'"
    )
    if parts:
        # register the Hive partition dirs in the catalog (O(partitions)
        # metadata listing) — without it a partition-managed datasource
        # table scans zero files
        spark.sql(f"MSCK REPAIR TABLE {cat_name}")
    df = spark.table(cat_name)
    if parts:
        # partitioned catalog tables surface partition columns LAST;
        # restore manifest column order (a Project — the scan's
        # HashPartitioning survives it)
        df = df.select(*schema.fieldNames())
    if dvd:
        dvdf = _dv_positions_df(spark, table_path, dvd)
        scan = df.withColumn(
            "__dws_file",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        ).withColumn("__dws_pos", F.col("_metadata.row_index"))
        masked = scan.join(
            F.broadcast(dvdf),
            (scan["__dws_file"] == dvdf["file"])
            & (scan["__dws_pos"] == dvdf["pos"]),
            "left_anti",
        ).select(*schema.fieldNames())
        masked.createOrReplaceTempView(name)
        return masked
    return df


def alter_add_columns(spark: SparkSession, table_path: str, cols_ddl: str) -> int:
    """ALTER TABLE ADD COLUMN(S) — a METADATA-ONLY commit: no data
    file is touched; the new snapshot carries the widened schema and
    every pre-existing file reads the new column(s) as NULL (parquet
    schema evolution). ``cols_ddl`` is a DDL column list —
    ``"priority int"`` or ``"a int, b map<string,int>"`` — parsed as a
    whole so nested type commas are safe. Every new name is checked
    against the current schema AND the rest of the list before
    committing, and the evolved schema is built by appending
    StructFields, so existing fields keep their nullability and
    metadata verbatim (no simpleString round-trip). Non-null defaults
    would require a rewrite or default-metadata support — out of
    scope, as in early lake-format versions. Returns the new snapshot
    id."""
    from pyspark.sql.types import StructType

    new_fields = StructType.fromDDL(cols_ddl).fields
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    _evolve_schema_inplace(m, new_fields)
    return _commit_carry(spark, table_path, m, _child(m, "add_column"))


def _evolve_schema_inplace(m: dict, new_fields) -> None:
    """Widen the IN-MEMORY manifest dict ``m`` with ``new_fields``
    (StructFields), updating the column-mapping bookkeeping, so the
    CALLING commit publishes the evolved schema atomically with its
    data — the primitive behind ALTER ADD COLUMN and the r12
    write-side schema evolution (MERGE WITH SCHEMA EVOLUTION, append
    ``merge_schema``). A RE-ADDED name (dropped or renamed-away
    earlier) gets a FRESH physical name: retained files still hold
    parquet bytes under the old physical column, and reading the
    re-added column through that name would resurrect stale values
    instead of NULL-filling (the bug Delta's column-mapping ids exist
    to stop)."""
    from pyspark.sql.types import StructType

    schema = _snapshot_schema(m)
    seen = set(schema.fieldNames())
    pmap = dict(_phys_map(m))
    used = set(m.get("used_physical") or [])
    used |= {pmap.get(f.name, f.name) for f in schema.fields}
    used |= set(pmap.values())
    used_list = list(m.get("used_physical") or sorted(used))
    for f in new_fields:
        if f.name in seen:
            raise ValueError(f"column {f.name} already exists")
        if f.name == _BUCKET_COL and m.get("bucket_by"):
            # reserved staging bucket-id column on bucketed tables —
            # same data-loss hazard as at create()
            raise ValueError(
                f"column name {_BUCKET_COL!r} is reserved on bucketed tables"
            )
        seen.add(f.name)
        phys = f.name
        if phys in used:
            phys = f"{f.name}__p{uuid.uuid4().hex[:8]}"
            pmap[f.name] = phys
        used.add(phys)
        used_list.append(phys)
    m["schema"] = StructType(list(schema.fields) + list(new_fields)).json()
    m["used_physical"] = used_list
    if pmap:
        m["physical_names"] = pmap


def alter_add_column(
    spark: SparkSession, table_path: str, col_name: str, type_ddl: str
) -> int:
    """Single-column convenience form of ``alter_add_columns``."""
    return alter_add_columns(spark, table_path, f"{col_name} {type_ddl}")


def _evolve_partition_spec(
    spark: SparkSession, table_path: str, m: dict, new_fields: list[str], operation: str
) -> int:
    """Commit a METADATA-ONLY spec change: the file list carries
    verbatim (zero data rewritten — the whole point at 100 TB), the
    spec history gains the new field list (or reuses an identical
    earlier vintage), and ``partition_by`` — what every WRITE path
    stages under — flips to the new fields. Old files keep pruning
    under their own vintage because per-file partition values and
    stats were recorded at THEIR write time and min/max pruning is
    per-file; reads group scans by path-derived vintage
    (``_read_files``)."""
    specs = [dict(s) for s in _partition_specs(m)]
    for s in specs:
        if list(s["fields"]) == new_fields:
            new_id = s["spec_id"]
            break
    else:
        new_id = max(s["spec_id"] for s in specs) + 1
        specs.append({"spec_id": new_id, "fields": list(new_fields)})
    manifest = _child(
        m, operation,
        partition_by=list(new_fields),
        partition_specs=specs,
        default_spec_id=new_id,
    )
    return _commit_carry(spark, table_path, m, manifest)


def alter_add_partition_field(
    spark: SparkSession, table_path: str, col_name: str
) -> int:
    """``ALTER TABLE t ADD PARTITION FIELD col`` — Iceberg-style
    partition-spec evolution (r11): future writes partition by the
    extended field list; EXISTING files never rewrite (their vintage
    is their path shape, and their copy of ``col`` stays in the data
    bytes where footer stats already prune on it). The reference's
    only layout-change answer is a full reload (``pipeline.py:213``);
    this is the zero-rewrite alternative a 100 TB table needs.

    Refusals where soundness demands: unknown columns, columns
    already in the current spec, bucket columns (bucket assignment
    pins file membership by hash — partitioning by one would put
    every partition's rows in one bucket per partition, the same
    refusal ``create`` makes), renamed columns (partition directory
    names are raw physical strings that column mapping cannot reach),
    and non-atomic types (Spark cannot partition by them)."""
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    schema = _snapshot_schema(m)
    if col_name not in schema.fieldNames():
        raise ValueError(f"column {col_name} does not exist")
    cur = list(m.get("partition_by") or [])
    if col_name in cur:
        raise ValueError(f"{col_name} is already a partition field")
    bspec_ = m.get("bucket_by") or {}
    if col_name in bspec_.get("columns", []) or col_name in (
        bspec_.get("sort_by") or []
    ):
        raise ValueError(
            f"cannot partition by bucket/sort column {col_name}: bucket "
            "assignment pins file membership by key hash"
        )
    if col_name in _phys_map(m):
        raise ValueError(
            f"cannot partition by renamed column {col_name}: partition "
            "directory names bypass column mapping (rebuild to re-layout)"
        )
    t = schema[col_name].dataType.simpleString()
    if "<" in t:
        raise ValueError(f"cannot partition by non-atomic column {col_name} ({t})")
    return _evolve_partition_spec(
        spark, table_path, m, cur + [col_name], f"add_partition_field_{col_name}"
    )


def alter_drop_partition_field(
    spark: SparkSession, table_path: str, col_name: str
) -> int:
    """``ALTER TABLE t DROP PARTITION FIELD col`` — the inverse
    evolution: future writes stop partitioning by ``col`` (its values
    return to the data bytes of new files); existing files keep their
    directory layout and keep pruning under it. Metadata-only, zero
    rewrite."""
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    cur = list(m.get("partition_by") or [])
    if col_name not in cur:
        raise ValueError(
            f"{col_name} is not a partition field (current spec: {cur})"
        )
    return _evolve_partition_spec(
        spark,
        table_path,
        m,
        [c for c in cur if c != col_name],
        f"drop_partition_field_{col_name}",
    )


def _snapshot_counts(spark: SparkSession, table_path: str, m: dict) -> tuple:
    """(n_files, n_rows, n_rows_live) of a manifest PROPER — from the
    commit-time stamps when present (r12 n_files / r13 n_rows*; zero
    shard reads), expanding the file list only for legacy manifests
    that predate the stamps."""
    if m.get("n_files") is not None and m.get("n_rows") is not None:
        return (
            int(m["n_files"]),
            int(m["n_rows"]),
            int(m.get("n_rows_live", m["n_rows"])),
        )
    full = (
        _load_manifest(spark, table_path, m["snapshot_id"])
        if "files" not in m
        else m
    )
    return (
        len(full["files"]),
        sum(f["rows"] for f in full["files"]),
        sum(
            f["rows"] - ((f.get("dv") or {}).get("count") or 0)
            for f in full["files"]
        ),
    )


def history(spark: SparkSession, table_path: str) -> list[dict]:
    """One dict per snapshot: id, operation, file count, physical row
    count, LIVE row count (physical minus deletion-vector masks), and
    the commit timestamp. Reads manifest PROPERS only on r13+ tables
    (counts are stamped at commit) — O(snapshots) driver work with
    zero shard expansion, which is what keeps DESCRIBE HISTORY flat on
    a streaming table with thousands of per-batch commits."""
    out = []
    for n in _list_snapshots(spark, table_path):
        m = _load_manifest_meta(spark, table_path, n)
        n_files, n_rows, n_live = _snapshot_counts(spark, table_path, m)
        out.append(
            {
                "snapshot_id": n,
                "operation": m["operation"],
                "n_files": n_files,
                "n_rows": n_rows,
                "n_rows_live": n_live,
                "committed_at": m.get("committed_at"),
            }
        )
    return out


def describe_detail(spark: SparkSession, table_path: str) -> dict:
    """Delta's ``DESCRIBE DETAIL`` surface: one dict of table-level
    facts — format, location, snapshot id, created / last-modified
    commit timestamps, partition and bucket columns, file and row
    counts, on-disk data size, write mode, and counts of tags and
    declared constraints. Metadata-only: two manifest PROPERS (counts
    come from commit-time stamps; legacy tables fall back to one
    expansion) plus ONE FS content-summary call for bytes — no data
    file opens."""
    snaps = _list_snapshots(spark, table_path)
    if not snaps:
        raise CowTableNotFound(table_path)
    m = _load_manifest_meta(spark, table_path, snaps[-1])
    first = _load_manifest_meta(spark, table_path, snaps[0])
    n_files, n_rows, n_live = _snapshot_counts(spark, table_path, m)
    fs, _ = _fs(spark, table_path)
    ddir = _jpath(spark, f"{table_path}/{DATA_DIR}")
    size = fs.getContentSummary(ddir).getLength() if fs.exists(ddir) else 0
    bspec = _bucket_spec(m)
    return {
        "format": "cow",
        "location": table_path,
        "snapshot_id": m["snapshot_id"],
        "created_at": first.get("committed_at"),
        "last_modified": m.get("committed_at"),
        "partition_columns": list(m.get("partition_by") or []),
        "bucket_columns": list(bspec[0]) if bspec else [],
        "num_files": n_files,
        "num_rows": n_rows,
        "num_rows_live": n_live,
        "size_in_bytes": int(size),
        "write_mode": m.get("write_mode") or "cow",
        "num_tags": len(m.get("tags") or {}),
        "num_check_constraints": len(m.get("check_constraints") or {}),
        "num_snapshots": len(snaps),
    }


def metadata_files(
    spark: SparkSession, table_path: str, snapshot: int | None = None
) -> DataFrame:
    """The ``files`` metadata table (Iceberg's ``table.files``): one
    row per data-file entry of the snapshot — name, partition values
    (JSON), physical and live row counts, deletion-vector reference,
    and the per-column min/max stats (JSON). Driver-side O(files)
    manifest data, no data file is opened; the observability surface
    every lake format exposes for debugging pruning and file layout."""
    n = snapshot if snapshot is not None else current_snapshot(spark, table_path)
    m = _load_manifest(spark, table_path, n)
    # spec vintage (r11 partition evolution): a file's spec is its
    # path shape; map it back to the manifest's spec ids so users can
    # see which files still carry an old layout (compact() migrates)
    by_fields = {
        tuple(s["fields"]): s["spec_id"] for s in _partition_specs(m)
    }
    rows = [
        (
            e["name"],
            json.dumps(e.get("partition") or {}, sort_keys=True),
            by_fields.get(_part_keys(e["name"]), -1),
            e["rows"],
            e["rows"] - ((e.get("dv") or {}).get("count") or 0),
            (e.get("dv") or {}).get("name"),
            ((e.get("dv") or {}).get("count") or 0),
            json.dumps(e.get("stats") or {}, sort_keys=True, default=str),
        )
        for e in m["files"]
    ]
    return local_frame(
        spark,
        rows,
        "file string, partition string, spec_id int, rows long,"
        " live_rows long, dv_file string, dv_rows long, stats string",
    )


def metadata_history(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``history``/``snapshots`` metadata table: ``history()`` as
    a DataFrame for SQL consumption."""
    rows = [
        (
            h["snapshot_id"],
            h["operation"],
            h["n_files"],
            h["n_rows"],
            h["n_rows_live"],
            h["committed_at"],
        )
        for h in history(spark, table_path)
    ]
    return local_frame(
        spark,
        rows,
        "snapshot_id long, operation string, n_files long, n_rows long,"
        " n_rows_live long, committed_at string",
    )


def reorg_purge(
    spark: SparkSession, table_path: str, min_dv_ratio: float = 0.0
) -> dict:
    """``REORG TABLE ... APPLY (PURGE)`` (Delta's DV materialization):
    rewrite ONLY the files carrying deletion vectors — optionally only
    those at least ``min_dv_ratio`` deleted — into clean files with no
    mask. Unlike full ``compact()`` the cost is O(DV'd file bytes):
    untouched entries (the vast majority at 100 TB) carry over
    verbatim. The MOR lifecycle closer: accumulate cheap DV deletes,
    purge the heavily-masked files off-peak, let ``vacuum`` reclaim
    the orphaned DV files. Content-identical (``changes()`` across the
    commit yields zero rows)."""
    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    targets = [
        e
        for e in m["files"]
        if e.get("dv") and e["dv"]["count"] / e["rows"] >= min_dv_ratio
    ]
    if not targets:
        return _unchanged(m)
    live = _read_entries(spark, table_path, m, targets)
    return _rewrite_commit(
        spark, table_path, m, {e["name"] for e in targets}, live, None, "reorg_purge"
    )


def _affected_files(
    spark: SparkSession,
    table_path: str,
    m: dict,
    cond,
    condition_str: str,
    candidates: list[dict] | None = None,
) -> set[str]:
    """Names of data files containing >=1 row matching ``cond`` (the
    probe: two Spark jobs under AQE).

    Two pruning layers before any data is read: (1) MANIFEST stats —
    files whose min/max ranges refute the condition's recognized
    conjuncts are skipped without opening them (the Iceberg move);
    ``candidates`` passes in a ``stats_candidate_files`` result the
    caller already holds; (2) the exact predicate scan over the
    surviving candidates is column-pruned by Catalyst and
    row-group-skipped by parquet footer stats. The scan keeps selection
    exact whatever the predicate. COW DELETE/UPDATE probe unless the
    stats leave one small candidate (see ``_cow_rewrite``)."""
    if candidates is None:
        candidates = stats_candidate_files(m, condition_str)
    if not candidates:
        return set()
    # basenames are snapshot-scoped-unique; map them back to the
    # manifest names (which carry partition subdirectories). The scan
    # is DV-aware: rows already deleted by a merge-on-read commit must
    # not pull their file into a rewrite.
    base_to_name = {c["name"].rsplit("/", 1)[-1]: c["name"] for c in candidates}
    cur = _read_entries(spark, table_path, m, candidates, lineage=True)
    rows = cur.filter(cond).select("_cow_file").distinct().collect()
    return {base_to_name[r["_cow_file"]] for r in rows}


def _rebase_head(
    spark: SparkSession,
    table_path: str,
    m: dict,
    affected: set[str],
    condition_str: str | None = None,
    conjuncts: list | None = None,
) -> dict | None:
    """Delta-style conflict resolution for a predicate DML that lost
    the optimistic-commit race: the HEAD manifest if rebasing onto it
    is PROVABLY safe, else None (caller re-raises). A statement with
    neither a predicate (``condition_str``) nor a key envelope
    (``conjuncts``) never rebases. Safe means the winner's commit
    cannot interact with our statement:

    - table metadata unchanged (schema, partitioning, blooms,
      constraints, column mapping, write mode) — a concurrent ALTER
      invalidates our staged files;
    - every file we read-and-rewrote (or DV-masked) is byte-identical
      in head, same deletion vector — the winner touched OTHER files;
    - every file the winner ADDED is stat-REFUTED by our predicate
      (``stats_candidate_files`` over just the added entries is
      empty) — otherwise the winner may have introduced rows our
      DELETE/UPDATE should have matched, and rebasing would silently
      miss them (the ConcurrentAppend conflict, detected exactly the
      way Delta does, via file stats). An unparseable predicate
      prunes nothing, so added files always conflict — sound.

    Winner-REMOVED or winner-modified files outside our affected set
    are safe by construction: removal only deletes rows (cannot
    create a match), and modification = remove + stat-checked add."""
    if condition_str is None and conjuncts is None:
        return None
    head = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    for k in (
        "schema",
        "partition_by",
        "bloom_columns",
        "check_constraints",
        "physical_names",
        "write_mode",
        # r11: a concurrent partition evolution that round-trips back
        # to the same partition_by still changes the spec history —
        # refuse the rebase rather than commit under a stale spec view
        "partition_specs",
        "default_spec_id",
    ):
        if (m.get(k) or None) != (head.get(k) or None):
            return None
    m_by_name = {f["name"]: f for f in m["files"]}
    h_by_name = {f["name"]: f for f in head["files"]}
    for n in affected:
        if n not in h_by_name or h_by_name[n] != m_by_name.get(n):
            return None
    added = [f for n, f in h_by_name.items() if n not in m_by_name]
    if added:
        if condition_str is not None:
            if stats_candidate_files({**head, "files": added}, condition_str):
                return None
        elif conjuncts is not None:
            # MERGE's refutation: the source-key min/max envelope. A
            # winner-added file whose key range intersects it could
            # hold rows our matched/not-matched split mis-classified
            # (the ConcurrentAppend conflict); an empty-envelope merge
            # (conjuncts == []) prunes nothing, so added files always
            # conflict — sound.
            if not conjuncts or any(_file_may_match(f, conjuncts) for f in added):
                return None
    return head


def _unchanged(m: dict, **extra) -> dict:
    """The stats of a write that commits nothing over ``m``."""
    return {
        "snapshot_id": m["snapshot_id"],
        "files_rewritten": 0,
        "files_untouched": len(m["files"]),
        "files_written": 0,
        **extra,
    }


def _rewrite_commit(
    spark: SparkSession,
    table_path: str,
    m: dict,
    affected: set[str],
    rewritten: DataFrame | None,
    appended: DataFrame | None,
    operation: str,
    rebase_condition: str | None = None,
    rebase_conjuncts: list | None = None,
    matched: Observation | None = None,
) -> dict:
    """Snapshot N+1 = (files - affected) + rewrite(affected) +
    appended. Returns commit stats. ``rebase_condition`` (predicate
    DML) or ``rebase_conjuncts`` (MERGE's source-key envelope) opt
    into conflict rebase on a lost commit race — see _rebase_head.

    ``matched`` is an unprobed rewrite's count of matching rows,
    observed on ``rewritten`` (metric ``n``) by the staging write
    itself: when it is 0 nothing is published, the staged files are
    deleted, and the stats are ``_unchanged(m)``."""
    snap = m["snapshot_id"] + 1
    checks = m.get("check_constraints") or None
    # CHECK enforcement happens on the STAGED files (one read of only
    # the new files, after staging — the validated rows are exactly
    # the bytes that land), and only for content-introducing frames:
    # delete's survivors, compact's carried rows, and replace_where's
    # kept (non-matching) rows were already valid at their own commit.
    # replace_where's NEW data arrives via `appended`, always checked.
    rewritten_introduces = operation not in (
        "delete",
        "compact",
        "replace_where",
        "reorg_purge",  # carries already-valid live rows, like compact
    )

    def stage(c: _Commit) -> None:
        if (
            rewritten is not None
            and appended is not None
            # on a CONSTRAINED table replace_where must not fuse: its kept
            # survivors are validation-exempt and fusing would drag them
            # into the staged-validation read; without constraints the
            # fused single staging job is always the cheaper plan
            and (rewritten_introduces or not checks)
            and rewritten.dtypes == appended.dtypes
        ):
            # one staging write + ONE per-file stats job instead of two —
            # MERGE always lands here (both frames carry the manifest
            # schema after the source cast); both sides introduce content;
            # CHECK validation rides the staging value pass (r15)
            c.entries += _stage_files(
                spark, table_path, rewritten.unionByName(appended), snap, m, checks
            )
            return
        if rewritten is not None:
            # delete/compact/replace_where survivors were valid at
            # their own commit — validation-exempt
            c.entries += _stage_files(
                spark, table_path, rewritten, snap, m,
                checks if rewritten_introduces else None,
            )
        if appended is not None:
            c.entries += _stage_files(spark, table_path, appended, snap, m, checks)

    def child(c: _Commit) -> dict | None:
        if matched is not None and not matched.get["n"]:
            return None
        untouched = [f for f in c.head["files"] if f["name"] not in affected]
        manifest = _child(c.head, operation, files=untouched + c.entries)
        _advance_identity(manifest, c.head, c.entries)
        if not untouched:
            # a FULL rewrite (compact of every file): all surviving bytes
            # were just staged under the current schema — no pre-widening
            # vintage remains, so the raw-scan refusal marker lifts
            manifest.pop("widened_columns", None)
        return manifest

    c = _optimistic_commit(
        spark, table_path, m, stage, child,
        lambda head: _rebase_head(
            spark, table_path, head, affected, rebase_condition, rebase_conjuncts
        ),
    )
    if c.manifest is None:
        return _unchanged(m)
    stats = {
        "snapshot_id": c.manifest["snapshot_id"],
        "files_rewritten": len(affected),
        "files_untouched": len(c.manifest["files"]) - len(c.entries),
        "files_written": len(c.entries),
    }
    if c.head is not m:
        stats["rebased"] = True
    return stats


def _resolve_mode(m: dict, mode: str | None) -> str:
    """Per-call ``mode`` wins; else the table's declared
    ``write_mode``; else copy-on-write."""
    eff = mode or m.get("write_mode") or "cow"
    if eff not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    return eff


def _write_dv_file(spark: SparkSession, table_path: str, dv_df: DataFrame, snap: int) -> str:
    """Persist (file, pos) deleted-position pairs as ONE deletion-
    vector parquet under ``_dv/`` and return its name. One DV file per
    MOR commit — the positions set is O(rows deleted by this commit),
    tiny next to the data it spares from rewrite, so funneling it
    through one task (repartition(1)) is the right trade; a production
    format would pack per-file roaring bitmaps instead (documented in
    the module docstring). Sorted by (file, pos) so parquet row-group
    stats make the per-file probe a contiguous range."""
    staging = f"{table_path}/_staging-dv-{uuid.uuid4().hex}"
    fs, _ = _fs(spark, table_path)
    name = f"dv-snap{snap:08d}-{uuid.uuid4().hex[:12]}.parquet"
    try:
        (
            dv_df.select("file", "pos")
            .repartition(1)
            .sortWithinPartitions("file", "pos")
            .write.mode("overwrite")
            .parquet(staging)
        )
        fs.mkdirs(_jpath(spark, f"{table_path}/{DV_DIR}"))
        it = fs.listFiles(_jpath(spark, staging), False)
        while it.hasNext():
            p = it.next().getPath()
            if p.getName().endswith(".parquet"):
                if not fs.rename(p, _jpath(spark, f"{table_path}/{DV_DIR}/{name}")):
                    raise IOError(f"failed to publish deletion vector {name}")
                return name
        raise IOError("deletion-vector staging produced no parquet file")
    finally:
        fs.delete(_jpath(spark, staging), True)


def _mor_commit(
    spark: SparkSession,
    table_path: str,
    m: dict,
    cond: Column,
    condition_str: str,
    assignments: dict[str, str] | None,
    operation: str,
) -> dict:
    """Merge-on-read DELETE (``assignments=None``) or UPDATE: commit
    snapshot N+1 where matched rows are masked by a deletion vector —
    no data file is rewritten. Manifest-stat pruning bounds the match
    scan exactly like COW's affected-file detection; files whose every
    remaining live row is deleted drop out of the snapshot entirely
    (no point carrying an entry just to mask 100% of it). UPDATE
    additionally appends the transformed rows as new files, CHECK-
    validated like any content-introducing write."""
    candidates = stats_candidate_files(m, condition_str)
    if not candidates:
        return _unchanged(m, files_dv=0, rows_deleted=0)
    # live rows only: positions already masked by an earlier MOR
    # commit must not be re-recorded (the per-file union below would
    # double-count them against the full-file-deletion check)
    scan = _read_entries(spark, table_path, m, candidates, lineage=True)
    matched = scan.filter(F.coalesce(cond, F.lit(False)))
    new_pos = matched.select(
        F.col("_cow_file").alias("file"), F.col("_cow_pos").alias("pos")
    )
    if assignments is not None:
        # CAST each assignment through the manifest schema: the staged
        # parquet must carry the table's physical types (an uncast
        # "-1.0" is a DECIMAL literal whose unscaled bytes a
        # manifest-schema double read would misinterpret) — the same
        # source cast append/merge apply
        appended = matched.select(
            *[
                (
                    F.expr(assignments[f.name])
                    if f.name in assignments
                    else F.col(f.name)
                )
                .cast(f.dataType)
                .alias(f.name)
                for f in _snapshot_schema(m).fields
            ]
        )
    else:
        appended = None
    return _mor_assemble(
        spark, table_path, m, new_pos, appended, operation,
        rebase_condition=condition_str,
    )


def _mor_assemble(
    spark: SparkSession,
    table_path: str,
    m: dict,
    new_pos: DataFrame,
    appended: DataFrame | None,
    operation: str,
    rebase_condition: str | None = None,
) -> dict:
    """Shared MOR commit assembly: ``new_pos`` = (file basename, pos)
    of the rows this commit deletes (all must be LIVE under ``m``),
    ``appended`` = optional replacement/new rows to stage as fresh
    files. Writes the commit's DV file (old positions of re-affected
    files folded in), drops 100%-deleted entries, stages + CHECK-
    validates the appended frame, commits. Commits nothing when
    nothing matched."""
    snap = m["snapshot_id"] + 1
    # r14 (guide §2.4/§5): new_pos feeds BOTH the per-file count probe
    # and the DV write (and derives from the full match scan / merge
    # join) — left lazy, that upstream scan evaluates once per
    # consumer. Materialize the (file, pos) pairs once; they are
    # O(rows deleted by this commit), tiny next to the scan they
    # spare. Blocks are freed before returning (try/finally below).
    from .plans import free_local_checkpoints

    new_pos = new_pos.select("file", "pos").localCheckpoint(eager=True)
    try:
        new_counts = {
            r["file"]: r["n"]
            for r in new_pos.groupBy("file").agg(F.count("*").alias("n")).collect()
        }
        unchanged = _unchanged(m, files_dv=0, rows_deleted=0)
        if not new_counts and appended is None:
            return unchanged
        affected = [
            e for e in m["files"] if e["name"].rsplit("/", 1)[-1] in new_counts
        ]
        gone: set[str] = set()  # entries whose every live row is now deleted
        kept_affected: list[dict] = []
        for e in affected:
            base = e["name"].rsplit("/", 1)[-1]
            total = new_counts[base] + ((e.get("dv") or {}).get("count") or 0)
            if total >= e["rows"]:
                gone.add(e["name"])
            else:
                kept_affected.append((e, total))
        affected_names = {e["name"] for e in affected}

        def stage(c: _Commit) -> None:
            if kept_affected:
                kept_bases = [e["name"].rsplit("/", 1)[-1] for e, _ in kept_affected]
                dv_df = new_pos.filter(F.col("file").isin(kept_bases))
                old_pos = _dv_positions_df(
                    spark, table_path, [e for e, _ in kept_affected if e.get("dv")]
                )
                if old_pos is not None:
                    dv_df = dv_df.unionAll(old_pos)
                c.dv = _write_dv_file(spark, table_path, dv_df, snap)
            if appended is not None:
                # CHECK validation rides the staging value pass (r15)
                c.entries = _stage_files(
                    spark, table_path, appended, snap, m,
                    m.get("check_constraints") or None,
                )

        def child(c: _Commit) -> dict | None:
            if not new_counts and not c.entries:
                return None  # merge matched nothing and inserted nothing
            ours = [
                {**e, "dv": {"name": c.dv, "count": total}}
                for e, total in kept_affected
            ]
            manifest = _child(
                c.head, operation,
                files=[e for e in c.head["files"] if e["name"] not in affected_names]
                + ours
                + c.entries,
            )
            _advance_identity(manifest, c.head, c.entries)
            return manifest

        c = _optimistic_commit(
            spark, table_path, m, stage, child,
            lambda head: _rebase_head(
                spark, table_path, head, affected_names, rebase_condition
            ),
        )
        if c.manifest is None:
            return unchanged
        stats = {
            "snapshot_id": c.manifest["snapshot_id"],
            "files_rewritten": 0,
            "files_untouched": len(c.manifest["files"])
            - len(kept_affected)
            - len(c.entries),
            "files_written": len(c.entries),
            "files_dv": len(kept_affected),
            "files_removed": len(gone),
            "rows_deleted": int(sum(new_counts.values())),
            "dv_file": c.dv,
        }
        if c.head is not m:
            stats["rebased"] = True
        return stats
    finally:
        free_local_checkpoints(new_pos)


# Largest single candidate (rows) rewritten without the probe. A
# no-match rewrite costs more than the probe it skips, the more so the
# bigger the file; a match saves the probe, ~0.2-0.3 s at any size.
# Measured warm at local[4], median of 7: the no-match extra reached
# the match saving at ~50k rows of a 7-column file of ~61 B/row and at
# 62-100k rows of an 11-column lineitem file of ~17 B/row.
_UNPROBED_MAX_ROWS = 50_000


def _cow_rewrite(
    spark: SparkSession,
    table_path: str,
    m: dict,
    cond: Column,
    condition: str,
    operation: str,
    rewrite,
) -> dict:
    """Copy-on-write DELETE/UPDATE: stage ``rewrite(rows)`` for the
    files holding a match and commit them over ``m``.

    Manifest stats pick the candidate files once. Several candidates,
    or one of more than ``_UNPROBED_MAX_ROWS`` rows, are probed
    (``_affected_files``, two jobs) so only the files that really match
    are rewritten. A single smaller candidate is not probed: its
    rewrite is staged directly, and the staging write's own job counts
    the matching rows (an ``Observation`` of ``count_if(cond)`` on the
    rows before ``rewrite``). When that count is 0, ``_rewrite_commit``
    publishes nothing and deletes the staged file. Matched or not, the
    statement costs one Spark job instead of three."""
    candidates = stats_candidate_files(m, condition)
    matched = None
    if len(candidates) == 1 and candidates[0]["rows"] <= _UNPROBED_MAX_ROWS:
        affected = {candidates[0]["name"]}
        matched = Observation()
        rows = _read_entries(spark, table_path, m, candidates).observe(
            matched, F.count_if(cond).alias("n")
        )
    else:
        affected = _affected_files(spark, table_path, m, cond, condition, candidates)
        if not affected:
            return _unchanged(m)
        rows = _read_entries(spark, table_path, m, _entries_for(m, affected))
    return _rewrite_commit(
        spark, table_path, m, affected, rewrite(rows), None, operation,
        rebase_condition=condition, matched=matched,
    )


def delete(
    spark: SparkSession, table_path: str, condition: str, mode: str | None = None
) -> dict:
    """DELETE FROM table WHERE condition. ``mode=None`` uses the
    table's declared ``write_mode`` (default copy-on-write):

    - ``"cow"`` rewrites only the files that contain matching rows.
      The files come from manifest stats; several candidates, or one
      large one, are probed first, a single small one is rewritten
      unprobed and kept when nothing in it matched (``_cow_rewrite``).
    - ``"mor"`` (merge-on-read) rewrites NOTHING: one deletion-vector
      file records the matched row positions and the affected
      manifest entries point at it — see the module docstring. The
      selective-delete path at 100 TB (GDPR erasure, late-event
      retractions); bulk deletes should stay COW.
    """
    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    cond = F.expr(condition)
    if _resolve_mode(m, mode) == "mor":
        return _mor_commit(spark, table_path, m, cond, condition, None, "mor_delete")
    # SQL DELETE removes rows where the predicate is TRUE and KEEPS
    # rows where it is NULL; a bare ``filter(~cond)`` would drop the
    # NULL rows too (three-valued logic) — e.g. "DELETE WHERE
    # priority = 42" must not delete every priority-IS-NULL row.
    return _cow_rewrite(
        spark, table_path, m, cond, condition, "delete",
        lambda rows: rows.filter(~F.coalesce(cond, F.lit(False))),
    )


def insert_overwrite_dynamic(
    spark: SparkSession, table_path: str, rows: DataFrame
) -> dict:
    """Spark's DYNAMIC partition-overwrite mode on a COW table: the
    payload's partitions — and only those — are replaced wholesale;
    every other partition is untouched. Semantically this needs NO
    row-level predicate at all: a dynamic overwrite drops every file
    whose manifest partition values appear in the payload's distinct
    partition set (pure metadata — no survivor scan, no rewrite) and
    appends the staged payload. Driver cost is O(#payload partitions)
    collected values, bounded by the write itself. One atomic commit;
    a concurrent-commit race refuses loudly (no stat envelope can
    prove a winner's files outside the replaced partitions)."""
    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    parts = m.get("partition_by") or []
    if not parts:
        raise ValueError(
            "dynamic INSERT OVERWRITE requires a partitioned table "
            "(unpartitioned overwrite replaces the whole table — use "
            "the static mode)"
        )
    if any(_part_keys(f["name"]) != tuple(parts) for f in m["files"]):
        # partition evolution: a pre-evolution file holds rows of MANY
        # current-spec partition values (it has none recorded), so
        # membership in the payload's partition set is undecidable —
        # dropping it would delete unrelated rows. Same rule as
        # bucketed_view: compact() migrates vintages, then retry.
        raise ValueError(
            "dynamic INSERT OVERWRITE requires every file under the "
            "current partition spec — run compact() to migrate older "
            "vintages first"
        )
    schema = _snapshot_schema(m)
    rows = _insert_rows(m, rows, "inserted by dynamic overwrite")
    # generated partition columns materialize before the distinct so
    # the replaced-partition set matches what staging will write
    rows = _apply_generated(rows, m.get("generated_columns"))
    touched = {
        tuple(_stat_val(r[c]) for c in parts)
        for r in rows.select(*parts).distinct().collect()
    }
    if not touched:
        return _unchanged(m)

    # membership testing compares typed payload values (_stat_val)
    # against typed partition stats (min==max==the value). A partition
    # column whose type records no stats (boolean/decimal/...), or a
    # file entry missing the stat (an uncanonicalizable timestamp dir),
    # would force a raw-dir-string comparison that NEVER matches the
    # typed side — the overwrite would silently degrade to an append
    # (duplicate rows). Refuse loudly instead, like the
    # mixed-spec-vintage check above.
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    unstattable = [c for c in parts if dtypes.get(c) not in _STATS_TYPES]
    if unstattable:
        raise ValueError(
            f"dynamic INSERT OVERWRITE cannot prove partition "
            f"membership for column(s) {unstattable} (type outside the "
            f"stats domain {list(_STATS_TYPES)}) — use replace_where or "
            "the static mode"
        )

    def _entry_tuple(e: dict) -> tuple:
        pv = e.get("partition") or {}
        out = []
        for c in parts:
            v = pv.get(c)
            if v == "__HIVE_DEFAULT_PARTITION__":
                out.append(None)
            else:
                s = e.get("stats", {}).get(c)
                if not s:
                    raise ValueError(
                        f"dynamic INSERT OVERWRITE: file {e['name']!r} "
                        f"records no typed stat for partition column "
                        f"{c!r} (dir value {v!r} did not canonicalize) "
                        "— compact() the table or use replace_where"
                    )
                out.append(s[0])
        return tuple(out)

    affected = {f["name"] for f in m["files"] if _entry_tuple(f) in touched}
    return _rewrite_commit(
        spark, table_path, m, affected, None, rows, "insert_overwrite",
    )


def replace_where(
    spark: SparkSession,
    table_path: str,
    condition: str,
    rows: DataFrame,
    validate: bool = True,
) -> dict:
    """Atomic overwrite-by-filter (Delta ``replaceWhere`` / Iceberg
    overwrite-by-expression): ONE commit deletes every row matching
    ``condition`` and appends ``rows`` — the idiomatic daily-partition
    reload at 100 TB (``replace_where(t, "ds = '2026-08-14'",
    recomputed_day)`` rewrites only that day's files; on a partitioned
    table the partition values prune before stats even load a
    candidate). A reader sees either the old day or the new day,
    never a mix — unlike a DELETE followed by an INSERT, which
    publishes the gap between the two commits.

    ``validate=True`` (the Delta default) rejects new rows that do
    NOT satisfy ``condition`` — one cheap agg over the incoming data;
    it is what keeps "reload day X" from silently smuggling day-Y
    rows past the predicate everyone queries by."""
    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    cond = F.expr(condition)
    # content-introducing path: same identity + DEFAULT semantics as
    # append (explicit identity values refuse, fresh ones allocate,
    # omitted defaulted columns fill — Spark 3.4 applies defaults to
    # INSERT ... REPLACE WHERE too)
    rows = _insert_rows(m, rows, "inserted by replace_where")
    if validate:
        bad = rows.filter(~F.coalesce(cond, F.lit(False))).count()
        if bad:
            raise ValueError(
                f"replace_where: {bad} incoming rows violate {condition!r} "
                "(pass validate=False to overwrite anyway)"
            )
    affected = _affected_files(spark, table_path, m, cond, condition)
    survivors = (
        _read_entries(spark, table_path, m, _entries_for(m, affected)).filter(
            ~F.coalesce(cond, F.lit(False))
        )
        if affected
        else None
    )
    return _rewrite_commit(
        spark, table_path, m, affected, survivors, rows, "replace_where",
        rebase_condition=condition,
    )


def update(
    spark: SparkSession,
    table_path: str,
    condition: str,
    assignments: dict[str, str],
    mode: str | None = None,
) -> dict:
    """UPDATE table SET col = expr, ... WHERE condition. ``mode=None``
    uses the table's declared ``write_mode`` (default copy-on-write):

    - ``"cow"`` rewrites only the files that contain matching rows;
      non-matching rows in those files are carried over unchanged.
      The files come from manifest stats; several candidates, or one
      large one, are probed first, a single small one is rewritten
      unprobed and kept when nothing in it matched (``_cow_rewrite``).
    - ``"mor"`` (merge-on-read) marks the matched rows deleted in a
      deletion vector and APPENDS the transformed rows as new files —
      Delta's DV update. Cost is O(matched rows), not O(affected
      file bytes): updating 100 rows spread across 100 multi-GB files
      writes one positions file plus 100 rows, instead of rewriting
      100 files.
    """
    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    _refuse_explicit_identity(m, list(assignments), "UPDATEd")
    cond = F.expr(condition)
    if _resolve_mode(m, mode) == "mor":
        return _mor_commit(
            spark, table_path, m, cond, condition, assignments, "mor_update"
        )
    cols = [
        F.when(cond, F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
        if c in assignments
        else c
        for c in _snapshot_schema(m).fieldNames()
    ]
    return _cow_rewrite(
        spark, table_path, m, cond, condition, "update",
        lambda rows: rows.select(*cols),
    )


def _q(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _paren(spark: SparkSession, sql: str) -> str:
    """A caller's SQL expression text, safe to embed in a larger one.
    Spark's parser must take it alone (one py4j round trip, raising
    ``ParseException`` otherwise), so it closes every parenthesis,
    quote and comment it opens and cannot reshape the text around it.
    The space and newline end a trailing ``--`` comment, even one whose
    last character is a backslash (which continues it onto the next
    line)."""
    h = _handles(spark)
    if "parser" not in h:
        h["parser"] = spark._jsparkSession.sessionState().sqlParser()
    h["parser"].parseExpression(sql)
    return f"({sql} \n)"


def _by_action(whens: list[tuple[int, str]], otherwise: str) -> str:
    """SQL text: the expression of the clause whose index is
    ``__action``, else ``otherwise``."""
    if not whens:
        return otherwise
    arms = " ".join(f"WHEN __action = {i} THEN {e}" for i, e in whens)
    return f"CASE {arms} ELSE {otherwise} END"


def _select_sql(df: DataFrame, exprs: dict[str, str], schema) -> DataFrame:
    """``df`` projected to ``{name: SQL expression text}``, each
    ``schema`` field cast to its type. One ``selectExpr`` plus a Column
    cast only where the result type differs: a Column built per output
    column costs dozens of py4j round trips, this a few per column."""
    out = df.selectExpr(*[f"{e} AS {_q(n)}" for n, e in exprs.items()])
    got = {f.name: f.dataType for f in out.schema.fields}
    casts = {
        f.name: F.col(_q(f.name)).cast(f.dataType)
        for f in schema.fields
        if f.name in got and got[f.name] != f.dataType
    }
    return out.withColumns(casts) if casts else out


def merge_upsert(
    spark: SparkSession, table_path: str, source: DataFrame, keys: list[str]
) -> dict:
    """Whole-row MERGE on ``keys``: :func:`merge` with ``UPDATE SET *``
    on a match and ``INSERT *`` otherwise."""
    return merge(
        spark, table_path, source, keys,
        [
            {"when": "matched", "then": "update", "set": "*"},
            {"when": "not_matched", "then": "insert", "values": "*"},
        ],
    )


def _refuse_source_refs(text: str, what: str) -> None:
    """NOT MATCHED BY SOURCE clauses act on target rows with NO
    source match — every ``s.*`` slot in the merge join is NULL for
    them by construction, so a source reference can only ever read
    NULL. Delta refuses such references outright and so do we.
    Word-boundary scan for ``s.`` outside single-quoted literals
    (mirrors the gate's alias rewriter so ``'s.'`` inside a string
    literal stays legal)."""
    in_quote = False
    i = 0
    while i < len(text):
        ch = text[i]
        if ch == "'":
            in_quote = not in_quote
            i += 1
            continue
        if not in_quote:
            # both the bare and the backtick-quoted alias forms count
            # (`s`.col resolves to the source exactly like s.col)
            mm = re.match(r"(?:s|`s`)\s*\.", text[i:], re.IGNORECASE)
            before_ok = i == 0 or not (
                text[i - 1].isalnum() or text[i - 1] in "_`."
            )
            if mm and before_ok:
                raise ValueError(
                    f"NOT MATCHED BY SOURCE {what} cannot reference the "
                    f"source (no source row exists for these target "
                    f"rows): {text!r}"
                )
        i += 1


def _key_candidates(
    spark: SparkSession,
    table_path: str,
    m: dict,
    keys: list[str],
    key_range,
    scan: bool = True,
):
    """Stat-prune ``m`` to the files that may hold a key inside the
    source's [lo, hi] envelope (``key_range`` carries ``__lo_<k>`` /
    ``__hi_<k>`` per key — an agg Row or dict) and open ONE
    lineage-bearing scan over them. The single definition of the
    candidate semantics shared by ``merge()``'s affected-file probe
    and SCD2's fused stale+affected probe (``operators/scd.py``), so
    the ``_probed`` contract can never silently diverge from what
    merge itself would have probed. Returns
    ``(conjuncts, candidates, basename->manifest-name, scan|None)``;
    pass ``scan=False`` to skip building the (driver-costly) reader
    when the caller only needs the pruning."""
    conjuncts: list[tuple[str, str, object]] = []
    for k in keys:
        lo, hi = key_range[f"__lo_{k}"], key_range[f"__hi_{k}"]
        if lo is None or hi is None:
            continue
        conjuncts.append((_phys_map(m).get(k, k), ">=", _stat_val(lo)))
        conjuncts.append((_phys_map(m).get(k, k), "<=", _stat_val(hi)))
    candidates = [f for f in m["files"] if _file_may_match(f, conjuncts)]
    base_to_name = {c["name"].rsplit("/", 1)[-1]: c["name"] for c in candidates}
    cur = (
        _read_entries(spark, table_path, m, candidates, lineage=True)
        if candidates and scan
        else None
    )
    return conjuncts, candidates, base_to_name, cur


def merge(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    keys: list[str],
    clauses: list[dict],
    mode: str | None = None,
    schema_evolution: bool = False,
    _probed: dict | None = None,
) -> dict:
    """Multi-clause MERGE — see :func:`_merge_impl` for the full
    semantics. This wrapper adds the r15 size-gated source
    materialization (guide §5): the probe, key-range aggregate,
    rewrite join and insert staging each re-evaluate the source frame
    (2-4 passes). A registered frame / simple scan re-evaluates
    cheaply and stays on the zero-materialization path; a subquery
    source (join, aggregate, window, explode, python map — detected
    on the optimized plan, with cached/checkpointed subtrees exempt)
    is localCheckpointed ONCE so every pass reads executor blocks,
    and the blocks are freed before returning (the cache-hygiene
    contract)."""
    from .plans import free_local_checkpoints, multipass_source_nodes

    ckpt = None
    if multipass_source_nodes(source):
        source = ckpt = source.localCheckpoint(eager=True)
    try:
        return _merge_impl(
            spark, table_path, source, keys, clauses, mode,
            schema_evolution, _probed,
        )
    finally:
        if ckpt is not None:
            free_local_checkpoints(ckpt)


def _merge_impl(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    keys: list[str],
    clauses: list[dict],
    mode: str | None = None,
    schema_evolution: bool = False,
    _probed: dict | None = None,
) -> dict:
    """Multi-clause MERGE (Delta/ANSI): ``clauses`` is an ordered
    list of

    - ``{"when": "matched", "and": <cond?>, "then": "update",
       "set": {col: expr} | "*"}``
    - ``{"when": "matched", "and": <cond?>, "then": "delete"}``
    - ``{"when": "not_matched", "and": <cond?>, "then": "insert",
       "values": {col: expr} | "*"}``
    - ``{"when": "not_matched_by_source", "and": <cond?>, "then":
       "update", "set": {col: expr}}`` / ``{"when":
       "not_matched_by_source", "then": "delete"}`` — Delta's WHEN
       NOT MATCHED BY SOURCE: acts on TARGET rows no source row
       matches (the sync/garbage-collect direction). No source row
       exists for these, so conditions and SET expressions may
       reference ``t`` only (``s.`` refs refused, like Delta) and
       ``"set": "*"`` is refused (nothing to copy).

    Conditions and expressions are SQL over the aliases ``t`` (target)
    and ``s`` (source) — e.g. ``"s.qty > t.qty"``. Per target row the
    FIRST applicable matched clause wins (SQL-standard order);
    unmatched target rows take the first applicable
    not_matched_by_source clause or carry over; each unmatched source
    row takes the first applicable not_matched clause or is discarded.

    Semantics guards, both Delta's: a target row matched by MORE THAN
    ONE source row is ambiguous when any matched clause exists —
    detected with one aggregate over the (file, pos) row identity and
    refused; and matched clauses see each target row at its CURRENT
    value (one pass — updates never cascade). With row-modifying
    clauses but NO matched clause (a NOT-MATCHED-BY-SOURCE-only
    merge), duplicate source keys are legal — the join runs against
    the DEDUPED key set so carried matched rows can never multiply.
    An INSERT-ONLY merge never rewrites a file at all (Delta's
    insert-only fast path): matched target rows are untouched by
    construction, so the affected-file scan serves only
    unmatched-source detection.

    Scale shape: candidates stat-pruned by the source keys' min/max
    envelope, an exact scan finds the files that actually hold
    matches, ONLY those rewrite; inserts are new files. Returns commit
    stats incl. ``files_scanned``.
    NOT MATCHED BY SOURCE semantically examines EVERY target row
    (rows are selected by the ABSENCE of a source match, so no key
    envelope can prune — Delta shares this property); the exam is one
    READ-ONLY scan, and only files actually holding a qualifying row
    rewrite (COW) or mask positions (MOR).

    ``mode="mor"`` — or the table's ``write_mode`` default — takes
    the deletion-vector path instead: rows hit by an update/delete
    clause are masked by position, updates and inserts append as new
    files, and NO existing file rewrites (the streaming CDC-apply
    shape: a trickle of matched rows against giant files).

    Concurrency: a lost commit race REBASES when provably safe —
    winner touched other files AND every winner-added file is
    stat-refuted by the source keys' min/max envelope (the same
    ConcurrentAppend rule predicate DML uses, ``_rebase_head``);
    an overlapping-key concurrent append still refuses loudly (the
    matched/unmatched split would be stale). With NOT MATCHED BY
    SOURCE clauses rebase is DISABLED entirely (refuse on any race):
    a concurrent append's rows are exactly the not-matching rows
    those clauses select, so no stat envelope can prove the winner's
    files irrelevant. The MOR masked-commit path (``_mor_assemble``)
    does not rebase yet — positions refer to the read snapshot's
    files."""
    from .plans import maybe_broadcast

    if not clauses:
        raise ValueError("MERGE requires at least one WHEN clause")
    for c in clauses:
        when = c.get("when")
        if when not in ("matched", "not_matched", "not_matched_by_source"):
            raise ValueError(
                f"clause 'when' must be matched/not_matched/"
                f"not_matched_by_source: {c}"
            )
        then = c.get("then")
        if when == "matched" and then not in ("update", "delete"):
            raise ValueError(f"matched clause 'then' must be update/delete: {c}")
        if when == "not_matched" and then != "insert":
            raise ValueError(f"not_matched clause 'then' must be insert: {c}")
        if when == "not_matched_by_source":
            if then not in ("update", "delete"):
                raise ValueError(
                    f"not_matched_by_source clause 'then' must be "
                    f"update/delete: {c}"
                )
            if then == "update" and not isinstance(c.get("set"), dict):
                raise ValueError(
                    "NOT MATCHED BY SOURCE UPDATE requires an explicit SET "
                    "list — there is no source row to copy, so SET * is "
                    f"meaningless: {c}"
                )
            if c.get("and"):
                _refuse_source_refs(c["and"], "condition")
            for e in (c.get("set") or {}).values():
                _refuse_source_refs(e, "SET expression")
    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    if schema_evolution:
        # WITH SCHEMA EVOLUTION (Delta): source columns the merge
        # writes but the target lacks are ADDED to the table schema in
        # THIS commit (nullable — pre-existing files NULL-fill on
        # read, zero rewrite outside the merge's own write set). New
        # columns come from SET */INSERT * expansion or an explicit
        # assignment naming a source column; an explicit assignment to
        # a name in NEITHER schema still refuses (no type to infer).
        from pyspark.sql.types import StructField

        tgt = set(_snapshot_schema(m).fieldNames())
        src_types = {f.name: f.dataType for f in source.schema.fields}
        wanted: dict[str, object] = {}
        star = any(
            (c.get("then") == "update" and (c.get("set") or "*") == "*")
            or (c.get("then") == "insert" and (c.get("values") or "*") == "*")
            for c in clauses
        )
        if star:
            for f in source.schema.fields:
                if f.name not in tgt:
                    wanted[f.name] = f.dataType
        for c in clauses:
            assigned = []
            if isinstance(c.get("set"), dict):
                assigned += list(c["set"])
            if isinstance(c.get("values"), dict):
                assigned += list(c["values"])
            for nm in assigned:
                if nm in tgt or nm in wanted:
                    continue
                if nm not in src_types:
                    raise ValueError(
                        f"schema evolution cannot infer a type for "
                        f"assigned column {nm!r}: it is in neither the "
                        "target schema nor the source"
                    )
                wanted[nm] = src_types[nm]
        if wanted:
            _evolve_schema_inplace(
                m,
                [StructField(nm, t, True) for nm, t in wanted.items()],
            )
            schema_evolved = True
        else:
            schema_evolved = False
    else:
        schema_evolved = False
    schema = _snapshot_schema(m)
    cols = schema.fieldNames()
    if not schema_evolution:
        # without evolution an explicit assignment to a column the
        # target lacks must refuse, not silently drop (Delta errors
        # here too; the projection below only materializes schema
        # fields, so a typo'd SET column would otherwise vanish)
        for c in clauses:
            assigned = []
            if isinstance(c.get("set"), dict):
                assigned += list(c["set"])
            if isinstance(c.get("values"), dict):
                assigned += list(c["values"])
            unknown = [nm for nm in assigned if nm not in cols]
            if unknown:
                raise ValueError(
                    f"MERGE assigns columns not in the target schema "
                    f"{unknown}; use schema_evolution=True (WITH SCHEMA "
                    "EVOLUTION) to add them"
                )
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"merge keys not in the table: {missing}")
    # cast the overlapping source columns through the manifest schema
    # (parquet physical-type safety); EXTRA source columns survive for
    # use in clause conditions/expressions
    src_cols = source.columns
    source = _select_sql(
        source,
        {
            c: _q(c)
            for c in [c for c in cols if c in src_cols]
            + [c for c in src_cols if c not in cols]
        },
        schema,
    )
    src_missing = [k for k in keys if k not in src_cols]
    if src_missing:
        raise ValueError(f"merge keys not in the source: {src_missing}")
    idset = set(m.get("identity_columns") or {})
    if idset:
        # GENERATED ALWAYS: no clause may assign an identity column.
        # SET * keeps each matched row's engine-assigned value (the
        # row's identity persists through an update); INSERT * with a
        # source that carries the column refuses like engine append.
        for c in clauses:
            aset = c.get("set")
            if c.get("then") == "update" and isinstance(aset, dict):
                _refuse_explicit_identity(m, list(aset), "assigned by MERGE UPDATE")
            if c.get("then") == "update" and (aset or "*") == "*":
                _refuse_explicit_identity(
                    m, [x for x in src_cols if x in idset],
                    "assigned by MERGE UPDATE SET *",
                )
            if c.get("then") == "insert":
                vals = c.get("values") or "*"
                if vals == "*":
                    _refuse_explicit_identity(
                        m, [x for x in src_cols if x in idset],
                        "inserted by MERGE INSERT *",
                    )
                else:
                    _refuse_explicit_identity(
                        m, list(vals), "inserted by MERGE"
                    )
    src_keys = maybe_broadcast(source.select(*keys).distinct())
    has_matched = any(c["when"] == "matched" for c in clauses)
    nmbs = [c for c in clauses if c["when"] == "not_matched_by_source"]
    # _probed: an owning operator (SCD2's close-out) already ran a
    # probe job over this exact snapshot that yields the key range
    # AND the affected-file set, and certifies its source carries
    # UNIQUE key tuples (so the ambiguity guard cannot fire). Honored
    # only when the snapshot still matches — a concurrent commit
    # invalidates the probe and merge re-probes itself. Never valid
    # with NMBS clauses (their absence exam is part of the probe).
    if _probed is not None and nmbs:
        # misuse check on the RAW argument, before the snapshot gate —
        # otherwise the same invalid call would raise or silently
        # re-probe depending on a concurrent-commit race
        raise ValueError(
            "_probed cannot be combined with NOT MATCHED BY SOURCE "
            "clauses (their absence exam is part of the probe)"
        )
    probed = (
        _probed
        if _probed is not None
        and _probed.get("snapshot_id") == m["snapshot_id"]
        else None
    )
    if probed is None:
        key_range = source.agg(
            *[
                a
                for k in keys
                for a in (F.min(k).alias(f"__lo_{k}"), F.max(k).alias(f"__hi_{k}"))
            ]
        ).collect()[0]
    else:
        key_range = probed["key_range"]
    conjuncts, candidates, base_to_name, cur = _key_candidates(
        spark, table_path, m, keys, key_range, scan=probed is None
    )
    affected: set[str] = set(probed["affected"]) if probed is not None else set()
    aff_scan = None
    # with a matched clause the probe must count per-target-row source
    # multiplicity (the ambiguity guard); without one duplicate source
    # keys are legal (Delta's rule) and the deduped key set suffices.
    # A dedicated "are source keys unique" pre-test was measured and
    # rejected: the countDistinct adds a shuffle (+2 AQE jobs) to the
    # key-range agg of EVERY merge, more than the probe downgrade
    # saves (OPTIMIZATION_r14.md).
    may_be_ambiguous = has_matched
    nmbs_pred = None
    if nmbs and m["files"]:
        # NOT MATCHED BY SOURCE selects target rows by the ABSENCE of
        # a source match, so the key envelope cannot prune its exam —
        # every file must be examined (Delta shares this property).
        # r14 (guide §2.4, one scan instead of two): candidate files
        # are examined INSIDE the affected-file probe below (the left
        # join's null side is exactly the anti-join), and the
        # non-candidate remainder — provably matchless by stats —
        # skips the join entirely with a pure predicate scan.
        nmbs_pred = F.lit(False)
        for c in nmbs:
            p = (
                F.coalesce(F.expr(c["and"]), F.lit(False))
                if c.get("and")
                else F.lit(True)
            )
            nmbs_pred = nmbs_pred | p
    if cur is not None:
        if may_be_ambiguous:
            # multiplicity probe: ONE job returns the affected-file
            # set, the ambiguity verdict, and (when NMBS clauses
            # exist) the absence hits. Per matched (file, pos) row
            # identity the join against the RAW source keys counts
            # multiplicity; max>1 per file == a target row matched by
            # >1 source row — the same condition the pre-r14 second
            # job (left-join + groupBy + limit 1) detected.
            sk = source.select(*keys).withColumn("__s_hit", F.lit(True))
            how = "left" if nmbs_pred is not None else "inner"
            j = cur.join(sk, keys, how).alias("t")
            pos_aggs = [F.count("__s_hit").alias("__n")]
            file_aggs = [F.max("__n").alias("__mx")]
            if nmbs_pred is not None:
                pos_aggs.append(
                    F.max(
                        (F.col("__s_hit").isNull() & nmbs_pred).cast("int")
                    ).alias("__nm")
                )
                file_aggs.append(F.max("__nm").alias("__nm"))
            rows = (
                j.groupBy("_cow_file", "_cow_pos")
                .agg(*pos_aggs)
                .groupBy("_cow_file")
                .agg(*file_aggs)
                .collect()
            )
            affected = {
                base_to_name[r["_cow_file"]]
                for r in rows
                if r["__mx"] > 0 or (nmbs_pred is not None and r["__nm"])
            }
            if any(r["__mx"] > 1 for r in rows):
                raise ValueError(
                    "MERGE is ambiguous: a target row matches multiple "
                    "source rows (de-duplicate the source on the merge keys)"
                )
        elif nmbs_pred is not None:
            # no matched clause: the guard cannot fire, so one left
            # join against the DEDUPED key set flags both presence
            # (affected by match) and absence + predicate (affected
            # by NMBS) per file in one job
            sk = src_keys.withColumn("__s_hit", F.lit(True))
            rows = (
                cur.join(sk, keys, "left")
                .alias("t")
                .groupBy("_cow_file")
                .agg(
                    F.max(F.col("__s_hit").isNotNull().cast("int")).alias("__hit"),
                    F.max(
                        (F.col("__s_hit").isNull() & nmbs_pred).cast("int")
                    ).alias("__nm"),
                )
                .collect()
            )
            affected = {
                base_to_name[r["_cow_file"]]
                for r in rows
                if r["__hit"] or r["__nm"]
            }
        else:
            # no matched clause and no NMBS: the classic semi-join
            # probe — only matched rows' file names ever shuffle
            rows = (
                cur.join(src_keys, keys, "left_semi")
                .select("_cow_file")
                .distinct()
                .collect()
            )
            affected = {base_to_name[r["_cow_file"]] for r in rows}
    if nmbs_pred is not None:
        cand_names = {c["name"] for c in candidates}
        rest = [f for f in m["files"] if f["name"] not in cand_names]
        if rest:
            # stats already refute any key match in these files, so
            # every row is NOT MATCHED BY SOURCE by construction — no
            # join, just the clause predicate
            base_rest = {f["name"].rsplit("/", 1)[-1]: f["name"] for f in rest}
            hit = (
                _read_entries(spark, table_path, m, rest, lineage=True)
                .alias("t")
                .filter(nmbs_pred)
                .select("_cow_file")
                .distinct()
                .collect()
            )
            affected |= {base_rest[r["_cow_file"]] for r in hit}
    eff_mode = _resolve_mode(m, mode)
    modifies_target = has_matched or bool(nmbs)
    rewritten = None
    mor_pos = None
    mor_updates = None
    if affected:
        aff_scan = _read_entries(
            spark, table_path, m, _entries_for(m, affected), lineage=True
        )
    if affected and modifies_target:
        t = aff_scan.alias("t")
        # with no matched clause (an NMBS-only merge) no expression may
        # reference s.* — join the DEDUPED key set instead of the raw
        # source so duplicate source keys (legal without matched
        # clauses, Delta's rule) can never multiply carried rows
        s_rows = source if has_matched else src_keys
        s = s_rows.withColumn("__s_matched", F.lit(True)).alias("s")
        join_cond = None
        for k in keys:
            # plain (null-UNSAFE) equality: SQL MERGE never matches on
            # NULL keys — a NULL-keyed source row falls through to the
            # not_matched clauses, same as the anti-join below sees it
            c = F.col(f"t.{k}") == F.col(f"s.{k}")
            join_cond = c if join_cond is None else (join_cond & c)
        joined = t.join(s, join_cond, "left")
        # (the ambiguity guard ran inside the affected-file probe —
        # one job for both, r14)
        matched_flag = F.coalesce(F.col("s.__s_matched"), F.lit(False))
        # first-applicable-clause resolution: __action = clause index
        # (or -1 = carry the target row unchanged). A chained
        # when().when() IS first-match-wins — one shallow CaseWhen
        action = None
        actions = []
        for i, c in enumerate(clauses):
            if c["when"] == "not_matched":
                continue
            # matched clauses fire on matched rows, NMBS clauses on
            # the complement — disjoint predicates, so the mixed
            # first-match-wins chain preserves each family's own order
            cond = matched_flag if c["when"] == "matched" else ~matched_flag
            if c.get("and"):
                cond = cond & F.coalesce(F.expr(c["and"]), F.lit(False))
            actions.append((i, c))
            action = F.when(cond, F.lit(i)) if action is None else action.when(cond, F.lit(i))
        action = action.otherwise(F.lit(-1)) if action is not None else F.lit(-1)
        work = joined.withColumn("__action", action)
        out_cols = {}
        for f in schema.fields:
            whens = []
            for i, c in actions:
                if c["then"] != "update":
                    continue
                aset = c.get("set") or "*"
                if aset == "*":
                    if f.name in idset:
                        continue  # identity persists through SET *
                    if f.name not in src_cols:
                        # SET * copies same-name source columns only
                        # (Delta's expansion rule) — a target column
                        # the source lacks keeps its current value
                        continue
                    whens.append((i, f"s.{_q(f.name)}"))
                elif f.name in aset:
                    whens.append((i, _paren(spark, aset[f.name])))
            out_cols[f.name] = _by_action(whens, f"t.{_q(f.name)}")
        delete_ids = [i for i, c in actions if c["then"] == "delete"]
        if eff_mode == "mor":
            # every action row's CURRENT version is deleted by
            # position; update rows re-append their new version below
            mor_pos = work.filter(F.col("__action") != -1).select(
                F.col("t._cow_file").alias("file"),
                F.col("t._cow_pos").alias("pos"),
            )
            update_ids = [i for i, c in actions if c["then"] == "update"]
            if update_ids:
                mor_updates = _select_sql(
                    work.filter(F.col("__action").isin(update_ids)),
                    out_cols, schema,
                )
        else:
            keep = ~F.col("__action").isin(delete_ids) if delete_ids else F.lit(True)
            rewritten = _select_sql(work.filter(keep), out_cols, schema)
    inserts = None
    nm_clauses = [c for c in clauses if c["when"] == "not_matched"]
    if nm_clauses:
        unmatched = source.join(
            (aff_scan or spark.createDataFrame([], schema)).select(*keys),
            keys,
            "left_anti",
        ).alias("s")
        action = None
        for i, c in enumerate(clauses):
            if c["when"] != "not_matched":
                continue
            cond = F.lit(True)
            if c.get("and"):
                cond = F.coalesce(F.expr(c["and"]), F.lit(False))
            action = F.when(cond, F.lit(i)) if action is None else action.when(cond, F.lit(i))
        action = action.otherwise(F.lit(-1)) if action is not None else F.lit(-1)
        work = unmatched.withColumn("__action", action).filter(F.col("__action") != -1)
        defaults = m.get("column_defaults") or {}
        out_cols = {}
        for f in schema.fields:
            # columns an INSERT clause leaves unset fill with their
            # declared DEFAULT (r11) or NULL, like engine append
            d = defaults.get(f.name)
            fill = _paren(spark, d) if d is not None else "NULL"
            whens = []
            for i, c in enumerate(clauses):
                if c["when"] != "not_matched":
                    continue
                vals = c.get("values") or "*"
                if vals == "*":
                    expr = f"s.{_q(f.name)}" if f.name in src_cols else fill
                elif f.name in vals:
                    expr = _paren(spark, vals[f.name])
                else:
                    expr = fill
                whens.append((i, expr))
            out_cols[f.name] = _by_action(whens, fill)
        # fresh identity values for the inserted rows (the out_cols
        # fill left identity columns NULL by construction)
        inserts = _apply_identity(m, _select_sql(work, out_cols, schema))
    # NMBS clauses select rows a concurrent writer could invalidate by
    # adding ANY non-matching row — no stat envelope proves a winner's
    # files irrelevant, so rebase is off and a race refuses loudly.
    # A schema-EVOLVING merge also never rebases: the rebase target's
    # manifest lacks the new columns, so re-pointing the parent would
    # publish files wider than the carried schema (silent column loss)
    rebase = None if (nmbs or schema_evolved) else conjuncts
    if eff_mode == "mor":
        appended = mor_updates
        if inserts is not None:
            appended = inserts if appended is None else appended.unionAll(inserts)
        if mor_pos is None:
            # no file holds a row-modifying hit (or the merge is
            # insert-only, which never masks): pure-append (or no-op)
            stats = _rewrite_commit(
                spark, table_path, m, set(), None, appended, "mor_merge",
                rebase_conjuncts=rebase,
            ) if appended is not None else _unchanged(m)
        else:
            stats = _mor_assemble(
                spark, table_path, m, mor_pos, appended, "mor_merge"
            )
    else:
        stats = _rewrite_commit(
            spark, table_path, m,
            # insert-only merges never rewrite a file (Delta's fast
            # path): the affected set only served unmatched detection
            affected if modifies_target else set(),
            rewritten, inserts, "merge",
            rebase_conjuncts=rebase,
        )
    stats["files_scanned"] = len(m["files"]) if nmbs else len(candidates)
    return stats


def append(
    spark: SparkSession,
    table_path: str,
    rows: DataFrame,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    merge_schema: bool = False,
) -> dict:
    """INSERT INTO — a NEW-FILES-ONLY commit: stages ``rows`` as fresh
    data files and commits snapshot N+1 = (all current files) + (new
    files). No existing file is read or rewritten, so the append cost
    is the new data's size whatever the table size — which is what
    makes the reference's most-emitted verb (``pipeline.py:160-162``)
    viable on snapshot tables. Input columns are matched by name and
    cast through the manifest schema; schema columns missing from
    ``rows`` are filled with NULL (standard INSERT column-list
    semantics).

    An append has NO read-set — its new files conflict with no
    concurrent commit — so losing the optimistic-commit race is
    retried here automatically (reload the head, re-point parent,
    commit; the staged files are reused, nothing recomputes). This is
    the Iceberg/Delta fast-append loop that lets many writers feed
    one table. DELETE/UPDATE/MERGE rebase only when the winner
    provably left what they read alone (``_rebase_head``); otherwise
    the caller must re-run the statement.

    Idempotent retries: pass ``txn_app_id`` + ``txn_version`` (Delta's
    ``txnAppId``/``txnVersion`` options) and the commit records
    {app: version} in the manifest's txn map; a retry of a version the
    table has already seen for that app — the caller crashed between a
    successful commit and its return, then re-ran — commits NOTHING
    and reports ``replayed: True``. Versions must be monotone per app
    (a micro-batch id, a job run number). Without the pair, a retried
    append double-commits by design, exactly like Delta."""
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be passed together")
    # meta-only load (r12): an append never reads or regroups the
    # parent's file list, so its metadata cost is O(new files) at any
    # table size — the property that makes streaming-sink commits and
    # the reference's most-emitted verb flat-cost on huge tables
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))

    def _replayed(head: dict) -> bool:
        seen = (head.get("txns") or {}).get(txn_app_id, -(2**63))
        return txn_app_id is not None and int(seen) >= txn_version

    def _stats(head: dict, snapshot_id: int, written: int) -> dict:
        out = {
            "snapshot_id": snapshot_id,
            "files_rewritten": 0,
            "files_untouched": _n_files(spark, table_path, head),
            "files_written": written,
        }
        if snapshot_id == head["snapshot_id"]:  # nothing published
            out["replayed"] = True
        return out

    if _replayed(m):
        return _stats(m, m["snapshot_id"], 0)
    evo: dict | None = None
    base_keys: dict | None = None
    if merge_schema:
        # writer-side schema evolution (Delta's mergeSchema): input
        # columns the table lacks are ADDED — nullable, in this
        # commit — instead of dropped by the schema-cast projection
        from pyspark.sql.types import StructField

        tgt = set(_snapshot_schema(m).fieldNames())
        new_fields = [
            StructField(f.name, f.dataType, True)
            for f in rows.schema.fields
            if f.name not in tgt
        ]
        if new_fields:
            evolved = ("schema", "physical_names", "used_physical")
            base_keys = {k: m.get(k) for k in evolved}
            _evolve_schema_inplace(m, new_fields)
            evo = {k: m.get(k) for k in evolved}
    casted = _insert_rows(m, rows, "inserted")

    def stage(c: _Commit) -> None:
        # the STAGED bytes are validated inside the staging value pass
        # (r15 — see _stage_files); the commit loop re-validates if a
        # concurrent ADD CONSTRAINT lands during the commit window
        c.entries = _stage_files(
            spark, table_path, casted, m["snapshot_id"] + 1, m,
            m.get("check_constraints") or None,
        )

    def child(c: _Commit) -> dict | None:
        if _replayed(c.head):
            # a rival writer of the SAME app committed this version
            # while we were staging: our staged files are duplicates
            return None
        manifest = _child(c.head, "append")
        _advance_identity(manifest, c.head, c.entries)
        if txn_app_id is not None:
            manifest["txns"] = {
                **(c.head.get("txns") or {}), txn_app_id: int(txn_version)
            }
        return manifest

    def rebase(_base: dict) -> dict | None:
        head = table_head_meta(spark, table_path)
        if evo is not None:
            # staged parquet bytes were written under THIS call's
            # evolved physical mapping — a concurrent schema/mapping
            # change makes re-pointing unsafe (re-deriving the
            # evolution could mint different physical names than
            # the staged files carry), so refuse; otherwise
            # transplant the evolution onto the fresh head
            if any(head.get(k) != v for k, v in base_keys.items()):
                return None
            head.update({k: v for k, v in evo.items() if v})
        return head

    c = _optimistic_commit(spark, table_path, m, stage, child, rebase, append=True)
    if c.manifest is None:
        return _stats(c.head, c.head["snapshot_id"], 0)
    return _stats(c.head, c.manifest["snapshot_id"], len(c.entries))


# Formats COPY INTO can load. XLSX stays on the interactive ingest
# path (ingest.py drives it through pandas); COPY INTO is the
# headless bulk loader, so it sticks to the splittable/streamable
# formats a 100 TB landing zone actually uses.
COPY_FORMATS = ("csv", "json", "parquet", "orc")


def _copy_registry(spark: SparkSession, table_path: str, m: dict) -> list[dict]:
    """Every loaded-file record in the manifest's COPY INTO registry
    (``copy_shards`` — content-addressed, append-only, driver-cached
    via ``_read_shard``)."""
    out: list[dict] = []
    for s in m.get("copy_shards") or []:
        out += _read_shard(spark, f"{table_path}/{MANIFEST_DIR}/{s}")
    return out


def copied_files(spark: SparkSession, table_path: str) -> list[dict]:
    """The table's COPY INTO loaded-file registry at head: one record
    per loaded source file ({path, size, mtime}). Diagnostic twin of
    ``history()`` for the ingestion surface."""
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    return _copy_registry(spark, table_path, m)


def _glob_regex(pattern: str) -> "re.Pattern":
    """Hadoop/Delta-style glob -> anchored regex with SEGMENT-AWARE
    wildcards: ``*`` and ``?`` never cross ``/`` (``*.csv`` matches
    only top-level files, unlike fnmatch where ``*`` spans
    directories), ``**`` matches across segments, ``[...]`` classes
    pass through. This is the PATTERN contract Delta's COPY INTO and
    Hadoop's GlobFilter implement."""
    out, i = [], 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "*":
            if pattern[i : i + 2] == "**":
                out.append(".*")
                i += 2
            else:
                out.append("[^/]*")
                i += 1
        elif ch == "?":
            out.append("[^/]")
            i += 1
        elif ch == "[":
            j = i + 1
            if j < len(pattern) and pattern[j] in "!^":
                j += 1
            if j < len(pattern) and pattern[j] == "]":
                j += 1
            while j < len(pattern) and pattern[j] != "]":
                j += 1
            if j >= len(pattern):
                out.append("\\[")  # unterminated class: literal bracket
                i += 1
            else:
                body = pattern[i + 1 : j].replace("\\", "\\\\")
                if body.startswith("!"):
                    body = "^" + body[1:]
                out.append(f"[{body}]")
                i = j + 1
        else:
            out.append(re.escape(ch))
            i += 1
    return re.compile("".join(out) + r"\Z")


def _list_copy_source(spark: SparkSession, source: str, pattern: str | None) -> list[dict]:
    """Enumerate loadable files under ``source`` (one file, or a
    directory walked recursively). Hidden path segments (``.``/``_``
    prefixes — Spark's own convention for markers like _SUCCESS and
    in-flight temp files) are skipped; ``pattern`` is a glob matched
    against the path RELATIVE to ``source`` (Delta's PATTERN option)
    with segment-aware wildcards (``*``/``?`` stay within one path
    segment; ``**`` recurses — ``_glob_regex``). Listing is a
    driver-side FS walk — O(source files) metadata, the same cost
    Spark's own file index pays to plan the read."""
    pat_re = _glob_regex(pattern) if pattern else None

    fs, jp = _fs(spark, source)
    if not fs.exists(jp):
        raise ValueError(f"COPY INTO source does not exist: {source}")
    st0 = fs.getFileStatus(jp)
    if st0.isFile():
        return [{
            "path": st0.getPath().toString(),
            "size": st0.getLen(),
            "mtime": st0.getModificationTime(),
        }]
    prefix = jp.toUri().getPath().rstrip("/")
    out: list[dict] = []
    it = fs.listFiles(jp, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        rel = p.toUri().getPath()[len(prefix):].lstrip("/")
        if any(seg.startswith((".", "_")) for seg in rel.split("/")):
            continue
        if pat_re and not pat_re.match(rel):
            continue
        out.append({
            "path": p.toString(),
            "size": st.getLen(),
            "mtime": st.getModificationTime(),
        })
    return sorted(out, key=lambda e: e["path"])


def copy_into(
    spark: SparkSession,
    table_path: str,
    source: str,
    file_format: str,
    pattern: str | None = None,
    format_options: dict | None = None,
    force: bool = False,
) -> dict:
    """Idempotent bulk file loading — Delta's COPY INTO. Loads every
    file under ``source`` (optionally glob-filtered by ``pattern``)
    that the table has NOT already loaded, appends the rows as a
    ``copy_into`` snapshot commit, and records the loaded file paths
    in a manifest-carried registry so re-running the SAME statement
    loads nothing (exactly-once file ingestion over at-least-once
    schedulers — the property the reference's loader approximates by
    sanitized-table-name targeting, ``pipeline.py:160-162``, and
    Delta implements with per-file load tracking). ``force=True``
    reloads all matched files regardless (Delta's
    ``COPY_OPTIONS('force'='true')``).

    The registry shares the manifest's content-addressed shard
    machinery: each COPY commit writes ONE new shard holding only the
    newly loaded names and re-references prior shards — O(new files)
    metadata per load whatever the cumulative registry size; vacuum
    ref-counts the names exactly like ``file_shards``. Files are
    identified by PATH (Delta's default match): a replaced file with
    the same name is NOT reloaded unless forced.

    CSV/JSON read through the table's declared schema (no inference
    drift between loads); parquet/ORC read their embedded schema and
    cast by name. Either way the rows then take the engine-append
    contract: missing columns fill with declared DEFAULTs or NULL,
    generated columns recompute, identity columns are engine-assigned
    (explicit values refused), CHECK constraints validate the staged
    bytes. Data cost is O(new files); commit metadata is the append
    fast path (O(new files), ``_commit_carry``).

    A rival COPY INTO that publishes some of the same files while this
    one stages would make it load them twice: the attempt drops what it
    staged and restarts against the new registry, at most
    ``COMMIT_ATTEMPTS`` times."""
    fmt = (file_format or "").lower()
    if fmt not in COPY_FORMATS:
        raise ValueError(
            f"COPY INTO FILEFORMAT must be one of {COPY_FORMATS}: {file_format!r}"
        )
    for _ in range(COMMIT_ATTEMPTS):
        out = _copy_into_once(
            spark, table_path, source, fmt, pattern, format_options, force
        )
        if out is not None:
            return out
    raise CowConcurrentWrite(f"concurrent COPY INTO contention at {table_path}; re-run")


def _copy_into_once(
    spark: SparkSession,
    table_path: str,
    source: str,
    fmt: str,
    pattern: str | None,
    format_options: dict | None,
    force: bool,
) -> dict | None:
    """One COPY INTO attempt against the current head; None when a
    rival load of the same files won the race (see ``copy_into``)."""
    from pyspark.sql.types import StructType

    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    listed = _list_copy_source(spark, source, pattern)
    loaded = {e["path"] for e in _copy_registry(spark, table_path, m)}
    todo = [e for e in listed if force or e["path"] not in loaded]
    if not todo:
        return {
            "snapshot_id": m["snapshot_id"],
            "files_loaded": 0,
            "rows_loaded": 0,
            "files_skipped": len(listed),
            "files_written": 0,
        }
    schema = _snapshot_schema(m)
    skip_read = set(m.get("generated_columns") or {}) | set(
        m.get("identity_columns") or {}
    )
    opts = dict(format_options or {})
    paths = [e["path"] for e in todo]
    if fmt in ("csv", "json"):
        if fmt == "csv":
            opts.setdefault("header", "true")
        # declared schema, not inference: per-load inference drifts
        # (an all-null chunk types differently), and a type mismatch
        # must surface as a cast/constraint error, not silent drift.
        # Headered CSV binds BY NAME: read all-string with the files'
        # own header (no schema — Spark's enforceSchema would bind an
        # explicit schema POSITIONALLY, silently loading a reordered
        # file's values into the wrong columns), then select the
        # header names that exist in the table schema; the engine-cast
        # below types them. A header column the table lacks is
        # dropped; a schema column the files don't name stays ABSENT
        # and takes its declared DEFAULT below.
        if fmt == "csv" and str(opts.get("header", "true")).lower() == "true":
            raw = spark.read.options(
                **{**opts, "inferSchema": "false"}
            ).csv(paths)
            keep = [
                f.name
                for f in schema.fields
                if f.name not in skip_read and f.name in set(raw.columns)
            ]
            if not keep:
                raise ValueError(
                    f"COPY INTO: no CSV header column matches the table "
                    f"schema (header={raw.columns}, "
                    f"table={[f.name for f in schema.fields]})"
                )
            rows = raw.select(*keep)
        else:
            # headerless CSV / JSON: the declared schema binds —
            # positionally for CSV (the only possible contract without
            # a header), by key for JSON
            read_schema = StructType(
                [f for f in schema.fields if f.name not in skip_read]
            )
            rows = (
                spark.read.format(fmt)
                .schema(read_schema)
                .options(**opts)
                .load(paths)
            )
    else:
        rows = spark.read.format(fmt).options(**opts).load(paths)
    rows = _insert_rows(m, rows, "loaded by COPY INTO")
    fs, _ = _fs(spark, table_path)
    record = json.dumps(todo).encode()

    def stage(c: _Commit) -> None:
        # staged bytes validated inside the staging value pass (r15)
        c.entries = _stage_files(
            spark, table_path, rows, m["snapshot_id"] + 1, m,
            m.get("check_constraints") or None,
        )

    def child(c: _Commit) -> dict | None:
        if not force:
            won = {e["path"] for e in _copy_registry(spark, table_path, c.head)}
            if any(e["path"] in won for e in todo):
                return None
        manifest = _child(
            c.head, "copy_into",
            copy_shards=list(c.head.get("copy_shards") or [])
            + [_write_content_shard(spark, fs, table_path, record)],
        )
        _advance_identity(manifest, c.head, c.entries)
        return manifest

    c = _optimistic_commit(
        spark, table_path, m, stage, child,
        lambda _base: table_head_meta(spark, table_path), append=True,
    )
    if c.manifest is None:
        return None
    return {
        "snapshot_id": c.manifest["snapshot_id"],
        "files_loaded": len(todo),
        "rows_loaded": sum(e["rows"] for e in c.entries),
        "files_skipped": len(listed) - len(todo),
        "files_written": len(c.entries),
    }


def vacuum(
    spark: SparkSession,
    table_path: str,
    keep_last: int = 1,
    min_file_age_seconds: float = 600.0,
    dry_run: bool = False,
) -> int:
    """Expire every snapshot older than the last ``keep_last`` and
    delete the data files no RETAINED snapshot references. Time
    travel keeps working within the retention window and refuses with
    a clear "expired" error beyond it (the expired manifests are
    removed) — the standard lake-format retention trade, now a
    window instead of scorched earth. TAGGED snapshots (r11,
    ``create_tag``) are always retained — their manifests and files
    survive expiry until the tag is dropped (Iceberg's
    expire-snapshots ref rule).

    ``min_file_age_seconds`` is the concurrent-writer guard:
    ``_stage_files`` moves new files into ``data/`` BEFORE its
    manifest commit, so an unreferenced-but-young file may belong to
    an in-flight DML commit and deleting it would corrupt the
    winner's snapshot. Files younger than the window are skipped
    (Delta's retention-duration check, same rationale); pass 0 only
    when no writer can be active. Skipped files are orphans at worst
    and the next vacuum removes them. Returns the number of files
    removed (data files + unreferenced deletion vectors).

    ``dry_run`` counts what WOULD be removed — files and expired
    snapshots stay put, so an operator can check the blast radius
    before giving up the time travel window. ``vacuum_report`` is the
    itemized form (the gate's ``VACUUM ... DRY RUN`` listing): both
    derive from the SAME planning pass that the real run executes, so
    the report lists exactly what the real run then deletes."""
    plan = _vacuum_plan(spark, table_path, keep_last, min_file_age_seconds)
    if not dry_run:
        _vacuum_execute(spark, table_path, plan)
    return sum(1 for it in plan if it["kind"] in ("data", "dv", "bucketview_tmp"))


def vacuum_report(
    spark: SparkSession,
    table_path: str,
    keep_last: int = 1,
    min_file_age_seconds: float = 600.0,
) -> list[dict]:
    """Itemized VACUUM dry run (r13, Delta's ``VACUUM ... DRY RUN``
    listing): one dict per reclaimable item — ``kind`` (data file,
    deletion vector, expired snapshot manifest, unreferenced manifest
    shard, stale bucketed-view dir), ``name`` (relative), ``size``
    bytes, and ``age_seconds`` — computed by the SAME planning pass
    ``vacuum`` executes, deleting nothing."""
    return _vacuum_plan(spark, table_path, keep_last, min_file_age_seconds)


def _vacuum_plan(
    spark: SparkSession,
    table_path: str,
    keep_last: int,
    min_file_age_seconds: float,
) -> list[dict]:
    """Everything a vacuum at these settings would reclaim, as
    ``{kind, name, size, age_seconds}`` items. Pure read — the single
    source of truth for both ``dry_run``/``vacuum_report`` and the
    real deletion pass."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    snaps = _list_snapshots(spark, table_path)
    if not snaps:
        raise CowTableNotFound(table_path)
    # tagged snapshots are retained whatever their age (Iceberg's
    # expire-snapshots ref rule): a tag is a durable promise that
    # VERSION AS OF '<tag>' keeps working until the tag is dropped
    tagged = set(
        (_load_manifest_meta(spark, table_path, snaps[-1]).get("tags") or {}).values()
    )
    retained = sorted(set(snaps[-keep_last:]) | (tagged & set(snaps)))
    expired = [n for n in snaps[:-keep_last] if n not in tagged]
    referenced: set[str] = set()
    referenced_dv: set[str] = set()
    ref_shards: set[str] = set()
    for n in retained:
        for f in _load_manifest(spark, table_path, n)["files"]:
            referenced.add(f["name"])
            if f.get("dv"):
                referenced_dv.add(f["dv"]["name"])
        # shard names RETAINED manifests still reference (manifest
        # proper only): content-addressed shards (r12) are SHARED
        # across snapshots, so reclamation must ref-count, never key
        # on the snapshot id in the name
        try:
            pm = _load_manifest_meta(spark, table_path, n)
        except Exception:
            continue
        ref_shards.update(pm.get("file_shards") or [])
        # COPY INTO's loaded-file registry shards share the
        # content-addressed namespace — same ref-count rule
        ref_shards.update(pm.get("copy_shards") or [])
    fs, _ = _fs(spark, table_path)
    now_ms = time.time() * 1000.0
    plan: list[dict] = []

    def _age(st) -> float:
        return (now_ms - st.getModificationTime()) / 1000.0

    ddir = _jpath(spark, f"{table_path}/{DATA_DIR}")
    if fs.exists(ddir):
        dprefix = ddir.toUri().getPath().rstrip("/")
        it = fs.listFiles(ddir, True)  # recursive: partition subdirs
        while it.hasNext():
            st = it.next()
            rel = st.getPath().toUri().getPath()[len(dprefix):].lstrip("/")
            if not rel.endswith(".parquet") or rel in referenced:
                continue
            if _age(st) < min_file_age_seconds:
                continue  # may be an in-flight commit's staged file
            plan.append(
                {"kind": "data", "name": rel, "size": st.getLen(),
                 "age_seconds": _age(st)}
            )
    # deletion-vector files age out with the snapshots that reference
    # them (compaction materializes DVs; MOR re-deletes supersede
    # them) — same unreferenced + age-guard rule as data files
    dvdir = _jpath(spark, f"{table_path}/{DV_DIR}")
    if fs.exists(dvdir):
        for st in fs.listStatus(dvdir):
            name = st.getPath().getName()
            if not name.endswith(".parquet") or name in referenced_dv:
                continue
            if _age(st) < min_file_age_seconds:
                continue  # may be an in-flight MOR commit's staged DV
            plan.append(
                {"kind": "dv", "name": name, "size": st.getLen(),
                 "age_seconds": _age(st)}
            )
    expired_set = set(expired)
    # expired snapshots' bucketed-view symlink dirs go with them (the
    # links would dangle once the data files above are deleted);
    # retained snapshots keep their views — their targets are all in
    # `referenced` and thus still on disk
    local = _local_fs_path(table_path)
    if local is not None:
        bdir = os.path.join(local, BUCKETVIEW_DIR)
        if os.path.isdir(bdir):
            for name in os.listdir(bdir):
                m_ = re.fullmatch(r"snap-(\d{8})", name)
                if m_ and int(m_.group(1)) in expired_set:
                    plan.append(
                        {"kind": "bucketview", "name": name, "size": 0,
                         "age_seconds": 0.0}
                    )
                    continue
                # a crashed bucketed_view builder leaves a
                # snap-NNNNNNNN.tmp-xxxx dir behind (the atomic rename
                # never ran) — age-gated orphan cleanup, same guard as
                # data files (a LIVE builder's tmp dir is younger)
                if re.fullmatch(r"snap-\d{8}\.tmp-[0-9a-f]+", name):
                    full = os.path.join(bdir, name)
                    try:
                        age_s = now_ms / 1000.0 - os.stat(full).st_mtime
                    except OSError:
                        continue
                    if age_s >= min_file_age_seconds:
                        plan.append(
                            {"kind": "bucketview_tmp", "name": name,
                             "size": 0, "age_seconds": age_s}
                        )
    for n in expired:
        plan.append(
            {"kind": "manifest", "name": f"manifest-{n:08d}.json",
             "size": 0, "age_seconds": 0.0, "snapshot_id": n}
        )
    # unreferenced shard files (expired snapshots' legacy shards,
    # content shards no retained snapshot references, lost-race
    # orphans). The age guard protects an in-flight commit that
    # wrote its shards but hasn't renamed its manifest yet.
    mdir = _jpath(spark, f"{table_path}/{MANIFEST_DIR}")
    if fs.exists(mdir):
        for st in fs.listStatus(mdir):
            name = st.getPath().getName()
            if not (_SHARD_RE.match(name) or _SHARD_CONTENT_RE.match(name)):
                continue
            if name in ref_shards:
                continue
            if _age(st) < min_file_age_seconds:
                continue
            plan.append(
                {"kind": "shard", "name": name, "size": st.getLen(),
                 "age_seconds": _age(st)}
            )
    return plan


def _vacuum_execute(spark: SparkSession, table_path: str, plan: list[dict]) -> None:
    fs, _ = _fs(spark, table_path)
    local = _local_fs_path(table_path)
    for it in plan:
        kind, name = it["kind"], it["name"]
        if kind == "data":
            fs.delete(_jpath(spark, f"{table_path}/{DATA_DIR}/{name}"), False)
        elif kind == "dv":
            fs.delete(_jpath(spark, f"{table_path}/{DV_DIR}/{name}"), False)
        elif kind in ("bucketview", "bucketview_tmp") and local is not None:
            import shutil as _sh

            _sh.rmtree(
                os.path.join(local, BUCKETVIEW_DIR, name), ignore_errors=True
            )
        elif kind == "manifest":
            mp = f"{table_path}/{MANIFEST_DIR}/{name}"
            fs.delete(_jpath(spark, mp), False)
            _MANIFEST_CACHE.pop(mp, None)
        elif kind == "shard":
            sp = f"{table_path}/{MANIFEST_DIR}/{name}"
            fs.delete(_jpath(spark, sp), False)
            _SHARD_CACHE.pop(sp, None)


def _zorder_key(df: DataFrame, cols: list[str], bits: int = 16) -> Column:
    """Morton (Z-order) key over ``cols``: each column is normalized
    to a ``bits``-bit code by linear min/max scaling (one tiny agg —
    O(columns) driver data), then the codes' bits are interleaved so
    proximity in ANY dimension keeps rows near each other in the
    sort order. All built-in expressions (width_bucket + shifts) —
    whole-stage codegen, no UDF. Nulls sort first (code 0)."""
    rng = df.agg(
        *[
            a
            for c in cols
            for a in (
                F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"__hi_{c}"),
            )
        ]
    ).collect()[0]
    k = len(cols)
    # the top interleaved bit lands at bits*k - 1: cap at 63 so it never
    # reaches the sign bit (k=4, bits=16 -> bit 63 = Long.MIN_VALUE,
    # inverting the order of the top bucket) nor wraps shifts mod 64
    # (k>=5). The cap must be applied BEFORE computing the bucket
    # codes — truncating already-computed wider codes would alias
    # far-apart buckets (bucket 2^15+x == bucket x) and destroy the
    # clustering locality; coarsening the grid instead preserves it.
    bits = min(bits, 63 // k) if k else bits
    n_buckets = 1 << bits
    codes = []
    for c in cols:
        lo, hi = rng[f"__lo_{c}"], rng[f"__hi_{c}"]
        if lo is None or hi is None or lo == hi:
            codes.append(F.lit(0).cast("long"))
            continue
        # width_bucket gives 1..n_buckets+1; clamp into 0..n_buckets-1
        b = F.width_bucket(F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets))
        codes.append(F.coalesce(F.least(b - 1, F.lit(n_buckets - 1)), F.lit(0)).cast("long"))
    z = F.lit(0).cast("long")
    for i, code in enumerate(codes):
        for b in range(bits):
            z = z + F.shiftleft(F.shiftright(code, b).bitwiseAND(F.lit(1)), b * k + i)
    return z


def compact(
    spark: SparkSession,
    table_path: str,
    target_files: int = 8,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
    where: str | None = None,
) -> dict:
    """Rewrite the table's CONTENT-IDENTICAL data into ``target_files``
    right-sized files and commit it as a new snapshot ("compact").

    The small-file problem is the chronic failure mode of any
    append/upsert-heavy table (every micro-batch commit adds files;
    scan planning and open() overhead grow linearly): periodic
    compaction is how every lake format answers it. Readers of older
    snapshots are unaffected (their files remain until vacuum);
    readers of the new snapshot plan over ``target_files`` files
    instead of hundreds. At 100 TB pick target_files so each file
    lands near the scan-partition size (maxPartitionBytes).

    ``cluster_by`` additionally RANGE-CLUSTERS the rewrite
    (``repartitionByRange`` + ``sortWithinPartitions``): each output
    file then covers a narrow, non-overlapping range of the cluster
    key, so the manifest min/max stats become a range-partition index
    and point/range DML predicates on that key prune to ~1 file
    instead of "maybe every file" (Iceberg sort-order rewrite shape).
    With ``zorder=True`` and >=2 numeric cluster columns the sort key
    is the MORTON interleave of the columns' normalized codes
    (``_zorder_key``) — Delta's OPTIMIZE ZORDER: each file covers a
    small hyper-rectangle, so predicates on ANY clustered dimension
    prune to ~sqrt-fraction of the files, instead of only the
    leading-key predicates pruning. The content is identical either
    way — ``changes()`` across a compact commit yields zero rows —
    only the file→row placement changes.

    ``where`` (Delta's ``OPTIMIZE ... WHERE``, r11 late) scopes the
    rewrite to the files whose PARTITION VALUES satisfy the predicate
    — the 100 TB answer to "compact yesterday's partition" without a
    full-table rewrite. The predicate may reference partition columns
    only (analyzed against the typed partition sub-schema, so a data
    column refuses loudly); selection is one tiny job over O(files)
    driver-built rows, no data read. Files written under an OLDER
    partition-spec vintage (r11 evolution) carry the newer fields in
    their data bytes, not their paths, so a predicate on such a field
    never selects them — they stay uncompacted until a full
    ``compact()`` migrates vintages (an optimization no-op, never a
    correctness issue)."""
    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    if not m["files"]:
        return {"snapshot_id": m["snapshot_id"], "files_rewritten": 0,
                "files_untouched": 0, "files_written": 0}
    selected = m["files"]
    if where is not None:
        from urllib.parse import unquote

        from pyspark.sql.types import StringType, StructField, StructType

        parts = m.get("partition_by") or []
        if not parts:
            raise ValueError(
                "compact(where=...) requires a partitioned table — the "
                "predicate selects whole partitions"
            )
        schema = _snapshot_schema(m)
        types = {f.name: f.dataType for f in schema.fields}
        rows = []
        for f_ in m["files"]:
            vals = {c: None for c in parts}
            for seg in f_["name"].split("/")[:-1]:
                c, _, v = seg.partition("=")
                if c in vals:
                    vals[c] = (
                        None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                    )
            rows.append(tuple([f_["name"]] + [vals[c] for c in parts]))
        raw = spark.createDataFrame(
            rows,
            StructType(
                [StructField("__file", StringType())]
                + [StructField(c, StringType()) for c in parts]
            ),
        )
        typed = raw.select(
            "__file", *[F.col(c).cast(types[c]).alias(c) for c in parts]
        )
        try:
            matched = typed.filter(F.expr(where))
            matched.schema  # force analysis: non-partition columns refuse
        except Exception as e:
            raise ValueError(
                f"OPTIMIZE WHERE accepts predicates over the partition "
                f"columns {parts} only: {e}"
            ) from None
        names = {r["__file"] for r in matched.select("__file").collect()}
        selected = [f_ for f_ in m["files"] if f_["name"] in names]
        if not selected:
            return _unchanged(m)
    # DV-aware read: compaction MATERIALIZES deletion vectors — the
    # rewrite keeps only live rows and the new entries carry no dv
    current = _read_entries(spark, table_path, m, selected)
    if cluster_by and _bucket_spec(m) is not None:
        # hash bucketing pins every row's FILE by key — the staging
        # choke point re-partitions by bucket id, so a range-clustered
        # arrangement could never survive into the files; refuse
        # rather than report a clustering that silently didn't happen
        raise ValueError(
            "cluster_by/zorder compaction is not supported on bucketed "
            "tables: bucket assignment pins file membership (plain "
            "compact() is fine — one file per bucket)"
        )
    if cluster_by:
        missing = [c for c in cluster_by if c not in current.columns]
        if missing:
            raise ValueError(f"cluster columns not in the table: {missing}")
        if zorder:
            if len(cluster_by) < 2:
                raise ValueError("zorder needs >=2 cluster columns (use plain cluster_by)")
            zcol = f"__z_{uuid.uuid4().hex[:8]}"
            cols = current.columns
            current = (
                current.withColumn(zcol, _zorder_key(current, cluster_by))
                .repartitionByRange(target_files, zcol)
                .sortWithinPartitions(zcol)
                .select(*cols)
            )
        else:
            current = current.repartitionByRange(
                target_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
    else:
        current = current.coalesce(target_files)
    return _rewrite_commit(
        spark, table_path, m, {f["name"] for f in selected}, current, None, "compact"
    )


def changes(
    spark: SparkSession,
    table_path: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Change Data Feed: the row-level delta between two snapshots,
    one block of change rows per commit in the range
    ``(from_snapshot, to_snapshot]``. Each row carries the table
    columns plus ``_change_type`` ('insert' | 'delete'; an UPDATE or
    MERGE-replace surfaces as delete+insert of the changed row) and
    ``_commit_snapshot`` (the snapshot that introduced the change).

    Scale shape: the delta is computed from the MANIFEST file-list
    diff first — files present in both snapshots cancel without being
    opened, so only each commit's removed+added files are ever read.
    Copy-on-write rewrites carry unaffected rows of an affected file
    over byte-identical; the per-commit bag-diff (one signed-count
    aggregation — exceptAll-pair semantics in a single shuffle)
    cancels those carried rows, leaving exactly the changed ones.
    A ``compact`` commit therefore yields ZERO change rows (content-
    identical rewrite), and an ``append`` reads only the new files.
    Cost is O(changed files' rows), never O(table) — the reason real
    lake formats (Delta CDF, Iceberg changelog) expose change queries
    at the snapshot layer instead of diffing full table states.

    Snapshots expired by ``vacuum`` raise (their manifests are gone).
    Rows within a commit are attributed by content, so a commit both
    deleting and inserting an identical row nets to no change — the
    standard bag-difference CDC semantics."""
    hi = to_snapshot if to_snapshot is not None else current_snapshot(spark, table_path)
    if from_snapshot > hi:
        raise ValueError(f"from_snapshot {from_snapshot} is after to_snapshot {hi}")
    def _reject_maps(schema, snapshot_n):
        maps = [f.name for f in schema.fields if f.dataType.typeName() == "map"]
        if maps:
            # Spark cannot group by (or set-compare) map columns;
            # fail with the contract instead of a deep
            # AnalysisException mid-plan. Checked PER COMMIT — a map
            # column alive only in intermediate commits (added then
            # dropped) would pass a head-only check yet still reach
            # the bag-diff aggregation in those commits' blocks.
            raise ValueError(
                f"CDC is unavailable across snapshot {snapshot_n}: map-type "
                f"columns {maps} (Spark cannot compare/group map values — "
                "store map data as array<struct> or json if the change "
                "feed is needed)"
            )

    _reject_maps(_snapshot_schema(_load_manifest(spark, table_path, hi)), hi)
    out: DataFrame | None = None
    prev = _load_manifest(spark, table_path, from_snapshot)

    def _eff(f: dict) -> tuple:
        # the CDC identity of an entry is (file, deletion vector): a
        # merge-on-read commit leaves the file in place but swaps its
        # dv reference, which must surface as removed(old live rows) +
        # added(new live rows) so the bag-EXCEPT yields the DV'd rows
        return (f["name"], (f.get("dv") or {}).get("name"))

    for n in range(from_snapshot + 1, hi + 1):
        cur = _load_manifest(spark, table_path, n)
        prev_ids = {_eff(f) for f in prev["files"]}
        cur_ids = {_eff(f) for f in cur["files"]}
        removed = sorted(
            (f for f in prev["files"] if _eff(f) not in cur_ids),
            key=lambda f: f["name"],
        )
        added = sorted(
            (f for f in cur["files"] if _eff(f) not in prev_ids),
            key=lambda f: f["name"],
        )
        prev = cur
        if not removed and not added:
            continue  # metadata-only commit (schema evolution)
        schema = _snapshot_schema(cur)
        _reject_maps(schema, n)
        cols = schema.fieldNames()
        # both sides read through the COMMIT's schema (schema-evolution
        # reads: dropped columns vanish, added columns NULL-fill), so
        # carried-over rows compare equal across the file vintages;
        # each side applies ITS OWN entries' deletion vectors, so a
        # MOR commit's carried live rows cancel in the bag-diff.
        #
        # r14 (guide §2.3/§2.4): the bag-diff is ONE signed-count
        # aggregation instead of the previous exceptAll PAIR. Spark
        # rewrites each exceptAll into union+aggregate+replicate, so
        # the pair scanned each side twice and shuffled (old+new)
        # twice; the fused form scans each side once and shuffles
        # once, with identical multiset semantics: per distinct row,
        # d = count_old - count_new; emit |d| copies as 'delete' when
        # d > 0, 'insert' when d < 0 (grouping NULL-equality matches
        # exceptAll's null-safe comparison). Pure appends/removes skip
        # even that: every row is an insert (or delete) by definition.
        if not removed:
            block = (
                _read_entries(spark, table_path, cur, added)
                .select(*cols)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_snapshot", F.lit(n))
            )
        elif not added:
            block = (
                _read_entries(spark, table_path, cur, removed)
                .select(*cols)
                .withColumn("_change_type", F.lit("delete"))
                .withColumn("_commit_snapshot", F.lit(n))
            )
        else:
            sgn, dcol, icol = "__cdc_sgn", "__cdc_d", "__cdc_i"
            while any(c in cols for c in (sgn, dcol, icol)):
                sgn, dcol, icol = sgn + "_", dcol + "_", icol + "_"
            old = _read_entries(spark, table_path, cur, removed).select(*cols)
            new = _read_entries(spark, table_path, cur, added).select(*cols)
            diff = (
                old.withColumn(sgn, F.lit(1))
                .unionAll(new.withColumn(sgn, F.lit(-1)))
                .groupBy(*cols)
                .agg(F.sum(sgn).alias(dcol))
                .filter(F.col(dcol) != 0)
            )
            block = (
                diff.select(
                    *cols,
                    F.when(F.col(dcol) > 0, F.lit("delete"))
                    .otherwise(F.lit("insert"))
                    .alias("_change_type"),
                    F.explode(
                        F.sequence(F.lit(1), F.abs(F.col(dcol)))
                    ).alias(icol),
                )
                .drop(icol)
                .withColumn("_commit_snapshot", F.lit(n))
            )
        # a range spanning a schema-evolution commit yields blocks
        # with different column sets: align them by name, NULL-filling
        # columns absent in a block's commit-time schema (the same
        # convention schema-evolution reads use)
        out = block if out is None else out.unionByName(block, allowMissingColumns=True)
    if out is None:
        schema = _snapshot_schema(_load_manifest(spark, table_path, hi))
        return (
            spark.createDataFrame([], schema)
            .withColumn("_change_type", F.lit("").cast("string"))
            .withColumn("_commit_snapshot", F.lit(0))
        )
    return out


def alter_drop_column(spark: SparkSession, table_path: str, col_name: str) -> int:
    """ALTER TABLE DROP COLUMN — metadata-only, like add: data files
    keep the bytes but every read projects through the narrowed
    manifest schema, so the column disappears immediately at zero
    rewrite cost and physically ages out as files rewrite through
    normal DML/compaction. Earlier snapshots still show it (their
    manifests kept the old schema). Returns the new snapshot id."""
    from pyspark.sql.types import StructType

    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    schema = _snapshot_schema(m)
    if col_name not in schema.fieldNames():
        raise ValueError(f"column {col_name} does not exist")
    if len(schema.fields) == 1:
        raise ValueError("cannot drop the only column")
    if col_name in _all_spec_fields(m):
        # any vintage counts: a pre-evolution file's bytes for a
        # once-partitioned column live in its DIRECTORY NAME
        raise ValueError(f"cannot drop partition column {col_name}")
    bspec_ = m.get("bucket_by") or {}
    if col_name in bspec_.get("columns", []) or col_name in (
        bspec_.get("sort_by") or []
    ):
        raise ValueError(f"cannot drop bucket/sort column {col_name}")
    narrowed = StructType([f for f in schema.fields if f.name != col_name])
    # constraint references are resolved SEMANTICALLY: analyze each
    # CHECK expression against the post-drop schema and block the drop
    # when analysis fails. A word-boundary regex got both directions
    # wrong — a name inside a string literal (s <> 'v') false-
    # positively blocked, and a backticked identifier with non-word
    # characters evaded, leaving a constraint that breaks every
    # subsequent validated write. Analysis is lazy (empty local frame,
    # no job); ANY failure blocks, the safe direction.
    probe = spark.createDataFrame([], narrowed)
    referenced = []
    for name, expr in (m.get("check_constraints") or {}).items():
        try:
            probe.select(F.expr(expr))
        except Exception:
            referenced.append(name)
    if referenced:
        raise ValueError(
            f"cannot drop {col_name}: referenced by CHECK constraint(s) "
            f"{referenced}; drop_check_constraint first"
        )
    # dropping a GENERATED column retires its rule; dropping a column
    # a generated expression READS would break every later write's
    # recompute (_stage_files) — probe like CHECK and refuse
    gen = dict(m.get("generated_columns") or {})
    gen.pop(col_name, None)
    gen_broken = []
    for gcol, gexpr in gen.items():
        try:
            probe.select(F.expr(gexpr))
        except Exception:
            gen_broken.append(gcol)
    if gen_broken:
        raise ValueError(
            f"cannot drop {col_name}: referenced by generated column(s) "
            f"{gen_broken}; drop those first"
        )
    manifest = _child(
        m, "drop_column",
        schema=narrowed.json(),
        bloom_columns=[c for c in (m.get("bloom_columns") or []) if c != col_name],
        files=m["files"],
    )
    if gen:
        manifest["generated_columns"] = gen
    else:
        manifest.pop("generated_columns", None)
    # the dropped column's DEFAULT retires with it
    dflt = {
        k: v
        for k, v in (m.get("column_defaults") or {}).items()
        if k != col_name
    }
    if dflt:
        manifest["column_defaults"] = dflt
    else:
        manifest.pop("column_defaults", None)
    # so does its IDENTITY spec (values stay in retained files' bytes
    # like any dropped column's)
    ident = {
        k: v
        for k, v in (m.get("identity_columns") or {}).items()
        if k != col_name
    }
    if ident:
        manifest["identity_columns"] = ident
    else:
        manifest.pop("identity_columns", None)
    # a dropped column leaves no readable narrow vintage behind —
    # remove it from the widened marker (and lift the bucketed_view
    # refusal when it was the only one)
    wc = [c for c in (m.get("widened_columns") or []) if c != col_name]
    if wc:
        manifest["widened_columns"] = wc
    else:
        manifest.pop("widened_columns", None)
    # retire the dropped column's PHYSICAL name: retained files keep
    # its bytes, so a later re-add of the same logical name must map
    # to a fresh physical name or the stale values would resurrect
    dropped_phys = _phys_map(m).get(col_name, col_name)
    used = list(m.get("used_physical") or [])
    if dropped_phys not in used:
        used.append(dropped_phys)
    manifest["used_physical"] = used
    pmap = {k: v for k, v in _phys_map(m).items() if k != col_name}
    if pmap:
        manifest["physical_names"] = pmap
    else:
        manifest.pop("physical_names", None)
    return _commit(spark, table_path, manifest)


_WIDEN_OK: dict[str, tuple[str, ...]] = {
    "tinyint": ("smallint", "int", "bigint", "double"),
    "smallint": ("int", "bigint", "double"),
    "int": ("bigint", "double"),
    "float": ("double",),
}


def alter_widen_column(
    spark: SparkSession, table_path: str, col_name: str, new_type: str
) -> int:
    """ALTER TABLE ALTER COLUMN TYPE — METADATA-ONLY type WIDENING
    (Delta's type-widening feature): the manifest schema changes, no
    file rewrites, and Spark's parquet reader upcasts the old files'
    physical type at scan time (int32 under a bigint/double schema,
    float under double — each transition smoke-verified against the
    Spark 4 vectorized reader). Only provably-lossless widenings are
    allowed (``_WIDEN_OK``); narrowing or cross-family changes are
    refused — they would corrupt reads of retained files.

    Pruning stays sound by construction: manifest min/max stats
    compare numerically across int/float Python values, and a column
    widened out of the bloom-indexable family simply stops consulting
    blooms (``_bloom_probe_value`` returns None for non-int column
    types) while min/max and the exact scan stay in charge. Returns
    the new snapshot id."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    schema = _snapshot_schema(m)
    if col_name not in schema.fieldNames():
        raise ValueError(f"column {col_name} does not exist")
    cur = schema[col_name].dataType.simpleString()
    want = _parse_datatype_string(new_type).simpleString()
    if want == cur:
        return m["snapshot_id"]  # no-op
    if want not in _WIDEN_OK.get(cur, ()):
        raise ValueError(
            f"cannot widen {col_name} from {cur} to {want}: only lossless "
            f"widenings are supported ({_WIDEN_OK})"
        )
    if col_name in _all_spec_fields(m):
        # partition values re-inject typed from directory names, which
        # parse cleanly under the wider type — but keep the guard
        # simple and explicit like rename: refuse for now (any spec
        # vintage counts — old files inject from dirs too)
        raise ValueError(f"cannot widen partition column {col_name}")
    if col_name in (m.get("bucket_by") or {}).get("columns", []):
        # widening changes the hash function itself (Murmur3 hashInt
        # vs hashLong) — every existing file's bucket id would become
        # WRONG, silently breaking bucketed joins and bucket pruning
        raise ValueError(
            f"cannot widen bucket column {col_name}: bucket assignment "
            "is type-dependent (rebuild the table to re-bucket)"
        )
    widened = StructType(
        [
            StructField(
                f.name,
                _parse_datatype_string(new_type) if f.name == col_name else f.dataType,
                f.nullable,
                f.metadata,
            )
            for f in schema.fields
        ]
    )
    # generated expressions recompute over the WIDENED inputs on every
    # later write (_stage_files) — the exact soundness condition is
    # that each expression's output type over the widened schema still
    # equals the generated column's declared type. Probe it (lazy
    # empty-frame analysis, no job) and refuse on any divergence: a
    # silently-widened recompute under a narrower declared schema
    # would poison reads.
    gen = m.get("generated_columns") or {}
    if gen:
        probe = spark.createDataFrame(
            [], StructType([f for f in widened.fields if f.name not in gen])
        )
        declared = {f.name: f.dataType.simpleString() for f in widened.fields}
        diverged = []
        for gcol, gexpr in sorted(gen.items()):
            try:
                got = probe.select(F.expr(gexpr).alias(gcol)).schema[
                    gcol
                ].dataType.simpleString()
            except Exception:
                diverged.append(gcol)
                continue
            if got != declared.get(gcol):
                diverged.append(gcol)
        if diverged:
            raise ValueError(
                f"cannot widen {col_name} from {cur} to {want}: generated "
                f"column(s) {diverged} would recompute to a different type "
                "than declared; drop and re-add them instead"
            )
    manifest = _child(
        m, f"widen_column_{col_name}_to_{want}",
        schema=widened.json(),
        files=m["files"],
    )
    # record that pre-widening file vintages exist: the engine read
    # path upcasts them through the manifest schema, but a RAW parquet
    # scan (bucketed_view's catalog table) would read the narrow
    # physical type under the widened declared type — the marker lets
    # that path refuse instead of failing version-dependently. A full
    # rewrite (compact) clears it: every file is then current-typed.
    widened_cols = sorted(set(m.get("widened_columns") or []) | {col_name})
    manifest["widened_columns"] = widened_cols
    return _commit(spark, table_path, manifest)


def alter_rename_column(
    spark: SparkSession, table_path: str, old_name: str, new_name: str
) -> int:
    """ALTER TABLE RENAME COLUMN — METADATA-ONLY via column mapping
    (Delta's ``columnMapping.mode=name``): the parquet bytes and the
    manifest stats stay under the column's original PHYSICAL name
    forever; only the logical name in the schema changes, and every
    read aliases physical -> logical (``_read_files``). Zero rewrite
    cost on a 100 TB table, and files written before AND after the
    rename stay mutually consistent.

    Partition columns are refused (their physical name is baked into
    every Hive directory path), as are renames breaking a CHECK
    constraint (semantic probe, like ``alter_drop_column``).
    ``bloom_columns`` follow the rename (their manifest bitmaps are
    physical-keyed and keep working). Returns the new snapshot id."""
    from pyspark.sql.types import StructField, StructType

    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    schema = _snapshot_schema(m)
    if old_name not in schema.fieldNames():
        raise ValueError(f"column {old_name} does not exist")
    if new_name in schema.fieldNames():
        raise ValueError(f"column {new_name} already exists")
    if old_name in _all_spec_fields(m):
        # any vintage counts: old files re-inject the column from
        # their directory names, which a rename cannot reach
        raise ValueError(f"cannot rename partition column {old_name}")
    renamed = StructType(
        [
            StructField(new_name, f.dataType, f.nullable, f.metadata)
            if f.name == old_name
            else f
            for f in schema.fields
        ]
    )
    probe = spark.createDataFrame([], renamed)
    referenced = []
    for name, expr in (m.get("check_constraints") or {}).items():
        try:
            probe.select(F.expr(expr))
        except Exception:
            referenced.append(name)
    if referenced:
        raise ValueError(
            f"cannot rename {old_name}: referenced by CHECK constraint(s) "
            f"{referenced}; drop_check_constraint first (or re-add it "
            "against the new name)"
        )
    # generated expressions recompute on EVERY write (_stage_files), so
    # a rename of a referenced source column would break all later DML;
    # same semantic probe as CHECK. Renaming the generated column
    # ITSELF is fine — the manifest key follows the logical name.
    gen = dict(m.get("generated_columns") or {})
    gen_broken = []
    for gcol, gexpr in gen.items():
        if gcol == old_name:
            continue
        try:
            probe.select(F.expr(gexpr))
        except Exception:
            gen_broken.append(gcol)
    if gen_broken:
        raise ValueError(
            f"cannot rename {old_name}: referenced by generated column(s) "
            f"{gen_broken}"
        )
    if old_name in gen:
        gen[new_name] = gen.pop(old_name)
    # bucket columns follow the rename (values — and thus bucket
    # assignments and the physical-keyed bucket pruning — are
    # untouched; only the spec's logical name moves)
    bspec = m.get("bucket_by")
    if bspec and (
        old_name in bspec["columns"] or old_name in (bspec.get("sort_by") or [])
    ):
        bspec = {
            **bspec,
            "columns": [
                new_name if c == old_name else c for c in bspec["columns"]
            ],
        }
        if bspec.get("sort_by"):
            bspec["sort_by"] = [
                new_name if c == old_name else c for c in bspec["sort_by"]
            ]
    pmap = dict(_phys_map(m))
    pmap[new_name] = pmap.pop(old_name, old_name)
    if pmap[new_name] == new_name:
        del pmap[new_name]  # renamed back to its physical name
    used = list(m.get("used_physical") or [])
    manifest = _child(
        m, f"rename_column_{old_name}_to_{new_name}",
        schema=renamed.json(),
        bloom_columns=[
            new_name if c == old_name else c for c in (m.get("bloom_columns") or [])
        ],
        files=m["files"],
    )
    if gen:
        manifest["generated_columns"] = gen
    else:
        manifest.pop("generated_columns", None)
    # a DEFAULT follows its column's logical name (the expression is
    # constant-foldable by declaration, so no expr can reference the
    # renamed column and break)
    dflt = dict(m.get("column_defaults") or {})
    if old_name in dflt:
        dflt[new_name] = dflt.pop(old_name)
        manifest["column_defaults"] = dflt
    # an IDENTITY spec follows the rename too (its counter state is
    # name-keyed metadata; the values live under the physical name)
    ident = dict(m.get("identity_columns") or {})
    if old_name in ident:
        ident[new_name] = ident.pop(old_name)
        manifest["identity_columns"] = ident
    if bspec:
        manifest["bucket_by"] = bspec
    if used:
        manifest["used_physical"] = used
    if pmap:
        manifest["physical_names"] = pmap
    else:
        manifest.pop("physical_names", None)
    return _commit(spark, table_path, manifest)


def consume_changes(spark: SparkSession, table_path: str, cursor_path: str):
    """Incremental CDC consumption with a durable cursor: returns
    ``(delta_df, commit)`` where ``delta_df`` is every change since
    the cursor's last-processed snapshot (first call: the full table
    content as 'insert' rows of the oldest RETAINED snapshot — so
    consumers can still bootstrap after vacuum expired early history —
    then the feed onward) and ``commit()`` durably advances the
    cursor to the snapshot the delta was computed against.

    Call ``commit()`` only AFTER the delta is durably processed:
    until then a crashed consumer re-reads the same delta
    (at-least-once; pair with an idempotent sink — e.g. MERGE on key
    — for exactly-once effect, the standard streaming contract).
    The cursor is a tiny JSON file written temp-then-rename, so a
    torn write can't corrupt it. Downstream cost per call is
    O(changed files since the cursor), never O(table) — this is how
    a 100 TB derived table follows its source without rescans."""
    cur = current_snapshot(spark, table_path)
    fs, cjp = _fs(spark, cursor_path)
    last = None
    if fs.exists(cjp):
        last = json.loads(_read_file(spark, cursor_path).decode())["last_snapshot"]
    elif fs.exists(_jpath(spark, f"{cursor_path}.prev")):
        # a consumer crashed inside commit()'s rename-aside window: the
        # previous cursor is the recovery point — re-deliver from there
        # (at-least-once), never replay the whole table
        last = json.loads(
            _read_file(spark, f"{cursor_path}.prev").decode()
        )["last_snapshot"]
    if last is None:
        # bootstrap from the OLDEST RETAINED snapshot's full content —
        # pinning snapshot 1 would make new consumers impossible to
        # start on any table that has ever been vacuumed
        oldest = _list_snapshots(spark, table_path)[0]
        base = read(spark, table_path, snapshot=oldest).withColumns(
            {"_change_type": F.lit("insert"), "_commit_snapshot": F.lit(oldest)}
        )
        delta = (
            base.unionByName(
                changes(spark, table_path, oldest, cur), allowMissingColumns=True
            )
            if cur > oldest
            else base
        )
    elif last >= cur:
        delta = changes(spark, table_path, cur, cur)  # typed empty frame
    else:
        delta = changes(spark, table_path, last, cur)

    def commit() -> int:
        tmp = f"{cursor_path}.tmp-{uuid.uuid4().hex}"
        _write_file(spark, tmp, json.dumps({"last_snapshot": cur}).encode())
        if not fs.rename(_jpath(spark, tmp), cjp):
            # cursor exists (rename-to-existing fails on HDFS-semantics
            # filesystems): move the old cursor ASIDE, not away — a
            # crash between the two renames then recovers from .prev
            # (same delta again) instead of replaying the whole table
            prev = _jpath(spark, f"{cursor_path}.prev")
            fs.delete(prev, False)
            if not fs.rename(cjp, prev) or not fs.rename(_jpath(spark, tmp), cjp):
                raise IOError(f"failed to advance CDC cursor at {cursor_path}")
        return cur

    return delta, commit


def truncate(spark: SparkSession, table_path: str) -> dict:
    """TRUNCATE TABLE — a METADATA-ONLY commit with an empty file
    list: no data file is read, rewritten, or deleted, so truncating
    a 100 TB table costs one manifest write. Old snapshots stay
    readable (time travel) and reclaimable (``rollback``) until
    ``vacuum`` expires them — which is also what makes this truncate
    safely reversible, unlike the filesystem wipe it replaces."""
    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    manifest = _child(m, "truncate", files=[])
    _commit(spark, table_path, manifest)
    return {"snapshot_id": manifest["snapshot_id"], "files_rewritten": 0,
            "files_untouched": 0, "files_written": 0}


def drop(spark: SparkSession, table_path: str) -> None:
    """DROP TABLE — removes the table directory (manifest log AND
    data files) and forgets the driver-side COW memo for the path, so
    a later CREATE at the same location starts a fresh snapshot 1."""
    if not _list_snapshots(spark, table_path):
        raise CowTableNotFound(table_path)
    fs, jp = _fs(spark, table_path)
    fs.delete(jp, True)
    _COW_TABLE_MEMO.discard(table_path)
    _purge_table_caches(table_path)


def rollback(spark: SparkSession, table_path: str, snapshot: int) -> int:
    """Roll the table back to an earlier snapshot by committing a NEW
    snapshot that duplicates its file list and schema — history moves
    only forward (the rolled-back-over snapshots stay readable), which
    is what makes rollback safe under concurrent readers and equally
    easy to roll back FROM. Requires the target snapshot's files to
    still exist (i.e. no vacuum since). Returns the new snapshot id."""
    target = _load_manifest(spark, table_path, snapshot)
    head = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    fs, _ = _fs(spark, table_path)
    for f in target["files"]:
        if not fs.exists(_jpath(spark, f"{table_path}/{DATA_DIR}/{f['name']}")):
            raise ValueError(
                f"snapshot {snapshot} is no longer restorable: {f['name']} was vacuumed"
            )
        dv = f.get("dv")
        if dv and not fs.exists(_jpath(spark, f"{table_path}/{DV_DIR}/{dv['name']}")):
            raise ValueError(
                f"snapshot {snapshot} is no longer restorable: deletion vector "
                f"{dv['name']} was vacuumed"
            )
    manifest = _child(
        target, f"rollback_to_{snapshot}",
        snapshot_id=head["snapshot_id"] + 1,
        parent=head["snapshot_id"],
        files=target["files"],
    )
    # two pieces of TABLE-LEVEL state must never rewind with the data
    # (r11 review finding — _carried(target) would revert them):
    # tags are durable refs to snapshots that all stay readable after
    # a restore (reverting the map breaks VERSION AS OF '<tag>' and
    # silently forfeits vacuum's tag retention — file deletion under
    # a live promise), and identity HIGH-WATER marks must stay
    # monotone (a rewound counter re-issues ids already present in
    # still-readable newer snapshots). The identity SPEC itself
    # follows the restored schema; only the counter takes the max.
    if head.get("tags"):
        manifest["tags"] = head["tags"]
    else:
        manifest.pop("tags", None)
    if manifest.get("identity_columns"):
        # match target and head identity specs by PHYSICAL column
        # name (rename-stable, r12 review fix): a rename between the
        # restore target and head would make a logical-name lookup
        # miss and silently rewind the counter — re-issuing ids
        # present in still-readable newer snapshots
        t_phys = _phys_map(target)
        h_phys = _phys_map(head)
        head_hw_by_phys = {
            h_phys.get(c, c): (spec or {}).get("high_water")
            for c, spec in (head.get("identity_columns") or {}).items()
        }
        merged = {}
        for col, spec in manifest["identity_columns"].items():
            hw_t = spec.get("high_water")
            hw_h = head_hw_by_phys.get(t_phys.get(col, col))
            step = int(spec.get("step", 1))
            cands = [v for v in (hw_t, hw_h) if v is not None]
            hw = (max(cands) if step > 0 else min(cands)) if cands else None
            merged[col] = {**spec, "high_water": hw}
        manifest["identity_columns"] = merged
    return _commit(spark, table_path, manifest)


def add_check_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT name CHECK (expr) — the Delta
    Lake semantics: the EXISTING table content is validated first (a
    constraint that existing rows violate is refused) — proven from
    the manifest's file stats when they imply it, else by one
    aggregate job over current files — then a metadata-only commit
    records it and every later create/append/update/merge/replace_where
    write validates its own rows against it (enforcement cost is
    O(rows written), never O(table)). NULL evaluations pass, per the
    SQL standard."""
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"invalid constraint name: {name!r}")
    m = _load_manifest(spark, table_path, current_snapshot(spark, table_path))
    checks = dict(m.get("check_constraints") or {})
    if name in checks:
        raise ValueError(f"constraint {name} already exists: {checks[name]}")
    # file stats bound a superset of the live rows (a deletion vector
    # only hides rows), so a proof over every entry covers the table
    if not _checks_hold(
        {name: expr}, m["files"], _types(_snapshot_schema(m)), _phys_map(m)
    ):
        current = _read_files(spark, table_path, m, [f["name"] for f in m["files"]])
        _validate_constraints(current, {name: expr})
    checks[name] = expr
    return _commit_carry(
        spark, table_path, m,
        _child(m, f"add_constraint_{name}", check_constraints=checks),
    )


def drop_check_constraint(spark: SparkSession, table_path: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT name — metadata-only commit."""
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    checks = dict(m.get("check_constraints") or {})
    if name not in checks:
        raise ValueError(f"no such constraint: {name}")
    del checks[name]
    return _commit_carry(
        spark, table_path, m,
        _child(m, f"drop_constraint_{name}", check_constraints=checks),
    )


def table_head_meta(spark: SparkSession, table_path: str) -> dict:
    """The head manifest's METADATA without materializing the file
    list (``file_shards`` blobs are never read) — the cheap call for
    gate statement handlers that need schema arity / generated-column
    names before the write path loads the manifest for real. O(1)
    reads at any table size instead of O(shards)."""
    return _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))


def table_schema(spark: SparkSession, table_path: str):
    """Schema of the current snapshot WITHOUT loading the file list —
    see ``table_head_meta``."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(
        json.loads(table_head_meta(spark, table_path)["schema"])
    )


def append_staged(
    spark: SparkSession,
    table_path: str,
    entries: list[dict],
    operation: str = "stream_append",
) -> dict:
    """Commit PRE-STAGED data files as a new-files-only snapshot — the
    low-level half of :func:`append` for writers that produce the
    parquet bytes themselves on executors (the ``cowsink`` streaming
    writer): each ``entries`` item is a manifest file entry
    (``{"name", "rows", "stats", "nulls"}``) whose file already sits
    under ``data/``. Same no-read-set optimistic-commit loop as
    ``append``, which owns the files from here: a refused commit
    deletes them. The ``cowsink`` streaming writer publishes with its
    own local-filesystem link instead (its commit hook runs in a
    Python worker with no SparkSession), building the manifest with
    the same ``format_rules._child``. Tables with partition columns or
    Bloom columns are refused (staged entries carry neither); CHECK
    constraints are enforced by reading back ONLY the staged files
    (O(new rows))."""
    m = _load_manifest_meta(spark, table_path, current_snapshot(spark, table_path))
    if m.get("partition_by"):
        raise ValueError("append_staged does not support partitioned tables")
    if m.get("bloom_columns"):
        raise ValueError("append_staged does not support bloom-indexed tables")
    if m.get("identity_columns"):
        # pre-staged bytes carry whatever the external writer put in
        # the identity column — the engine can neither refuse nor
        # allocate after the fact, so the whole path refuses (same
        # contract as the DSv2 writers)
        raise ValueError(
            "append_staged does not support IDENTITY tables "
            f"({sorted(m['identity_columns'])}) — the engine assigns "
            "identity values; use cowtable.append"
        )
    known = {f.name for f in _snapshot_schema(m).fields}
    for e in entries:
        bad = set(e.get("stats") or {}) - known
        if bad:
            raise ValueError(f"staged entry {e['name']} has unknown columns {bad}")

    def stage(c: _Commit) -> None:
        c.entries = list(entries)

    def rebase(_base: dict) -> dict | None:
        # the staged entries carry no partition values and no blooms:
        # a head that gained either cannot adopt them
        head = table_head_meta(spark, table_path)
        return None if head.get("partition_by") or head.get("bloom_columns") else head

    # validated={}: nothing checked the files yet, so the loop
    # validates them against the head's CHECK set before publishing
    c = _optimistic_commit(
        spark, table_path, m, stage, lambda c: _child(c.head, operation), rebase,
        append=True, validated={},
    )
    return {
        "snapshot_id": c.manifest["snapshot_id"],
        "files_rewritten": 0,
        "files_untouched": _n_files(spark, table_path, c.head),
        "files_written": len(entries),
    }
