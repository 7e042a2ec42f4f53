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
entries' min/max + null-count stats and per-file Bloom filters before
any partition is emitted, so a point SELECT over a bloom-indexed or
clustered table opens O(matching files), not O(table). All filters
are returned as residual — Spark re-evaluates rows over the
survivors, making an unsound prune impossible by construction.
Pushed equality/IN conjuncts pinning ALL bucket columns additionally
resolve the key's bucket id (shared Murmur3 closures, parity with the
engine's ``_bucket_candidate_filter``) and open 1/n of the files.
Remaining limits, documented not hidden: column pruning does not
reach the pyarrow read (Spark's Python DataSource API has no
prune-columns hook yet — every projection reads full files; use
``cowtable.read`` — a real parquet scan — where that matters);
local-filesystem paths only, like ``cowcdc``/``cowsink``.
"""

from __future__ import annotations


def _build_batch_source_class():
    """Factory: classes close over their deps by value (cloudpickle
    ships them to executor workers where this package is not
    importable — the repo's self-contained-closure rule)."""
    import datetime as _dt
    import json as _json
    import os as _os
    import re as _re
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )

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

    _MANIFEST_RE = _re.compile(r"^manifest-(\d{8})\.json$")

    from ._closure_hash import make_murmur_fns
    from ._closure_staging import make_staging_fns

    # nested closures: pickled BY VALUE into planner/worker processes
    _, _bucket_of_key = make_murmur_fns()
    (_arrow_schema, _validate_rows, _stage_groups, _probe_checks,
     _probe_generated, _apply_generated_rows) = make_staging_fns()

    def _local(path):
        return path[7:] if path.startswith("file://") else path.removeprefix("file:")

    def _snapshots(table_path):
        mdir = _os.path.join(_local(table_path), "_manifests")
        if not _os.path.isdir(mdir):
            return []
        return sorted(
            int(m.group(1))
            for n in _os.listdir(mdir)
            if (m := _MANIFEST_RE.match(n))
        )

    def _manifest_path(table_path, n):
        return _os.path.join(_local(table_path), "_manifests", f"manifest-{n:08d}.json")

    def _load_manifest(table_path, n):
        with open(_manifest_path(table_path, n)) as fh:
            m = _json.load(fh)
        if "file_shards" in m:
            files = []
            for name in m["file_shards"]:
                with open(
                    _os.path.join(_local(table_path), "_manifests", name)
                ) as fh:
                    files += _json.load(fh)
            m["files"] = files
        return m

    def _resolve_snapshot(table_path, options):
        snaps = _snapshots(table_path)
        if not snaps:
            raise ValueError(f"no COW table at {table_path}")
        version = options.get("versionasof") or options.get("versionAsOf")
        ts = options.get("timestampasof") or options.get("timestampAsOf")
        if version is not None and ts is not None:
            raise ValueError("pass versionAsOf OR timestampAsOf, not both")
        if version is not None:
            if not str(version).isdigit():
                # r11 snapshot tags: a non-numeric versionAsOf is a
                # tag name resolved through the HEAD manifest's map
                tag_map = _load_manifest(table_path, snaps[-1]).get("tags") or {}
                if str(version) not in tag_map:
                    raise ValueError(
                        f"unknown tag {version!r} at {table_path}; "
                        f"known tags: {sorted(tag_map) or '(none)'}"
                    )
                version = tag_map[str(version)]
            n = int(version)
            if n not in snaps:
                raise ValueError(
                    f"snapshot {n} is not available at {table_path} "
                    "(expired by vacuum, or never committed)"
                )
            return n
        if ts is not None:
            want = _dt.datetime.fromisoformat(ts)
            if want.tzinfo is None:
                want = want.replace(tzinfo=_dt.timezone.utc)
            best = None
            for n in snaps:
                with open(_manifest_path(table_path, n)) as fh:
                    stamp = _json.load(fh).get("committed_at")
                if stamp is not None:
                    at = _dt.datetime.fromisoformat(stamp)
                else:  # legacy manifest: file mtime
                    at = _dt.datetime.fromtimestamp(
                        _os.path.getmtime(_manifest_path(table_path, n)),
                        tz=_dt.timezone.utc,
                    )
                if at <= want:
                    best = n
            if best is None:
                raise ValueError(
                    f"no snapshot at {table_path} is as old as {ts} "
                    "(timestamp precedes the first commit)"
                )
            return best
        return snaps[-1]

    def _strip_scheme(p):
        if p.startswith("file://"):
            return p[7:]
        if p.startswith("file:"):
            return p[5:]
        return p

    def _resolve_name_option(options):
        """``option("table", name)`` (r11 punch #5): resolve a
        catalog-registered NAME to its table path — the self-contained
        mirror of ``catalog.resolve_or_raise`` (this code runs in
        spawned planner/worker Python processes where neither the
        package nor a SparkSession exists, the same constraint the
        stats-matcher mirror above documents; parity is pinned by
        ``tests/test_cow_batch_source.py``). The catalog directory
        comes from ``option("catalogDir", ...)`` when the session
        overrides ``spark.dws.cow.catalogDir``; the default mirrors
        the engine default — ``<cwd>/spark-warehouse/_cow_catalog``
        (planner workers inherit the driver JVM's cwd, which is what
        Spark's default ``spark.sql.warehouse.dir`` resolves under).
        Unknown names raise WITH the registered-table list."""
        name = options.get("table")
        if not name:
            return None
        name = name.strip().strip("`\"").lower()
        cat = _strip_scheme(
            options.get("catalogdir")
            or options.get("catalogDir")
            or _os.path.join(_os.getcwd(), "spark-warehouse", "_cow_catalog")
        )
        entry = _os.path.join(cat, f"{name}.json")
        if not _os.path.isfile(entry):
            known = (
                sorted(fn[:-5] for fn in _os.listdir(cat) if fn.endswith(".json"))
                if _os.path.isdir(cat)
                else []
            )
            raise ValueError(
                f"unknown table name {name!r} — registered tables: "
                f"{known if known else '(none)'} (set option('catalogDir', ...) "
                "if the session overrides spark.dws.cow.catalogDir)"
            )
        with open(entry) as fh:
            return _strip_scheme(_json.loads(fh.read())["path"])

    def _table_path(options):
        p = _resolve_name_option(options) or (
            options.get("tablepath")
            or options.get("tablePath")
            or options.get("path")
        )
        if not p:
            raise ValueError(
                "cow batch source requires a path / 'tablePath' option "
                "(or a registered name via option('table', ...))"
            )
        return p

    # ---- file pruning (pushFilters) -------------------------------
    # Self-contained mirror of cowtable's stats/bloom file matcher
    # (`_file_may_match`, `_eq_may_match`, `_bloom_may_contain` and
    # the XXH64 pair behind it): DataSource code executes in spawned
    # Python planner/worker processes where this package is not
    # importable, so the logic must travel inside the pickled class.
    # `tests/test_cow_batch_source.py` pins the two matchers against
    # each other on randomized entries so they cannot drift.
    _U64 = (1 << 64) - 1
    _P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    _P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
    _ISO_DATE = _re.compile(r"^\d{4}-\d{2}-\d{2}")
    # canonical timestamp-stat shape (cowtable._canon_ts: UTC-naive,
    # space-separated, fixed 6-digit fraction — fixed width keeps
    # lexicographic order == chronological order)
    _ISO_TS = _re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6}$")

    def _canon_ts_lit(s):
        """Literal -> canonical timestamp-stat string, or None
        (decline to prune). Mirrors cowtable._canon_ts_literal."""
        if isinstance(s, _dt.datetime):
            if s.tzinfo is not None:
                s = s.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return s.isoformat(sep=" ", timespec="microseconds")
        if not isinstance(s, str):
            return None
        try:
            return _canon_ts_lit(_dt.datetime.fromisoformat(s))
        except ValueError:
            return None

    def _rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & _U64

    def _fmix(h):
        h ^= h >> 33
        h = (h * _P2) & _U64
        h ^= h >> 29
        h = (h * _P3) & _U64
        return h ^ (h >> 32)

    def _round(acc, k):
        acc = (acc + k * _P2) & _U64
        return (_rotl(acc, 31) * _P1) & _U64

    def _xxh_long(value, seed):
        h = (seed + _P5 + 8) & _U64
        h ^= _round(0, value & _U64)
        h = (_rotl(h, 27) * _P1 + _P4) & _U64
        return _fmix(h)

    def _xxh_bytes(data, seed):
        n, i = len(data), 0
        if n >= 32:
            v1 = (seed + _P1 + _P2) & _U64
            v2 = (seed + _P2) & _U64
            v3 = seed & _U64
            v4 = (seed - _P1) & _U64
            while i <= n - 32:
                v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
                v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
                v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
                v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
                i += 32
            h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _U64
            for v in (v1, v2, v3, v4):
                h ^= _round(0, v)
                h = (h * _P1 + _P4) & _U64
        else:
            h = (seed + _P5) & _U64
        h = (h + n) & _U64
        while i <= n - 8:
            h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
            h = (_rotl(h, 27) * _P1 + _P4) & _U64
            i += 8
        if i <= n - 4:
            h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _U64
            h = (_rotl(h, 23) * _P2 + _P3) & _U64
            i += 4
        while i < n:
            h ^= (data[i] * _P5) & _U64
            h = (_rotl(h, 11) * _P1) & _U64
            i += 1
        return _fmix(h)

    def _bloom_hit(bl, probe):
        import base64 as _b64

        bitmap = _b64.b64decode(bl["b64"])
        for j in range(bl["k"]):
            p = _xxh_bytes(probe.encode("utf-8"), _xxh_long(j, 42)) & (bl["m"] - 1)
            if not bitmap[p >> 3] & (1 << (p & 7)):
                return False
        return True

    def _probe_value(val, col_type):
        if isinstance(val, bool) or not isinstance(val, (str, int)):
            return None
        if col_type is None:
            return str(val)
        if col_type in ("int", "bigint", "smallint", "tinyint"):
            if isinstance(val, int):
                return str(val)
            try:
                return str(int(val.strip()))
            except ValueError:
                return None
        if col_type == "string":
            return val if isinstance(val, str) else None
        return None

    def _eq_may(entry, col, val, types):
        bl = (entry.get("blooms") or {}).get(col)
        probe = _probe_value(val, None if types is None else types.get(col))
        if bl is not None and probe is not None and not _bloom_hit(bl, probe):
            return False
        stats = entry.get("stats") or {}
        if col not in stats:
            return True
        lo, hi = stats[col]
        if isinstance(lo, str) and _ISO_TS.match(lo):
            val = _canon_ts_lit(val)
            if val is None:
                return True
        if isinstance(val, (int, float)) != isinstance(lo, (int, float)):
            return True
        if isinstance(lo, str) and _ISO_DATE.match(lo) and not _ISO_DATE.match(str(val)):
            return True
        return not (val < lo or val > hi)

    def _entry_may_match(entry, conjuncts, types):
        """False only when stats/nulls/bloom PROVE a conjunct can
        never hold in this file — byte-identical decision procedure
        to ``cowtable._file_may_match``."""
        stats = entry.get("stats") or {}
        nulls = entry.get("nulls")
        for col, op, val in conjuncts:
            if op in ("isnull", "notnull"):
                if nulls is None:
                    continue
                nc = nulls.get(col, 0)
                if op == "isnull" and nc == 0:
                    return False
                if op == "notnull" and nc == entry.get("rows"):
                    return False
                continue
            if nulls is not None and nulls.get(col, 0) == entry.get("rows"):
                return False
            if op == "in":
                if not any(_eq_may(entry, col, v, types) for v in val):
                    return False
                continue
            if op == "=":
                if not _eq_may(entry, col, val, types):
                    return False
                continue
            if col not in stats:
                continue
            lo, hi = stats[col]
            if isinstance(lo, str) and _ISO_TS.match(lo):
                val = _canon_ts_lit(val)
                if val is None:
                    continue
            if isinstance(val, (int, float)) != isinstance(lo, (int, float)):
                continue
            if (
                isinstance(lo, str)
                and _ISO_DATE.match(lo)
                and not _ISO_DATE.match(str(val))
            ):
                continue
            if op == "<" and lo >= val:
                return False
            if op == "<=" and lo > val:
                return False
            if op == ">" and hi <= val:
                return False
            if op == ">=" and hi < val:
                return False
        return True

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
            return _canon_ts_lit(val)
        if isinstance(val, _dt.date):
            return val.isoformat()  # DATE stats are ISO strings
        return None

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
            m = _load_manifest(self.table_path, self.snapshot)
            data_dir = _os.path.join(_local(self.table_path), "data")
            dv_dir = _os.path.join(_local(self.table_path), "_dv")
            pmap = m.get("physical_names") or {}
            files = m["files"]
            if self.conjuncts:
                # entry stats are keyed by PHYSICAL names (rename
                # never rewrites stats); probe under those
                conjs = [(pmap.get(c, c), op, v) for c, op, v in self.conjuncts]
                types = {pmap.get(k, k): v for k, v in self.col_types.items()}
                files = [f for f in files if _entry_may_match(f, conjs, types)]
                spec = m.get("bucket_by")
                if spec:
                    # BUCKET pruning, mirroring cowtable's engine-side
                    # rule: an equality (or single-column IN) pinning
                    # all bucket columns resolves the key's bucket with
                    # one local Murmur3 and refutes every other
                    # bucket's files; conservative everywhere else
                    bphys = [pmap.get(c, c) for c in spec["columns"]]
                    nb = int(spec["buckets"])
                    eqs = {}
                    for c, op, v in conjs:
                        if c in bphys and c not in eqs:
                            if op == "=":
                                eqs[c] = [v]
                            elif op == "in" and len(bphys) == 1:
                                eqs[c] = list(v)
                    if set(eqs) == set(bphys):
                        btypes = [types.get(c) for c in bphys]
                        tuples = [[]]
                        for c in bphys:
                            tuples = [t + [v] for t in tuples for v in eqs[c]]
                        buckets = set()
                        ok = True
                        for t in tuples:
                            b = _bucket_of_key(t, btypes, nb)
                            if b is None:
                                ok = False
                                break
                            buckets.add(b)
                        if ok:
                            files = [
                                f
                                for f in files
                                if f.get("bucket") is None
                                or f["bucket"] in buckets
                            ]
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
            import pandas as pd
            import pyarrow.parquet as pq

            from urllib.parse import unquote as _unq

            def _part_vals(name):
                # Hive col=value/ path segments: the writer strips these
                # columns from the file bytes; re-inject them typed
                out = {}
                for seg in name.split("/")[:-1]:
                    c, sep, v = seg.partition("=")
                    if not sep or c not in partition.col_names:
                        continue
                    v = _unq(v)
                    if v == "__HIVE_DEFAULT_PARTITION__":
                        out[c] = None
                        continue
                    t = partition.col_types.get(c, "")
                    if t in ("int", "bigint", "smallint", "tinyint"):
                        out[c] = int(v)
                    elif t in ("float", "double"):
                        out[c] = float(v)
                    elif t == "date":
                        out[c] = _dt.date.fromisoformat(v)
                    elif t == "timestamp":
                        out[c] = _dt.datetime.fromisoformat(v)
                    elif t == "boolean":
                        out[c] = v.lower() == "true"
                    else:
                        out[c] = v
                return out

            pdf = pq.read_table(
                _os.path.join(partition.data_dir, partition.name)
            ).to_pandas()
            if partition.pmap:
                # column mapping: files store PHYSICAL names; surface
                # the logical ones (mirrors cowtable._read_files)
                pdf = pdf.rename(
                    columns={p: l for l, p in partition.pmap.items()}
                )
            if partition.dv_path is not None:
                # merge-on-read: mask the deletion vector's positions
                # for THIS file (pos = 0-based row index, which is
                # exactly the pyarrow read order)
                import numpy as np
                import pyarrow.compute as pc

                base = partition.name.rsplit("/", 1)[-1]
                dv = pq.read_table(partition.dv_path, columns=["file", "pos"])
                pos = dv.filter(pc.equal(dv["file"], base))["pos"].to_numpy()
                if len(pos):
                    keep = np.ones(len(pdf), dtype=bool)
                    keep[pos.astype(int)] = False
                    pdf = pdf[keep].reset_index(drop=True)
            pvals = _part_vals(partition.name)
            for c in partition.col_names:
                if c in pvals:
                    pdf[c] = pvals[c]
                elif c not in pdf.columns:
                    pdf[c] = None  # schema-evolved older file: NULL
            for tup in pdf[partition.col_names].itertuples(index=False, name=None):
                yield tuple(
                    None
                    if v is None or (isinstance(v, float) and v != v) or v is pd.NaT
                    else (
                        v.to_pydatetime()
                        if isinstance(v, pd.Timestamp)
                        else v.item() if hasattr(v, "item") else v
                    )
                    for v in tup
                )

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
        manifest-level filter (identical XXH64 position scheme — the
        mirrored ``_xxh_*`` above, parity-pinned by tests); CHECK
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
            # generated columns are recomputed FIRST (overwriting the
            # frame's values — a generated column IS its expression),
            # so CHECKs referencing them validate the landed values
            rows = _apply_generated_rows(
                rows, self.col_names, self.col_types, self.generated,
                "cow writer",
            )
            # validate, THEN stage: a violating task leaves no bytes
            _validate_rows(
                rows, self.col_names, self.col_types,
                self.check_constraints, "cow writer",
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
                    "prefix": "batch",
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

        def commit(self, messages):
            import tempfile as _tempfile

            entries = [
                e
                for m in messages
                if m is not None
                for e in (m.entries or [])
            ]
            for _attempt in range(8):
                snaps = _snapshots(self.table_path)
                head = _load_manifest(self.table_path, snaps[-1])
                drifted = {
                    "partitioning": (head.get("partition_by") or [])
                    != self.partition_by,
                    "bloom indexing": (head.get("bloom_columns") or [])
                    != self.bloom_columns,
                    "CHECK constraints": (head.get("check_constraints") or {})
                    != self.check_constraints,
                    "generated columns": (head.get("generated_columns") or {})
                    != self.generated,
                    "bucketing": (head.get("bucket_by") or None) != self.bucket,
                }
                appeared = [k for k, v in drifted.items() if v]
                if appeared:
                    # a table feature DIVERGED from what the writer
                    # captured at planning (e.g. a concurrent ALTER
                    # added a CHECK constraint the staged rows were
                    # never validated against — the engine path
                    # re-validates on exactly this race): abort
                    # loudly, never publish unvetted bytes
                    self._drop_staged(messages)
                    raise RuntimeError(
                        f"cow writer: {'/'.join(appeared)} changed on "
                        f"{self.table_path} between planning and commit; "
                        "re-run the write"
                    )
                n = head["snapshot_id"] + 1
                manifest = {
                    k: v
                    for k, v in head.items()
                    if k
                    in (
                        "schema",
                        "partition_by",
                        "bloom_columns",
                        "check_constraints",
                        "write_mode",
                        "physical_names",
                        "used_physical",
                        "txns",
                        "bucket_by",
                        "widened_columns",
                        "generated_columns",
                        "partition_specs",
                        "default_spec_id",
                    )
                }
                manifest.update(
                    {
                        "snapshot_id": n,
                        "parent": head["snapshot_id"],
                        "operation": "overwrite" if self.overwrite else "batch_append",
                        "files": entries if self.overwrite else head["files"] + entries,
                        "committed_at": _dt.datetime.now(
                            _dt.timezone.utc
                        ).isoformat(timespec="microseconds"),
                    }
                )
                mdir = _os.path.join(_local(self.table_path), "_manifests")
                fd, tmp = _tempfile.mkstemp(dir=mdir, suffix=".tmp")
                with _os.fdopen(fd, "w") as fh:
                    _json.dump(manifest, fh)
                try:
                    _os.link(tmp, _manifest_path(self.table_path, n))
                    _os.remove(tmp)
                    return
                except FileExistsError:
                    _os.remove(tmp)  # lost the race: reload head, retry
            self._drop_staged(messages)
            raise RuntimeError(
                f"cow batch write lost {8} commit races at {self.table_path}"
            )

        def abort(self, messages):
            self._drop_staged(messages)

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
            m = _load_manifest(table_path, n)
            return StructType.fromJson(_json.loads(m["schema"]))

        def reader(self, schema):
            return CowBatchReader(schema, self.options)

        def writer(self, schema, overwrite):
            table_path = _table_path(self.options)
            snaps = _snapshots(table_path)
            if not snaps:
                raise ValueError(
                    f"no COW table at {table_path} — create it with "
                    "cowtable.create first (the writer appends/overwrites "
                    "an existing table's content, it does not define schema)"
                )
            head = _load_manifest(table_path, snaps[-1])
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
            gen = head.get("generated_columns") or {}
            parts = head.get("partition_by") or []
            tschema0 = _json.loads(head["schema"])
            # Spark's type JSON says 'long'/'integer'; canonicalize to
            # simpleString before the supported-type checks
            _CANON0 = {
                "long": "bigint",
                "integer": "int",
                "short": "smallint",
                "byte": "tinyint",
            }
            ttypes0 = {
                f["name"]: _CANON0.get(f["type"], f["type"])
                if isinstance(f["type"], str)
                else f["type"]
                for f in tschema0["fields"]
            }
            _GROUPABLE = ("tinyint", "smallint", "int", "bigint", "string", "date")
            bad_part = [c for c in parts if ttypes0.get(c) not in _GROUPABLE]
            if bad_part:
                raise ValueError(
                    f"cow writer: unsupported partition column type(s) for "
                    f"{bad_part} — use cowtable.append"
                )
            bucket = head.get("bucket_by") or None
            if bucket:
                # bucket assignment is Murmur3 parity via the shared
                # _closure_hash closures — supported for exactly the
                # types those closures hash bit-identically to F.hash
                bad_bkt = [
                    c for c in bucket["columns"] if ttypes0.get(c) not in _GROUPABLE
                ]
                if bad_bkt:
                    raise ValueError(
                        f"cow writer: unsupported bucket column type(s) for "
                        f"{bad_bkt} — use cowtable.append"
                    )
            checks = head.get("check_constraints") or {}
            # probe ANSI parseability NOW (planning time) so a
            # Spark-only expression fails the job upfront, never per
            # executor task (shared probe: _closure_staging)
            _probe_checks(tschema0["fields"], checks, "cow writer")
            # generated columns (r8 punch-list #5): recomputable here
            # iff each expression DuckDB-parses against the
            # non-generated columns AND yields the declared type —
            # probed NOW so a Spark-only expression fails the job
            # upfront; the write path then recomputes the values per
            # task, overwriting whatever the frame carried (the
            # engine's _apply_generated invariant)
            _probe_generated(tschema0["fields"], gen, "cow writer")
            tschema = _json.loads(head["schema"])
            tnames = [f["name"] for f in tschema["fields"]]
            ttypes = {f["name"]: f["type"] for f in tschema["fields"]}
            non_scalar = [c for c, t in ttypes.items() if not isinstance(t, str)]
            if non_scalar:
                raise ValueError(f"cow writer: unsupported nested columns {non_scalar}")
            frame_cols = sorted(f.name for f in schema.fields)
            missing = set(tnames) - set(frame_cols)
            if frame_cols != sorted(tnames) and (
                missing - set(gen) or set(frame_cols) - set(tnames)
            ):
                # generated columns may be OMITTED from the frame (the
                # write recomputes them anyway); everything else must
                # match exactly
                raise ValueError(
                    f"cow writer: frame columns {frame_cols}"
                    f" != table columns {sorted(tnames)} (cast/rename first;"
                    " only generated columns may be omitted)"
                )
            _CANON = {
                "long": "bigint",
                "integer": "int",
                "short": "smallint",
                "byte": "tinyint",
            }
            col_types = {c: _CANON.get(t, t) for c, t in ttypes.items()}
            # planning-time staging-type check: a column the pyarrow
            # staging path cannot type (binary/array/...) fails the
            # job upfront with the column named, never per task
            _arrow_schema(tnames, col_types, {})
            for f in schema.fields:
                want = col_types[f.name]
                got = _CANON.get(
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
                partition_by=parts,
                bloom_columns=head.get("bloom_columns") or [],
                check_constraints=checks,
                bucket=bucket,
                generated=gen,
            )

    # test handles: the pinning test in test_cow_batch_source.py runs
    # this self-contained matcher against cowtable's on randomized
    # entries so the two decision procedures cannot drift
    CowBatchDataSource._entry_may_match = staticmethod(_entry_may_match)
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
