"""Executor-side COW staging for the DSv2 writers.

The ``cow`` batch writer and the ``cowsink`` stream writer stage rows
identically — per-task CHECK validation, partition grouping into
Hive-dir parquet files, typed min==max partition stats, manifest
blooms — differing only in the staged file-name prefix and their
commit protocols. This module holds that staging once; its stats,
bloom and bucket rules come from ``format_rules``, the same functions
``cowtable`` stages with. The package ships to the writers' workers
when a source is registered (``sources.register_once``).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from urllib.parse import quote

from ..format_rules import (
    _BLOOM_TYPES,
    _STATS_TYPES,
    BLOOM_K,
    BLOOM_M_BITS,
    _bloom_positions,
    _build_bloom,
    _spark_hash_literal,
    _stat_val,
)
from ._local_table import local

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

# Spark's JSON schema (StructType.jsonValue) spells the integral types
# 'long'/'integer'/'short'/'byte' while simpleString (and everything
# the engine writes into manifests) says 'bigint'/'int'/'smallint'/
# 'tinyint'. The probes receive tschema["fields"] straight from the
# JSON form, so _pa_type_of must understand BOTH spellings — otherwise
# integer columns silently vanish from the DuckDB probe relation and
# any generated/CHECK expression referencing them is falsely refused
# at planning ("Referenced column not found").
_SPARK_JSON_CANON = {
    "long": "bigint",
    "integer": "int",
    "short": "smallint",
    "byte": "tinyint",
}

# partition and bucket column types the staging groups and hashes
# exactly as the engine does
_PART_TYPES = ("tinyint", "smallint", "int", "bigint", "string", "date")


def bucket_id_of(vals, btypes, nb):
    """pmod(hash(cols), n) over one row's bucket-key values —
    Spark's HashPartitioning.partitionIdExpression. A NULL value
    leaves the hash chain unchanged (Murmur3Hash.eval's null
    rule); unsupported literal shapes return None and the caller
    refuses the write (planning already vets the column types,
    so this only fires on type drift)."""
    h = 42
    for v, t in zip(vals, btypes):
        if v is None:
            continue
        h = _spark_hash_literal(v, t, h)
        if h is None:
            return None
    signed = h - (1 << 32) if h >= (1 << 31) else h
    return signed % nb


def _bloom_of(vals):
    """A file's manifest bloom entry over its non-null values (hashed
    through their CAST AS STRING form, like engine staging), or None
    past the NDV saturation gate."""
    position_sets = [set() for _ in range(BLOOM_K)]
    for v in vals:
        for ps, p in zip(position_sets, _bloom_positions(str(v), BLOOM_M_BITS, BLOOM_K)):
            ps.add(p)
    return _build_bloom(position_sets)


def _pa_type_of(t):
    """simpleString -> pyarrow type (None = unsupported). Covers
    the scalar warehouse types incl. decimal(p,s) — the canonical
    money type — which Spark's parquet reader round-trips from
    pyarrow's decimal128 exactly."""
    import pyarrow as pa

    t = _SPARK_JSON_CANON.get(t, t)
    if t == "timestamp":
        return pa.timestamp("us")
    if t in _PA_TYPES:
        return getattr(pa, _PA_TYPES[t])()
    dm = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t or "")
    if dm and int(dm.group(1)) <= 38:
        return pa.decimal128(int(dm.group(1)), int(dm.group(2)))
    return None


def arrow_schema(cols, col_types, pmap):
    """pyarrow schema of ``cols`` under physical (or, with pmap={},
    logical) names."""
    import pyarrow as pa

    fields = []
    for c in cols:
        p = pmap.get(c, c)
        pt = _pa_type_of(col_types[c])
        if pt is None:
            raise ValueError(
                f"cow staging: unsupported type {col_types[c]} for {c}"
            )
        fields.append(pa.field(p, pt))
    return pa.schema(fields)


def validate_rows(rows, col_names, col_types, checks, label):
    """DuckDB-ANSI CHECK evaluation over the task's rows under LOGICAL
    names; NULL passes (the SQL three-valued rule, matching
    cowtable._validate_constraints)."""
    if not checks:
        return
    import duckdb as _duck
    import pyarrow as pa

    t = pa.table(
        {c: [r[c] for r in rows] for c in col_names},
        schema=arrow_schema(col_names, col_types, {}),
    )
    con = _duck.connect()
    con.register("__w", t)
    bad = {}
    for name, expr in sorted(checks.items()):
        n = con.execute(
            f"SELECT count(*) FROM __w WHERE NOT ({expr})"
        ).fetchone()[0]
        if n:
            bad[name] = int(n)
    if bad:
        raise ValueError(
            f"{label}: CHECK constraint(s) violated (name: rows): {bad}"
        )


def stage_groups(rows, cfg):
    """Group rows by partition values (and, on bucketed tables, the
    row's bucket id), write one Hive-dir parquet per group (bucket id
    as the ``_000NN`` file-name suffix, rows sorted by the
    within-bucket sort spec) and return engine-identical manifest
    entries. cfg keys: col_names, col_types (logical->simpleString),
    pmap, partition_by, bloom_columns, data_dir, prefix, bucket (None
    or {columns, buckets, sort_by})."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    col_names = cfg["col_names"]
    col_types = cfg["col_types"]
    pmap = cfg["pmap"]
    partition_by = cfg["partition_by"]
    bloom_columns = cfg["bloom_columns"]
    data_dir = cfg["data_dir"]
    prefix = cfg["prefix"]
    bucket = cfg.get("bucket")
    bcols = list(bucket["columns"]) if bucket else []
    btypes = [col_types[c] for c in bcols]
    nb = int(bucket["buckets"]) if bucket else 0
    bsort = list(bucket.get("sort_by") or []) if bucket else []
    groups = {}
    for r in rows:
        key = tuple(r[c] for c in partition_by)
        if bucket:
            b = bucket_id_of([r[c] for c in bcols], btypes, nb)
            if b is None:
                raise ValueError(
                    "cow staging: bucket key value not hashable "
                    f"({[r[c] for c in bcols]!r}) — type drift?"
                )
            key = key + (b,)
        groups.setdefault(key, []).append(r)
    data_cols = [c for c in col_names if c not in partition_by]
    schema = arrow_schema(data_cols, col_types, pmap)
    entries = []
    for key, grp in sorted(
        groups.items(), key=lambda kv: tuple(map(str, kv[0]))
    ):
        pvals, b_id = (key[:-1], key[-1]) if bucket else (key, None)
        if bsort:
            # within-bucket sort spec: row order survives into the
            # file (nulls first ascending, Spark's default)
            grp = sorted(
                grp,
                key=lambda r: tuple(
                    (r[c] is not None, r[c]) for c in bsort
                ),
            )
        cols = {pmap.get(c, c): [r[c] for r in grp] for c in data_cols}
        table = pa.table(cols, schema=schema)
        segs = []
        for c, v in zip(partition_by, pvals):
            raw = (
                "__HIVE_DEFAULT_PARTITION__"
                if v is None
                else (v.isoformat() if hasattr(v, "isoformat") else str(v))
            )
            segs.append(f"{c}={quote(raw, safe='')}")
        suffix = f"_{b_id:05d}" if b_id is not None else ""
        base = f"{prefix}-{uuid.uuid4().hex}{suffix}.parquet"
        name = "/".join(segs + [base])
        os.makedirs(
            os.path.join(data_dir, *segs) if segs else data_dir,
            exist_ok=True,
        )
        pq.write_table(table, os.path.join(data_dir, *segs, base))
        stats, nulls, blooms = {}, {}, {}
        for c in data_cols:
            p = pmap.get(c, c)  # stats keyed physical, like staging
            vals = [v for v in cols[p] if v is not None]
            n_null = len(cols[p]) - len(vals)
            if n_null:
                nulls[p] = n_null
            t = col_types[c]
            if vals and t in _STATS_TYPES:
                stats[p] = [_stat_val(min(vals)), _stat_val(max(vals))]
            if vals and c in bloom_columns and t in _BLOOM_TYPES:
                bl = _bloom_of(vals)
                if bl is not None:
                    blooms[p] = bl
        entry = {
            "name": name,
            "rows": len(grp),
            "stats": stats,
            "nulls": nulls,
        }
        if b_id is not None:
            entry["bucket"] = b_id
        if partition_by:
            part = {}
            for c, v in zip(partition_by, pvals):
                if v is None:
                    part[c] = "__HIVE_DEFAULT_PARTITION__"
                    nulls[c] = len(grp)
                    continue
                part[c] = v.isoformat() if hasattr(v, "isoformat") else str(v)
                # min == max == the value, typed like the engine
                stats[c] = [_stat_val(v), _stat_val(v)]
            entry["partition"] = part
        if blooms:
            entry["blooms"] = blooms
        entries.append(entry)
    return entries


def probe_checks(tschema_fields, checks, label):
    """Planning-time (driver) DuckDB parse probe of every CHECK
    expression against an empty typed relation — a non-portable
    (Spark-only) expression fails the job/query upfront with a
    pointer to the engine path, never per executor task."""
    if not checks:
        return
    import duckdb as _duck
    import pyarrow as pa

    probe_fields = []
    for f in tschema_fields:
        t = f["type"]
        pt = _pa_type_of(t) if isinstance(t, str) else None
        if pt is not None:
            probe_fields.append(pa.field(f["name"], pt))
    con = _duck.connect()
    con.register(
        "__w",
        pa.table(
            {f.name: [] for f in probe_fields},
            schema=pa.schema(probe_fields),
        ),
    )
    for cname, expr in sorted(checks.items()):
        try:
            con.execute(f"SELECT count(*) FROM __w WHERE NOT ({expr})")
        except Exception as e:
            raise ValueError(
                f"{label}: CHECK constraint {cname}: {expr!r} is not "
                f"portable ANSI SQL (DuckDB-evaluated in this path: {e}) "
                "— use the engine path (cowtable.append)"
            ) from None


def _pa_simple(pa_type):
    """pyarrow type -> Spark simpleString (None = unsupported)."""
    import pyarrow as pa

    if pa.types.is_int8(pa_type):
        return "tinyint"
    if pa.types.is_int16(pa_type):
        return "smallint"
    if pa.types.is_int32(pa_type):
        return "int"
    if pa.types.is_int64(pa_type):
        return "bigint"
    if pa.types.is_float32(pa_type):
        return "float"
    if pa.types.is_float64(pa_type):
        return "double"
    if pa.types.is_string(pa_type) or pa.types.is_large_string(pa_type):
        return "string"
    if pa.types.is_boolean(pa_type):
        return "boolean"
    if pa.types.is_date(pa_type):
        return "date"
    if pa.types.is_timestamp(pa_type):
        return "timestamp"
    if pa.types.is_decimal(pa_type):
        return f"decimal({pa_type.precision},{pa_type.scale})"
    return None


def probe_generated(tschema_fields, generated, label):
    """Planning-time (driver) probe: every generated expression
    must (a) DuckDB-parse against an empty typed relation of the
    NON-generated columns and (b) produce EXACTLY the declared
    column type — so `length(s)` (int in Spark, bigint in DuckDB)
    refuses upfront instead of staging drifted bytes. Failure
    points at the engine path, which is Spark-exact by
    construction."""
    if not generated:
        return
    import duckdb as _duck
    import pyarrow as pa

    declared = {}
    probe_fields = []
    for f in tschema_fields:
        t = f["type"]
        declared[f["name"]] = t if isinstance(t, str) else None
        if f["name"] in generated:
            continue
        pt = _pa_type_of(t) if isinstance(t, str) else None
        if pt is not None:
            probe_fields.append(pa.field(f["name"], pt))
    con = _duck.connect()
    con.register(
        "__w",
        pa.table(
            {f.name: [] for f in probe_fields},
            schema=pa.schema(probe_fields),
        ),
    )
    canon = _SPARK_JSON_CANON
    for col, expr in sorted(generated.items()):
        try:
            got = con.execute(
                f"SELECT ({expr}) AS __g FROM __w"
            ).arrow().schema[0].type
        except Exception as e:
            raise ValueError(
                f"{label}: generated column {col}: {expr!r} is not "
                f"portable ANSI SQL (DuckDB-evaluated in this path: {e}) "
                "— use the engine path (cowtable.append)"
            ) from None
        want = canon.get(declared.get(col), declared.get(col))
        have = _pa_simple(got)
        if have != want:
            raise ValueError(
                f"{label}: generated column {col}: {expr!r} evaluates "
                f"to {have or got} here but the table declares {want} "
                "— the engines' type rules differ for this expression; "
                "use the engine path (cowtable.append)"
            )


def apply_generated_rows(rows, col_names, col_types, generated, label):
    """Recompute every generated column over the task's rows
    (DuckDB over an Arrow batch of the non-generated columns,
    order pinned by an injected rowid), returning new row dicts
    with the generated values OVERWRITTEN — mirror of the
    engine's ``_apply_generated``. Values are cast to the
    declared type; a cast overflow fails the task before any
    byte lands. The planning probe guarantees parse and type parity
    with Spark, not value parity for every expression: arithmetic,
    CASE, concat and date-part expressions agree between the engines;
    one with engine-specific value semantics belongs on the engine
    path."""
    if not generated or not rows:
        return rows
    import duckdb as _duck
    import pyarrow as pa

    base_cols = [c for c in col_names if c not in generated]
    t = pa.table(
        {
            "__rid": list(range(len(rows))),
            **{c: [r[c] for r in rows] for c in base_cols},
        },
        schema=pa.schema(
            [pa.field("__rid", pa.int64())]
            + list(arrow_schema(base_cols, col_types, {}))
        ),
    )
    con = _duck.connect()
    con.register("__w", t)
    sel = ", ".join(
        f"({expr}) AS {col}" for col, expr in sorted(generated.items())
    )
    out = con.execute(
        f"SELECT {sel} FROM __w ORDER BY __rid"
    ).arrow()
    new_rows = [dict(r) for r in rows]
    for col in sorted(generated):
        vals = out.column(col).cast(
            arrow_schema([col], col_types, {}).field(0).type
        ).to_pylist()
        for r, v in zip(new_rows, vals):
            r[col] = v
    return new_rows


def stage_task(rows, writer, label, prefix):
    """One DSv2 write task's rows -> its staged manifest entries.
    Generated columns are recomputed FIRST (a generated column IS its
    expression), so the CHECKs validate the values that land; the
    CHECKs are validated BEFORE staging, so a violating task leaves no
    bytes. ``writer`` carries the table features captured at
    planning."""
    rows = apply_generated_rows(
        rows, writer.col_names, writer.col_types, writer.generated, label
    )
    validate_rows(rows, writer.col_names, writer.col_types, writer.check_constraints, label)
    return stage_groups(
        rows,
        {
            "col_names": writer.col_names,
            "col_types": writer.col_types,
            "pmap": writer.pmap,
            "partition_by": writer.partition_by,
            "bloom_columns": writer.bloom_columns,
            "bucket": writer.bucket,
            "data_dir": os.path.join(local(writer.table_path), "data"),
            "prefix": prefix,
        },
    )


def plan_write(head, frame_cols, label, engine_path):
    """Planning-time (driver) checks of a DSv2 write against the head
    manifest, so an unsupported table or frame fails the job upfront
    with the column named, never per task: nested columns, partition
    and bucket column types the staging groups bit-identically to
    the engine, the frame's columns (generated ones may be omitted;
    the write recomputes them), and the CHECK / generated-column
    probes. Refusals point at ``engine_path``. Returns the table's
    column names and their simpleString types."""
    fields = json.loads(head["schema"])["fields"]
    names = [f["name"] for f in fields]
    types = {
        f["name"]: _SPARK_JSON_CANON.get(f["type"], f["type"])
        if isinstance(f["type"], str)
        else f["type"]
        for f in fields
    }
    non_scalar = [c for c, t in types.items() if not isinstance(t, str)]
    if non_scalar:
        raise ValueError(f"{label}: unsupported nested columns {non_scalar}")
    for what, cols in (
        ("partition", head.get("partition_by") or []),
        ("bucket", (head.get("bucket_by") or {}).get("columns") or []),
    ):
        bad = [c for c in cols if types.get(c) not in _PART_TYPES]
        if bad:
            raise ValueError(
                f"{label}: unsupported {what} column type(s) for {bad} "
                f"— use {engine_path}"
            )
    gen = head.get("generated_columns") or {}
    missing = set(names) - set(frame_cols)
    if sorted(frame_cols) != sorted(names) and (
        missing - set(gen) or set(frame_cols) - set(names)
    ):
        raise ValueError(
            f"{label}: frame columns {sorted(frame_cols)} != table columns "
            f"{sorted(names)} (cast/rename first; only generated columns "
            "may be omitted)"
        )
    try:
        probe_checks(fields, head.get("check_constraints") or {}, label)
        probe_generated(fields, gen, label)
        arrow_schema(names, types, {})
    except ValueError as e:
        raise ValueError(str(e).replace("cowtable.append", engine_path)) from None
    return names, types


def changed_features(head, writer) -> list[str]:
    """The table features of ``head`` that diverged from what
    ``writer`` captured at planning (e.g. a concurrent ALTER added a
    CHECK its staged rows were never validated against): the write
    must fail instead of publishing unvetted bytes."""
    drifted = {
        "partitioning": (head.get("partition_by") or []) != writer.partition_by,
        "bloom indexing": (head.get("bloom_columns") or []) != writer.bloom_columns,
        "CHECK constraints": (head.get("check_constraints") or {})
        != writer.check_constraints,
        "generated columns": (head.get("generated_columns") or {}) != writer.generated,
        "bucketing": (head.get("bucket_by") or None) != writer.bucket,
    }
    return [k for k, v in drifted.items() if v]
