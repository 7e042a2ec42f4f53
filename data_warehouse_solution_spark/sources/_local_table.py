"""Local-filesystem access to a COW table for the DSv2 sources.

The ``cow`` reader/writer, ``cowcdc`` and ``cowsink`` run their hooks
in Python planner and executor workers that have no SparkSession, so
they read the manifest log with ``open``/``os.listdir`` instead of
``cowtable``'s Hadoop-FS helpers. These plain functions are that
access path, written once; the package ships to the workers when a
source is registered (``sources.register_once``).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import re
import uuid
from urllib.parse import unquote

from ..format_rules import MANIFEST_SHARD_ROWS

_MANIFEST_RE = re.compile(r"^manifest-(\d{8})\.json$")


def local(path: str) -> str:
    """``path`` without a ``file:`` / ``file://`` scheme."""
    return path[7:] if path.startswith("file://") else path.removeprefix("file:")


def table_path(options) -> str | None:
    """The table a source's options address: a catalog NAME via
    ``option("table", ...)``, else ``tablePath``. A name resolves like
    ``catalog.resolve_or_raise``, reading the catalog directory from
    the ``catalogDir`` option when the session overrides
    ``spark.dws.cow.catalogDir``; the default is the engine's
    ``<cwd>/spark-warehouse/_cow_catalog`` (planner workers inherit
    the driver JVM's cwd, which Spark's default
    ``spark.sql.warehouse.dir`` resolves under). Unknown names raise
    with the registered-table list."""
    name = options.get("table")
    if not name:
        return options.get("tablepath") or options.get("tablePath")
    name = name.strip().strip("`\"").lower()
    cat = local(
        options.get("catalogdir")
        or options.get("catalogDir")
        or os.path.join(os.getcwd(), "spark-warehouse", "_cow_catalog")
    )
    entry = os.path.join(cat, f"{name}.json")
    if not os.path.isfile(entry):
        known = (
            sorted(f[:-5] for f in os.listdir(cat) if f.endswith(".json"))
            if os.path.isdir(cat)
            else []
        )
        raise ValueError(
            f"unknown table name {name!r} — registered tables: "
            f"{known if known else '(none)'} (set option('catalogDir', ...) "
            "if the session overrides spark.dws.cow.catalogDir)"
        )
    with open(entry) as fh:
        return local(json.load(fh)["path"])


def manifest_dir(table_path: str) -> str:
    return os.path.join(local(table_path), "_manifests")


def manifest_path(table_path: str, n: int) -> str:
    return os.path.join(manifest_dir(table_path), f"manifest-{n:08d}.json")


def snapshots(table_path: str) -> list[int]:
    """Committed snapshot ids, ascending ([] when there is no table)."""
    mdir = manifest_dir(table_path)
    if not os.path.isdir(mdir):
        return []
    return sorted(int(m.group(1)) for n in os.listdir(mdir) if (m := _MANIFEST_RE.match(n)))


def load_manifest(table_path: str, n: int, expand: bool = True) -> dict:
    """Snapshot ``n``'s manifest. ``expand`` inlines a sharded file
    list into ``files``; without it only the manifest proper is read
    (an append references the parent's shards by name)."""
    with open(manifest_path(table_path, n)) as fh:
        m = json.load(fh)
    if expand and "file_shards" in m:
        files = []
        for name in m["file_shards"]:
            with open(os.path.join(manifest_dir(table_path), name)) as fh:
                files += json.load(fh)
        m["files"] = files
    return m


def committed_at(table_path: str, m: dict, n: int) -> datetime.datetime:
    """When snapshot ``n`` (manifest ``m``) committed: its
    ``committed_at`` stamp, or the manifest file's mtime for legacy
    manifests."""
    stamp = m.get("committed_at")
    if stamp is not None:
        return datetime.datetime.fromisoformat(stamp)
    return datetime.datetime.fromtimestamp(
        os.path.getmtime(manifest_path(table_path, n)), tz=datetime.timezone.utc
    )


def utc_instant(ts: str) -> datetime.datetime:
    """An ISO timestamp option; a naive one is read as UTC."""
    want = datetime.datetime.fromisoformat(ts)
    return want if want.tzinfo is not None else want.replace(tzinfo=datetime.timezone.utc)


def utc_now() -> str:
    """A manifest's ``committed_at`` stamp for a commit made now."""
    return datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="microseconds")


def _write_content_shard(table_path: str, entries: list) -> str:
    """Publish one content-addressed file-list shard (the engine's
    ``manifest-files-<sha256[:16]>.json`` naming): identical content
    means an identical name, so the write is skipped; tmp + rename so
    a concurrent identical writer never interleaves bytes."""
    blob = json.dumps(entries).encode()
    name = f"manifest-files-{hashlib.sha256(blob).hexdigest()[:16]}.json"
    dst = os.path.join(manifest_dir(table_path), name)
    if not os.path.exists(dst):
        tmp = os.path.join(manifest_dir(table_path), f".tmp-shard-{uuid.uuid4().hex}.json")
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, dst)  # atomic; identical content if raced
    return name


def append_files(table_path: str, m: dict, entries: list, manifest: dict) -> None:
    """Attach ``m``'s files plus ``entries`` to ``manifest`` with O(new)
    metadata I/O, as the engine's ``_commit_carry`` does: a sharded
    parent's shard names are REFERENCED from its manifest proper —
    never loaded, never rewritten — and only a trailing sub-half shard
    is read and merged, so appends cannot grow the shard count
    unboundedly. Inline parents stay inline (the engine's next commit
    shards them past the threshold)."""
    if "file_shards" not in m:
        manifest["files"] = m["files"] + entries
        manifest["n_files"] = len(manifest["files"])
        return
    names = list(m["file_shards"])
    tail = list(entries)
    if names:
        with open(os.path.join(manifest_dir(table_path), names[-1])) as fh:
            last = json.load(fh)
        if len(last) < MANIFEST_SHARD_ROWS // 2 and len(last) + len(tail) <= MANIFEST_SHARD_ROWS:
            tail = last + tail
            names.pop()
    for k in range(0, len(tail), MANIFEST_SHARD_ROWS):
        names.append(_write_content_shard(table_path, tail[k : k + MANIFEST_SHARD_ROWS]))
    manifest["file_shards"] = names
    if m.get("n_files") is not None:
        manifest["n_files"] = int(m["n_files"]) + len(entries)


def tag_snapshot(table_path: str, head: int, tag) -> int:
    """The snapshot a tag names, through the head manifest's map."""
    tags = load_manifest(table_path, head, expand=False).get("tags") or {}
    if str(tag) not in tags:
        raise ValueError(
            f"unknown tag {tag!r} at {table_path}; "
            f"known tags: {sorted(tags) or '(none)'}"
        )
    return int(tags[str(tag)])


def drop_staged(table_path: str, messages) -> None:
    """Delete the data files a failed or refused write staged."""
    data_dir = os.path.join(local(table_path), "data")
    for msg in messages:
        for e in getattr(msg, "entries", None) or []:
            try:
                os.remove(os.path.join(data_dir, *e["name"].split("/")))
            except OSError:
                pass


def _partition_values(name: str, col_names: list, col_types: dict) -> dict:
    """Typed values of the Hive ``col=value/`` segments of a data
    file's relative path: the writers strip these columns from the
    file bytes, so the readers re-inject them."""
    out = {}
    for seg in name.split("/")[:-1]:
        c, sep, v = seg.partition("=")
        if not sep or c not in col_names:
            continue
        v = unquote(v)
        if v == "__HIVE_DEFAULT_PARTITION__":
            out[c] = None
            continue
        t = col_types.get(c, "")
        if t in ("int", "bigint", "smallint", "tinyint"):
            out[c] = int(v)
        elif t in ("float", "double"):
            out[c] = float(v)
        elif t == "date":
            out[c] = datetime.date.fromisoformat(v)
        elif t == "timestamp":
            out[c] = datetime.datetime.fromisoformat(v)
        elif t == "boolean":
            out[c] = v.lower() == "true"
        else:
            out[c] = v
    return out


def read_file(data_dir, name, dv_path, col_names, col_types, pmap):
    """One data file as a ``pyarrow.Table`` of the table's logical
    columns, the way ``cowtable.read`` sees it: the deletion vector's
    positions (row position = pyarrow read order) masked out, physical
    column names mapped back to logical ones, Hive partition values
    re-injected typed, and columns the file predates NULL (typed
    ``null``: the caller casts to the declared schema)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data_dir, name))
    if dv_path is not None:
        base = name.rsplit("/", 1)[-1]
        dv = pq.read_table(dv_path, columns=["file", "pos"])
        pos = dv.filter(pc.equal(dv["file"], base))["pos"].to_numpy()
        if len(pos):
            keep = np.ones(t.num_rows, dtype=bool)
            keep[pos.astype(int)] = False
            t = t.filter(keep)
    phys = {p: lg for lg, p in (pmap or {}).items()}
    t = t.rename_columns([phys.get(c, c) for c in t.column_names])
    pvals = _partition_values(name, col_names, col_types)
    n = t.num_rows
    cols = []
    for c in col_names:
        if c in pvals:
            v = pvals[c]
            cols.append(pa.nulls(n) if v is None else pa.repeat(v, n))
        elif c in t.column_names:
            cols.append(t[c])
        else:
            cols.append(pa.nulls(n))
    return pa.table(cols, names=col_names)


def frame_rows(pdf):
    """The frame's rows as tuples of Python values (NaN/NaT -> None)."""
    import pandas as pd

    for tup in pdf.itertuples(index=False, name=None):
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
