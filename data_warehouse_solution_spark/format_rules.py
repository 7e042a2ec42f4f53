"""The table format's engine-free rules: one copy, used by the driver
and by the Python Data Source workers alike.

``cowtable`` (the Spark engine) and the DSv2 sources in ``sources/``
(``cow``, ``cowsink``, ``cowcdc``, whose hooks run in spawned Python
planner and executor workers) decide the same questions: which
column types carry manifest stats, the canonical form of a timestamp
stat, the XXH64 bit positions of a per-file Bloom filter, whether a
manifest entry's stats, null counts and blooms prove a predicate
false for the whole file, which Murmur3 bucket a key lands in, and
which manifest keys a child snapshot carries over.
Those rules live here and nowhere else. The module imports no
``pyspark.sql``, so a worker loads only it and the package
``__init__``; ``sources.register_once`` ships the package to the
workers (``ship_package``) before any source is registered.

Delta Kernel and Iceberg's ``core`` module make the same split: one
engine-free library of format rules that every connector calls.
"""

from __future__ import annotations

import base64
import datetime
import functools
import re

# File entries per manifest shard. Above this, a snapshot's file list is
# written as side shard files (the Iceberg manifest-list move) and the
# manifest proper holds only their names — the driver never builds one
# giant JSON string, the commit point stays a single atomic rename, and
# at 1M files the 100 shards can be loaded (or pruned) independently.
# Tests shrink ``cowtable.MANIFEST_SHARD_ROWS`` to exercise the path at
# toy scale.
MANIFEST_SHARD_ROWS = 10_000


def _carried(m: dict) -> dict:
    """Manifest keys every child commit inherits verbatim, in the
    engine and the DSv2 writers alike (callers override individual
    keys after the splat where the commit changes them — e.g.
    ``alter_drop_column`` narrows the schema)."""
    out = {
        "schema": m["schema"],
        "partition_by": m.get("partition_by") or [],
        "bloom_columns": m.get("bloom_columns") or [],
        "check_constraints": m.get("check_constraints") or {},
    }
    if m.get("write_mode"):
        out["write_mode"] = m["write_mode"]
    if m.get("physical_names"):
        out["physical_names"] = m["physical_names"]
    if m.get("used_physical"):
        out["used_physical"] = m["used_physical"]
    if m.get("generated_columns"):
        out["generated_columns"] = m["generated_columns"]
    if m.get("bucket_by"):
        out["bucket_by"] = m["bucket_by"]
    if m.get("widened_columns"):
        out["widened_columns"] = m["widened_columns"]
    if m.get("partition_specs"):
        out["partition_specs"] = m["partition_specs"]
        out["default_spec_id"] = m.get("default_spec_id", 0)
    if m.get("tags"):
        out["tags"] = m["tags"]
    if m.get("column_defaults"):
        out["column_defaults"] = m["column_defaults"]
    if m.get("identity_columns"):
        out["identity_columns"] = m["identity_columns"]
    if m.get("copy_shards"):
        # COPY INTO's loaded-file registry (content-addressed shard
        # names, append-only) — carried so idempotency survives every
        # later verb; vacuum ref-counts these names like file_shards
        out["copy_shards"] = m["copy_shards"]
    return out


def _child(base: dict, operation: str, **overrides) -> dict:
    """The manifest of the snapshot after ``base``: the next id, the
    parent link, ``base``'s carried table state, then ``overrides``."""
    return {
        "snapshot_id": base["snapshot_id"] + 1,
        "parent": base["snapshot_id"],
        "operation": operation,
        **_carried(base),
        **overrides,
    }


_STATS_TYPES = (
    "int", "bigint", "smallint", "tinyint", "float", "double", "string",
    "date", "timestamp", "timestamp_ntz",
)


def _canon_ts(v) -> str:
    """datetime -> the CANONICAL timestamp-stat form: UTC-naive,
    space-separated, ALWAYS 6 fractional digits. The fixed width is
    what makes lexicographic order equal chronological order even
    across values with and without fractional seconds ('…52' vs
    '…52.000000' would otherwise order differently from their equal
    instants and unsoundly prune >=/<= boundaries)."""
    if v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v.isoformat(sep=" ", timespec="microseconds")


def _canon_ts_literal(s) -> str | None:
    """A predicate literal in the canonical timestamp-stat form, or
    None when it cannot be canonicalized (pruning must then decline —
    comparing a non-canonical spelling against canonical stats is
    unsound). Date-only literals canonicalize to midnight, matching
    the engine's CAST('yyyy-mm-dd' AS TIMESTAMP)."""
    if isinstance(s, datetime.datetime):
        return _canon_ts(s)
    if not isinstance(s, str):
        return None
    try:
        return _canon_ts(datetime.datetime.fromisoformat(s))
    except ValueError:
        return None


def _stat_val(v):
    """JSON-encodable stat value; dates become ISO strings and
    timestamps the canonical ``_canon_ts`` form — both orders equal
    their value order in binary string comparison (the parquet-stats
    trick)."""
    if isinstance(v, datetime.datetime):
        return _canon_ts(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


# -- per-file Bloom filters -------------------------------------------------
# Min/max stats cannot prune EQUALITY predicates on high-cardinality
# unordered columns (a UUID-ish key's [min, max] spans the whole domain
# in every unclustered file). The lake-format answer is a per-file
# Bloom filter on declared columns (Delta/Iceberg ship the same): the
# manifest entry then proves "value definitely absent" for
# `col = literal` conjuncts, so a point DELETE/UPDATE/MERGE opens only
# the files whose filter admits the value — sound by construction
# (a Bloom has no false negatives; false positives only widen the
# candidate set the exact scan then reads).
#
# Sizing: BLOOM_M_BITS bits per (file, column) — an 8 KiB bitmap,
# ~11 KiB base64 in the manifest entry (the sharded manifest keeps any
# one JSON bounded). With BLOOM_K = 5 hashes the filter stays useful
# (FPP <= ~2%) up to about M/8 distinct values per file; beyond that a
# filter would be saturated noise, so staging GATES it off per file —
# honest about where this index helps. At 100 TB the right deployment
# pairs this with `compact(cluster_by=...)` (bounds per-file NDV) and
# the parquet-native blooms `_stage_files` also writes (row-group
# skipping inside the files the manifest could not exclude).
#
# Hashing must agree between the JVM (staging aggregates positions via
# F.xxhash64) and the driver (probing a literal at plan time). The
# probe uses this pure-Python XXH64 port, property-tested for parity
# against Spark's xxhash64 (tests/test_cowtable.py) — no Spark job is
# ever run just to hash one literal. Values hash through their
# CAST(value AS STRING) form, so int and string keys both work and the
# literal side needs no type metadata.
BLOOM_M_BITS = 1 << 16
BLOOM_K = 5
_BLOOM_TYPES = ("string", "int", "bigint", "smallint", "tinyint")

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXH_P2) & _U64
    h ^= h >> 29
    h = (h * _XXH_P3) & _U64
    h ^= h >> 32
    return h


def _xxh_round(acc: int, k: int) -> int:
    acc = (acc + k * _XXH_P2) & _U64
    acc = _rotl64(acc, 31)
    return (acc * _XXH_P1) & _U64


def _xxh64_long(value: int, seed: int) -> int:
    """XXH64 of one 64-bit integer — Spark's XxHash64.hashLong."""
    h = (seed + _XXH_P5 + 8) & _U64
    h ^= _xxh_round(0, value & _U64)
    h = (_rotl64(h, 27) * _XXH_P1 + _XXH_P4) & _U64
    return _xxh_fmix(h)


def _xxh64_bytes(data: bytes, seed: int) -> int:
    """XXH64 of a byte string — Spark's XxHash64.hashUnsafeBytes."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _U64
        v2 = (seed + _XXH_P2) & _U64
        v3 = seed & _U64
        v4 = (seed - _XXH_P1) & _U64
        while i <= n - 32:
            v1 = _xxh_round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _xxh_round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _xxh_round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _xxh_round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _U64
        for v in (v1, v2, v3, v4):
            h ^= _xxh_round(0, v)
            h = (h * _XXH_P1 + _XXH_P4) & _U64
    else:
        h = (seed + _XXH_P5) & _U64
    h = (h + n) & _U64
    while i <= n - 8:
        h ^= _xxh_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl64(h, 27) * _XXH_P1 + _XXH_P4) & _U64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XXH_P1) & _U64
        h = (_rotl64(h, 23) * _XXH_P2 + _XXH_P3) & _U64
        i += 4
    while i < n:
        h ^= (data[i] * _XXH_P5) & _U64
        h = (_rotl64(h, 11) * _XXH_P1) & _U64
        i += 1
    return _xxh_fmix(h)


@functools.lru_cache(maxsize=None)
def _bloom_seed(i: int) -> int:
    return _xxh64_long(i, 42)


def _bloom_positions(value: str, m: int, k: int) -> list[int]:
    """The k bit positions `value` sets/probes. Mirrors the staging
    aggregate `pmod(xxhash64(lit(i)::long, col::string), m)`: Spark's
    multi-arg xxhash64 chains seed 42 -> hashLong(i) -> hashBytes(col),
    and for the power-of-two m, pmod of the signed result equals the
    unsigned result's low bits."""
    data = value.encode("utf-8")
    return [_xxh64_bytes(data, _bloom_seed(i)) & (m - 1) for i in range(k)]


def _bloom_may_contain(bl: dict, probe: str) -> bool:
    """False only when the entry's filter PROVES the (already
    canonicalized — see `_bloom_probe_value`) string form absent."""
    bitmap = base64.b64decode(bl["b64"])
    for p in _bloom_positions(probe, bl["m"], bl["k"]):
        if not bitmap[p >> 3] & (1 << (p & 7)):
            return False
    return True


def _build_bloom(position_sets: list) -> dict | None:
    """Assemble one bloom entry from the K per-seed position sets;
    None when saturated (NDV gate: beyond ~m/8 distincts the FPP is
    useless — omit rather than ship dead weight)."""
    positions: set[int] = set()
    for pos in position_sets:
        pos = pos or []
        if len(pos) > BLOOM_M_BITS // 8:
            return None
        positions.update(pos)
    bitmap = bytearray(BLOOM_M_BITS >> 3)
    for p in positions:
        bitmap[p >> 3] |= 1 << (p & 7)
    return {
        "m": BLOOM_M_BITS,
        "k": BLOOM_K,
        "b64": base64.b64encode(bytes(bitmap)).decode(),
    }


_ISO_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
# the canonical timestamp-stat shape _canon_ts emits (fixed width —
# see _canon_ts for why the 6-digit fraction is load-bearing)
_ISO_TS_RE = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6}$")


def _bloom_probe_value(val: object, col_type: str | None) -> str | None:
    """The CAST(value AS STRING) form staging hashed, or None when the
    literal's type cannot be canonicalized against the COLUMN's type —
    probing the wrong string form would prune a file that matches
    after the engine's implicit cast (e.g. int column `k = '0123'`:
    the engine casts and matches k=123, but '0123' was never hashed).

    - int literal + integer column: str(val) (exactly what was hashed)
    - str literal + string column: verbatim
    - str literal + integer column: the literal's canonical int form
      (the engine casts the literal, so `'0123'` probes as `'123'`)
    - any cross-type or float case: None (no bloom pruning — min/max
      and the exact scan stay in charge)
    - unknown column type (legacy schemaless manifests, tests):
      str(val) — those paths never mix types by construction
    """
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
            return None  # uncastable literal: exact scan decides
    if col_type == "string":
        return val if isinstance(val, str) else None
    return None  # float/date/other: no canonical form to probe


def _eq_may_match(
    entry: dict, col: str, val: object, types: dict[str, str] | None
) -> bool:
    """May the file hold a row with ``col = val``? Bloom refutes first
    (exact-value evidence), then the [min, max] range; any
    type/canonicalization doubt stays conservative (True)."""
    bl = (entry.get("blooms") or {}).get(col)
    probe = _bloom_probe_value(val, None if types is None else types.get(col))
    if bl is not None and probe is not None and not _bloom_may_contain(bl, probe):
        return False  # Bloom proves the value absent from this file
    stats = entry.get("stats") or {}
    if col not in stats:
        return True  # no stats for the column: cannot exclude
    lo, hi = stats[col]
    val = _stat_comparable(lo, val, None if types is None else types.get(col))
    return val is None or not (val < lo or val > hi)


def _stat_comparable(lo: object, val: object, col_type: str | None) -> object:
    """``val`` in the form that compares soundly with the stat bound
    ``lo`` of a ``col_type`` column (None: unknown), or None when no
    such form exists (pruning and proofs must then decline):

    - timestamp-shaped stats of a column not known to be a string:
      the literal canonicalized to the same fixed-width form (a
      string column compares the literal as written);
    - numbers compare only with numbers;
    - date-shaped stats only with ISO-date literals (the engine would
      cast '2024-1-1' and match, but the string orders diverge)."""
    if isinstance(lo, str) and _ISO_TS_RE.match(lo) and col_type != "string":
        return _canon_ts_literal(val)
    if isinstance(val, (int, float)) != isinstance(lo, (int, float)):
        return None
    if isinstance(lo, str) and _ISO_DATE_RE.match(lo) and not _ISO_DATE_RE.match(str(val)):
        return None
    return val


def _file_may_match(
    entry: dict,
    conjuncts: list[tuple[str, str, object]],
    types: dict[str, str] | None = None,
) -> bool:
    """False only when the file's [min, max] range PROVES a conjunct
    can never hold (numbers compare numerically, strings in binary
    order — the same order parquet stats use; DATE stats are stored
    as ISO strings, where binary order IS date order). An IN-list
    conjunct excludes the file only when EVERY listed value is
    refuted (bloom or range)."""
    stats = entry.get("stats") or {}
    nulls = entry.get("nulls")  # None => pre-null-stats manifest vintage
    for col, op, val in conjuncts:
        if op in ("isnull", "notnull"):
            if nulls is None:
                continue  # old manifest entry: no null counts recorded
            nc = nulls.get(col, 0)
            if op == "isnull" and nc == 0:
                return False  # zero nulls: IS NULL can never hold
            if op == "notnull" and nc == entry.get("rows"):
                return False  # every row null: IS NOT NULL can never hold
            continue
        if nulls is not None and nulls.get(col, 0) == entry.get("rows"):
            return False  # all-null column: no comparison matches (3VL)
        if op == "in":
            if not any(_eq_may_match(entry, col, v, types) for v in val):
                return False  # every IN-list value provably absent
            continue
        if op == "=":
            if not _eq_may_match(entry, col, val, types):
                return False
            continue
        if col not in stats:
            continue  # no stats for the column: cannot exclude
        lo, hi = stats[col]
        val = _stat_comparable(lo, val, None if types is None else types.get(col))
        if val is None:
            continue  # no sound comparison: stay conservative
        if op == "<" and lo >= val:
            return False
        if op == "<=" and lo > val:
            return False
        if op == ">" and hi <= val:
            return False
        if op == ">=" and hi < val:
            return False
    return True


# -- Spark-Murmur3 bucketing ------------------------------------------------
# Murmur3_x86_32 over typed literals and the chained
# HashPartitioning.partitionIdExpression fold: the bucket a key lands
# in, computed on the driver with no job. Parity with F.hash (all
# types, chained folds) is pinned by tests/test_cow_bucketed.py.
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _murmur_mixk1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    return (_rotl32(k1, 15) * 0x1B873593) & _M32


def _murmur_mixh1(h1: int, k1: int) -> int:
    h1 ^= k1
    return (_rotl32(h1, 13) * 5 + 0xE6546B64) & _M32


def _murmur_fmix(h1: int, n: int) -> int:
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


def _spark_hash_literal(value: object, col_type: str, seed: int) -> int | None:
    """Spark's Murmur3 hash of one literal of a ``col_type`` column,
    chained from ``seed``; None for a type or literal shape whose
    hash this port does not reproduce bit for bit."""
    if isinstance(value, bool):
        return None
    if col_type in ("tinyint", "smallint", "int"):
        if not isinstance(value, int) or not (-(1 << 31) <= value < (1 << 31)):
            return None
        return _murmur_fmix(_murmur_mixh1(seed, _murmur_mixk1(value & _M32)), 4)
    if col_type == "bigint":
        if not isinstance(value, int):
            return None
        u = value & _U64
        h1 = _murmur_mixh1(seed, _murmur_mixk1(u & _M32))
        h1 = _murmur_mixh1(h1, _murmur_mixk1((u >> 32) & _M32))
        return _murmur_fmix(h1, 8)
    if col_type == "string":
        if not isinstance(value, str):
            return None
        data = value.encode("utf-8")
        n = len(data)
        aligned = n - n % 4
        h1 = seed
        for i in range(0, aligned, 4):
            h1 = _murmur_mixh1(
                h1, _murmur_mixk1(int.from_bytes(data[i : i + 4], "little"))
            )
        for i in range(aligned, n):
            b = data[i]
            if b >= 128:
                b -= 256
            h1 = _murmur_mixh1(h1, _murmur_mixk1(b & _M32))
        return _murmur_fmix(h1, n)
    if col_type == "date":
        if isinstance(value, datetime.datetime):
            return None
        if isinstance(value, datetime.date):
            days = (value - datetime.date(1970, 1, 1)).days
        elif isinstance(value, str):
            try:
                days = (datetime.date.fromisoformat(value) - datetime.date(1970, 1, 1)).days
            except ValueError:
                return None
        else:
            return None
        return _murmur_fmix(_murmur_mixh1(seed, _murmur_mixk1(days & _M32)), 4)
    return None


def _bucket_of_key(vals: list, col_types: list[str], nb: int) -> int | None:
    """pmod(hash(cols), nb) of one key: the bucket id Spark's
    HashPartitioning assigns, or None when a value cannot be hashed."""
    h = 42
    for v, t in zip(vals, col_types):
        h = _spark_hash_literal(v, t, h)
        if h is None:
            return None
    signed = h - (1 << 32) if h >= (1 << 31) else h
    return signed % nb


def _bucket_candidate_filter(
    m: dict, files: list[dict], conjuncts: list, types: dict | None
) -> list[dict]:
    """``files`` of manifest ``m`` minus those BUCKET pruning refutes.
    ``conjuncts`` and ``types`` are keyed by physical column names.
    BUCKET pruning for point predicates on a bucketed table: an
    equality (or IN) over ALL the bucket columns pins the row's
    bucket id exactly (one driver-side Murmur3, no job), so every
    file of a different bucket is refuted — a `k = v` DELETE on an
    n-bucket table opens 1/n of its files even where min/max stats
    cannot help. Conservative everywhere else: unsupported literal
    types, missing conjuncts, or entries without a bucket id pass
    through to the stats/exact stages."""
    spec = m.get("bucket_by")
    if not spec or types is None:
        return files
    bcols, nb = spec["columns"], int(spec["buckets"])
    pmap = m.get("physical_names") or {}
    bphys = [pmap.get(c, c) for c in bcols]
    # first conjunct per column wins: extra conjuncts only narrow
    # further, never widen
    eqs: dict[str, list] = {}
    for c, op, v in conjuncts:
        if c in bphys and c not in eqs:
            if op == "=":
                eqs[c] = [v]
            elif op == "in" and len(bcols) == 1:
                eqs[c] = list(v)
    if set(eqs) != set(bphys):
        return files  # some bucket column unpinned: no refutation
    # candidate key tuples = cross product of each column's values
    # (IN only in the single-column case, so this stays tiny)
    btypes = [types.get(c) for c in bphys]
    tuples = [[]]
    for c in bphys:
        tuples = [t + [v] for t in tuples for v in eqs[c]]
    buckets: set[int] = set()
    for t in tuples:
        b = _bucket_of_key(t, btypes, nb)
        if b is None:
            return files  # uncanonical literal: stay conservative
        buckets.add(b)
    return [f for f in files if f.get("bucket") is None or f["bucket"] in buckets]
