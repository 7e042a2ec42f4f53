"""Registered queries driving the copy-on-write table format
(``cowtable``): the reference whitelists DELETE/UPDATE (reference
``pipeline.py:110-114``) and delegates execution to its warehouse;
here the verbs execute natively against the snapshot table — real
file-level rewrites, not whole-table overwrite emulation — and the
end state is value-checked against a DuckDB oracle that applies the
same statements relationally.

Each run builds the table fresh in a unique /tmp scratch dir (the
fixture dirs are read-only), so the queries are idempotent and safe
under the suite's concurrent-execution test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cowtable as cow
from ..plans import overlap_jobs
from ..registry import query
from ..workdir import scratch_dir
from ..tables import load_tables

_DELETE_COND = "o_orderstatus = 'F' AND o_totalprice < 100000"
_UPDATE_COND = "o_orderkey % 7 = 0"
_MERGE_KEY_COND = "o_orderkey % 97 = 0"


def _run_dml(spark: SparkSession, sf_dir: str) -> str:
    """create -> DELETE -> UPDATE -> MERGE on a fresh COW table;
    returns the table path."""
    path = scratch_dir("dws_cow_")
    # mkdtemp creates the dir; cowtable wants to own it from scratch
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    cow.delete(spark, path, _DELETE_COND)
    cow.update(spark, path, _UPDATE_COND, {"o_orderstatus": "'Z'"})
    src = (
        cow.read(spark, path)
        .filter(F.expr(_MERGE_KEY_COND))
        .withColumn("o_custkey", F.lit(-9).cast("long"))
        .unionByName(
            spark.createDataFrame(
                [(-101, -9, "N", 1.5), (-102, -9, "N", 2.5)],
                "o_orderkey long, o_custkey long, o_orderstatus string,"
                " o_totalprice double",
            )
        )
    )
    cow.merge_upsert(spark, path, src, ["o_orderkey"])
    return path


_COW_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
),
d AS (SELECT * FROM base WHERE NOT ({_DELETE_COND})),
u AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN {_UPDATE_COND} THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM d
),
src AS (
  SELECT o_orderkey, CAST(-9 AS BIGINT) AS o_custkey, o_orderstatus, o_totalprice
  FROM u WHERE {_MERGE_KEY_COND}
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(-101 AS BIGINT), CAST(-9 AS BIGINT), 'N', 1.5),
    (CAST(-102 AS BIGINT), CAST(-9 AS BIGINT), 'N', 2.5)
  ) v(o_orderkey, o_custkey, o_orderstatus, o_totalprice)
)
SELECT * FROM u WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
UNION ALL
SELECT * FROM src
"""


@query("cow_dml_roundtrip", oracle=_COW_ORACLE)
def cow_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE + UPDATE + MERGE executed as copy-on-write snapshot
    commits; the final table content must equal the relational
    application of the same three statements (DuckDB oracle). At
    100 TB each statement's cost is proportional to the files holding
    affected rows, not the table (``cowtable`` module docstring)."""
    path = _run_dml(spark, sf_dir)
    return cow.read(spark, path)


_MOR_DELETE_COND = "o_orderstatus = 'F' AND o_totalprice < 100000"
_MOR_UPDATE_COND = "o_orderkey % 7 = 0"
_MOR_DELETE2_COND = "o_orderstatus = 'Z' AND o_orderkey % 3 = 0"

_MOR_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
),
d1 AS (SELECT * FROM base WHERE NOT ({_MOR_DELETE_COND})),
u AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN {_MOR_UPDATE_COND} THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM d1
)
SELECT * FROM u WHERE NOT ({_MOR_DELETE2_COND})
"""


@query("cow_mor_dml_roundtrip", oracle=_MOR_ORACLE)
def cow_mor_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DML (deletion vectors): DELETE + UPDATE + DELETE
    on a table created with ``write_mode="mor"`` — Delta's
    ``enableDeletionVectors``. NO data file is rewritten: each DELETE
    commits one small positions file (``_dv/``), the UPDATE marks
    matched rows deleted and appends the transformed rows, and reads
    anti-join the positions back out (``cowtable`` module docstring).
    The second DELETE hits both original files (accumulating onto
    their first DV) and the UPDATE's appended files — the mixed-
    vintage case. At 100 TB this is the GDPR-erasure / late-
    retraction write shape: deleting 0.01% of rows costs O(deleted
    positions), not O(affected file bytes). The end state is value-
    checked against the relational replay (DuckDB); the zero-rewrite
    property itself is pinned by ``tests/test_cow_mor.py``."""
    import shutil

    path = scratch_dir("dws_cow_mor_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o, write_mode="mor")
    cow.delete(spark, path, _MOR_DELETE_COND)
    cow.update(spark, path, _MOR_UPDATE_COND, {"o_orderstatus": "'Z'"})
    cow.delete(spark, path, _MOR_DELETE2_COND)
    return cow.read(spark, path)


_INSERT_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
UNION ALL
SELECT * FROM (VALUES
  (CAST(-201 AS BIGINT), 'I', 1.5),
  (CAST(-202 AS BIGINT), 'I', 2.5)
) v(o_orderkey, o_orderstatus, o_totalprice)
UNION ALL
SELECT * FROM (VALUES
  (CAST(1 - 10000000 AS BIGINT), 'S', 2.0),
  (CAST(2 - 10000000 AS BIGINT), 'S', 3.0)
) w(o_orderkey, o_orderstatus, o_totalprice)
UNION ALL
SELECT CAST(-203 AS BIGINT), 'J', CAST(NULL AS DOUBLE)
"""


@query("cow_insert_roundtrip", oracle=_INSERT_ORACLE)
def cow_insert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO a copy-on-write table through the SQL gate — the
    reference's most-emitted verb (``pipeline.py:160-162, 242-244``)
    executing on snapshot tables: a VALUES payload, a SELECT payload,
    and a partial column list (missing column NULL). Each statement
    is a NEW-FILES-ONLY commit (``cowtable.append``): nothing is read
    or rewritten, so at 100 TB the cost is the inserted data's size,
    not the table's. Final content is value-checked against the plain
    relational union (DuckDB oracle)."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_ins_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    run_sql(spark, f"INSERT INTO `{path}` VALUES (-201, 'I', 1.5), (-202, 'I', 2.5)")
    run_sql(
        spark,
        f"INSERT INTO `{path}` SELECT k - 10000000, 'S', p FROM VALUES (1, 2.0), (2, 3.0) AS t(k, p)",
    )
    run_sql(spark, f"INSERT INTO `{path}` (o_orderkey, o_orderstatus) VALUES (-203, 'J')")
    return cow.read(spark, path)


_PART_DELETE_COND = "o_orderstatus = 'F' AND o_totalprice < 50000"

_PART_ORACLE = f"""
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE NOT ({_PART_DELETE_COND})
UNION ALL
SELECT * FROM (VALUES
  (CAST(-301 AS BIGINT), 'P', 10.0)
) v(o_orderkey, o_orderstatus, o_totalprice)
"""


@query("cow_partitioned_dml_roundtrip", oracle=_PART_ORACLE)
def cow_partitioned_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DML on a Hive-partitioned COW table: every data file belongs
    to one ``o_orderstatus`` partition, the DELETE's partition-key
    conjunct stat-prunes candidates to that partition's files before
    any data is read, and an INSERT through the SQL gate opens a new
    partition directory. At 100 TB this is the date-partitioned
    fact-table shape (``cowtable.create(partition_by=...)``); the end
    state is value-checked against the relational replay (DuckDB)."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_part_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o, partition_by=["o_orderstatus"])
    cow.delete(spark, path, _PART_DELETE_COND)
    run_sql(spark, f"INSERT INTO `{path}` VALUES (-301, 'P', 10.0)")
    return cow.read(spark, path)


_CHANGES_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
),
d AS (SELECT * FROM base WHERE NOT ({_DELETE_COND})),
u AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN {_UPDATE_COND} THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM d
),
src AS (
  SELECT o_orderkey, CAST(-9 AS BIGINT) AS o_custkey, o_orderstatus, o_totalprice
  FROM u WHERE {_MERGE_KEY_COND}
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(-101 AS BIGINT), CAST(-9 AS BIGINT), 'N', 1.5),
    (CAST(-102 AS BIGINT), CAST(-9 AS BIGINT), 'N', 2.5)
  ) v(o_orderkey, o_custkey, o_orderstatus, o_totalprice)
)
SELECT *, 'delete' AS _change_type, CAST(2 AS INTEGER) AS _commit_snapshot
FROM base WHERE ({_DELETE_COND})
UNION ALL
SELECT *, 'delete', 3 FROM d WHERE {_UPDATE_COND}
UNION ALL
SELECT o_orderkey, o_custkey, 'Z', o_totalprice, 'insert', 3
FROM d WHERE {_UPDATE_COND}
UNION ALL
SELECT *, 'delete', 4 FROM u WHERE {_MERGE_KEY_COND}
UNION ALL
SELECT *, 'insert', 4 FROM src
"""


@query("cow_changes_feed", oracle=_CHANGES_ORACLE)
def cow_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed over the DML sequence: ``cowtable.changes``
    diffs each commit's manifest file lists and bag-subtracts the
    carried-over rows, so the emitted delta is exactly the rows each
    statement logically removed/added (delete -> deletes, update ->
    delete+insert pairs, merge -> replaced pairs + appends), value-
    checked against the relational replay (DuckDB). At 100 TB the
    feed's cost is O(changed files' rows) per commit — files shared
    by both snapshots cancel in the manifest diff without being
    opened (Delta CDF / Iceberg changelog shape)."""
    path = _run_dml(spark, sf_dir)
    return cow.changes(spark, path, 1)


_COMPACT_ORACLE = f"""
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE NOT ({_PART_DELETE_COND})
"""


@query("cow_compact_cluster_roundtrip", oracle=_COMPACT_ORACLE)
def cow_compact_cluster_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered compaction after DML: content must be IDENTICAL
    (the oracle is the plain relational state — compaction may move
    rows between files, never change them) while the manifest stats
    become a range index on the cluster key. The query also asserts
    the pruning effect itself: after clustering, a narrow key-range
    predicate must stat-prune to at most 2 of the table's files
    (hash layouts leave every file a candidate)."""
    import shutil

    path = scratch_dir("dws_cow_cmp_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(8)
    )
    cow.create(spark, path, o)
    cow.delete(spark, path, _PART_DELETE_COND)
    cow.compact(spark, path, target_files=6, cluster_by=["o_orderkey"])
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    cands = cow.stats_candidate_files(m, "o_orderkey <= 64")
    if len(cands) > 2:
        raise AssertionError(
            f"clustered compact failed to tighten stats: {len(cands)} candidate files"
        )
    return cow.read(spark, path)


_HISTORY_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
),
d AS (SELECT * FROM base WHERE NOT ({_DELETE_COND})),
u AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN {_UPDATE_COND} THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM d
),
src AS (
  SELECT o_orderkey FROM u WHERE {_MERGE_KEY_COND}
  UNION ALL SELECT * FROM (VALUES (-101), (-102)) v(o_orderkey)
)
SELECT CAST(1 AS INTEGER) AS snapshot_id, 'create' AS operation,
       CAST(COUNT(*) AS BIGINT) AS n_rows FROM base
UNION ALL
SELECT 2, 'delete', CAST(COUNT(*) AS BIGINT) FROM d
UNION ALL
SELECT 3, 'update', CAST(COUNT(*) AS BIGINT) FROM u
UNION ALL
SELECT 4, 'merge',
       CAST((SELECT COUNT(*) FROM u
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
            + (SELECT COUNT(*) FROM src) AS BIGINT)
"""


@query("cow_time_travel_counts", oracle=_HISTORY_ORACLE)
def cow_time_travel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot history after the DML sequence: every snapshot stays
    readable (time travel), and the per-snapshot row counts recorded
    in the manifests must match the relational replay. The history is
    manifest METADATA (snapshot-count-sized, not data-sized) — the
    one structure a lake format legitimately holds driver-side."""
    path = _run_dml(spark, sf_dir)
    hist = cow.history(spark, path)
    return spark.createDataFrame(
        [(h["snapshot_id"], h["operation"], h["n_rows"]) for h in hist],
        "snapshot_id int, operation string, n_rows long",
    )


_TRUNCATE_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
"""


@query("cow_truncate_rollback_roundtrip", oracle=_TRUNCATE_ORACLE)
def cow_truncate_rollback_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATE TABLE through the SQL gate is a METADATA-ONLY empty
    commit (zero files read/written at any table size) and stays
    reversible: time travel still reads the pre-truncate snapshot and
    ``rollback`` restores it byte-for-byte — the oracle is the
    original relational content, so any loss in the truncate/rollback
    cycle hash-fails. Completes the whitelisted verb set (reference
    ``pipeline.py:110-114``) executing natively on snapshot tables."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_trunc_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    stats = run_sql(spark, f"TRUNCATE TABLE `{path}`").collect()[0]
    if stats["files_written"] != 0 or cow.read(spark, path).count() != 0:
        raise AssertionError("truncate was not a metadata-only empty commit")
    cow.rollback(spark, path, 1)
    return cow.read(spark, path)


_CONSUME_ORACLE = f"""
SELECT o_orderkey, o_orderstatus, o_totalprice,
       'delete' AS _change_type, CAST(2 AS INTEGER) AS _commit_snapshot
FROM orders WHERE ({_PART_DELETE_COND})
"""


@query("cow_changes_incremental_consume", oracle=_CONSUME_ORACLE)
def cow_changes_incremental_consume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed CDC consumption (``cowtable.consume_changes``):
    the first consume drains the initial content and commits its
    cursor; a DELETE then commits snapshot 2, and the second consume
    returns EXACTLY that commit's delta — the deleted rows — which
    the oracle replays relationally. The at-least-once cursor
    contract (advance only after durable processing) plus an
    idempotent sink is the standard exactly-once derivation chain;
    per-consume cost is O(changed files since the cursor), the shape
    that lets a 100 TB derived table follow its source without
    rescans."""
    import shutil

    path = scratch_dir("dws_cow_cons_")
    shutil.rmtree(path, ignore_errors=True)
    cursor = f"{path}-cursor.json"
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    first, commit = cow.consume_changes(spark, path, cursor)
    if first.count() != o.count():
        raise AssertionError("initial consume must drain the full table as inserts")
    commit()
    cow.delete(spark, path, _PART_DELETE_COND)
    second, _ = cow.consume_changes(spark, path, cursor)
    return second


_ZORDER_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
"""


@query("cow_zorder_compact_roundtrip", oracle=_ZORDER_ORACLE)
def cow_zorder_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) compaction on two dimensions: after the
    rewrite each file covers a small (o_custkey, o_totalprice)
    hyper-rectangle, so a 10%-slab predicate on EITHER dimension must
    stat-prune below the full file count (asserted here) — the
    multi-dim clustering a 100 TB table needs when queries filter on
    more than the leading sort key (Delta OPTIMIZE ZORDER shape).
    Content must be byte-identical to the plain relational state
    (DuckDB oracle)."""
    import shutil

    path = scratch_dir("dws_cow_z_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(8)
    )
    cow.create(spark, path, o)
    cow.compact(
        spark, path, target_files=8, cluster_by=["o_custkey", "o_totalprice"], zorder=True
    )
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    ck, tp = (o.approxQuantile(c, [0.1], 0.01)[0] for c in ("o_custkey", "o_totalprice"))
    for cond in (f"o_custkey <= {int(ck)}", f"o_totalprice <= {tp}"):
        n = len(cow.stats_candidate_files(m, cond))
        if n >= len(m["files"]):
            raise AssertionError(f"zorder failed to prune on {cond!r}: {n} files")
    return cow.read(spark, path)


_BLOOM_ORACLE = """
WITH base AS (
  SELECT sha256(CAST(doc_id AS VARCHAR)) AS k, lang, source, n_chars
  FROM documents
),
d AS (SELECT * FROM base WHERE k <> sha256('17')),
u AS (
  SELECT k, lang, source,
         CASE WHEN k = sha256('23') THEN CAST(-1 AS BIGINT) ELSE n_chars END
           AS n_chars
  FROM d
)
SELECT * FROM u
"""


@query("cow_bloom_point_dml", oracle=_BLOOM_ORACLE)
def cow_bloom_point_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point DELETE/UPDATE on a high-cardinality UNORDERED string key,
    pruned by per-file Bloom filters: every file's [min, max] spans
    ~the whole hex domain so range stats can never exclude anything —
    the manifest-level bloom is what keeps a point statement from
    opening every file (``cowtable`` bloom section; the staged files
    additionally carry parquet-native blooms for row-group skipping).
    Asserted here: a probe for an absent key touches ZERO files, the
    present-key statements touch at most a couple (holder + rare
    false positives), and the end state equals the relational
    application of the same statements (DuckDB oracle, sha256 parity
    across engines)."""
    import shutil

    path = scratch_dir("dws_cow_bloom_")
    shutil.rmtree(path, ignore_errors=True)
    d = (
        load_tables(spark, sf_dir, ("documents",))["documents"]
        .select(
            F.sha2(F.col("doc_id").cast("string"), 256).alias("k"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(8)
    )
    cow.create(spark, path, d, bloom_columns=["k"])
    absent = cow.delete(spark, path, f"k = '{'f' * 63}e'")
    if absent["files_rewritten"] != 0:
        raise AssertionError("bloom failed to prune an absent-key delete to 0 files")
    # the standard point-lookup BATCH: an IN-list of absent keys must
    # also prune to zero files (r5's parser disabled pruning on IN)
    absent_batch = cow.delete(spark, path, f"k IN ('{'e' * 63}f', '{'d' * 63}a')")
    if absent_batch["files_rewritten"] != 0:
        raise AssertionError("bloom failed to prune an absent IN-list delete to 0 files")
    import hashlib

    k17 = hashlib.sha256(b"17").hexdigest()
    k23 = hashlib.sha256(b"23").hexdigest()
    # present-key + absent-key IN batch: deletes exactly k17's rows,
    # opens only files the bloom cannot refute for SOME listed key
    deleted = cow.delete(spark, path, f"k IN ('{k17}', '{'c' * 63}b')")
    updated = cow.update(spark, path, f"k = '{k23}'", {"n_chars": "-1"})
    for res in (deleted, updated):
        if res["files_rewritten"] > 2:
            raise AssertionError(f"point DML touched {res['files_rewritten']} files")
    return cow.read(spark, path)


_REPLACE_WHERE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
repl AS (
  SELECT o_orderkey, o_orderstatus, CAST(0.0 AS DOUBLE) AS o_totalprice
  FROM base WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0
)
SELECT * FROM base WHERE o_orderstatus <> 'F'
UNION ALL
SELECT * FROM repl
"""


@query("cow_replace_where_roundtrip", oracle=_REPLACE_WHERE_ORACLE)
def cow_replace_where_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic overwrite-by-filter (Delta ``replaceWhere``): ONE commit
    swaps the 'F' slice for its recomputed replacement — the daily-
    partition reload shape at 100 TB (on a partitioned table the
    predicate prunes via partition values; a DELETE+INSERT pair would
    publish the gap between two commits). Incoming rows are validated
    against the predicate (Delta default). End state value-checked
    relationally (DuckDB oracle)."""
    import shutil

    path = scratch_dir("dws_cow_rw_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(6)
    )
    cow.create(spark, path, o)
    recomputed = (
        o.filter("o_orderstatus = 'F' AND o_orderkey % 3 = 0")
        .withColumn("o_totalprice", F.lit(0.0))
    )
    cow.replace_where(spark, path, "o_orderstatus = 'F'", recomputed)
    return cow.read(spark, path)


_SELECT_TT_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
),
appended AS (
  SELECT * FROM base
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(-301 AS BIGINT), '9-EXPRESS', 111.25),
    (CAST(-302 AS BIGINT), '9-EXPRESS', 222.75),
    (CAST(-303 AS BIGINT), '1-URGENT', 333.5)
  ) v(o_orderkey, o_orderpriority, o_totalprice)
),
d AS (
  SELECT * FROM appended
  WHERE NOT (o_orderpriority = '3-MEDIUM' AND o_totalprice < 100000)
),
cur AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice
  FROM d
),
now_agg AS (
  SELECT o_orderpriority, COUNT(*) AS n_now,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_now
  FROM cur GROUP BY 1
),
v0_agg AS (
  SELECT o_orderpriority, COUNT(*) AS n_v0 FROM base GROUP BY 1
)
SELECT o_orderpriority, n_now, price_now, n_v0
FROM now_agg LEFT JOIN v0_agg USING (o_orderpriority)
"""


@query("cow_select_sql_time_travel", oracle=_SELECT_TT_ORACLE)
def cow_select_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT over a snapshot table THROUGH THE SQL GATE — the last
    verb of the reference's whitelist (``pipeline.py:112``) executing
    against the engine's own table format, time travel included. The
    read path is SQL text, not the Python API: the current state is a
    ``cow.`<path>``` reference resolved via ``TIMESTAMP AS OF`` (a
    far-future instant = latest snapshot) and the pre-DML state is the
    same table at ``VERSION AS OF <s0>``, joined per priority group.
    The oracle reconstructs both states relationally from the raw
    orders table, so value-hash equality proves the gate's
    substitution, the snapshot resolution, AND the DML history in one
    check. At 100 TB the rewrite is metadata-only (a temp view over
    the manifest's file list); the query plan underneath is ordinary
    pruned parquet scans."""
    from ..sql_gate import run_sql
    from .matview import build_mutated_orders_table

    path, s0 = build_mutated_orders_table(spark, sf_dir, "dws_mv_")
    return run_sql(
        spark,
        f"""
        WITH now_agg AS (
          SELECT o_orderpriority, COUNT(*) AS n_now,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS price_now
          FROM cow.`{path}` TIMESTAMP AS OF '9999-01-01T00:00:00+00:00'
          GROUP BY o_orderpriority
        ),
        v0_agg AS (
          SELECT o_orderpriority, COUNT(*) AS n_v0
          FROM cow.`{path}` VERSION AS OF {s0}
          GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, n_now, price_now, n_v0
        FROM now_agg LEFT JOIN v0_agg USING (o_orderpriority)
        """,
    )


_MERGE_SQL_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
),
src AS (
  SELECT o_orderkey, CAST(-7 AS BIGINT) AS o_custkey,
         o_totalprice * 2 AS o_totalprice
  FROM base WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(-501 AS BIGINT), CAST(-7 AS BIGINT), 10.5),
    (CAST(-502 AS BIGINT), CAST(-7 AS BIGINT), 20.5)
  ) v(o_orderkey, o_custkey, o_totalprice)
)
SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
UNION ALL
SELECT * FROM src
"""


@query("cow_merge_sql_roundtrip", oracle=_MERGE_SQL_ORACLE)
def cow_merge_sql_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE INTO through the SQL gate (the restricted
    SET */INSERT * form): the statement text drives one atomic
    copy-on-write upsert commit — matched keys replaced by the source
    row, unmatched source rows appended — and the USING payload is
    itself gate SQL whose cow.`path` reference reads the target's
    pre-merge state (substitution + merge composing). Only files
    holding a matching key rewrite, stat-pruned by the source keys'
    min/max envelope (``cowtable.merge``). End state
    value-checked against the relational application (DuckDB oracle).
    MERGE stays OUTSIDE the reference-parity statement filter (not a
    whitelisted verb) like the OPTIMIZE/VACUUM extensions."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_mrg_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    run_sql(
        spark,
        f"""
        MERGE INTO {path} AS t USING (
          SELECT o_orderkey, CAST(-7 AS BIGINT) AS o_custkey,
                 o_totalprice * 2 AS o_totalprice
          FROM cow.`{path}` WHERE o_orderkey % 13 = 0
          UNION ALL
          SELECT * FROM VALUES
            (CAST(-501 AS BIGINT), CAST(-7 AS BIGINT), 10.5),
            (CAST(-502 AS BIGINT), CAST(-7 AS BIGINT), 20.5)
            AS v(o_orderkey, o_custkey, o_totalprice)
        ) s ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """,
    )
    return cow.read(spark, path)


_MERGE_MULTI_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
src AS (
  SELECT o_orderkey, o_totalprice FROM base WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(-501 AS BIGINT), 10.0),
    (CAST(-502 AS BIGINT), 200000.0)
  ) v(o_orderkey, o_totalprice)
),
matched AS (
  SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice, s.o_totalprice AS sp
  FROM base b JOIN src s ON b.o_orderkey = s.o_orderkey
),
kept_matched AS (
  SELECT o_orderkey, 'M' AS o_orderstatus, o_totalprice + 1.0 AS o_totalprice
  FROM matched WHERE NOT (sp > 150000)
),
unmatched_target AS (
  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
),
inserts AS (
  SELECT o_orderkey, 'N' AS o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
  FROM src
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base)
    AND o_orderkey < 0 AND o_totalprice < 100000
)
SELECT * FROM unmatched_target
UNION ALL SELECT * FROM kept_matched
UNION ALL SELECT * FROM inserts
"""


@query("cow_merge_multi_clause", oracle=_MERGE_MULTI_ORACLE)
def cow_merge_multi_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL multi-clause MERGE surface through gate SQL text:
    ``WHEN MATCHED AND cond THEN DELETE``, ``WHEN MATCHED THEN UPDATE
    SET col = expr`` (first-applicable-clause-wins ordering), ``WHEN
    NOT MATCHED AND cond THEN INSERT (cols) VALUES (exprs)`` with a
    partial column list NULL-filling the rest — executed as ONE
    copy-on-write commit (``cowtable.merge``; ambiguity-guarded,
    stat-pruned by the source key envelope).
    The oracle replays the clause algebra relationally in DuckDB —
    the conditional-routing MERGE every CDC-apply pipeline runs."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_mgm_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    src = (
        o.filter("o_orderkey % 13 = 0")
        .select("o_orderkey", "o_totalprice")
        .unionByName(
            spark.createDataFrame(
                [(-501, 10.0), (-502, 200000.0)],
                "o_orderkey long, o_totalprice double",
            )
        )
    )
    src.createOrReplaceTempView("dws_merge_multi_src")
    run_sql(
        spark,
        f"""MERGE INTO cow.`{path}` tgt USING dws_merge_multi_src src
            ON tgt.o_orderkey = src.o_orderkey
            WHEN MATCHED AND src.o_totalprice > 150000 THEN DELETE
            WHEN MATCHED THEN UPDATE
              SET o_orderstatus = 'M', o_totalprice = tgt.o_totalprice + 1.0
            WHEN NOT MATCHED AND src.o_orderkey < 0
              AND src.o_totalprice < 100000 THEN
              INSERT (o_orderkey, o_orderstatus) VALUES (src.o_orderkey, 'N')""",
    )
    return cow.read(spark, path)


_MERGE_NMBS_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
src AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
  FROM base WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT * FROM (VALUES (CAST(-801 AS BIGINT), 'Z', 5.0))
    v(o_orderkey, o_orderstatus, o_totalprice)
),
matched_out AS (
  SELECT b.o_orderkey, b.o_orderstatus, s.o_totalprice
  FROM base b JOIN src s ON b.o_orderkey = s.o_orderkey
),
nmbs_out AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 'S' ELSE o_orderstatus END
           AS o_orderstatus,
         o_totalprice
  FROM base
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
    AND NOT (o_totalprice > 300000)
),
inserts AS (
  SELECT * FROM src
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base)
)
SELECT * FROM matched_out
UNION ALL SELECT * FROM nmbs_out
UNION ALL SELECT * FROM inserts
"""


@query("cow_merge_not_matched_by_source", oracle=_MERGE_NMBS_ORACLE)
def cow_merge_not_matched_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta's WHEN NOT MATCHED BY SOURCE through gate SQL — the
    sync/garbage-collect MERGE direction that acts on TARGET rows no
    source row matches: ``... BY SOURCE AND cond THEN DELETE`` and
    ``... BY SOURCE THEN UPDATE SET col = expr`` (first-applicable
    clause wins within the family), mixed with the classic matched
    UPDATE and ``NOT MATCHED BY TARGET`` INSERT in one atomic commit
    (``cowtable.merge``). Clause conditions/SET expressions are
    target-only — ``s.`` references refuse, Delta's rule.

    Scale note: NMBS selects rows by the ABSENCE of a match, so the
    source-key envelope cannot prune the exam — one READ-ONLY full
    scan is semantically forced (Delta shares this), but only files
    actually holding a qualifying row rewrite, and rebase-on-race is
    disabled (a concurrent append's rows are exactly the rows these
    clauses select). The oracle replays the clause algebra
    relationally in DuckDB."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_nmbs_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    src = (
        o.filter("o_orderkey % 7 = 0")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .unionByName(
            spark.createDataFrame(
                [(-801, "Z", 5.0)],
                "o_orderkey long, o_orderstatus string, o_totalprice double",
            )
        )
    )
    src.createOrReplaceTempView("dws_merge_nmbs_src")
    run_sql(
        spark,
        f"""MERGE INTO cow.`{path}` tgt USING dws_merge_nmbs_src src
            ON tgt.o_orderkey = src.o_orderkey
            WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice
            WHEN NOT MATCHED BY TARGET THEN INSERT *
            WHEN NOT MATCHED BY SOURCE AND tgt.o_totalprice > 300000
              THEN DELETE
            WHEN NOT MATCHED BY SOURCE AND tgt.o_orderkey % 5 = 0
              THEN UPDATE SET o_orderstatus = 'S'""",
    )
    return cow.read(spark, path)


_DEFAULTS_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
ins1 AS (
  SELECT -o_orderkey AS o_orderkey,
         'PENDING' AS o_orderstatus,
         CAST(0.0 AS DOUBLE) AS o_totalprice
  FROM base WHERE o_orderkey % 100 = 0
)
SELECT * FROM base
UNION ALL SELECT * FROM ins1
UNION ALL
SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'RUSH', CAST(0.0 AS DOUBLE)))
  v(o_orderkey, o_orderstatus, o_totalprice)
"""


@query("cow_column_defaults", oracle=_DEFAULTS_ORACLE)
def cow_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DEFAULT values (r11, the Delta/Spark 3.4 surface) through
    gate SQL: ``CREATE TABLE ... USING cow DEFAULTS (col AS (expr),
    ...)`` declares constant fill expressions, an INSERT with an
    explicit column list omitting defaulted columns fills them, a
    short ``VALUES`` row fills TRAILING defaulted columns (Spark's
    rule), and ``ALTER TABLE ... ALTER COLUMN ... SET DEFAULT``
    retargets the expression for future INSERTs only (existing rows
    untouched — defaults are not backfill). Declarations are
    metadata-only commits; expressions must be constant-foldable
    (column references refuse at declaration, not first INSERT). The
    oracle replays the inserts with the literal fill values."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_dflt_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    o.createOrReplaceTempView("dws_dflt_base")
    run_sql(
        spark,
        f"""CREATE TABLE cow.`{path}` USING cow
            DEFAULTS (o_orderstatus AS ('PENDING'),
                      o_totalprice AS (CAST(0.0 AS DOUBLE)))
            AS SELECT * FROM dws_dflt_base""",
    )
    run_sql(
        spark,
        f"""INSERT INTO cow.`{path}` (o_orderkey)
            SELECT -o_orderkey FROM dws_dflt_base
            WHERE o_orderkey % 100 = 0""",
    )
    run_sql(
        spark,
        f"ALTER TABLE cow.`{path}` ALTER COLUMN o_orderstatus "
        f"SET DEFAULT upper('rush')",
    )
    # short VALUES row: the two trailing defaulted columns fill
    run_sql(spark, f"INSERT INTO cow.`{path}` VALUES (-1)")
    return cow.read(spark, path)


_OPT_WHERE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
)
SELECT * FROM base
UNION ALL
SELECT * FROM (VALUES
  (CAST(-1 AS BIGINT), 'F', 1.0),
  (CAST(-2 AS BIGINT), 'F', 2.0),
  (CAST(-3 AS BIGINT), 'F', 3.0)
) v(o_orderkey, o_orderstatus, o_totalprice)
"""


@query("cow_optimize_where", oracle=_OPT_WHERE_ORACLE)
def cow_optimize_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's partition-scoped compaction through gate SQL:
    ``OPTIMIZE t WHERE ds = 'x' FILES n`` rewrites ONLY the files
    whose partition values satisfy the predicate — the 100 TB answer
    to "compact yesterday's partition" without a full-table rewrite.
    Asserted IN-QUERY: after three fragmenting appends to one
    partition, the scoped OPTIMIZE leaves exactly one file there
    while every other partition's files are BYTE-IDENTICAL (same
    manifest entries — untouched, not rewritten). Selection costs one
    tiny job over O(files) driver-built partition-value rows, no data
    read; predicates over non-partition columns refuse loudly. The
    oracle pins content identity relationally."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_optw_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o, partition_by=["o_orderstatus"])
    for i in (1, 2, 3):
        run_sql(
            spark,
            f"INSERT INTO cow.`{path}` VALUES ({-i}, 'F', {float(i)})",
        )
    m0 = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    others0 = sorted(
        f["name"] for f in m0["files"] if "o_orderstatus=F" not in f["name"]
    )
    run_sql(spark, f"OPTIMIZE cow.`{path}` WHERE o_orderstatus = 'F' FILES 1")
    m1 = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    n_f = sum(1 for f in m1["files"] if "o_orderstatus=F" in f["name"])
    others1 = sorted(
        f["name"] for f in m1["files"] if "o_orderstatus=F" not in f["name"]
    )
    if n_f != 1 or others1 != others0:
        raise ValueError(
            f"scoped OPTIMIZE wrong shape: {n_f} files in target "
            f"partition, others untouched={others1 == others0}"
        )
    return cow.read(spark, path)


_CLONE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
cloned AS (
  SELECT * FROM base WHERE NOT (o_totalprice < 100000)
)
SELECT * FROM cloned
UNION ALL
SELECT * FROM (VALUES (CAST(-901 AS BIGINT), 'C', 1.0))
  v(o_orderkey, o_orderstatus, o_totalprice)
"""


@query("cow_shallow_clone", oracle=_CLONE_ORACLE)
def cow_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's SHALLOW CLONE through gate SQL: ``CREATE TABLE dst
    SHALLOW CLONE src`` makes a WRITABLE zero-copy snapshot — O(files)
    symlink metadata, no data bytes move — then DML on the clone
    (DELETE + INSERT here) writes the clone's OWN files while the
    source stays byte-identical (asserted in-engine before
    returning). The seconds-long "writable copy of the 100 TB table
    for this experiment" operation; the documented hazard (vacuum on
    the source strands clone links, Delta's own) is pinned by unit
    tests. The oracle replays the clone's DML relationally."""
    import shutil

    from ..sql_gate import run_sql

    src = scratch_dir("dws_cln_src_")
    dst = scratch_dir("dws_cln_dst_")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, src, o)
    before = cow.read(spark, src).count()
    run_sql(spark, f"CREATE TABLE cow.`{dst}` SHALLOW CLONE cow.`{src}`")
    run_sql(spark, f"DELETE FROM cow.`{dst}` WHERE o_totalprice < 100000")
    run_sql(spark, f"INSERT INTO cow.`{dst}` VALUES (-901, 'C', 1.0)")
    # independence proof: the source never observed the clone's DML
    after = cow.read(spark, src).count()
    if (before, cow.current_snapshot(spark, src)) != (after, 1):
        raise ValueError(
            f"source mutated by clone DML: {before} -> {after} rows, "
            f"snapshot {cow.current_snapshot(spark, src)}"
        )
    return cow.read(spark, dst)


_IDENTITY_ORACLE = """
WITH allr AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
)
SELECT COUNT(*) AS n_rows,
       COUNT(*) AS n_ids,
       CAST(0 AS BIGINT) AS n_bad,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_k
FROM allr
"""


@query("cow_identity_columns", oracle=_IDENTITY_ORACLE)
def cow_identity_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY (r11, Delta's surface) end-to-end:
    ``CREATE TABLE ... USING cow IDENTITY (id START WITH 1000 STEP 3)``
    adds an engine-assigned BIGINT column; a gate INSERT and a MERGE
    not-matched INSERT each allocate fresh values above the manifest's
    high-water mark. The identity CONTRACT is Delta's — unique,
    start/step-aligned, >= start, gaps allowed — and that contract is
    exactly what the oracle checks: ``n_ids`` (distinct) must equal
    ``n_rows``, ``n_bad`` (misaligned or below-start values) must be
    zero, and ``sum_k`` pins the data itself. Exact values are
    DELIBERATELY not pinned: allocation is zero-shuffle and
    zero-extra-pass (sparse partition-stride ids; the high-water mark
    is read back from the staged files' footer max stats), so values
    depend on partitioning — the same documented behavior as Delta.
    The query also asserts in-engine that the recorded high-water
    mark equals the actual max id after all three writes."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_idn_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey")
        .repartition(4)
    )
    o.createOrReplaceTempView("dws_idn_base")
    run_sql(
        spark,
        f"""CREATE TABLE cow.`{path}` USING cow
            IDENTITY (id START WITH 1000 STEP 3)
            AS SELECT o_orderkey FROM dws_idn_base
               WHERE o_orderkey % 4 = 0""",
    )
    run_sql(
        spark,
        f"""INSERT INTO cow.`{path}`
            SELECT o_orderkey FROM dws_idn_base WHERE o_orderkey % 4 = 1""",
    )
    src = o.filter("o_orderkey % 4 = 2")
    cow.merge(
        spark,
        path,
        src,
        ["o_orderkey"],
        [{"when": "not_matched", "then": "insert", "values": "*"}],
    )
    t = cow.read(spark, path)
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    hwm = m["identity_columns"]["id"]["high_water"]
    actual_max = t.agg(F.max("id")).collect()[0][0]
    if hwm != actual_max:
        raise ValueError(f"identity high-water {hwm} != max(id) {actual_max}")
    return t.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("id").alias("n_ids"),
        F.sum(
            F.when(
                (((F.col("id") - 1000) % 3) != 0) | (F.col("id") < 1000), 1
            ).otherwise(0)
        ).cast("long").alias("n_bad"),
        F.sum("o_orderkey").cast("long").alias("sum_k"),
    )


_TAGS_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
mid AS (SELECT * FROM base WHERE NOT (o_totalprice < 50000)),
head AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         o_totalprice
  FROM mid
),
h AS (SELECT o_orderstatus, COUNT(*) AS n_head FROM head GROUP BY o_orderstatus),
m AS (SELECT o_orderstatus, COUNT(*) AS n_mid FROM mid GROUP BY o_orderstatus),
v AS (SELECT o_orderstatus, COUNT(*) AS n_v0 FROM base GROUP BY o_orderstatus)
SELECT coalesce(h.o_orderstatus, m.o_orderstatus, v.o_orderstatus)
         AS o_orderstatus,
       coalesce(n_head, 0) AS n_head,
       coalesce(n_mid, 0) AS n_mid,
       coalesce(n_v0, 0) AS n_v0
FROM h
FULL JOIN m ON h.o_orderstatus = m.o_orderstatus
FULL JOIN v
  ON coalesce(h.o_orderstatus, m.o_orderstatus) = v.o_orderstatus
"""


@query("cow_snapshot_tags", oracle=_TAGS_ORACLE)
def cow_snapshot_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style snapshot TAGS end-to-end through gate SQL:
    ``ALTER TABLE t CREATE TAG name`` pins a snapshot under a durable
    name (a METADATA-ONLY commit — the tag map lives in the manifest
    and carries forward), ``VERSION AS OF '<tag>'`` time-travels by
    name, and — asserted INSIDE this query — ``vacuum(keep_last=1)``
    retains every tagged snapshot (Iceberg's expire-snapshots ref
    rule): the reads at 'v0' and 'after_delete' below only succeed
    because the tags protected those snapshots from expiry. The
    oracle replays the DML timeline relationally and compares
    per-status counts across all three versions.

    Scale: a tag is O(1) manifest bytes whatever the table size; tag
    resolution is one manifest read; vacuum's retention set is the
    keep-window plus the tag map — no data pass."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_tags_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    run_sql(spark, f"ALTER TABLE cow.`{path}` CREATE TAG v0")
    run_sql(spark, f"DELETE FROM cow.`{path}` WHERE o_totalprice < 50000")
    run_sql(spark, f"ALTER TABLE cow.`{path}` CREATE TAG after_delete")
    run_sql(
        spark,
        f"UPDATE cow.`{path}` SET o_orderstatus = 'X' WHERE o_orderkey % 11 = 0",
    )
    # tagged snapshots must survive the tightest retention window —
    # these two time-travel reads are the proof
    cow.vacuum(spark, path, keep_last=1, min_file_age_seconds=0)
    return run_sql(
        spark,
        f"""
        WITH h AS (
          SELECT o_orderstatus, COUNT(*) AS n_head
          FROM cow.`{path}` GROUP BY o_orderstatus
        ),
        m AS (
          SELECT o_orderstatus, COUNT(*) AS n_mid
          FROM cow.`{path}` VERSION AS OF 'after_delete'
          GROUP BY o_orderstatus
        ),
        v AS (
          SELECT o_orderstatus, COUNT(*) AS n_v0
          FROM cow.`{path}` VERSION AS OF 'v0' GROUP BY o_orderstatus
        )
        SELECT coalesce(h.o_orderstatus, m.o_orderstatus, v.o_orderstatus)
                 AS o_orderstatus,
               coalesce(n_head, 0) AS n_head,
               coalesce(n_mid, 0) AS n_mid,
               coalesce(n_v0, 0) AS n_v0
        FROM h
        FULL JOIN m ON h.o_orderstatus = m.o_orderstatus
        FULL JOIN v
          ON coalesce(h.o_orderstatus, m.o_orderstatus) = v.o_orderstatus
        """,
    )


_RENAME_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice AS price FROM orders
),
d AS (SELECT * FROM base WHERE NOT (price < 1000)),
u AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN 'R' ELSE o_orderstatus END
           AS o_orderstatus,
         price
  FROM d
)
SELECT * FROM u
UNION ALL
SELECT * FROM (VALUES (CAST(-601 AS BIGINT), 'A', 42.0))
  v(o_orderkey, o_orderstatus, price)
"""


@query("cow_rename_column_roundtrip", oracle=_RENAME_ORACLE)
def cow_rename_column_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME COLUMN via column mapping, end-to-end through gate SQL:
    the rename is METADATA-ONLY (parquet bytes and manifest stats stay
    under the original physical name; reads alias physical->logical),
    then DELETE/UPDATE predicates on the NEW name prune and execute
    against old-vintage files, and an INSERT writes a new-vintage file
    whose physical layout matches the old ones. Zero rewrite cost on
    a 100 TB table — the alternative (rewrite every file to carry the
    new name) is exactly what column mapping exists to avoid. The
    oracle replays the sequence relationally with the rename as a
    projection alias."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_ren_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    run_sql(spark, f"ALTER TABLE cow.`{path}` RENAME COLUMN o_totalprice TO price")
    run_sql(spark, f"DELETE FROM cow.`{path}` WHERE price < 1000")
    run_sql(
        spark,
        f"UPDATE cow.`{path}` SET o_orderstatus = 'R' WHERE o_orderkey % 10 = 0",
    )
    run_sql(spark, f"INSERT INTO cow.`{path}` VALUES (-601, 'A', 42.0)")
    return cow.read(spark, path)


_BATCH_WRITER_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
)
SELECT * FROM base
UNION ALL
SELECT o_orderkey + 50000000, 'W', o_totalprice * 2
FROM base WHERE o_orderkey % 17 = 0
"""


@query("cow_batch_writer_roundtrip", oracle=_BATCH_WRITER_ORACLE)
def cow_batch_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``cow`` batch Data Source WRITER end-to-end:
    ``df.write.format("cow").mode("append")`` stages one parquet per
    executor partition (typed by the table schema, per-file min/max
    stats computed in the write task) and commits ONE atomic
    new-files-only snapshot — the DataFrame-API write path that pairs
    with the DSv2 reader, so neither direction needs the Python
    ``cowtable`` API. The oracle is the plain relational union; the
    read back through ``cowtable.read`` proves the executor-staged
    files and their manifest entries are engine-equivalent."""
    import shutil

    from ..sources.cow_batch import register_cow_batch

    path = scratch_dir("dws_cow_bw_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    register_cow_batch(spark)
    (
        o.filter("o_orderkey % 17 = 0")
        .selectExpr(
            "o_orderkey + 50000000 AS o_orderkey",
            "'W' AS o_orderstatus",
            "o_totalprice * 2 AS o_totalprice",
        )
        .repartition(2)
        .write.format("cow")
        .option("tablePath", path)
        .mode("append")
        .save()
    )
    return cow.read(spark, path)


_WIDEN_ORACLE = """
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS v FROM orders
),
w AS (
  SELECT * FROM base
  UNION ALL
  SELECT * FROM (VALUES (CAST(1099511627776 AS BIGINT), 7.5)) t(k, v)
),
d AS (SELECT * FROM w WHERE NOT (v < 2000))
SELECT k, CASE WHEN k % 9 = 0 THEN v + 5.0 ELSE v END AS v FROM d
"""


@query("cow_widen_column_roundtrip", oracle=_WIDEN_ORACLE)
def cow_widen_column_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening end-to-end: the table is created with an INT key,
    ``ALTER TABLE ... ALTER COLUMN k TYPE bigint`` widens it as a
    METADATA-ONLY commit (old int32 files upcast at scan time — the
    Spark 4 parquet reader's lossless-widening support), an INSERT
    lands a value only representable in the wider type (2^40), and
    DELETE/UPDATE then execute across the mixed int32/int64 vintages.
    The oracle replays the sequence with the key BIGINT from the
    start — equality proves the widening changed representation, not
    values. At 100 TB this is the schema-migration shape that would
    otherwise rewrite every file."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_wid_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .selectExpr("CAST(o_orderkey AS INT) AS k", "o_totalprice AS v")
        .repartition(4)
    )
    cow.create(spark, path, o)
    run_sql(spark, f"ALTER TABLE cow.`{path}` ALTER COLUMN k TYPE bigint")
    run_sql(spark, f"INSERT INTO cow.`{path}` VALUES (1099511627776, 7.5)")
    run_sql(spark, f"DELETE FROM cow.`{path}` WHERE v < 2000")
    run_sql(spark, f"UPDATE cow.`{path}` SET v = v + 5.0 WHERE k % 9 = 0")
    return cow.read(spark, path)


_METADATA_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS physical_rows,
       CAST(SUM(CASE WHEN NOT ({_MOR_DELETE_COND}) THEN 1 ELSE 0 END) AS BIGINT)
         AS live_rows,
       CAST(2 AS BIGINT) AS n_snapshots,
       'mor_delete' AS last_operation
FROM orders
"""


@query("cow_metadata_tables", oracle=_METADATA_ORACLE)
def cow_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metadata/inspection tables through SQL text only:
    ``cow.`path`.files`` (per-file rows, live rows, deletion-vector
    references) and ``cow.`path`.history`` (the snapshot log) —
    Iceberg's ``table.files``/``snapshots`` surface. The oracle makes
    the MOR zero-rewrite property VALUE-CHECKED: after a merge-on-read
    DELETE, ``SUM(rows)`` over the files table must still equal the
    FULL orders count (no data file was rewritten — only masked),
    while ``SUM(live_rows)`` equals the relational survivor count.
    Driver-side O(files) manifest reads; no data file opens."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_meta_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o, write_mode="mor")
    run_sql(spark, f"DELETE FROM cow.`{path}` WHERE {_MOR_DELETE_COND}")
    return run_sql(
        spark,
        f"""SELECT f.physical_rows, f.live_rows, h.n_snapshots, h.last_operation
            FROM (SELECT CAST(SUM(rows) AS BIGINT) AS physical_rows,
                         CAST(SUM(live_rows) AS BIGINT) AS live_rows
                  FROM cow.`{path}`.files) f
            CROSS JOIN
                 (SELECT CAST(COUNT(*) AS BIGINT) AS n_snapshots,
                         CAST(MAX_BY(operation, snapshot_id) AS STRING)
                           AS last_operation
                  FROM cow.`{path}`.history) h""",
    )


_BATCH_SOURCE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
),
appended AS (
  SELECT * FROM base
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(-301 AS BIGINT), '9-EXPRESS', 111.25),
    (CAST(-302 AS BIGINT), '9-EXPRESS', 222.75),
    (CAST(-303 AS BIGINT), '1-URGENT', 333.5)
  ) v(o_orderkey, o_orderpriority, o_totalprice)
),
d AS (
  SELECT * FROM appended
  WHERE NOT (o_orderpriority = '3-MEDIUM' AND o_totalprice < 100000)
),
cur AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice
  FROM d
)
SELECT o_orderpriority, COUNT(*) AS n_now,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_now,
       CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_v0_total
FROM cur GROUP BY 1
"""


@query("cow_batch_source_read", oracle=_BATCH_SOURCE_ORACLE)
def cow_batch_source_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``cow`` BATCH Data Source end-to-end, value-oracled:
    ``spark.read.format("cow")`` reads the mutated-orders snapshot
    table through the DSv2 Python API — executors open only their own
    data file, the manifest schema governs — and a ``versionAsOf``
    read of the pre-DML snapshot rides along as a scalar. Completes
    the format-string surface (``cowcdc`` stream in, ``cowsink``
    stream out, ``cow`` batch in); the oracle reconstructs both table
    states relationally from raw orders, so the hash also re-proves
    the DML history through a THIRD read path (Python API, gate SQL,
    now DSv2)."""
    from ..sources.cow_batch import register_cow_batch
    from .matview import build_mutated_orders_table

    path, s0 = build_mutated_orders_table(spark, sf_dir, "dws_mv_")
    register_cow_batch(spark)
    cur = spark.read.format("cow").option("tablePath", path).load()
    v0 = (
        spark.read.format("cow")
        .option("tablePath", path)
        .option("versionAsOf", str(s0))
        .load()
    )
    n_v0 = F.broadcast(v0.agg(F.count("*").alias("n_v0_total")))
    return (
        cur.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_now"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_now"),
        )
        .join(n_v0)
    )


_BKT_DELETE_COND = "o_orderstatus = 'F' AND o_totalprice < 80000"

_BKT_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE NOT ({_BKT_DELETE_COND})
),
l AS (SELECT l_orderkey, l_extendedprice, l_discount FROM lineitem)
SELECT o.o_orderstatus,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM o JOIN l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
"""


@query("cow_bucketed_join_roundtrip", oracle=_BKT_ORACLE)
def cow_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over two BUCKETED COW tables with ZERO shuffle
    on the join key — the storage-partitioned-join shape SCALE.md
    names THE dominant 100 TB cost. orders and lineitem are created
    with ``bucket_by`` on the order key (every data file holds one
    bucket = pmod(hash(key), n), Spark's own bucketBy assignment);
    orders then survives a DELETE + compact cycle (bucketing is
    preserved by every rewrite); both snapshots register as native
    bucketed catalog tables (``cowtable.bucketed_view``) and the join
    plans with no hash-partitioning Exchange on either side —
    asserted HERE, not just in tests, so the sweep re-proves the plan
    shape at every scale factor. Values are checked against the
    relational oracle. ``tests/test_cow_bucketed.py`` additionally
    pins the hash parity against files Spark's own writer produced."""
    import re as _re
    import shutil
    import uuid as _uuid

    od = scratch_dir("dws_bkt_o_")
    ld = scratch_dir("dws_bkt_l_")
    shutil.rmtree(od, ignore_errors=True)
    shutil.rmtree(ld, ignore_errors=True)
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    o = t["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice")
    l = t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount")
    # the two creates are independent: overlap their jobs (guide
    # §2.6) so the lineitem staging's task tail back-fills with the
    # orders create instead of idling the executor threads
    overlap_jobs(
        spark,
        lambda: cow.create(spark, od, o, bucket_by=["o_orderkey"], num_buckets=8),
        lambda: cow.create(spark, ld, l, bucket_by=["l_orderkey"], num_buckets=8),
    )
    cow.delete(spark, od, _BKT_DELETE_COND)
    cow.compact(spark, od)
    tag = _uuid.uuid4().hex[:8]
    bo = cow.bucketed_view(spark, od, f"bkt_orders_{tag}")
    bl = cow.bucketed_view(spark, ld, f"bkt_lineitem_{tag}")
    joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    n_exch = len(_re.findall(r"Exchange hashpartitioning", plan))
    if n_exch:
        raise AssertionError(
            f"bucketed join planned {n_exch} hash-partitioning Exchange(s)"
        )
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_items"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("revenue"),
    )


_BW_PART_DELETE = "o_orderpriority = '1-URGENT' AND o_totalprice < 50000"

_BATCH_WRITER_PART_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
  WHERE o_totalprice > 0
),
appended AS (
  SELECT o_orderkey + 90000000 AS o_orderkey, o_orderpriority,
         o_totalprice + 0.5 AS o_totalprice
  FROM base WHERE o_orderkey % 23 = 0
),
t AS (SELECT * FROM base UNION ALL SELECT * FROM appended)
SELECT * FROM t WHERE NOT ({_BW_PART_DELETE})
"""


@query("cow_batch_writer_partitioned", oracle=_BATCH_WRITER_PART_ORACLE)
def cow_batch_writer_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSv2 batch writer at FULL table-feature parity (the r6
    punch-list gap): the target is partitioned + bloom-indexed +
    CHECK-constrained, previously refused by the format-string write
    path. Each write task groups its rows by partition value, stages
    one Hive-dir parquet per group with engine-identical manifest
    entries (typed min==max partition stats, the same XXH64 bloom
    bitmaps — bit-parity pinned in tests), and validates the CHECK
    expression over its rows BEFORE any byte lands (DuckDB-ANSI
    evaluation; non-portable expressions fail at planning). An
    engine-side partition-pruned DELETE then proves interop: it
    prunes and rewrites DSv2-written files like engine-written ones.
    At 100 TB this is the 'many independent producers feed one
    governed fact table' shape — producers need only the format
    string, the table's layout/index/constraint contract still
    holds."""
    import shutil

    from ..sources.cow_batch import register_cow_batch

    path = scratch_dir("dws_cow_bwp_")
    shutil.rmtree(path, ignore_errors=True)
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = o.select("o_orderkey", "o_orderpriority", "o_totalprice")
    cow.create(
        spark,
        path,
        base,
        partition_by=["o_orderpriority"],
        bloom_columns=["o_orderkey"],
        check_constraints={"price_pos": "o_totalprice > 0"},
    )
    register_cow_batch(spark)
    (
        base.filter("o_orderkey % 23 = 0")
        .selectExpr(
            "o_orderkey + 90000000 AS o_orderkey",
            "o_orderpriority",
            "o_totalprice + 0.5 AS o_totalprice",
        )
        .repartition(3)
        .write.format("cow")
        .option("tablePath", path)
        .mode("append")
        .save()
    )
    cow.delete(spark, path, _BW_PART_DELETE)
    return cow.read(spark, path)


_BKT_POINT_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
),
d1 AS (SELECT * FROM base WHERE o_orderkey <> 7),
d2 AS (SELECT * FROM d1 WHERE o_orderkey NOT IN (32, 33, 35))
SELECT o_custkey,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM d2
GROUP BY 1
"""


@query("cow_bucketed_point_dml", oracle=_BKT_POINT_ORACLE)
def cow_bucketed_point_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point DML on a bucketed table prunes by BUCKET ID before any
    file opens: `o_orderkey = 7` resolves the key's bucket with one
    driver-side Murmur3 (bit-identical to F.hash — parity-pinned) and
    candidates exactly 1/n of the files; the IN-list prunes to the
    union of its keys' buckets. Both assertions run IN the query (the
    sweep re-proves them at every scale factor), then the end state
    is value-checked relationally. At 100 TB this is the point-lookup
    DELETE/UPDATE shape on a uniformly-spread key, where min/max
    stats are useless (every file spans the whole key range) but the
    bucket layout pins the row's file set exactly."""
    import shutil

    path = scratch_dir("dws_bkt_pt_")
    shutil.rmtree(path, ignore_errors=True)
    o = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cow.create(spark, path, o, bucket_by=["o_orderkey"], num_buckets=8)
    m = cow._load_manifest(spark, path, 1)
    c_eq = cow.stats_candidate_files(m, "o_orderkey = 7")
    if len(c_eq) != 1:
        raise AssertionError(f"point predicate candidated {len(c_eq)} files, want 1")
    want = {cow._bucket_of_key([v], ["bigint"], 8) for v in (32, 33, 35)}
    c_in = cow.stats_candidate_files(m, "o_orderkey IN (32, 33, 35)")
    if {c["bucket"] for c in c_in} != want:
        raise AssertionError("IN-list did not prune to its keys' buckets")
    cow.delete(spark, path, "o_orderkey = 7")
    cow.delete(spark, path, "o_orderkey IN (32, 33, 35)")
    return (
        cow.read(spark, path)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )


_BW_BKT_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
appended AS (
  SELECT o_orderkey + 90000000 AS o_orderkey, o_orderstatus,
         o_totalprice + 0.25 AS o_totalprice
  FROM base WHERE o_orderkey % 31 = 0
),
t AS (SELECT * FROM base UNION ALL SELECT * FROM appended)
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM t
WHERE o_orderkey <> (SELECT MIN(o_orderkey) FROM base)
GROUP BY 1
"""


@query("cow_batch_writer_bucketed", oracle=_BW_BKT_ORACLE)
def cow_batch_writer_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSv2 batch writer feeding the flagship BUCKETED +
    partitioned layout (the r7 punch-list #3): producers holding only
    the format string append to a table created with partition_by +
    bucket_by, each write task groups its rows by (partition value,
    Murmur3 bucket id) — ``format_rules``' Murmur3, the engine's own,
    bit-identical to F.hash — and stages one file per cell with the
    ``_000NN`` suffix and the bucket id on the manifest entry.
    Asserted HERE over every staged file (driver-side manifest walk,
    no data read), then a point DELETE proves bucket pruning works on
    DSv2-written files exactly as on engine-written ones (candidates
    collapse to one bucket). At 100 TB: many independent producers
    feed one governed fact table whose zero-Exchange join and 1/n
    point-DML cost survive whoever wrote the bytes."""
    import re as _re
    import shutil

    from ..sources.cow_batch import register_cow_batch

    path = scratch_dir("dws_cow_bwb_")
    shutil.rmtree(path, ignore_errors=True)
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    cow.create(
        spark, path, base,
        partition_by=["o_orderstatus"], bucket_by=["o_orderkey"], num_buckets=4,
    )
    register_cow_batch(spark)
    (
        base.filter("o_orderkey % 31 = 0")
        .selectExpr(
            "o_orderkey + 90000000 AS o_orderkey",
            "o_orderstatus",
            "o_totalprice + 0.25 AS o_totalprice",
        )
        .repartition(2)
        .write.format("cow")
        .option("tablePath", path)
        .mode("append")
        .save()
    )
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    if not m.get("bucket_by"):
        raise AssertionError("DSv2 batch commit dropped the bucket spec")
    for f in m["files"]:
        sm = _re.search(r"_(\d{5})\.parquet$", f["name"])
        if (
            f.get("bucket") is None
            or sm is None
            or int(sm.group(1)) != f["bucket"]
            or not f.get("partition", {}).get("o_orderstatus")
        ):
            raise AssertionError(f"staged file breaks the layout: {f['name']}")
    # point DML over the mixed-writer table: bucket pruning collapses
    # the candidates to ONE bucket id (min key always exists)
    min_key = cow.read(spark, path).agg(F.min("o_orderkey")).collect()[0][0]
    cand = cow.stats_candidate_files(m, f"o_orderkey = {min_key}")
    want_b = cow._bucket_of_key([min_key], ["bigint"], 4)
    if {c["bucket"] for c in cand} != {want_b}:
        raise AssertionError(
            f"bucket pruning failed over DSv2-written files: "
            f"{[(c['name'], c['bucket']) for c in cand]}"
        )
    cow.delete(spark, path, f"o_orderkey = {min_key}")
    return (
        cow.read(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )


_BKT_MOR_DELETE = "o_orderstatus = 'F' AND o_totalprice < 80000"

_BKT_MOR_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE NOT ({_BKT_MOR_DELETE})
),
l AS (SELECT l_orderkey, l_extendedprice, l_discount FROM lineitem)
SELECT o.o_orderstatus,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM o JOIN l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
"""


@query("cow_bucketed_mor_join", oracle=_BKT_MOR_ORACLE)
def cow_bucketed_mor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed + merge-on-read WITHOUT compaction — the production
    pairing the r7 punch list #2 named: a MOR DELETE leaves deletion
    vectors on the bucketed orders table, and ``bucketed_view`` masks
    the DV'd positions with a broadcast LEFT ANTI join on (file
    basename, ``_metadata.row_index``) BELOW the join — a broadcast
    hash join preserves the streamed side's HashPartitioning, so the
    fact-fact join STILL plans zero hash-partitioning Exchange
    (asserted here, inside the query, at every sweep SF) and deleted
    rows never resurrect. At 100 TB: O(deleted positions) DV files
    instead of O(table) rewrites, with the storage-partitioned join
    intact between compactions."""
    import re as _re
    import shutil
    import uuid as _uuid

    od = scratch_dir("dws_bmor_o_")
    ld = scratch_dir("dws_bmor_l_")
    shutil.rmtree(od, ignore_errors=True)
    shutil.rmtree(ld, ignore_errors=True)
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    o = t["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice")
    l = t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount")
    # the two creates are independent: overlap their jobs (guide
    # §2.6) so the lineitem staging's task tail back-fills with the
    # orders create instead of idling the executor threads
    overlap_jobs(
        spark,
        lambda: cow.create(spark, od, o, bucket_by=["o_orderkey"], num_buckets=8),
        lambda: cow.create(spark, ld, l, bucket_by=["l_orderkey"], num_buckets=8),
    )
    cow.delete(spark, od, _BKT_MOR_DELETE, mode="mor")  # DVs, NO compact
    m = cow._load_manifest(spark, od, cow.current_snapshot(spark, od))
    if not any(f.get("dv") for f in m["files"]):
        raise AssertionError("MOR delete left no deletion vectors to mask")
    tag = _uuid.uuid4().hex[:8]
    bo = cow.bucketed_view(spark, od, f"bmor_orders_{tag}")
    bl = cow.bucketed_view(spark, ld, f"bmor_lineitem_{tag}")
    joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    n_exch = len(_re.findall(r"Exchange hashpartitioning", plan))
    if n_exch:
        raise AssertionError(
            f"DV-masked bucketed join planned {n_exch} Exchange(s)"
        )
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_items"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("revenue"),
    )


_SQL_BKT_ORACLE = """
WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
l AS (SELECT l_orderkey, l_extendedprice, l_discount FROM lineitem)
SELECT o.o_orderstatus,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM o JOIN l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
"""


@query("cow_bucketed_sql_join", oracle=_SQL_BKT_ORACLE)
def cow_bucketed_sql_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate's SQL-TEXT read path over bucketed COW tables (the r7
    punch-list #4): ``run_sql`` resolves ``cow.`path``` references of
    bucketed snapshots through ``cowtable.bucketed_view`` — a native
    bucketed catalog table — instead of a plain-read temp view, so a
    user who only writes SQL gets the same zero-hash-partitioning-
    Exchange fact-fact join the Python API gets (previously SQL text
    joins over bucketed tables still shuffled both sides). The whole
    orders⋈lineitem query below is ONE SQL string through run_sql;
    the only Exchange in its plan is the tiny post-join group-by
    partial (asserted here: exactly one, and none between the scans
    and the join). At 100 TB the SQL surface and the programmatic
    surface now carry the identical dominant-cost optimization."""
    import re as _re
    import shutil

    from ..sql_gate import run_sql

    od = scratch_dir("dws_sqlbkt_o_")
    ld = scratch_dir("dws_sqlbkt_l_")
    shutil.rmtree(od, ignore_errors=True)
    shutil.rmtree(ld, ignore_errors=True)
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    # independent creates: overlap their jobs (guide §2.6)
    overlap_jobs(
        spark,
        lambda: cow.create(
            spark, od,
            t["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice"),
            bucket_by=["o_orderkey"], num_buckets=8,
        ),
        lambda: cow.create(
            spark, ld,
            t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount"),
            bucket_by=["l_orderkey"], num_buckets=8,
        ),
    )
    df = run_sql(
        spark,
        f"""
        SELECT o.o_orderstatus,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM cow.`{od}` o JOIN cow.`{ld}` l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderstatus
        """,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exch = len(_re.findall(r"Exchange hashpartitioning", plan))
    if n_exch > 1:
        raise AssertionError(
            f"SQL-text bucketed join planned {n_exch} hash-partitioning "
            "Exchanges (want <=1: only the group-by partials)"
        )
    return df


_BP_DELETE_COND = "o_totalprice < 50000"

_BKT_PART_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE NOT ({_BP_DELETE_COND})
),
l AS (SELECT l_orderkey, l_linestatus, l_extendedprice, l_discount FROM lineitem)
SELECT COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM o JOIN l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderstatus = 'F' AND l.l_linestatus = 'F'
"""


@query("cow_bucketed_partitioned_roundtrip", oracle=_BKT_PART_ORACLE)
def cow_bucketed_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucket_by COMPOSED with partition_by — the 100 TB fact-table
    layout (the r7 punch-list #1): orders is Hive-partitioned on
    o_orderstatus for partition pruning AND bucketed on o_orderkey
    for the exchange-free join; lineitem likewise on l_linestatus /
    l_orderkey. Every data file holds exactly one (partition, bucket)
    cell — a DELETE + compact cycle on orders preserves the layout.
    Both snapshots register as native PARTITIONED + CLUSTERED catalog
    tables (``cowtable.bucketed_view`` keeps the Hive tree under the
    view), and the partition-FILTERED join plans with (a) zero
    hash-partitioning Exchange and (b) PartitionFilters ON the
    bucketed scan — both asserted HERE, inside the query, so the
    sweep re-proves the composed plan shape at every scale factor.
    At 100 TB this is THE layout: date pruning cuts the scan by the
    partition fraction, bucketing removes the join shuffle of what
    remains; neither costs the other anything."""
    import re as _re
    import shutil
    import uuid as _uuid

    od = scratch_dir("dws_bp_o_")
    ld = scratch_dir("dws_bp_l_")
    shutil.rmtree(od, ignore_errors=True)
    shutil.rmtree(ld, ignore_errors=True)
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    o = t["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice")
    l = t["lineitem"].select(
        "l_orderkey", "l_linestatus", "l_extendedprice", "l_discount"
    )
    # independent creates: overlap their jobs (guide §2.6)
    overlap_jobs(
        spark,
        lambda: cow.create(
            spark, od, o,
            partition_by=["o_orderstatus"], bucket_by=["o_orderkey"], num_buckets=8,
        ),
        lambda: cow.create(
            spark, ld, l,
            partition_by=["l_linestatus"], bucket_by=["l_orderkey"], num_buckets=8,
        ),
    )
    cow.delete(spark, od, _BP_DELETE_COND)
    cow.compact(spark, od)
    tag = _uuid.uuid4().hex[:8]
    bo = cow.bucketed_view(spark, od, f"bp_orders_{tag}")
    bl = cow.bucketed_view(spark, ld, f"bp_lineitem_{tag}")
    joined = bo.filter("o_orderstatus = 'F'").join(
        bl.filter("l_linestatus = 'F'"), bo["o_orderkey"] == bl["l_orderkey"]
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    n_exch = len(_re.findall(r"Exchange hashpartitioning", plan))
    if n_exch:
        raise AssertionError(
            f"partitioned bucketed join planned {n_exch} Exchange(s)"
        )
    pf = _re.findall(r"PartitionFilters: \[[^\]]*(?:o_orderstatus|l_linestatus)", plan)
    if len(pf) < 2:
        raise AssertionError(
            "partition filters did not reach both bucketed scans:\n" + plan
        )
    return joined.agg(
        F.count("*").alias("n_items"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("revenue"),
    )


_BW_GEN_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
appended AS (
  SELECT o_orderkey + 90000000 AS o_orderkey, o_orderstatus,
         o_totalprice + 0.5 AS o_totalprice
  FROM base WHERE o_orderkey % 37 = 0
),
t AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
g AS (
  SELECT *, lower(o_orderstatus) AS status_lo,
         o_totalprice * 0.9 AS net
  FROM t
)
SELECT status_lo,
       COUNT(*) AS n,
       CAST(SUM(CAST(net AS DECIMAL(18,4))) AS DOUBLE) AS total_net
FROM g
GROUP BY 1
"""


@query("cow_batch_writer_generated", oracle=_BW_GEN_ORACLE)
def cow_batch_writer_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSv2 batch writer on a GENERATED-COLUMN table (the r8
    punch-list #5): previously both DSv2 writers refused these tables
    outright because generated expressions are Spark SQL and the
    staging path is pyarrow. Now the planner probes each expression
    with the same DuckDB trick the CHECK machinery uses — it must
    parse against the non-generated columns AND produce the declared
    type exactly — and the write task recomputes the values over its
    Arrow batch, OVERWRITING whatever the frame carried (the engine's
    ``_apply_generated`` invariant: a generated column IS its
    expression). Proven value-level here: the appended frame carries
    deliberately WRONG generated values and the oracle (which knows
    only the expressions' closed form) still matches — so the
    recompute, not the frame, is what landed. Spark-dialect
    expressions still refuse loudly at planning (unit-tested).

    100 TB shape: generated columns keep derived attributes
    consistent across MANY independent producers without a
    coordinating ETL layer; the recompute is per-task, Arrow-batched,
    zero extra shuffle, and CHECKs referencing generated columns
    validate the landed values before any byte publishes."""
    import shutil

    from ..sources.cow_batch import register_cow_batch

    path = scratch_dir("dws_cow_bwg_")
    shutil.rmtree(path, ignore_errors=True)
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    cow.create(
        spark, path, base,
        generated_columns={
            "status_lo": "lower(o_orderstatus)",
            "net": "o_totalprice * 0.9",
        },
        check_constraints={"net_sane": "net <= o_totalprice"},
    )
    register_cow_batch(spark)
    (
        base.filter("o_orderkey % 37 = 0")
        .selectExpr(
            "o_orderkey + 90000000 AS o_orderkey",
            "o_orderstatus",
            "o_totalprice + 0.5 AS o_totalprice",
            # stale-on-purpose generated values: the writer must
            # overwrite both (value-proven by the oracle)
            "'WRONG' AS status_lo",
            "CAST(-1.0 AS DOUBLE) AS net",
        )
        .repartition(2)
        .write.format("cow")
        .option("tablePath", path)
        .mode("append")
        .save()
    )
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    if m.get("generated_columns", {}).get("net") != "o_totalprice * 0.9":
        raise AssertionError("DSv2 commit dropped the generated-column spec")
    return (
        cow.read(spark, path)
        .groupBy("status_lo")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("net").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_net"),
        )
    )


_NAMED_DELETE_COND = "o_orderstatus = 'F' AND o_totalprice < 50000"
_NAMED_UPDATE_COND = "o_orderkey % 11 = 0"

_NAMED_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
d AS (SELECT * FROM base WHERE NOT ({_NAMED_DELETE_COND})),
u AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN {_NAMED_UPDATE_COND} THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice
  FROM d
),
now_agg AS (
  SELECT o_orderstatus, COUNT(*) AS n_now,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_now
  FROM u GROUP BY o_orderstatus
),
v0_agg AS (
  SELECT o_orderstatus, COUNT(*) AS n_v0 FROM base GROUP BY o_orderstatus
)
SELECT o_orderstatus, n_now, price_now, n_v0
FROM now_agg JOIN v0_agg USING (o_orderstatus)
"""


@query("cow_named_catalog_lifecycle", oracle=_NAMED_ORACLE)
def cow_named_catalog_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DML lifecycle addressed by NAME only (r10 punch #4):
    the reference's users address every table through a two-level
    namespace (``pipeline.py:235`` builds ``"source"."table"``);
    here ``CREATE TABLE <name> USING cow LOCATION '<p>' AS <query>``
    registers a durable name in the COW catalog (``catalog`` module)
    and every subsequent statement — DELETE, UPDATE, the final SELECT
    with ``VERSION AS OF`` time travel — references the bare name,
    never a path. The oracle reconstructs both table states
    relationally, so value-hash equality proves name registration,
    per-verb resolution, AND the name-rewrite time-travel grammar in
    one check.

    100 TB shape: the catalog stores KB-sized name->path JSON entries
    committed with the manifest's temp-file-rename pattern; resolving
    a name is one driver-side existence check + KB read, so the data
    plan underneath is byte-identical to the path-addressed one —
    naming is pure metadata."""
    import shutil
    import uuid

    from ..sql_gate import run_sql
    from .. import catalog

    path = scratch_dir("dws_cow_named_")
    shutil.rmtree(path, ignore_errors=True)
    name = f"lake.orders_{uuid.uuid4().hex[:10]}"
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    o.select("o_orderkey", "o_orderstatus", "o_totalprice") \
        .createOrReplaceTempView("dws_named_src")
    run_sql(
        spark,
        f"CREATE TABLE {name} USING cow LOCATION '{path}' AS "
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM dws_named_src",
    )
    run_sql(spark, f"DELETE FROM {name} WHERE {_NAMED_DELETE_COND}")
    run_sql(
        spark,
        f"UPDATE {name} SET o_totalprice = o_totalprice * 2 "
        f"WHERE {_NAMED_UPDATE_COND}",
    )
    out = run_sql(
        spark,
        f"""
        WITH now_agg AS (
          SELECT o_orderstatus, COUNT(*) AS n_now,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS price_now
          FROM {name} GROUP BY o_orderstatus
        ),
        v0_agg AS (
          SELECT o_orderstatus, COUNT(*) AS n_v0
          FROM {name} VERSION AS OF 1 GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, n_now, price_now, n_v0
        FROM now_agg JOIN v0_agg USING (o_orderstatus)
        """,
    )
    # the rewrite resolved the name into snapshot-read temp views
    # eagerly, so the result no longer needs the registration — drop
    # it to keep the shared warehouse catalog clean (unique name per
    # run makes a crash-leaked entry harmless)
    catalog.unregister(spark, name)
    return out


_CONVERT_DELETE_COND = "o_totalprice < 30000"

_CONVERT_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 3 = 0
),
d AS (SELECT * FROM base WHERE NOT ({_CONVERT_DELETE_COND}))
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       (SELECT COUNT(*) FROM base) AS n_v1
FROM d GROUP BY o_orderstatus
"""


@query("cow_convert_in_place", oracle=_CONVERT_ORACLE)
def cow_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CONVERT TO COW`` (r10): a PLAIN Hive-partitioned parquet
    directory written by an ordinary Spark job is adopted IN PLACE as
    snapshot 1 — every data file is renamed under ``data/`` (a
    metadata operation, O(files) not O(bytes): the property that
    makes adoption viable for a 100 TB producer-owned directory) and
    footer min/max stats build the pruning index with no data pass.
    The adopted table then takes ordinary DML (a gate DELETE here)
    and time travel; the result joins the post-DML aggregate with the
    snapshot-1 row count, so the oracle proves adoption preserved
    every row AND the converted table's DML semantics in one check.
    Reference scope: the reference re-ingests files through pandas
    (``pipeline.py:213`` ``if_exists='replace'``); in-place adoption
    is the engine's lake-format upgrade of that path."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_conv_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .filter("o_orderkey % 3 = 0")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    # an ordinary producer's directory: plain partitioned parquet
    o.write.partitionBy("o_orderstatus").parquet(path)
    run_sql(
        spark,
        f"CONVERT TO COW parquet.`{path}` "
        "PARTITIONED BY (o_orderstatus string)",
    )
    run_sql(spark, f"DELETE FROM `{path}` WHERE {_CONVERT_DELETE_COND}")
    return run_sql(
        spark,
        f"""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               (SELECT COUNT(*) FROM cow.`{path}` VERSION AS OF 1) AS n_v1
        FROM cow.`{path}`
        GROUP BY o_orderstatus
        """,
    )


_EVO_DELETE_COND = "o_orderpriority = '1-URGENT'"

_EVO_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders
),
v1 AS (SELECT * FROM base WHERE o_orderkey % 2 = 0),
kept AS (SELECT * FROM base WHERE NOT ({_EVO_DELETE_COND}))
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       (SELECT COUNT(*) FROM v1) AS n_v1
FROM kept GROUP BY o_orderstatus, o_orderpriority
"""


@query("cow_partition_evolution", oracle=_EVO_ORACLE)
def cow_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION (r11 punch #1, the Iceberg signature
    capability): ``ALTER TABLE ... ADD PARTITION FIELD`` re-layouts a
    table with ZERO data rewritten — the commit is metadata-only
    (asserted here: byte-identical file list across the ALTER), new
    writes land under the new spec, and files from BOTH vintages keep
    pruning under their own layout (asserted here via
    ``stats_candidate_files`` on each spec's field). The reference's
    only layout-change answer is a full reload
    (``pipeline.py:213`` ``if_exists='replace'``); at 100 TB a
    re-partition-by-rewrite is days of cluster time, while this ALTER
    is one manifest commit.

    Lifecycle under test: CREATE PARTITIONED BY (o_orderstatus) with
    half of orders -> ADD PARTITION FIELD o_orderpriority -> INSERT
    the other half (lands under status/priority two-level dirs) ->
    DELETE on the ADDED field (predicate spans vintages: new files
    prune by directory min==max, old files by footer stats; rewrites
    of old-vintage files migrate them to the current spec) -> final
    aggregate JOINed with the pre-evolution snapshot count. The
    DuckDB oracle replays the same statements relationally, so the
    value hash proves evolution changed LAYOUT ONLY, never content."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_evo_")
    shutil.rmtree(path, ignore_errors=True)
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"]
    cow.create(
        spark,
        path,
        o.select(*cols).filter("o_orderkey % 2 = 0"),
        partition_by=["o_orderstatus"],
    )
    m1 = cow._load_manifest(spark, path, 1)
    run_sql(spark, f"ALTER TABLE `{path}` ADD PARTITION FIELD o_orderpriority")
    m2 = cow._load_manifest(spark, path, 2)
    # the ALTER is metadata-only: byte-identical file list, two specs
    if m2["files"] != m1["files"]:
        raise AssertionError("partition evolution rewrote data files")
    if [s["fields"] for s in m2["partition_specs"]] != [
        ["o_orderstatus"],
        ["o_orderstatus", "o_orderpriority"],
    ]:
        raise AssertionError(f"unexpected spec history: {m2['partition_specs']}")
    # second half lands under the NEW spec (two-level directories)
    o.select(*cols).filter("o_orderkey % 2 = 1").createOrReplaceTempView(
        "dws_evo_src"
    )
    run_sql(spark, f"INSERT INTO `{path}` SELECT * FROM dws_evo_src")
    m3 = cow._load_manifest(spark, path, 3)
    vintages = {cow._part_keys(f["name"]) for f in m3["files"]}
    if vintages != {("o_orderstatus",), ("o_orderstatus", "o_orderpriority")}:
        raise AssertionError(f"expected mixed spec vintages, got {vintages}")
    # BOTH vintages prune on their own spec: a status predicate prunes
    # old AND new files (dir value min==max); a priority predicate
    # prunes at least the new vintage's other-priority directories
    n_all = len(m3["files"])
    n_status = len(cow.stats_candidate_files(m3, "o_orderstatus = 'F'"))
    n_prio = len(cow.stats_candidate_files(m3, "o_orderpriority = '5-LOW'"))
    if not (n_status < n_all and n_prio < n_all):
        raise AssertionError(
            f"pruning failed across vintages: {n_status}/{n_prio} of {n_all}"
        )
    # DML on the ADDED field spans vintages
    run_sql(spark, f"DELETE FROM `{path}` WHERE {_EVO_DELETE_COND}")
    return run_sql(
        spark,
        f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               (SELECT COUNT(*) FROM cow.`{path}` VERSION AS OF 1) AS n_v1
        FROM cow.`{path}`
        GROUP BY o_orderstatus, o_orderpriority
        """,
    )


_GENSQL_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderdate, o_totalprice,
         CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS omonth
  FROM orders
),
v1 AS (SELECT * FROM base WHERE o_orderkey % 2 = 0),
kept AS (
  SELECT * FROM base
  WHERE NOT (omonth = DATE '1995-03-01')
)
SELECT omonth, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       (SELECT COUNT(*) FROM v1) AS n_v1
FROM kept GROUP BY omonth
"""


@query("cow_generated_sql_lifecycle", oracle=_GENSQL_ORACLE)
def cow_generated_sql_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED columns as SQL text (r11): the ``GENERATED (col AS
    (expr), ...)`` CREATE clause declares the transform, ``ADD
    PARTITION FIELD`` moves the layout onto it — Iceberg's
    ``days(ts)``-style TRANSFORM partitioning as a pure-SQL flow, no
    Python API touched. The lifecycle under test: CREATE half of
    orders with a generated month column -> evolve the partition spec
    onto it -> INSERT the other half through the gate (the implicit
    column list targets the NON-generated columns; the engine
    recomputes the transform before staging — standard generated-
    column INSERT semantics) -> DELETE one month (the predicate
    prunes new files by directory value and old files by footer
    stats) -> aggregate, joined with the pre-evolution snapshot
    count. The DuckDB oracle replays the transform relationally, so
    the value hash proves clause parsing, recomputation, evolution,
    and pruning changed LAYOUT only, never content.

    100 TB shape: identical to ``cow_partition_evolution`` — the
    evolution commit is metadata-only; the generated column costs one
    projection per write, never a read-back."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_gensql_")
    shutil.rmtree(path, ignore_errors=True)
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    o.select("o_orderkey", "o_orderdate", "o_totalprice").filter(
        "o_orderkey % 2 = 0"
    ).createOrReplaceTempView("dws_gensql_a")
    o.select("o_orderkey", "o_orderdate", "o_totalprice").filter(
        "o_orderkey % 2 = 1"
    ).createOrReplaceTempView("dws_gensql_b")
    run_sql(
        spark,
        f"CREATE TABLE `{path}` USING cow "
        "GENERATED (omonth AS (CAST(date_trunc('MONTH', o_orderdate) AS DATE))) "
        "AS SELECT * FROM dws_gensql_a",
    )
    run_sql(spark, f"ALTER TABLE `{path}` ADD PARTITION FIELD omonth")
    run_sql(spark, f"INSERT INTO `{path}` SELECT * FROM dws_gensql_b")
    run_sql(spark, f"DELETE FROM `{path}` WHERE omonth = DATE '1995-03-01'")
    return run_sql(
        spark,
        f"""
        SELECT omonth, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total,
               (SELECT COUNT(*) FROM cow.`{path}` VERSION AS OF 1) AS n_v1
        FROM cow.`{path}`
        GROUP BY omonth
        """,
    )


_MANIFEST_REUSE_ORACLE = """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey > 3
UNION ALL
SELECT * FROM (VALUES (CAST(999999999 AS BIGINT), CAST(1.5 AS DOUBLE)))
  v(o_orderkey, o_totalprice)
"""


@query("cow_manifest_reuse", oracle=_MANIFEST_REUSE_ORACLE)
def cow_manifest_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental commit metadata (r12, VERDICT r11 punch #1) as a
    value-oracled lifecycle: on a SHARDED table (the shard threshold
    is lowered for the fixture; production = 10k entries/shard),
    commits must cost O(changed files) of metadata, not O(table) —
    the Iceberg manifest-reuse model, vs the reference's only
    metadata story, full table replace (reference pipeline.py:213).
    Asserted IN-QUERY against the raw manifest bytes:

    - the 1-row INSERT references every non-trailing parent shard BY
      NAME and writes at most one new content shard, meta-only
      (``files`` never inlines back);
    - CREATE TAG is a zero-shard commit (``file_shards`` identical to
      its parent's);
    - the point DELETE dirties at most 2 shards (the one holding the
      victim entries + a possible trailing coalesce), every other
      shard referenced verbatim.

    The DuckDB oracle pins the CONTENT of the final snapshot — so the
    metadata plumbing above can never trade correctness for reuse.
    At 100 TB: a 1-file append to a 1M-file table writes ~KB of
    metadata (measured in SCALE.md), and the tag/property commits a
    retention workflow issues hourly write zero shard files."""
    import json as _json
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_reuse_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_totalprice")
        .repartition(12)
    )
    old_rows = cow.MANIFEST_SHARD_ROWS
    cow.MANIFEST_SHARD_ROWS = 4
    try:
        cow.create(spark, path, o)

        def _meta(n):
            return _json.loads(
                cow._read_file(spark, cow._manifest_path(path, n)).decode()
            )

        m1 = _meta(1)
        if len(m1["file_shards"]) < 3:
            raise ValueError(f"fixture not sharded enough: {m1['file_shards']}")
        run_sql(
            spark, f"INSERT INTO cow.`{path}` VALUES (999999999, 1.5)"
        )
        m2 = _meta(2)
        new2 = set(m2["file_shards"]) - set(m1["file_shards"])
        if (
            "files" in m2
            or len(new2) > 1
            or not set(m1["file_shards"][:-1]) <= set(m2["file_shards"])
        ):
            raise ValueError(
                f"append did not reuse parent shards: new={sorted(new2)}"
            )
        run_sql(spark, f"ALTER TABLE cow.`{path}` CREATE TAG before_delete")
        m3 = _meta(3)
        if m3["file_shards"] != m2["file_shards"]:
            raise ValueError("tag commit rewrote shard references")
        # the point DELETE may dirty at most one group PER FILE that
        # holds a victim row (+1 trailing coalesce) — data-aware bound:
        # at larger SFs the <=3 keys can land in up to 3 distinct files
        victim_files = (
            cow.read(spark, path)
            .filter("o_orderkey <= 3")
            .select(F.input_file_name())
            .distinct()
            .count()
        )
        run_sql(spark, f"DELETE FROM cow.`{path}` WHERE o_orderkey <= 3")
        m4 = _meta(4)
        dirtied = set(m3["file_shards"]) - set(m4["file_shards"])
        if len(dirtied) > victim_files + 1:
            raise ValueError(
                f"point DELETE dirtied {len(dirtied)} shards for "
                f"{victim_files} victim files"
            )
        return cow.read(spark, path)
    finally:
        cow.MANIFEST_SHARD_ROWS = old_rows


_COPY_INTO_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderkey % 5 IN (0, 1)
"""


@query("cow_copy_into_idempotent", oracle=_COPY_INTO_ORACLE)
def cow_copy_into_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's COPY INTO (r12) through gate SQL: idempotent bulk file
    loading into a COW table. A landing directory receives CSV files
    for one orders slice; ``COPY INTO ... FILEFORMAT = CSV`` loads
    them; the SAME statement re-run loads ZERO files (the loaded-file
    registry, carried in content-addressed manifest shards, skips
    them); new files landing later load incrementally — the
    exactly-once file-ingestion contract the reference's per-file
    INSERT loader (``pipeline.py:160-162``) needs a scheduler to
    approximate. Asserted IN-QUERY: re-run loads 0 files / 0 rows;
    the incremental run loads only the new files; the registry
    references the first commit's shard by name (O(new files)
    metadata). The DuckDB oracle pins the final table content: both
    slices, each exactly once."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_copy_")
    landing = scratch_dir("dws_cow_copy_src_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    o.limit(0).createOrReplaceTempView("dws_copy_schema")
    run_sql(
        spark,
        f"CREATE TABLE cow.`{path}` USING cow AS SELECT * FROM dws_copy_schema",
    )
    o.filter("o_orderkey % 5 = 0").coalesce(2).write.mode("overwrite").option(
        "header", "true"
    ).csv(f"{landing}/batch1")
    stmt = (
        f"COPY INTO cow.`{path}` FROM '{landing}' FILEFORMAT = CSV "
        "PATTERN = 'batch*/*.csv' FORMAT_OPTIONS ('header' = 'true')"
    )
    first = run_sql(spark, stmt).collect()[0]
    if first["files_loaded"] < 1 or first["rows_loaded"] < 1:
        raise ValueError(f"first COPY INTO loaded nothing: {first}")
    rerun = run_sql(spark, stmt).collect()[0]
    if rerun["files_loaded"] != 0 or rerun["rows_loaded"] != 0:
        raise ValueError(f"COPY INTO re-run was not idempotent: {rerun}")
    o.filter("o_orderkey % 5 = 1").coalesce(1).write.mode("overwrite").option(
        "header", "true"
    ).csv(f"{landing}/batch2")
    incr = run_sql(spark, stmt).collect()[0]
    if incr["files_loaded"] != 1 or incr["files_skipped"] != first["files_loaded"]:
        raise ValueError(f"incremental COPY INTO mis-loaded: {incr}")
    meta = cow.table_head_meta(spark, path)
    shards = meta.get("copy_shards") or []
    if len(shards) != 2:
        raise ValueError(f"registry not incrementally sharded: {shards}")
    return cow.read(spark, path)


_EVO_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 4 = 0
),
src AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 1 AS o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 8 IN (0, 1)
),
upd AS (
  SELECT b.o_orderkey,
         CASE WHEN s.o_orderkey IS NULL THEN b.o_orderstatus
              ELSE s.o_orderstatus END AS o_orderstatus,
         CASE WHEN s.o_orderkey IS NULL THEN b.o_totalprice
              ELSE s.o_totalprice END AS o_totalprice,
         s.o_orderpriority
  FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
)
SELECT * FROM upd
UNION ALL
SELECT * FROM src
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base)
"""


@query("cow_merge_schema_evolution", oracle=_EVO_ORACLE)
def cow_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION (r12, Delta's clause) through gate
    SQL: the source carries a column the target lacks (``o_orderpriority``);
    the star-clause merge ADDS it to the table schema atomically with
    the merging commit — matched rows update (price bumped, clerk
    filled), carried rows read the new column as NULL from their
    untouched pre-evolution files (read-side NULL-fill, zero rewrite
    outside the merge's own write set), and unmatched source rows
    insert with the full evolved width. Asserted IN-QUERY: the
    pre-merge snapshot still reads the 3-column schema (evolution is
    per-snapshot metadata, not a table rewrite). The DuckDB oracle
    replays the merge relationally over the evolved width."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_evo_")
    shutil.rmtree(path, ignore_errors=True)
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    o.filter("o_orderkey % 4 = 0").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).createOrReplaceTempView("dws_evo_base")
    run_sql(
        spark,
        f"CREATE TABLE cow.`{path}` USING cow AS SELECT * FROM dws_evo_base",
    )
    o.filter("o_orderkey % 8 IN (0, 1)").selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice + 1 AS o_totalprice",
        "o_orderpriority",
    ).createOrReplaceTempView("dws_evo_delta")
    run_sql(
        spark,
        f"""MERGE WITH SCHEMA EVOLUTION INTO cow.`{path}` t
            USING dws_evo_delta s ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""",
    )
    if "o_orderpriority" in cow.read(spark, path, 1).columns:
        raise ValueError("pre-merge snapshot leaked the evolved column")
    if "o_orderpriority" not in cow.read(spark, path).columns:
        raise ValueError("schema evolution did not add the source column")
    return cow.read(spark, path)


_IOW_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderstatus <> 'F'
UNION ALL
SELECT -o_orderkey AS o_orderkey, 'F' AS o_orderstatus,
       o_totalprice * 0.5 AS o_totalprice
FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0
"""


@query("cow_insert_overwrite_partition", oracle=_IOW_ORACLE)
def cow_insert_overwrite_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE ... PARTITION (r12) through gate SQL: the
    static-partition overwrite is ONE atomic replace_where commit —
    the 'F' partition is replaced wholesale by a recomputed payload
    while every other partition's files are untouched (partition
    values prune the rewrite before stats even load). Asserted
    IN-QUERY: exactly one snapshot was added, and the non-overwritten
    partitions' file entries are BYTE-IDENTICAL across the commit.
    The oracle rebuilds the same end state relationally."""
    import shutil

    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_iow_")
    shutil.rmtree(path, ignore_errors=True)
    o = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cow.create(spark, path, o, partition_by=["o_orderstatus"])
    before = {
        f["name"]
        for f in cow._load_manifest(spark, path, 1)["files"]
        if f.get("partition", {}).get("o_orderstatus") != "F"
    }
    o.filter("o_orderstatus = 'F' AND o_orderkey % 10 = 0").selectExpr(
        "-o_orderkey AS o_orderkey", "o_totalprice * 0.5 AS o_totalprice"
    ).createOrReplaceTempView("dws_iow_payload")
    run_sql(
        spark,
        f"INSERT OVERWRITE cow.`{path}` PARTITION (o_orderstatus = 'F') "
        "SELECT * FROM dws_iow_payload",
    )
    m2 = cow._load_manifest(spark, path, 2)
    after = {
        f["name"]
        for f in m2["files"]
        if f.get("partition", {}).get("o_orderstatus") != "F"
    }
    if cow.current_snapshot(spark, path) != 2:
        raise ValueError("INSERT OVERWRITE was not a single commit")
    if before != after:
        raise ValueError(
            "partition-scoped overwrite touched other partitions' files"
        )
    return cow.read(spark, path)


_VIEW_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
d AS (SELECT * FROM base WHERE NOT (o_totalprice < 80000)),
u AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN 'V' ELSE o_orderstatus END
           AS o_orderstatus,
         o_totalprice
  FROM d
)
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS total
FROM u GROUP BY o_orderstatus
"""


@query("cow_view_lifecycle", oracle=_VIEW_ORACLE)
def cow_view_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE VIEW / SHOW VIEWS / DROP VIEW through the gate (r13):
    the reference's warehouse is Dremio, whose primary modeling
    surface is the virtual dataset — a named stored SELECT re-planned
    at every read (``README.md:3-4``; reference users query views
    over the loader's tables, never raw files). Here a view is
    created over a catalog-registered COW table, the BASE table then
    takes DELETE + UPDATE commits, and the final read goes through a
    view-over-a-view — the result must reflect the post-DML base
    state (re-planned, not materialized), which is exactly what the
    DuckDB oracle computes relationally. Asserted in-query: SHOW
    VIEWS lists both views; DROP VIEW removes one; writing to a view
    refuses.

    Scale: a view is a KB catalog entry; expansion is pure statement
    rewrite (no data touched until the final plan runs), so view
    resolution cost is independent of table size."""
    import shutil

    from .. import catalog as _cat
    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_view_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    _cat.register(spark, "dws_view_base", path, replace=True)
    run_sql(
        spark,
        "CREATE OR REPLACE VIEW dws_status_rollup AS "
        "SELECT o_orderstatus, COUNT(*) AS n, "
        "SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS total "
        "FROM dws_view_base GROUP BY o_orderstatus",
    )
    run_sql(
        spark,
        "CREATE OR REPLACE VIEW dws_status_top AS "
        "SELECT * FROM dws_status_rollup WHERE n > 0",
    )
    # DML the BASE after the views exist — reads must re-plan
    run_sql(spark, "DELETE FROM dws_view_base WHERE o_totalprice < 80000")
    run_sql(
        spark,
        "UPDATE dws_view_base SET o_orderstatus = 'V' WHERE o_orderkey % 7 = 0",
    )
    shown = {
        r["name"] for r in run_sql(spark, "SHOW VIEWS LIKE 'dws_status%'").collect()
    }
    if not {"dws_status_rollup", "dws_status_top"} <= shown:
        raise ValueError(f"SHOW VIEWS missed a view: {shown}")
    try:
        run_sql(spark, "INSERT INTO dws_status_rollup VALUES ('Z', 1, 1)")
        raise AssertionError("writing to a view must refuse")
    except ValueError:
        pass
    out = run_sql(spark, "SELECT * FROM dws_status_top")
    rows = out.collect()  # materialize BEFORE dropping the views
    run_sql(spark, "DROP VIEW dws_status_top")
    left = {r["name"] for r in run_sql(spark, "SHOW VIEWS LIKE 'dws_status%'").collect()}
    if left != {"dws_status_rollup"}:
        raise ValueError(f"DROP VIEW did not remove exactly one view: {left}")
    run_sql(spark, "DROP VIEW dws_status_rollup")
    return spark.createDataFrame(rows, out.schema)


_UPDATE_FROM_ORACLE = """
WITH src AS (
  SELECT o_orderkey, o_totalprice * 0.5 AS half
  FROM orders WHERE o_orderkey % 13 = 0
),
u AS (
  SELECT o.o_orderkey, o.o_orderstatus,
         CASE WHEN s.o_orderkey IS NOT NULL AND s.half > 10000
              THEN s.half ELSE o.o_totalprice END AS o_totalprice
  FROM orders o LEFT JOIN src s ON o.o_orderkey = s.o_orderkey
),
d AS (
  SELECT u.* FROM u
  LEFT JOIN (SELECT o_orderkey FROM src WHERE half <= 10000) x
    ON u.o_orderkey = x.o_orderkey
  WHERE x.o_orderkey IS NULL
)
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS total
FROM d GROUP BY o_orderstatus
"""


@query("cow_update_from_roundtrip", oracle=_UPDATE_FROM_ORACLE)
def cow_update_from_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-form DML through the gate (r13): ``UPDATE t SET ... FROM
    src WHERE t.k = s.k AND ...`` and ``DELETE FROM t USING src WHERE
    ...`` — the DuckDB/Postgres idiom for the reference's whitelisted
    UPDATE/DELETE verbs (``pipeline.py:111-113``) when the predicate
    needs another relation. Both execute as ONE multi-clause MERGE:
    the same-name equalities become merge keys (stat-pruned affected
    file set), the residual conjuncts become the matched clause's
    condition, and the merge ambiguity guard refuses a target row
    matching two source rows (stricter than Postgres' arbitrary
    winner — at 100 TB an arbitrary winner is silent corruption).
    The oracle replays both statements relationally in DuckDB.

    Scale: identical to MERGE — the source's key envelope prunes the
    affected files; non-matching files never rewrite."""
    import shutil

    from .. import catalog as _cat
    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_updfrom_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o)
    _cat.register(spark, "dws_jf_target", path, replace=True)
    run_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW dws_jf_src AS "
        "SELECT o_orderkey, o_totalprice * 0.5 AS half "
        "FROM dws_jf_target WHERE o_orderkey % 13 = 0",
    )
    # the temp view captures the PRE-DML state? No — temp views are
    # lazy; snapshot the source NOW so the two statements see one
    # consistent source, like a real CDC batch would
    src = run_sql(spark, "SELECT * FROM dws_jf_src").cache()
    src.createOrReplaceTempView("dws_jf_src_pinned")
    src.count()
    run_sql(
        spark,
        "UPDATE dws_jf_target SET o_totalprice = s.half "
        "FROM dws_jf_src_pinned s "
        "WHERE dws_jf_target.o_orderkey = s.o_orderkey AND s.half > 10000",
    )
    run_sql(
        spark,
        "DELETE FROM dws_jf_target USING "
        "(SELECT o_orderkey FROM dws_jf_src_pinned WHERE half <= 10000) d "
        "WHERE dws_jf_target.o_orderkey = d.o_orderkey",
    )
    out = run_sql(
        spark,
        "SELECT o_orderstatus, COUNT(*) AS n, "
        "CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS total "
        "FROM dws_jf_target GROUP BY o_orderstatus",
    )
    rows = out.collect()
    src.unpersist()
    return spark.createDataFrame(rows, out.schema)


_MATVIEW_ORACLE = """
WITH b AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(FLOOR(o_totalprice) AS BIGINT) AS p
  FROM orders
),
a AS (
  SELECT * FROM b
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(-401 AS BIGINT), '9-EXPRESS', CAST(50001 AS BIGINT)),
    (CAST(-402 AS BIGINT), '9-EXPRESS', CAST(60002 AS BIGINT)),
    (CAST(-403 AS BIGINT), '1-URGENT', CAST(70003 AS BIGINT))
  ) v(o_orderkey, o_orderpriority, p)
),
d AS (SELECT * FROM a WHERE NOT (p < 50000)),
u AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderkey % 11 = 0 THEN p + 7 ELSE p END AS p
  FROM d
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(p) AS BIGINT) AS total,
       MIN(p) AS lo,
       MAX(p) AS hi
FROM u GROUP BY 1
"""


@query("cow_matview_lifecycle", oracle=_MATVIEW_ORACLE)
def cow_matview_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE / REFRESH / SHOW / DROP MATERIALIZED VIEW through the
    gate (r14): Dremio's REFLECTION — a materialized aggregate over a
    virtual dataset — is the reference warehouse's acceleration
    primitive (``README.md:3-4``). Lifecycle under test: a COUNT/SUM/
    MIN/MAX matview is created over a catalog-registered COW base
    (parsed INCREMENTAL — asserted), the base takes append + DELETE +
    UPDATE commits, the matview read is asserted STALE (reflection
    semantics: reads hit the backing table), then REFRESH folds the
    base's change feed through ``maintain_aggregates`` — the DELETE
    removes every group's stored minimum, forcing the scoped MIN/MAX
    recompute split alongside the pure-delta COUNT/SUM path — and the
    final read must equal the DuckDB oracle's full recompute of the
    final base state: incremental maintenance == recompute, proven
    end to end THROUGH the SQL surface.

    Scale: REFRESH cost is O(changed rows) + O(view) — the only base
    access is the broadcast-semi-join-scoped MIN/MAX recompute; the
    backing table is group-cardinality sized; reads are a name
    rewrite to the backing table (size-independent)."""
    import shutil

    from .. import catalog as _cat
    from ..sql_gate import run_sql

    path = scratch_dir("dws_cow_mvl_")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_tables(spark, sf_dir, ("orders",))["orders"]
        .selectExpr(
            "o_orderkey",
            "o_orderpriority",
            "CAST(FLOOR(o_totalprice) AS BIGINT) AS p",
        )
        .repartition(4)
    )
    cow.create(spark, path, o)
    _cat.register(spark, "dws_mvl_base", path, replace=True)
    run_sql(spark, "DROP MATERIALIZED VIEW IF EXISTS dws_mvl_rollup")
    st = run_sql(
        spark,
        "CREATE MATERIALIZED VIEW dws_mvl_rollup AS "
        "SELECT o_orderpriority, COUNT(*) AS n_orders, SUM(p) AS total, "
        "MIN(p) AS lo, MAX(p) AS hi FROM dws_mvl_base GROUP BY o_orderpriority",
    ).collect()[0]
    if st["mode"] != "incremental":
        raise ValueError(f"expected an incremental matview, got {st['mode']}")
    before = sorted(
        map(tuple, run_sql(spark, "SELECT * FROM dws_mvl_rollup").collect())
    )
    run_sql(
        spark,
        "INSERT INTO dws_mvl_base VALUES "
        "(-401, '9-EXPRESS', 50001), (-402, '9-EXPRESS', 60002), "
        "(-403, '1-URGENT', 70003)",
    )
    run_sql(spark, "DELETE FROM dws_mvl_base WHERE p < 50000")
    run_sql(
        spark,
        "UPDATE dws_mvl_base SET p = p + 7 WHERE o_orderkey % 11 = 0",
    )
    stale = sorted(
        map(tuple, run_sql(spark, "SELECT * FROM dws_mvl_rollup").collect())
    )
    if stale != before:
        raise ValueError("matview read must stay STALE until REFRESH")
    shown = {
        r["name"]
        for r in run_sql(
            spark, "SHOW MATERIALIZED VIEWS LIKE 'dws_mvl%'"
        ).collect()
    }
    if "dws_mvl_rollup" not in shown:
        raise ValueError(f"SHOW MATERIALIZED VIEWS missed the matview: {shown}")
    try:
        run_sql(spark, "INSERT INTO dws_mvl_rollup VALUES ('Z', 1, 1, 1, 1)")
        raise AssertionError("writing to a matview must refuse")
    except ValueError:
        pass
    st2 = run_sql(spark, "REFRESH MATERIALIZED VIEW dws_mvl_rollup").collect()[0]
    if st2["refreshed"] is not True:
        raise ValueError("REFRESH after base DML must report refreshed=True")
    out = run_sql(spark, "SELECT * FROM dws_mvl_rollup")
    rows = out.collect()  # materialize BEFORE dropping the matview
    run_sql(spark, "DROP MATERIALIZED VIEW dws_mvl_rollup")
    return spark.createDataFrame(rows, out.schema)
