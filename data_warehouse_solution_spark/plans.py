"""Physical-plan introspection helpers: the programmatic form of
``df.explain("formatted")`` used by tests and tuning scripts to
assert plan SHAPE (pushdown reached the scan, joins broadcast,
buckets eliminated a shuffle) rather than just results.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The (possibly AQE-wrapped) executed physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_summary(df: DataFrame) -> dict:
    """Operator counts + pushdown evidence for quick assertions."""
    plan = executed_plan(df)
    return {
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        "nested_loop_joins": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        "exchanges": plan.count("Exchange"),
        "single_partition_exchanges": plan.count("Exchange SinglePartition"),
        "hash_aggregates": plan.count("HashAggregate"),
        "windows": plan.count("Window"),
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        "partition_filters": "PartitionFilters" in plan,
        "read_schemas": re.findall(r"ReadSchema: ([^\n,]+)", plan),
    }


def executed_metrics(df: DataFrame) -> dict:
    """Sum the interesting SQLMetrics over an EXECUTED plan tree,
    descending through AdaptiveSparkPlan/QueryStage wrappers — the
    measured twin of :func:`plan_summary` (run an action first, e.g.
    a noop-sink write; unexecuted metrics read as zero). Shared by
    ``EXPLAIN ANALYZE`` (r14) and ``tools/shuffle_audit.py``."""
    out: dict[str, int] = {
        "shuffle_bytes": 0,
        "spill_bytes": 0,
        "broadcast_bytes": 0,
        "scan_rows": 0,
        "output_rows": 0,
        "exchanges": 0,
        "broadcasts": 0,
    }
    seen_top = {"first": True}

    def walk(node):
        nn = node.nodeName()
        it = node.metrics().iterator()
        vals = {}
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        if seen_top["first"] and "numOutputRows" in vals:
            out["output_rows"] = vals["numOutputRows"]
            seen_top["first"] = False
        if nn == "Exchange":
            out["exchanges"] += 1
            out["shuffle_bytes"] += vals.get("shuffleBytesWritten", 0)
        if nn == "BroadcastExchange":
            out["broadcasts"] += 1
            out["broadcast_bytes"] += vals.get("dataSize", 0)
        if nn.startswith("Scan "):
            out["scan_rows"] += vals.get("numOutputRows", 0)
        out["spill_bytes"] += vals.get("spillSize", 0)
        if "AdaptiveSparkPlan" in nn:
            walk(node.executedPlan())
            return
        if "QueryStage" in nn:
            walk(node.plan())
            return
        cit = node.children().iterator()
        while cit.hasNext():
            walk(cit.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimizer-stats size estimate for the plan (bytes).
    Metadata-only — reads parquet footers / column stats, never runs a
    job; the same estimate Spark's own broadcast-join selection uses."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def maybe_broadcast(df: DataFrame, max_bytes: int | None = None) -> DataFrame:
    """Size-gated broadcast hint: hint only when Catalyst's size
    estimate fits under ``max_bytes`` (default: the session's
    ``spark.sql.autoBroadcastJoinThreshold``). Above the threshold the
    frame is returned unhinted so joins against it degrade to keyed
    shuffles automatically — a corpus-sized table must never be pinned
    into executor memory by an unconditional hint."""
    from pyspark.sql import functions as F

    if max_bytes is None:
        thr = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        t = thr.lower().removesuffix("b")
        mult = 1
        for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
            if t.endswith(suffix):
                t, mult = t[:-1], m
                break
        max_bytes = int(t) * mult
    if max_bytes < 0:  # threshold -1 == broadcasts disabled
        return df
    return F.broadcast(df) if estimated_size_bytes(df) <= max_bytes else df


def free_local_checkpoints(df: DataFrame) -> None:
    """Release the block-manager storage behind a localCheckpoint'd
    DataFrame (and any checkpointed inputs in its plan), best-effort.

    ``localCheckpoint`` persists the materialized RDD but exposes no
    public release API; in a long-lived session (bench harness, a
    real warehouse session) superseded checkpoints otherwise pin
    executor storage until JVM GC happens to collect the RDD handle —
    the round-3 session-poisoning pathology. Callers must only free
    checkpoints that are provably dead: a freed checkpoint cannot be
    recomputed (lineage was truncated)."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:
        pass  # internal API drift must never break the operator


def materialize_and_release(result: DataFrame, *pinned: DataFrame) -> DataFrame:
    """Run ``result`` to completion on the executors (localCheckpoint,
    eager — the driver never holds rows), then unpersist every
    ``pinned`` input cache. The contract for operators that persist a
    large intermediate (MinHash signatures, curation survivors) used
    by several branches of one plan: the cache pays for itself within
    the operator and is RELEASED before the operator returns, instead
    of leaking into the session until someone calls clearCache().
    The returned frame is a small materialized result backed by its
    own (result-sized, not corpus-sized) checkpoint blocks."""
    out = result.localCheckpoint(eager=True)
    for df in pinned:
        df.unpersist()
    return out


def _pin_active_session(spark) -> bool:
    """Make ``spark`` the JVM-thread-local ACTIVE session of the calling
    thread; False when the session class does not offer the hook
    (non-classic session / API drift)."""
    try:
        getattr(
            spark._jvm, "org.apache.spark.sql.classic.SparkSession"
        ).setActiveSession(spark._jsparkSession)
    except Exception:
        return False
    return True


def overlap_jobs(spark, *thunks):
    """Run independent driver actions concurrently so their Spark jobs
    back-fill each other's task tails (guide §2.6 — actions are only
    sequential because driver code calls them sequentially). Returns
    results in ``thunks`` order; the first exception propagates. Each
    worker pins the JVM-thread-local ACTIVE session first: Python
    Data Source lookup and SQLConf.get resolve through
    ``SparkSession.getActiveSession``, which is unset on the fresh
    py4j threads that back a Python thread pool. When the session
    cannot be pinned, the thunks run one after another on the
    caller's thread instead: slower, but never unpinned."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1 or not _pin_active_session(spark):
        return [fn() for fn in thunks]

    def run(fn):
        if not _pin_active_session(spark):
            raise RuntimeError("cannot pin the active session on a worker thread")
        return fn()

    with ThreadPoolExecutor(max_workers=min(3, len(thunks))) as pool:
        futures = [pool.submit(run, fn) for fn in thunks]
        return [f.result() for f in futures]


# Logical-plan node names whose presence makes RE-EVALUATING a frame
# expensive (each extra pass re-pays a shuffle, a multiplying explode,
# or a whole subtree): the gate for merge-source materialization.
# InMemoryRelation / LogicalRDD are barriers — a frame already cached
# or checkpointed re-reads blocks, so nothing BELOW them counts.
_MULTIPASS_NODES = frozenset(
    {
        "Join",
        "Aggregate",
        "Window",
        "Generate",
        "Expand",
        "Sort",
        "FlatMapGroupsInPandas",
        "MapInPandas",
        "PythonMapInArrow",
        "MapPartitions",
        "Intersect",
        "Except",
        "Deduplicate",
    }
)
_MATERIALIZED_BARRIERS = frozenset({"InMemoryRelation", "LogicalRDD"})


def multipass_source_nodes(df: DataFrame) -> list[str]:
    """Names of optimized-logical-plan nodes that make each extra
    evaluation of ``df`` expensive (guide §5: cache/checkpoint only
    when recomputing costs more than the materialization). A plain
    scan/filter/project — the registered-frame common case — returns
    [] and stays on the zero-materialization path; a subquery source
    (join, aggregate, window, explode, python map) returns its
    offending nodes. Subtrees under an InMemoryRelation / LogicalRDD
    are already materialized and do not count. Best-effort: any
    internal-API failure reports [] (the do-nothing default)."""
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        hits: list[str] = []
        while stack:
            n = stack.pop()
            name = n.nodeName()
            if name in _MATERIALIZED_BARRIERS:
                continue
            if name in _MULTIPASS_NODES:
                hits.append(name)
            ch = n.children()
            stack.extend(ch.apply(i) for i in range(ch.size()))
        return hits
    except Exception:
        return []


_LIMITISH = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit", "LocalLimit")


def _phys_children(node) -> list:
    """Children of a physical-plan node, descending through the AQE
    wrapper and query-stage shells (both report no children through
    the ordinary TreeNode API)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.inputPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _walk_physical(node):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(_phys_children(n))


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """WindowExec nodes with an EMPTY partition spec whose input is
    NOT bounded by a limit somewhere below them — the anti-pattern
    where ranking moves the entire input through one partition for a
    single-task sort. A global window ABOVE a TakeOrderedAndProject /
    GlobalLimit is fine (its input is ≤k rows by construction); a
    partitioned window is fine (parallel by key); anything this
    returns serializes at scale. Used by the registry-wide plan sweep
    in ``tests/test_layout.py``."""
    offenders = []
    for node in _walk_physical(df._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() != "WindowExec":
            continue
        if not node.partitionSpec().isEmpty():
            continue
        bounded = any(
            sub.getClass().getSimpleName().startswith(_LIMITISH)
            for child in _phys_children(node)
            for sub in _walk_physical(child)
        )
        if not bounded:
            offenders.append(node.simpleString(25))
    return offenders


def has_shuffle_on(df: DataFrame, column: str) -> bool:
    """True if any Exchange hash-partitions on ``column`` — the check
    bucketed joins use to prove their shuffle was eliminated."""
    return bool(
        re.search(rf"Exchange hashpartitioning\([^)]*{re.escape(column)}", executed_plan(df))
    )
