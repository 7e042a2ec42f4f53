"""The ``cow`` BATCH Data Source (``sources/cow_batch.py``): DSv2
reads must mirror ``cowtable.read`` exactly — manifest-schema
authority (evolved columns NULL from old files), Hive partition
re-injection, version and timestamp time travel, clear errors."""

from __future__ import annotations

import datetime

import pytest

import data_warehouse_solution_spark.cowtable as cow
from data_warehouse_solution_spark.sources.cow_batch import register_cow_batch


def _read(spark, path, **opts):
    r = spark.read.format("cow").option("tablePath", path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_source_matches_cowtable_read(spark, tmp_path):
    path = str(tmp_path / "t")
    cow.create(
        spark,
        path,
        spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "k long, v string, x double"),
    )
    cow.append(spark, path, spark.createDataFrame([(3, "c", 3.5)], "k long, v string, x double"))
    register_cow_batch(spark)
    got = {tuple(r) for r in _read(spark, path).collect()}
    want = {tuple(r) for r in cow.read(spark, path).collect()}
    assert got == want and len(got) == 3


def test_batch_source_reads_nested_types_and_nan(spark, tmp_path):
    """Arrays, maps, structs and a NaN double read as ``cowtable.read``
    reads them, over a partitioned table with a column added later."""
    path = str(tmp_path / "t")
    df = spark.sql(
        "SELECT id AS k, array(CAST(id AS STRING), NULL) AS a, map('x', id) AS m, "
        "named_struct('f', id, 'g', CAST(id AS DOUBLE)) AS s, "
        "CAST(id AS DECIMAL(10, 2)) AS d, "
        "CASE WHEN id = 3 THEN double('NaN') ELSE 1.5 END AS x, id % 2 = 0 AS b "
        "FROM range(6)"
    ).coalesce(1)
    cow.create(spark, path, df, partition_by=["b"])
    cow.alter_add_column(spark, path, "late", "string")
    register_cow_batch(spark)
    got = sorted(map(repr, _read(spark, path).collect()))
    assert got == sorted(map(repr, cow.read(spark, path).collect()))
    assert "x=nan" in got[3]


def test_register_reasserts_filter_pushdown_conf(spark, tmp_path):
    """Registration is memoized per session, but the pushdown conf the
    reader needs is set on every call: a reset between two
    registrations must not leave cow reads refused."""
    path = str(tmp_path / "conf")
    cow.create(spark, path, spark.createDataFrame([(1,), (2,)], "k long"))
    register_cow_batch(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    register_cow_batch(spark)
    assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
    assert _read(spark, path).filter("k > 1").count() == 1


def test_batch_source_time_travel_and_errors(spark, tmp_path):
    path = str(tmp_path / "tt")
    cow.create(spark, path, spark.createDataFrame([(1,)], "k long"))
    mid = datetime.datetime.now(datetime.timezone.utc).isoformat()
    cow.append(spark, path, spark.createDataFrame([(2,)], "k long"))
    register_cow_batch(spark)
    assert _read(spark, path, versionAsOf="1").count() == 1
    assert _read(spark, path, timestampAsOf=mid).count() == 1
    assert _read(spark, path).count() == 2
    with pytest.raises(Exception, match="precedes the first commit"):
        _read(spark, path, timestampAsOf="2000-01-01").count()
    with pytest.raises(Exception, match="not available"):
        _read(spark, path, versionAsOf="99").count()
    with pytest.raises(Exception, match="not both"):
        _read(spark, path, versionAsOf="1", timestampAsOf=mid).count()


def test_batch_source_schema_evolution_and_partitions(spark, tmp_path):
    path = str(tmp_path / "evo")
    cow.create(
        spark,
        path,
        spark.createDataFrame([(1, "x"), (2, "y")], "k long, part string"),
        partition_by=["part"],
    )
    cow.alter_add_column(spark, path, "extra", "int")
    cow.append(
        spark,
        path,
        spark.createDataFrame([(3, "x", 7)], "k long, part string, extra int"),
    )
    register_cow_batch(spark)
    rows = {tuple(r) for r in _read(spark, path).collect()}
    # pre-evolution files read extra as NULL; partition values re-injected
    assert rows == {(1, "x", None), (2, "y", None), (3, "x", 7)}
    # the versioned schema is the OLD one at snapshot 1
    assert _read(spark, path, versionAsOf="1").columns == ["k", "part"]


# -------------------------------------------------- pushFilters pruning


def _reader_for(spark, path, filters):
    from data_warehouse_solution_spark.sources.cow_batch import CowBatchDataSource

    schema = cow.read(spark, path).schema
    rdr = CowBatchDataSource._reader_cls(schema, {"tablePath": path})
    residual = list(rdr.pushFilters(filters))
    return rdr, residual


def test_pushdown_prunes_files_and_results_stay_exact(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo, In, IsNull, LessThan

    path = str(tmp_path / "prune")
    df = spark.range(100).selectExpr("id AS k", "CAST(id % 7 AS string) AS v")
    # 10 files with disjoint k ranges + a bloom on v
    cow.create(
        spark, path, df.repartitionByRange(10, "k"), bloom_columns=["v"]
    )
    register_cow_batch(spark)
    total = len(_reader_for(spark, path, [])[0].partitions())
    assert total == 10

    # range predicate: only the files whose [min,max] overlaps survive
    rdr, residual = _reader_for(spark, path, [LessThan(("k",), 25)])
    assert len(residual) == 1  # every filter returned for row re-check
    assert 1 <= len(rdr.partitions()) <= 4

    # point predicate on the bloom-indexed column prunes via bloom
    rdr, _ = _reader_for(spark, path, [EqualTo(("v",), "3")])
    assert len(rdr.partitions()) <= total

    # IN-list on k
    rdr, _ = _reader_for(spark, path, [In(("k",), (1, 2, 99))])
    assert len(rdr.partitions()) <= 3

    # IS NULL on a column with zero nulls prunes everything
    rdr, _ = _reader_for(spark, path, [IsNull(("v",))])
    assert len(rdr.partitions()) == 0

    # end-to-end through Spark: filtered DSv2 read == cowtable.read
    got = {tuple(r) for r in _read(spark, path).filter("k < 25 AND v = '3'").collect()}
    want = {
        tuple(r) for r in cow.read(spark, path).filter("k < 25 AND v = '3'").collect()
    }
    assert got == want and got


def test_pushdown_is_sound_after_rename_and_unknown_types(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo

    path = str(tmp_path / "prune_ren")
    cow.create(
        spark,
        path,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
    )
    cow.alter_rename_column(spark, path, "v", "w")
    register_cow_batch(spark)
    # predicate on the RENAMED column must probe the physical stats
    rdr, _ = _reader_for(spark, path, [EqualTo(("w",), "zzz")])
    assert len(rdr.partitions()) == 0  # stats prove absent
    got = {tuple(r) for r in _read(spark, path).filter("w = 'a'").collect()}
    assert got == {(1, "a")}
    # a literal type with no stats representation declines to prune
    total = len(_reader_for(spark, path, [])[0].partitions())
    rdr, _ = _reader_for(
        spark, path, [EqualTo(("k",), datetime.datetime(2020, 1, 1))]
    )
    assert len(rdr.partitions()) == total


def _random_table(spark, path, rng):
    """A small multi-file table: ints with NULLs, bloom-indexed
    multi-character strings, timestamp-shaped STRINGs and a real
    TIMESTAMP column."""
    import datetime as dt

    words = ["a", "ab", "apple", "apricot", "b", "ban", "banana", "zz", "Zed", "mu\u00f1"]
    schema = "k int, s string, t string, ts timestamp"

    def batch(n):
        rows = []
        for _ in range(n):
            at = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=rng.randrange(0, 24 * 60))
            rows.append((
                None if rng.random() < 0.15 else rng.randrange(-20, 20),
                None if rng.random() < 0.1 else rng.choice(words),
                None if rng.random() < 0.1 else at.isoformat(sep=" ", timespec="microseconds"),
                at,
            ))
        return spark.createDataFrame(rows, schema)

    cow.create(spark, path, batch(rng.randrange(1, 6)), bloom_columns=["s"])
    for _ in range(rng.randrange(2, 5)):
        cow.append(spark, path, batch(rng.randrange(1, 6)))


def _random_filter(rng):
    """One pushed-down-able predicate: =, a range, IN or IS [NOT] NULL
    on one column, sometimes ANDed with a second; a few refute every
    file outright."""

    def one():
        col = rng.choice(["k", "s", "t", "ts"])
        op = rng.choice(["=", "<", "<=", ">", ">=", "in", "isnull", "notnull"])
        if op in ("isnull", "notnull"):
            return f"{col} IS {'NOT ' if op == 'notnull' else ''}NULL"
        if col == "k":
            lits = [str(rng.randrange(-25, 25)) for _ in range(3)]
        elif col == "s":
            lits = [repr(rng.choice(["a", "ap", "apple", "b", "banana", "c", "nope", "zz"])) for _ in range(3)]
        else:
            hour = rng.randrange(0, 24)
            lits = [
                rng.choice([
                    f"'2024-01-01T{hour:02d}:00:00'",
                    f"'2024-01-01 {hour:02d}:30:00'",
                    f"'2024-01-01 {hour:02d}:00:00.000000'",
                    "'2024-01-01'",
                    "'2024-01-02'",
                ])
                for _ in range(3)
            ]
            if col == "ts":
                lits = [f"TIMESTAMP {x}" for x in lits]
        if op == "in":
            return f"{col} IN ({', '.join(lits)})"
        return f"{col} {op} {lits[0]}"

    if rng.random() < 0.1:
        return rng.choice(["k > 100", "s = 'nope'", "t > 'zzz'", "k < -100 AND s IS NOT NULL"])
    return one() if rng.random() < 0.6 else f"{one()} AND {one()}"


def test_reader_results_match_cowtable_read(spark, tmp_path):
    """End-to-end result parity between the two readers:
    ``spark.read.format("cow")`` returns exactly the rows
    ``cowtable.read`` does, on randomized small tables and randomized
    pushed filters, including filters that refute every file. The
    fixed cases come first: a STRING column whose stats look like
    timestamps (a literal must compare as written, not canonicalized
    into a timestamp), and a read whose every file is pruned."""
    import random
    from collections import Counter

    from .conftest import hyp_examples

    register_cow_batch(spark)

    def check(path, pred):
        want = Counter(map(tuple, cow.read(spark, path).filter(pred).collect()))
        got = Counter(map(tuple, _read(spark, path).filter(pred).collect()))
        assert got == want, (path, pred)

    ts_str = str(tmp_path / "ts_shaped")
    cow.create(
        spark, ts_str, spark.createDataFrame([("2024-01-01 06:00:00.000000",)], "s string")
    )
    check(ts_str, "s < '2024-01-01T05:00:00'")
    assert _read(spark, ts_str).filter("s < '2024-01-01T05:00:00'").count() == 1
    ints = str(tmp_path / "ints")
    cow.create(spark, ints, spark.range(5).selectExpr("CAST(id AS INT) AS k"))
    assert _read(spark, ints).filter("k > 100").count() == 0
    empty = str(tmp_path / "empty")
    cow.create(spark, empty, spark.createDataFrame([], "k int"))
    assert _read(spark, empty).count() == 0

    rng = random.Random(20261018)
    for i in range(4):
        path = str(tmp_path / f"rand{i}")
        _random_table(spark, path, rng)
        for _ in range(hyp_examples(40) // 4 + 2):
            check(path, _random_filter(rng))


_OUTSIDE_CHECKOUT = """
import os, sys, tempfile
sys.path.insert(0, sys.argv[1])
from data_warehouse_solution_spark.session import EngineConfig, build_session
import data_warehouse_solution_spark.cowtable as cow
from data_warehouse_solution_spark.sources.cow_batch import register_cow_batch

spark = build_session(EngineConfig(
    app_name="cwd-outside", master="local[2]", shuffle_partitions=2, driver_memory="1g"
))
path = os.path.join(tempfile.mkdtemp(), "t")
cow.create(spark, path, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
           bloom_columns=["v"])
register_cow_batch(spark)
print("read", spark.read.format("cow").load(path).filter("v = 'b'").count())
spark.createDataFrame([(3, "c")], "k int, v string").write.format("cow").mode("append").save(path)
print("written", cow.read(spark, path).count())
spark.stop()
"""


def test_sources_run_from_a_cwd_outside_the_checkout(tmp_path):
    """The sources' planner and executor workers import the package
    even when neither the cwd nor PYTHONPATH reaches the checkout: the
    driver alone puts it on ``sys.path``, and registration ships it.
    One subprocess (one JVM) reads and batch-writes a ``cow`` table."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_CHECKOUT, root],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "read 1" in out.stdout and "written 3" in out.stdout, out.stdout


def test_reader_bucket_pruning_parity_and_correctness(spark, tmp_path):
    """The DSv2 reader mirrors the engine's bucket pruning: a point
    SELECT over a bucketed table emits only the key's bucket's
    partitions (local Murmur3, parity-pinned vs the engine's), and
    the residual filter keeps results exact."""
    import data_warehouse_solution_spark.cowtable as cow
    from data_warehouse_solution_spark.sources.cow_batch import register_cow_batch

    p = str(tmp_path / "bkt_read")
    cow.create(
        spark,
        p,
        spark.range(400).selectExpr("id AS k", "id * 2 AS v"),
        bucket_by=["k"],
        num_buckets=8,
    )
    register_cow_batch(spark)
    df = spark.read.format("cow").option("tablePath", p).load().filter("k = 123")
    got = df.collect()
    assert [tuple(r) for r in got] == [(123, 246)]
    # partition count: exactly the one bucket's file(s)
    from data_warehouse_solution_spark.sources.cow_batch import CowBatchDataSource

    rd = CowBatchDataSource({"tablePath": p})._reader_cls(
        spark.read.format("cow").option("tablePath", p).load().schema,
        {"tablepath": p},
    )
    rd.pushFilters  # exists
    rd.conjuncts = [("k", "=", 123)]
    parts = rd.partitions()
    assert len(parts) == 1
    want = cow._bucket_of_key([123], ["bigint"], 8)
    assert f"_{want:05d}.parquet" in parts[0].name
    # IN-list prunes to the union of buckets
    rd.conjuncts = [("k", "in", (5, 6, 7))]
    want_set = {cow._bucket_of_key([x], ["bigint"], 8) for x in (5, 6, 7)}
    got_buckets = {
        int(pp.name.rsplit("_", 1)[-1].split(".")[0]) for pp in rd.partitions()
    }
    assert got_buckets == want_set


def test_name_addressed_sources_all_routes(spark, tmp_path):
    """r11 punch #5: ``option("table", name)`` on the batch
    reader/writer and the cowcdc/cowsink streams resolves a
    catalog-registered name (with ``catalogDir`` pointing at the
    session's overridden catalog) — no route mentions a path; unknown
    names raise with the registered-table list; the sources' mirror
    resolver stays pinned against ``catalog.resolve``."""
    import uuid

    from data_warehouse_solution_spark import catalog
    from data_warehouse_solution_spark.sources.cow_cdc import register_cow_cdc
    from data_warehouse_solution_spark.sources.cow_sink import register_cow_sink

    old = spark.conf.get("spark.dws.cow.catalogDir", None)
    cat_dir = str(tmp_path / "_catalog")
    spark.conf.set("spark.dws.cow.catalogDir", cat_dir)
    try:
        p = str(tmp_path / "named_src")
        cow.create(
            spark, p, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        )
        name = f"lake.named_{uuid.uuid4().hex[:8]}"
        catalog.register(spark, name, p)
        register_cow_batch(spark)
        register_cow_cdc(spark)
        register_cow_sink(spark)

        # mirror parity: the source resolves exactly what catalog.resolve says
        assert catalog.resolve(spark, name) == p

        # route 1: batch read by name
        rd = (
            spark.read.format("cow")
            .option("table", name)
            .option("catalogDir", cat_dir)
            .load()
        )
        assert sorted(r.k for r in rd.collect()) == [1, 2]

        # route 2: batch WRITE by name (append 1 row), read back
        (
            spark.createDataFrame([(3, "c")], "k long, v string")
            .write.format("cow")
            .option("table", name)
            .option("catalogDir", cat_dir)
            .mode("append")
            .save()
        )
        assert cow.read(spark, p).count() == 3

        # route 3: cowcdc stream by name (replay all), memory sink
        q = (
            spark.readStream.format("cowcdc")
            .option("table", name)
            .option("catalogDir", cat_dir)
            .option("startingSnapshot", "0")
            .load()
            .writeStream.format("memory")
            .queryName("named_cdc_route")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.sql(
            "SELECT k, _change_type FROM named_cdc_route ORDER BY k"
        ).collect()
        assert [(r.k, r._change_type) for r in got] == [
            (1, "insert"),
            (2, "insert"),
            (3, "insert"),
        ]

        # route 4: cowsink stream by name
        src_dir = str(tmp_path / "sink_feed")
        cow.create(
            spark, src_dir, spark.createDataFrame([(9, "z")], "k long, v string")
        )
        q = (
            spark.readStream.format("cowcdc")
            .option("tablePath", src_dir)
            .option("startingSnapshot", "0")
            .load()
            .select("k", "v")
            .writeStream.format("cowsink")
            .option("table", name)
            .option("catalogDir", cat_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        assert cow.read(spark, p).count() == 4

        # unknown name: raises listing the registered tables
        with pytest.raises(Exception, match="registered tables"):
            (
                spark.read.format("cow")
                .option("table", "lake.nope")
                .option("catalogDir", cat_dir)
                .load()
                .collect()
            )
        catalog.unregister(spark, name)
    finally:
        if old is None:
            spark.conf.unset("spark.dws.cow.catalogDir")
        else:
            spark.conf.set("spark.dws.cow.catalogDir", old)
