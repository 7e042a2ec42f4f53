"""The ``cow`` batch Data Source WRITER (``df.write.format("cow")``):
executor-staged append/overwrite commits publishing one atomic
snapshot, schema/type guards, and physical-name consistency on
renamed tables."""

from __future__ import annotations

import pytest

import data_warehouse_solution_spark.cowtable as cow
from data_warehouse_solution_spark.sources.cow_batch import register_cow_batch


def _mk(spark, path, **kw):
    cow.create(
        spark,
        path,
        spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "k long, s string, v double"),
        **kw,
    )
    register_cow_batch(spark)


def test_batch_writer_append_and_overwrite(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    (
        spark.createDataFrame([(3, "c", 3.5), (4, "d", 4.5)], "k long, s string, v double")
        .repartition(2)
        .write.format("cow")
        .option("tablePath", p)
        .mode("append")
        .save()
    )
    assert {r["k"] for r in cow.read(spark, p).collect()} == {1, 2, 3, 4}
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    assert m["operation"] == "batch_append"
    # per-file stats from the executor staging prune like engine writes
    assert all(e.get("stats", {}).get("k") for e in m["files"])
    (
        spark.createDataFrame([(9, "z", 9.0)], "k long, s string, v double")
        .write.format("cow")
        .option("tablePath", p)
        .mode("overwrite")
        .save()
    )
    assert {tuple(r) for r in cow.read(spark, p).collect()} == {(9, "z", 9.0)}
    # old snapshots still time-travel (overwrite is a new snapshot)
    assert cow.read(spark, p, 2).count() == 4


def test_batch_writer_then_engine_dml_interops(spark, tmp_path):
    p = str(tmp_path / "interop")
    _mk(spark, p)
    (
        spark.range(10, 40)
        .selectExpr("id as k", "'w' as s", "cast(id as double) as v")
        .write.format("cow")
        .option("tablePath", p)
        .mode("append")
        .save()
    )
    st = cow.delete(spark, p, "k >= 20")
    assert cow.read(spark, p).count() == 12
    # stats from the DSv2 staging let the delete prune engine-side
    assert st["files_rewritten"] >= 1


def test_batch_writer_bucketed_partitioned_parity(spark, tmp_path):
    """The r7 punch-list #3: the DSv2 batch writer feeds the flagship
    layout — bucketed AND partitioned+bucketed tables — with one
    (partition, bucket) per staged file, Murmur3 bucket parity, the
    within-bucket sort honored, and engine DML interop after."""
    import re

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    p = str(tmp_path / "bktw")
    cow.create(
        spark,
        p,
        spark.range(100).selectExpr(
            "id AS k", "id % 3 AS region", "CAST(id AS DOUBLE) AS v"
        ),
        partition_by=["region"],
        bucket_by=["k"],
        num_buckets=4,
        bucket_sort_by=["k"],
    )
    register_cow_batch(spark)
    (
        spark.range(200, 230)
        .selectExpr("id AS k", "id % 3 AS region", "CAST(id AS DOUBLE) AS v")
        .repartition(2)
        .write.format("cow")
        .option("tablePath", p)
        .mode("append")
        .save()
    )
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    assert m.get("bucket_by"), "batch commit dropped the bucket spec"
    written = [f for f in m["files"] if "batch-" in f["name"]]
    assert written, "no DSv2-staged files"
    expr = F.pmod(F.hash("k"), F.lit(4)).alias("b")
    for f in m["files"]:
        # every file (engine- and DSv2-written) holds ONE (partition,
        # bucket) cell, suffix == entry bucket, rows sorted by spec
        assert f["partition"]["region"] is not None
        assert f["name"].startswith(f"region={f['partition']['region']}/")
        assert int(re.search(r"_(\d{5})\.parquet$", f["name"]).group(1)) == f["bucket"]
        got = {
            r["b"]
            for r in spark.read.parquet(f"{p}/data/{f['name']}")
            .select(expr)
            .distinct()
            .collect()
        }
        assert got <= {f["bucket"]}, (f["name"], f["bucket"], got)
        ks = pq.read_table(f"{p}/data/{f['name']}", columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks), f["name"]
    # engine DML interop: partition + bucket pruning stack over the
    # DSv2-written files, and the rewrite preserves the layout
    cand = cow.stats_candidate_files(m, "region = 2 AND k = 206")
    # one (partition, bucket) cell: every candidate is region=2 files
    # of k=206's bucket (the 2-task append may have split the cell
    # into two files; the engine create's file is refuted by stats)
    want_b = cow._bucket_of_key([206], ["bigint"], 4)
    assert 1 <= len(cand) <= 2
    assert all(
        c["partition"]["region"] == "2" and c["bucket"] == want_b for c in cand
    )
    st = cow.delete(spark, p, "region = 2 AND k = 206")
    assert st["files_rewritten"] >= 1
    assert cow.read(spark, p).count() == 129
    assert cow.read(spark, p).filter("k = 206").count() == 0


def test_batch_writer_guards(spark, tmp_path):
    p2 = str(tmp_path / "g2")
    register_cow_batch(spark)
    _mk(spark, p2)
    with pytest.raises(Exception, match="!= table columns"):
        spark.createDataFrame([(1,)], "k long").write.format("cow").option(
            "tablePath", p2
        ).mode("append").save()
    with pytest.raises(Exception, match="never casts"):
        spark.createDataFrame(
            [(1, "a", 2)], "k long, s string, v int"
        ).write.format("cow").option("tablePath", p2).mode("append").save()
    with pytest.raises(Exception, match="no COW table"):
        spark.createDataFrame([(1,)], "k long").write.format("cow").option(
            "tablePath", str(tmp_path / "missing")
        ).mode("append").save()


def test_batch_writer_on_renamed_table_writes_physical(spark, tmp_path):
    p = str(tmp_path / "ren")
    _mk(spark, p)
    cow.alter_rename_column(spark, p, "v", "value")
    (
        spark.createDataFrame([(5, "e", 5.5)], "k long, s string, value double")
        .write.format("cow")
        .option("tablePath", p)
        .mode("append")
        .save()
    )
    got = {tuple(r) for r in cow.read(spark, p).collect()}
    assert (5, "e", 5.5) in got
    # engine DML on the logical name reaches the DSv2-written file
    cow.update(spark, p, "value = 5.5", {"s": "'E'"})
    assert (5, "E", 5.5) in {tuple(r) for r in cow.read(spark, p).collect()}
    # round-trip through the DSv2 READER as well
    df = spark.read.format("cow").option("tablePath", p).load()
    assert df.filter("value = 5.5").collect()[0]["s"] == "E"


def test_batch_writer_partitioned_parity(spark, tmp_path):
    """DSv2 writes to a PARTITIONED table stage exactly like the
    engine: Hive dirs, decoded partition values on the entry,
    min==max partition stats (so engine-side pruning works), and
    engine DML interop on the partition column."""
    import datetime as dt

    p = str(tmp_path / "partw")
    cow.create(
        spark,
        p,
        spark.createDataFrame(
            [(1, "us", dt.date(2024, 1, 1)), (2, "eu", dt.date(2024, 1, 2))],
            "k long, region string, d date",
        ),
        partition_by=["region", "d"],
    )
    register_cow_batch(spark)
    (
        spark.createDataFrame(
            [
                (3, "us", dt.date(2024, 1, 2)),
                (4, "ap x", dt.date(2024, 1, 2)),  # needs path escaping
                (5, None, dt.date(2024, 1, 3)),  # NULL partition value
            ],
            "k long, region string, d date",
        )
        .coalesce(1)
        .write.format("cow")
        .option("tablePath", p)
        .mode("append")
        .save()
    )
    got = {tuple(r) for r in cow.read(spark, p).collect()}
    assert (4, "ap x", dt.date(2024, 1, 2)) in got
    assert (5, None, dt.date(2024, 1, 3)) in got
    assert len(got) == 5
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    new = [e for e in m["files"] if e["name"].rsplit("/", 1)[-1].startswith("batch-")]
    assert len(new) == 3  # one file per partition combo
    by_k = {e["partition"]["region"]: e for e in new}
    assert by_k["ap x"]["stats"]["region"] == ["ap x", "ap x"]
    assert by_k["__HIVE_DEFAULT_PARTITION__"]["nulls"]["region"] == 1
    # engine DML prunes + executes over DSv2-written partitions
    cow.delete(spark, p, "region = 'ap x'")
    assert {r["k"] for r in cow.read(spark, p).collect()} == {1, 2, 3, 5}
    # DSv2 reader round-trip too
    df = spark.read.format("cow").option("tablePath", p).load()
    assert {r["k"] for r in df.collect()} == {1, 2, 3, 5}


def test_batch_writer_bloom_parity_with_engine(spark, tmp_path):
    """The DSv2 writer's manifest bloom must be BIT-IDENTICAL to the
    one the engine's staging aggregate records for the same values —
    otherwise point-lookup pruning would differ by write path."""
    rows = [(i, f"u{i % 97}") for i in range(300)]
    pe = str(tmp_path / "bl_engine")
    pw = str(tmp_path / "bl_dsv2")
    seed = spark.createDataFrame(rows[:1], "k long, u string")
    cow.create(spark, pe, seed, bloom_columns=["u", "k"])
    cow.create(spark, pw, seed, bloom_columns=["u", "k"])
    register_cow_batch(spark)
    more = spark.createDataFrame(rows[1:], "k long, u string").coalesce(1)
    cow.append(spark, pe, more)
    more.write.format("cow").option("tablePath", pw).mode("append").save()
    me = cow._load_manifest(spark, pe, cow.current_snapshot(spark, pe))
    mw = cow._load_manifest(spark, pw, cow.current_snapshot(spark, pw))
    # one appended file on each side, same rows: blooms must match
    ee = [e for e in me["files"] if e["rows"] == 299]
    ew = [e for e in mw["files"] if e["rows"] == 299]
    assert len(ee) == 1 and len(ew) == 1
    assert ee[0]["blooms"] == ew[0]["blooms"]
    # and the bloom actually prunes a point DELETE engine-side
    st = cow.delete(spark, pw, "u = 'nope'")
    assert st["files_rewritten"] == 0


def test_batch_writer_check_constraints(spark, tmp_path):
    p = str(tmp_path / "chk")
    cow.create(
        spark,
        p,
        spark.createDataFrame([(1, 5.0)], "k long, v double"),
        check_constraints={"v_pos": "v > 0"},
    )
    register_cow_batch(spark)
    ok = spark.createDataFrame([(2, 1.0), (3, 2.0)], "k long, v double")
    ok.write.format("cow").option("tablePath", p).mode("append").save()
    assert cow.read(spark, p).count() == 3
    snap_before = cow.current_snapshot(spark, p)
    bad = spark.createDataFrame([(4, -1.0)], "k long, v double").coalesce(1)
    with pytest.raises(Exception, match="v_pos"):
        bad.write.format("cow").option("tablePath", p).mode("append").save()
    # no snapshot advanced, no orphan bytes registered
    assert cow.current_snapshot(spark, p) == snap_before
    assert cow.read(spark, p).count() == 3
    # NULL passes (three-valued CHECK), like the engine
    nullrow = spark.createDataFrame([(5, None)], "k long, v double")
    nullrow.write.format("cow").option("tablePath", p).mode("append").save()
    assert cow.read(spark, p).count() == 4


def test_batch_writer_nonportable_check_fails_at_planning(spark, tmp_path):
    p = str(tmp_path / "chk_np")
    cow.create(
        spark,
        p,
        spark.createDataFrame([(1, "x")], "k long, s string"),
        # xxhash64 is Spark-only; DuckDB cannot evaluate it
        check_constraints={"weird": "xxhash64(s) != 0"},
    )
    register_cow_batch(spark)
    with pytest.raises(Exception, match="not portable"):
        spark.createDataFrame([(2, "y")], "k long, s string").write.format(
            "cow"
        ).option("tablePath", p).mode("append").save()


def test_batch_writer_generated_columns_recompute(spark, tmp_path):
    """r8 punch-list #5: DuckDB-expressible generated columns are
    recomputed per write task (stale frame values OVERWRITTEN, omitted
    columns filled), producing exactly the engine's _apply_generated
    semantics; CHECKs referencing generated columns validate the
    LANDED values; a violating write leaves no snapshot."""
    p = str(tmp_path / "gen")
    cow.create(
        spark,
        p,
        spark.createDataFrame([(1, 10.0, "ab")], "k long, v double, s string"),
        generated_columns={"v2": "v * 2", "up": "upper(s)"},
        check_constraints={"v2_pos": "v2 > 0"},
    )
    register_cow_batch(spark)
    # stale generated values in the frame: must be overwritten
    (
        spark.createDataFrame(
            [(2, 20.0, "cd", -1.0, "zz")],
            "k long, v double, s string, v2 double, up string",
        )
        .write.format("cow").option("tablePath", p).mode("append").save()
    )
    # generated columns omitted from the frame: recomputed
    (
        spark.createDataFrame([(3, 30.0, "ef")], "k long, v double, s string")
        .write.format("cow").option("tablePath", p).mode("append").save()
    )
    got = {
        (r["k"], r["v2"], r["up"])
        for r in cow.read(spark, p).collect()
    }
    assert got == {(1, 20.0, "AB"), (2, 40.0, "CD"), (3, 60.0, "EF")}
    # the manifest still carries the spec (engine DML interops after)
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    assert m.get("generated_columns") == {"v2": "v * 2", "up": "upper(s)"}
    cow.update(spark, p, "k = 3", {"v": "35.0"})
    assert cow.read(spark, p).filter("k = 3").collect()[0]["v2"] == 70.0
    # CHECK on the generated column validates the RECOMPUTED value:
    # frame v2 is fine but v*2 is negative -> refused, nothing lands
    snap = cow.current_snapshot(spark, p)
    with pytest.raises(Exception, match="v2_pos"):
        (
            spark.createDataFrame(
                [(4, -4.0, "gh", 99.0, "GH")],
                "k long, v double, s string, v2 double, up string",
            )
            .coalesce(1)
            .write.format("cow").option("tablePath", p).mode("append").save()
        )
    assert cow.current_snapshot(spark, p) == snap


def test_batch_writer_generated_refusals(spark, tmp_path):
    """Spark-only expressions refuse at planning with the engine-path
    pointer; type-rule divergence (Spark length -> int vs DuckDB ->
    bigint) refuses rather than staging drifted bytes."""
    p1 = str(tmp_path / "gen_np")
    cow.create(
        spark,
        p1,
        spark.createDataFrame([(1, "x")], "k long, s string"),
        generated_columns={"h": "xxhash64(s)"},
    )
    register_cow_batch(spark)
    with pytest.raises(Exception, match="not portable"):
        spark.createDataFrame([(2, "y")], "k long, s string").write.format(
            "cow"
        ).option("tablePath", p1).mode("append").save()
    p2 = str(tmp_path / "gen_td")
    cow.create(
        spark,
        p2,
        spark.createDataFrame([(1, "x")], "k long, s string"),
        generated_columns={"slen": "length(s)"},
    )
    with pytest.raises(Exception, match="declares"):
        spark.createDataFrame([(2, "y")], "k long, s string").write.format(
            "cow"
        ).option("tablePath", p2).mode("append").save()


def test_batch_writer_decimal_columns(spark, tmp_path):
    """decimal(p,s) — THE warehouse money type — flows through the
    DSv2 staging path (pyarrow decimal128): values land exact, CHECKs
    referencing decimals validate, a generated decimal recomputes,
    and engine DML interops with DSv2-written decimal files."""
    from decimal import Decimal

    p = str(tmp_path / "dec")
    cow.create(
        spark,
        p,
        spark.createDataFrame(
            [(1, Decimal("10.25"), "a")], "k long, amt decimal(12,2), s string"
        ),
        check_constraints={"amt_pos": "amt > 0"},
        generated_columns={"amt2": "CAST(amt * 2 AS DECIMAL(14,2))"},
    )
    register_cow_batch(spark)
    (
        spark.createDataFrame(
            [(2, Decimal("20.50"), "b"), (3, Decimal("0.01"), "c")],
            "k long, amt decimal(12,2), s string",
        )
        .write.format("cow").option("tablePath", p).mode("append").save()
    )
    got = {(r["k"], r["amt"], r["amt2"]) for r in cow.read(spark, p).collect()}
    assert got == {
        (1, Decimal("10.25"), Decimal("20.50")),
        (2, Decimal("20.50"), Decimal("41.00")),
        (3, Decimal("0.01"), Decimal("0.02")),
    }
    # CHECK over the decimal column enforces at staging time
    snap = cow.current_snapshot(spark, p)
    with pytest.raises(Exception, match="amt_pos"):
        spark.createDataFrame(
            [(4, Decimal("-1.00"), "d")], "k long, amt decimal(12,2), s string"
        ).coalesce(1).write.format("cow").option("tablePath", p).mode(
            "append"
        ).save()
    assert cow.current_snapshot(spark, p) == snap
    # engine DML over the mixed decimal files
    cow.update(spark, p, "k = 3", {"amt": "CAST(5.55 AS DECIMAL(12,2))"})
    r3 = cow.read(spark, p).filter("k = 3").collect()[0]
    assert r3["amt"] == Decimal("5.55") and r3["amt2"] == Decimal("11.10")


def test_batch_writer_unsupported_type_fails_at_planning(spark, tmp_path):
    """A column the staging path cannot type (binary) refuses at
    PLANNING with the column named, never per executor task."""
    p = str(tmp_path / "bin")
    cow.create(
        spark,
        p,
        spark.createDataFrame([(1, bytearray(b"x"))], "k long, payload binary"),
    )
    register_cow_batch(spark)
    with pytest.raises(Exception, match="unsupported type.*payload"):
        spark.createDataFrame(
            [(2, bytearray(b"y"))], "k long, payload binary"
        ).write.format("cow").option("tablePath", p).mode("append").save()


def test_dsv2_commits_carry_the_engine_table_state(spark, tmp_path):
    """The ``cow`` batch writer and the ``cowsink`` stream writer build
    their child manifest with the engine's carry rule, so a tag, a
    column DEFAULT and COPY INTO's loaded-file registry survive their
    commits, and re-running the COPY still loads nothing."""
    from data_warehouse_solution_spark.sources.cow_sink import CowSinkDataSource

    src = tmp_path / "landing"
    src.mkdir()
    (src / "a.csv").write_text("k,s,v\n7,g,7.5\n")
    p = str(tmp_path / "t")
    _mk(spark, p, column_defaults={"s": "'dflt'"})
    assert cow.copy_into(spark, p, str(src), "csv", format_options={"header": "true"})[
        "files_loaded"
    ] == 1
    cow.create_tag(spark, p, "v1")

    def carried():
        head = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
        return (
            sorted(head.get("tags") or {}),
            (head.get("column_defaults") or {}).get("s"),
            bool(head.get("copy_shards")),
        )

    (
        spark.createDataFrame([(3, "c", 3.5)], "k long, s string, v double")
        .write.format("cow")
        .option("tablePath", p)
        .mode("append")
        .save()
    )
    assert carried() == (["v1"], "'dflt'", True)
    w = CowSinkDataSource({"tablePath": p, "txnAppId": "carry"}).streamWriter(
        cow.table_schema(spark, p), overwrite=False
    )
    rows = spark.createDataFrame([(4, "d", 4.5)], "k long, s string, v double").collect()
    w.commit([w.write(iter(rows))], batchId=0)
    assert carried() == (["v1"], "'dflt'", True)
    assert cow.copy_into(spark, p, str(src), "csv", format_options={"header": "true"})[
        "files_loaded"
    ] == 0
    assert cow.read(spark, p).count() == 5


def test_batch_append_references_parent_shards(spark, tmp_path, monkeypatch):
    """A ``cow`` batch append into a SHARDED table references the
    parent's shards by name and writes one new shard, like the engine's
    and the sink's appends, instead of inlining the whole file list."""
    import json

    monkeypatch.setattr(cow, "MANIFEST_SHARD_ROWS", 4)
    p = str(tmp_path / "sharded")
    cow.create(spark, p, spark.range(40).selectExpr("id AS k").repartition(13))
    m1 = json.loads(cow._read_file(spark, cow._manifest_path(p, 1)).decode())
    assert len(m1["file_shards"]) > 2 and m1["n_files"] == 13
    register_cow_batch(spark)
    spark.range(1).selectExpr("id + 100 AS k").write.format("cow").option(
        "tablePath", p
    ).mode("append").save()
    m2 = json.loads(cow._read_file(spark, cow._manifest_path(p, 2)).decode())
    assert "files" not in m2 and m2["n_files"] == 14
    assert set(m1["file_shards"][:-1]) <= set(m2["file_shards"])
    assert len(set(m2["file_shards"]) - set(m1["file_shards"])) == 1
    assert cow.read(spark, p).count() == 41
