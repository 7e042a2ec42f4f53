"""Regression pins for the round-5 self-review findings: gate
empty-WHERE refusal, date-keyed merge pruning, CDC across schema
evolution / after vacuum / with map columns, Z-order bit-clamp
ordering, and the schema-only metadata loader."""

from __future__ import annotations

import datetime
import os
import tempfile

import pytest
from pyspark.sql import functions as F

import data_warehouse_solution_spark.cowtable as cow
from data_warehouse_solution_spark.sql_gate import run_sql


def _fresh(name: str) -> str:
    return os.path.join(tempfile.mkdtemp(prefix=f"dws_rf_{name}_"), "t")


def test_gate_refuses_empty_where(spark):
    """`DELETE FROM t WHERE` (truncated statement) must raise, not
    silently become full-table DML via the `cond or 'true'` default."""
    path = _fresh("where")
    cow.create(spark, path, spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    for stmt in (
        f"DELETE FROM `{path}` WHERE",
        f"DELETE FROM `{path}` WHERE   ",
        f"UPDATE `{path}` SET s = 'x' WHERE",
    ):
        with pytest.raises(
            ValueError, match="WHERE clause present but empty|PARSE_SYNTAX_ERROR"
        ):
            run_sql(spark, stmt)
    assert cow.read(spark, path).count() == 2  # nothing executed
    # intentional full-table DML (no WHERE at all) still works
    run_sql(spark, f"UPDATE `{path}` SET s = 'z'")
    assert cow.read(spark, path).filter(F.col("s") == "z").count() == 2


def test_merge_upsert_on_date_key(spark):
    """Date-typed merge keys: manifest stats hold ISO strings, the
    source key range arrives as datetime.date — the pruning compare
    must go through the same encoding, not raise TypeError."""
    path = _fresh("datekey")
    d = datetime.date
    base = spark.createDataFrame(
        [(d(2024, 1, 1), 1.0), (d(2024, 1, 2), 2.0), (d(2024, 1, 9), 9.0)],
        "day date, v double",
    )
    cow.create(spark, path, base.repartition(3))
    src = spark.createDataFrame([(d(2024, 1, 2), 20.0), (d(2024, 1, 3), 3.0)], "day date, v double")
    stats = cow.merge_upsert(spark, path, src, ["day"])
    got = {(r.day, r.v) for r in cow.read(spark, path).collect()}
    assert got == {(d(2024, 1, 1), 1.0), (d(2024, 1, 2), 20.0), (d(2024, 1, 3), 3.0), (d(2024, 1, 9), 9.0)}
    # stat pruning actually pruned: the 2024-01-09 file is outside the
    # source key envelope and must not even be scanned
    assert stats["files_scanned"] < 3


def test_changes_across_schema_evolution(spark):
    """A CDC range spanning an ADD COLUMN commit yields blocks with
    different column sets; they must align by name with NULL fill."""
    path = _fresh("evolve")
    cow.create(spark, path, spark.createDataFrame([(1, "a")], "k long, s string"))
    cow.append(spark, path, spark.createDataFrame([(2, "b")], "k long, s string"))
    cow.alter_add_columns(spark, path, "extra int")
    cow.append(spark, path, spark.createDataFrame([(3, "c", 30)], "k long, s string, extra int"))
    ch = cow.changes(spark, path, from_snapshot=1).collect()
    got = {(r.k, r.s, r.extra, r._change_type) for r in ch}
    assert got == {(2, "b", None, "insert"), (3, "c", 30, "insert")}


def test_consume_changes_bootstraps_after_vacuum(spark, tmp_path):
    """A brand-new consumer on a vacuumed table must bootstrap from
    the oldest RETAINED snapshot instead of failing on snapshot 1."""
    path = _fresh("vacboot")
    cow.create(spark, path, spark.createDataFrame([(1,)], "k long"))
    for i in range(2, 5):
        cow.append(spark, path, spark.createDataFrame([(i,)], "k long"))
    cow.vacuum(spark, path, keep_last=2)  # snapshot 1 expires
    with pytest.raises(ValueError):
        cow.read(spark, path, snapshot=1)
    delta, commit = cow.consume_changes(spark, path, str(tmp_path / "cursor.json"))
    rows = delta.collect()
    assert {r.k for r in rows} == {1, 2, 3, 4}
    assert all(r._change_type == "insert" for r in rows)
    commit()


def test_changes_rejects_map_columns_clearly(spark):
    path = _fresh("mapcol")
    cow.create(
        spark,
        path,
        spark.createDataFrame([(1, {"a": 1})], "k long, m map<string,int>"),
    )
    cow.append(spark, path, spark.createDataFrame([(2, {"b": 2})], "k long, m map<string,int>"))
    with pytest.raises(ValueError, match="map-type columns"):
        cow.changes(spark, path, from_snapshot=1)


def test_zorder_bits_clamped_before_coding(spark):
    """With 4 cluster columns (bits clamped to 15) far-apart values
    must NOT alias onto the same Z-key: under the old order the
    bucket codes were computed on the 2^16 grid and truncated, so
    mid-range and minimum collided."""
    from data_warehouse_solution_spark.cowtable import _zorder_key

    df = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 0.0), (32768.0, 0.0, 0.0, 0.0), (65535.0, 0.0, 0.0, 0.0)],
        "a double, b double, c double, d double",
    )
    z = df.select(_zorder_key(df, ["a", "b", "c", "d"]).alias("z")).collect()
    keys = [r.z for r in z]
    assert len(set(keys)) == 3, f"Z-keys alias: {keys}"
    assert keys == sorted(keys)  # order along dimension a preserved


def test_table_schema_skips_file_list(spark):
    path = _fresh("schemaonly")
    cow.create(spark, path, spark.createDataFrame([(1, "a")], "k long, s string"))
    schema = cow.table_schema(spark, path)
    assert [f.name for f in schema.fields] == ["k", "s"]


def test_create_violation_cleans_staged_files(spark):
    """Post-stage validation: a refused create leaves no data files
    (the validated rows are the staged bytes, and they're removed)."""
    path = _fresh("stagedclean")
    with pytest.raises(cow.CowConstraintViolation):
        cow.create(
            spark,
            path,
            spark.createDataFrame([(1, -5.0)], "k long, v double"),
            check_constraints={"vpos": "v > 0"},
        )
    data_dir = os.path.join(path, "data")
    assert not os.path.isdir(data_dir) or os.listdir(data_dir) == []


def test_update_violation_cleans_staged_files(spark):
    path = _fresh("updclean")
    cow.create(
        spark,
        path,
        spark.createDataFrame([(1, 5.0), (2, 6.0)], "k long, v double"),
        check_constraints={"vpos": "v > 0"},
    )
    files_before = sorted(os.listdir(os.path.join(path, "data")))
    with pytest.raises(cow.CowConstraintViolation):
        cow.update(spark, path, "k = 1", {"v": "-9.0"})
    assert sorted(os.listdir(os.path.join(path, "data"))) == files_before


def test_changes_rejects_map_alive_only_in_intermediate_commits(spark):
    """The map guard must fire per commit: a map column added then
    dropped would pass a head-only schema check yet still reach
    exceptAll inside the range."""
    path = _fresh("mapmid")
    cow.create(spark, path, spark.createDataFrame([(1,)], "k long"))
    cow.alter_add_columns(spark, path, "m map<string,int>")
    cow.append(spark, path, spark.createDataFrame([(2, {"a": 1})], "k long, m map<string,int>"))
    cow.alter_drop_column(spark, path, "m")
    cow.append(spark, path, spark.createDataFrame([(3,)], "k long"))
    with pytest.raises(ValueError, match="map-type"):
        cow.changes(spark, path, from_snapshot=1)
