"""Tests for the SQL verb whitelist gate (reference A7) and ORC
ingest round-trip."""

from __future__ import annotations

import pytest

from data_warehouse_solution_spark.ingest import IngestJob, ingest, read_source
from data_warehouse_solution_spark.operators.analytics_extra import sampling_repeatable
from data_warehouse_solution_spark.sql_gate import filter_sql_commands, run_sql

from .conftest import SF_ORACLE


def test_filter_keeps_whitelisted_only():
    cmds = [
        "SELECT 1",
        "create table t (a int)",
        "EXPLAIN SELECT 1",
        "SET spark.foo=bar",
        "  INSERT INTO t VALUES (1)",
        "",
        "VALUES (1, 2)",
    ]
    kept = filter_sql_commands(cmds)
    assert kept == ["SELECT 1", "create table t (a int)", "  INSERT INTO t VALUES (1)", "VALUES (1, 2)"]


def test_run_sql_executes_select(spark):
    assert run_sql(spark, "SELECT 1 AS x").collect()[0]["x"] == 1
    assert run_sql(spark, "WITH t AS (SELECT 2 AS x) SELECT * FROM t").collect()[0]["x"] == 2


def test_run_sql_rejects_non_whitelisted(spark):
    with pytest.raises(ValueError, match="not in the allowed set"):
        run_sql(spark, "SET spark.sql.shuffle.partitions=1")
    with pytest.raises(ValueError, match="not in the allowed set"):
        run_sql(spark, "GRANT SELECT ON t TO somebody")
    with pytest.raises(ValueError, match="not in the allowed set"):
        run_sql(spark, "")
    # EXPLAIN graduated from rejected to an engine verb in r14 — it
    # plans (never executes) instead of refusing
    plan = run_sql(spark, "EXPLAIN SELECT 1 AS x").collect()[0]["plan"]
    assert "Physical Plan" in plan


def test_orc_ingest_roundtrip(spark, tmp_path):
    src = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
    orc_dir = str(tmp_path / "demo_orc")
    src.write.orc(orc_dir)
    df = read_source(spark, IngestJob(path=orc_dir, fmt="orc"))
    assert sorted(r["id"] for r in df.collect()) == [1, 2]
    table = ingest(spark, IngestJob(path=orc_dir, fmt="orc", table="orc_demo"))
    assert spark.table(table).count() == 2
    spark.sql("DROP TABLE orc_demo")


def test_sampling_repeatable_and_fractional(spark):
    a = sampling_repeatable(spark, SF_ORACLE)
    b = sampling_repeatable(spark, SF_ORACLE)
    ra = {tuple(r) for r in a.collect()}
    rb = {tuple(r) for r in b.collect()}
    assert ra == rb  # seeded => repeatable
    # fraction within loose bounds of 10%
    assert 0.05 < len(ra) / 60000 < 0.15


def test_jdbc_sink_roundtrip_derby(spark, tmp_path):
    from data_warehouse_solution_spark.ingest import write_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "name"])
    write_jdbc(src, url, "demo_sink", driver=driver)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "demo_sink")
        .option("driver", driver)
        .load()
    )
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b"), (3, "c")]
    # append mode adds rows
    write_jdbc(src, url, "demo_sink", mode="append", driver=driver)
    assert (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "demo_sink")
        .option("driver", driver)
        .load()
        .count()
        == 6
    )


def test_delete_update_sql_execute_against_cow_table(spark, tmp_path):
    """The reference whitelists DELETE/UPDATE assuming its warehouse
    executes them; run_sql now really executes both against a
    copy-on-write table target and returns commit stats."""
    from data_warehouse_solution_spark import cowtable as cow
    from data_warehouse_solution_spark.sql_gate import run_sql
    from data_warehouse_solution_spark.tables import load_tables

    path = str(tmp_path / "sql_cow")
    o = (
        load_tables(spark, "/root/testdata/sf0.001", ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(3)
    )
    cow.create(spark, path, o)

    stats = run_sql(spark, f"DELETE FROM `{path}` WHERE o_orderstatus = 'F'").collect()[0]
    assert stats["snapshot_id"] == 2
    expected_after_delete = o.filter("o_orderstatus <> 'F'")
    assert cow.read(spark, path).count() == expected_after_delete.count()

    # SET expr containing a comma inside a quoted literal must parse
    run_sql(
        spark,
        f"UPDATE `{path}` SET o_orderstatus = concat('Z', ','), o_totalprice = 0.0 "
        "WHERE o_orderkey % 2 = 0",
    )
    got = cow.read(spark, path)
    updated = got.filter("o_orderkey % 2 = 0")
    n_updated = updated.count()
    assert n_updated > 0
    assert updated.filter("o_orderstatus = 'Z,' AND o_totalprice = 0.0").count() == n_updated
    assert got.filter("o_orderkey % 2 <> 0 AND o_orderstatus = 'Z,'").count() == 0


def test_delete_on_non_cow_target_falls_through_to_spark(spark):
    """A DELETE whose target is not a COW table reaches spark.sql and
    fails there (plain parquet views don't support DML) — the gate
    itself must not swallow it."""
    import pytest as _pytest

    from data_warehouse_solution_spark.sql_gate import run_sql
    from data_warehouse_solution_spark.tables import register_views

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    with _pytest.raises(Exception):
        run_sql(spark, "DELETE FROM orders WHERE o_orderkey = 1").collect()


def test_alter_add_drop_column_sql_on_cow_table(spark, tmp_path):
    from data_warehouse_solution_spark import cowtable as cow
    from data_warehouse_solution_spark.sql_gate import run_sql
    from data_warehouse_solution_spark.tables import load_tables

    path = str(tmp_path / "alter_cow")
    o = load_tables(spark, "/root/testdata/sf0.001", ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus"
    )
    cow.create(spark, path, o)
    out = run_sql(spark, f"ALTER TABLE `{path}` ADD COLUMN priority int").collect()
    assert out[0]["snapshot_id"] == 2
    assert cow.read(spark, path).columns == ["o_orderkey", "o_orderstatus", "priority"]
    run_sql(spark, f"ALTER TABLE `{path}` DROP COLUMN o_orderstatus")
    assert cow.read(spark, path).columns == ["o_orderkey", "priority"]


def test_alter_add_multi_column_sql_parses_whole_list(spark, tmp_path):
    """Round-4 ADVICE: 'ADD COLUMNS (a int, b string)' used to capture
    col='a', type='int, b string' and splice BOTH in while only
    duplicate-checking 'a'. The whole list must parse, nested type
    commas included, and a collision on the SECOND column must refuse
    the commit."""
    from data_warehouse_solution_spark import cowtable as cow
    from data_warehouse_solution_spark.sql_gate import run_sql
    from data_warehouse_solution_spark.tables import load_tables

    path = str(tmp_path / "alter_multi_gate_cow")
    o = load_tables(spark, "/root/testdata/sf0.001", ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus"
    )
    cow.create(spark, path, o)
    run_sql(
        spark,
        f"ALTER TABLE `{path}` ADD COLUMNS (score decimal(10,2), tags map<string,int>)",
    )
    got = cow.read(spark, path)
    assert got.columns == ["o_orderkey", "o_orderstatus", "score", "tags"]
    assert dict(got.dtypes)["score"] == "decimal(10,2)"
    with pytest.raises(ValueError, match="already exists"):
        run_sql(spark, f"ALTER TABLE `{path}` ADD COLUMNS (fresh int, o_orderstatus string)")
    assert cow.current_snapshot(spark, path) == 2  # refused atomically


def test_dml_with_hostile_quoted_literals(spark, tmp_path):
    """Round-4 ADVICE: the WHERE-regex split grabbed the FIRST
    ' WHERE ' regardless of quoting, so a literal containing WHERE
    mis-parsed the predicate and assignment. The quote-aware scanner
    must split at the TOP-LEVEL WHERE only."""
    from data_warehouse_solution_spark import cowtable as cow
    from data_warehouse_solution_spark.sql_gate import run_sql

    path = str(tmp_path / "hostile_cow")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, note string"
    )
    cow.create(spark, path, df)

    # UPDATE: literal contains ' WHERE ' and ' AND ' and a comma
    run_sql(spark, f"UPDATE `{path}` SET note = 'x WHERE y, AND z' WHERE k = 1")
    got = {r["k"]: r["note"] for r in cow.read(spark, path).collect()}
    assert got == {1: "x WHERE y, AND z", 2: "b", 3: "c", 4: "d"}

    # DELETE: predicate compares against a literal containing WHERE;
    # only the row whose note matches that exact literal must go
    run_sql(spark, f"DELETE FROM `{path}` WHERE note = 'x WHERE y, AND z'")
    assert {r["k"] for r in cow.read(spark, path).collect()} == {2, 3, 4}

    # DELETE with a subquery-free parenthesized predicate containing
    # WHERE-like text in a literal plus a real conjunction
    run_sql(spark, f"DELETE FROM `{path}` WHERE (note = 'no WHERE here' OR k = 2) AND k < 3")
    assert {r["k"] for r in cow.read(spark, path).collect()} == {3, 4}


def test_insert_into_cow_table_through_gate(spark, tmp_path):
    """The reference's most-emitted verb (pipeline.py:160-162) must
    execute on snapshot tables: VALUES and SELECT payloads, explicit
    column lists (missing columns NULL), arity errors, and the commit
    must be append-only (no file rewritten)."""
    from data_warehouse_solution_spark import cowtable as cow
    from data_warehouse_solution_spark.sql_gate import run_sql
    from data_warehouse_solution_spark.tables import load_tables

    path = str(tmp_path / "insert_cow")
    o = load_tables(spark, "/root/testdata/sf0.001", ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cow.create(spark, path, o)
    n0 = o.count()

    stats = run_sql(
        spark, f"INSERT INTO `{path}` VALUES (-1, 'I', 1.5), (-2, 'I', 2.5)"
    ).collect()[0]
    assert stats["files_rewritten"] == 0 and stats["files_written"] >= 1
    assert cow.read(spark, path).count() == n0 + 2

    # explicit column list, partial: o_totalprice must read as NULL
    run_sql(spark, f"INSERT INTO `{path}` (o_orderkey, o_orderstatus) VALUES (-3, 'J')")
    got = cow.read(spark, path).filter("o_orderkey = -3").collect()
    assert len(got) == 1 and got[0]["o_totalprice"] is None

    # SELECT payload
    run_sql(
        spark,
        f"INSERT INTO `{path}` SELECT o_orderkey - 1000000, 'S', o_totalprice "
        "FROM (VALUES (1, 2.0), (2, 3.0)) AS t(o_orderkey, o_totalprice)",
    )
    assert cow.read(spark, path).filter("o_orderstatus = 'S'").count() == 2

    with pytest.raises(ValueError, match="arity"):
        run_sql(spark, f"INSERT INTO `{path}` VALUES (-9, 'K')")
    # history: three appends after the create, all time-travelable
    ops = [h["operation"] for h in cow.history(spark, path)]
    assert ops == ["create", "append", "append", "append"]
    assert cow.read(spark, path, snapshot=1).count() == n0


def test_update_delete_without_where_touch_all_rows(spark, tmp_path):
    from data_warehouse_solution_spark import cowtable as cow
    from data_warehouse_solution_spark.sql_gate import run_sql

    path = str(tmp_path / "nowhere_cow")
    cow.create(spark, path, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    run_sql(spark, f"UPDATE `{path}` SET v = 'all'")
    assert cow.read(spark, path).filter("v = 'all'").count() == 2
    run_sql(spark, f"DELETE FROM `{path}`")
    assert cow.read(spark, path).count() == 0


def test_truncate_and_drop_cow_table_through_gate(spark, tmp_path):
    """TRUNCATE on a COW target is a metadata-only empty commit
    (reversible via time travel until vacuum); DROP TABLE removes the
    table and clears the driver memo so the path can be re-created."""
    from data_warehouse_solution_spark import cowtable as cow
    from data_warehouse_solution_spark.sql_gate import run_sql
    from data_warehouse_solution_spark.tables import load_tables

    path = str(tmp_path / "trunc_cow")
    o = (
        load_tables(spark, "/root/testdata/sf0.001", ("orders",))["orders"]
        .select("o_orderkey", "o_totalprice")
        .repartition(3)
    )
    cow.create(spark, path, o)

    stats = run_sql(spark, f"TRUNCATE TABLE `{path}`").collect()[0]
    assert stats["snapshot_id"] == 2 and stats["files_written"] == 0
    assert cow.read(spark, path).count() == 0
    assert list(cow.read(spark, path).columns) == ["o_orderkey", "o_totalprice"]
    # reversible: snapshot 1 still readable, rollback restores it
    assert cow.read(spark, path, snapshot=1).count() == o.count()
    cow.rollback(spark, path, 1)
    assert cow.read(spark, path).count() == o.count()

    dropped = run_sql(spark, f"DROP TABLE IF EXISTS `{path}`").collect()[0]
    assert dropped["dropped"] is True
    assert not cow.is_cow_table(spark, path)  # memo cleared, dir gone
    cow.create(spark, path, o.limit(7))  # same path is creatable again
    assert cow.read(spark, path).count() == 7


def test_truncate_non_cow_falls_through(spark):
    """TRUNCATE of a managed catalog table still goes to spark.sql."""
    from data_warehouse_solution_spark.sql_gate import run_sql

    spark.sql("DROP TABLE IF EXISTS gate_trunc_t")
    spark.sql("CREATE TABLE gate_trunc_t (k INT) USING parquet")
    try:
        spark.sql("INSERT INTO gate_trunc_t VALUES (1), (2)")
        run_sql(spark, "TRUNCATE TABLE gate_trunc_t")
        assert spark.table("gate_trunc_t").count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS gate_trunc_t")


# -- engine-extension maintenance statements --------------------------------


def _fresh_cow(spark, tmp_path, name="maint_cow"):
    from data_warehouse_solution_spark import cowtable as cow
    from data_warehouse_solution_spark.tables import load_tables

    path = str(tmp_path / name)
    o = (
        load_tables(spark, SF_ORACLE, ("orders",))["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(6)
    )
    cow.create(spark, path, o)
    return path, o


def test_optimize_statement_compacts_cow_table(spark, tmp_path):
    from data_warehouse_solution_spark import cowtable as cow

    path, o = _fresh_cow(spark, tmp_path)
    stats = run_sql(spark, f"OPTIMIZE `{path}` FILES 2").collect()[0]
    assert stats["files_written"] <= 2
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert len(m["files"]) <= 2
    assert cow.read(spark, path).count() == o.count()


def test_optimize_zorder_statement_prunes_both_dims(spark, tmp_path):
    from data_warehouse_solution_spark import cowtable as cow

    path, o = _fresh_cow(spark, tmp_path, "maint_z")
    run_sql(spark, f"OPTIMIZE `{path}` FILES 8 ZORDER BY (o_custkey, o_totalprice)")
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    ck = int(o.approxQuantile("o_custkey", [0.1], 0.01)[0])
    n = len(cow.stats_candidate_files(m, f"o_custkey <= {ck}"))
    assert n < len(m["files"])


def test_vacuum_statement_retains_window(spark, tmp_path):
    from data_warehouse_solution_spark import cowtable as cow

    path, _ = _fresh_cow(spark, tmp_path, "maint_v")
    run_sql(spark, f"DELETE FROM `{path}` WHERE o_orderkey % 2 = 0")
    run_sql(spark, f"DELETE FROM `{path}` WHERE o_orderkey % 3 = 0")
    assert cow.current_snapshot(spark, path) == 3
    run_sql(spark, f"VACUUM `{path}` RETAIN 2 SNAPSHOTS")
    # within the window: readable; beyond: expired
    cow.read(spark, path, snapshot=2)
    with pytest.raises(ValueError, match="not available"):
        cow.read(spark, path, snapshot=1)


def test_describe_history_statement(spark, tmp_path):
    path, _ = _fresh_cow(spark, tmp_path, "maint_h")
    run_sql(spark, f"DELETE FROM `{path}` WHERE o_orderkey % 2 = 0")
    rows = run_sql(spark, f"DESCRIBE HISTORY `{path}`").collect()
    assert [r["operation"] for r in rows] == ["create", "delete"]
    assert rows[0]["n_rows"] > rows[1]["n_rows"]


def test_maintenance_verbs_not_in_reference_whitelist(spark, tmp_path):
    """filter_sql_commands (the reference-parity load-path filter)
    still DROPS maintenance statements; run_sql rejects them for
    non-COW targets (no new verbs leak into the general surface)."""
    assert filter_sql_commands(
        ["OPTIMIZE t", "VACUUM t", "DESCRIBE HISTORY t", "SELECT 1"]
    ) == ["SELECT 1"]
    with pytest.raises(ValueError, match="not in the allowed set"):
        run_sql(spark, "OPTIMIZE not_a_cow_table")
    with pytest.raises(ValueError, match="not in the allowed set"):
        run_sql(spark, "DESCRIBE HISTORY not_a_cow_table")


def test_create_table_using_cow_full_sql_lifecycle(spark, tmp_path):
    """The whole snapshot-table lifecycle as SQL: CREATE ... USING cow
    (with partition + bloom declarations) -> INSERT -> DELETE ->
    OPTIMIZE -> DESCRIBE HISTORY -> DROP."""
    from data_warehouse_solution_spark import cowtable as cow

    path = str(tmp_path / "ctas_cow")
    snap = run_sql(
        spark,
        f"CREATE TABLE `{path}` USING cow PARTITIONED BY (o_orderstatus) "
        "BLOOM BY (o_orderkey) AS "
        "SELECT o_orderkey, o_orderstatus, o_totalprice "
        f"FROM parquet.`{SF_ORACLE}/orders.parquet`",
    ).collect()[0]["snapshot_id"]
    assert snap == 1
    m = cow._load_manifest(spark, path, 1)
    assert m["partition_by"] == ["o_orderstatus"]
    assert m["bloom_columns"] == ["o_orderkey"]
    n0 = cow.read(spark, path).count()
    run_sql(spark, f"INSERT INTO `{path}` VALUES (CAST(-1 AS BIGINT), 'Z', 1.0)")
    run_sql(spark, f"DELETE FROM `{path}` WHERE o_orderkey = -1")
    assert cow.read(spark, path).count() == n0
    ops = [r["operation"] for r in run_sql(spark, f"DESCRIBE HISTORY `{path}`").collect()]
    assert ops == ["create", "append", "delete"]
    run_sql(spark, f"DROP TABLE `{path}`")
    assert not cow.is_cow_table(spark, path)


def test_create_table_using_cow_plain_create_falls_through(spark):
    """A CREATE without USING cow still reaches spark.sql."""
    spark.sql("DROP TABLE IF EXISTS gate_plain_t")
    try:
        run_sql(spark, "CREATE TABLE gate_plain_t (k INT) USING parquet")
        assert spark.catalog.tableExists("gate_plain_t")
    finally:
        spark.sql("DROP TABLE IF EXISTS gate_plain_t")


def _mk_cow(spark, tmp_path, name="sel"):
    import data_warehouse_solution_spark.cowtable as cow

    path = str(tmp_path / name)
    cow.create(spark, path, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    return path


def test_select_cow_table_through_gate(spark, tmp_path):
    path = _mk_cow(spark, tmp_path)
    rows = run_sql(spark, f"SELECT k, v FROM cow.`{path}` ORDER BY k").collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, "b")]
    # joins against ordinary relations and CTE prologues both work
    spark.createDataFrame([(1, 10)], "k long, extra long").createOrReplaceTempView("sel_dim")
    got = run_sql(
        spark,
        f"WITH c AS (SELECT * FROM cow.`{path}`) "
        "SELECT c.k, d.extra FROM c JOIN sel_dim d ON c.k = d.k",
    ).collect()
    assert [tuple(r) for r in got] == [(1, 10)]
    spark.catalog.dropTempView("sel_dim")


def test_select_cow_version_and_timestamp_as_of(spark, tmp_path):
    import datetime

    import data_warehouse_solution_spark.cowtable as cow

    path = _mk_cow(spark, tmp_path, "tt")
    mid = datetime.datetime.now(datetime.timezone.utc).isoformat()
    cow.append(spark, path, spark.createDataFrame([(3, "c")], "k long, v string"))
    v1 = run_sql(spark, f"SELECT COUNT(*) AS n FROM cow.`{path}` VERSION AS OF 1").first().n
    latest = run_sql(spark, f"SELECT COUNT(*) AS n FROM cow.`{path}`").first().n
    at_mid = run_sql(
        spark, f"SELECT COUNT(*) AS n FROM cow.`{path}` TIMESTAMP AS OF '{mid}'"
    ).first().n
    assert (v1, at_mid, latest) == (2, 2, 3)
    # far-future timestamp resolves to the latest snapshot
    far = run_sql(
        spark, f"SELECT COUNT(*) AS n FROM cow.`{path}` TIMESTAMP AS OF '9999-01-01'"
    ).first().n
    assert far == 3
    # a timestamp before the first commit is an error, not snapshot 0
    with pytest.raises(ValueError, match="precedes the first commit"):
        run_sql(
            spark, f"SELECT * FROM cow.`{path}` TIMESTAMP AS OF '2000-01-01T00:00:00+00:00'"
        )


def test_select_cow_ref_errors_and_literals(spark, tmp_path):
    # a cow.`...` reference to a non-table is a clear gate error
    with pytest.raises(ValueError, match="not a COW snapshot table"):
        run_sql(spark, f"SELECT * FROM cow.`{tmp_path}/nope`")
    # the same text inside a string literal is data, not a reference
    got = run_sql(spark, "SELECT 'cow.`/not/a/table`' AS s").first().s
    assert got == "cow.`/not/a/table`"


def test_select_cow_ref_inside_insert_payload(spark, tmp_path):
    import data_warehouse_solution_spark.cowtable as cow

    src = _mk_cow(spark, tmp_path, "src")
    dst = str(tmp_path / "dst")
    cow.create(spark, dst, spark.createDataFrame([(9, "z")], "k long, v string"))
    run_sql(spark, f"INSERT INTO {dst} SELECT k + 100, v FROM cow.`{src}`")
    assert cow.read(spark, dst).count() == 3


def test_merge_into_cow_through_gate(spark, tmp_path):
    import data_warehouse_solution_spark.cowtable as cow

    path = _mk_cow(spark, tmp_path, "mrg")  # (1,a), (2,b)
    st = run_sql(
        spark,
        f"MERGE INTO {path} AS t USING (SELECT * FROM VALUES "
        f"(CAST(2 AS BIGINT), 'B'), (CAST(3 AS BIGINT), 'c') AS s(k, v)) s "
        f"ON t.k = s.k "
        f"WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    ).first()
    assert st.files_written >= 1
    assert {tuple(r) for r in cow.read(spark, path).collect()} == {
        (1, "a"), (2, "B"), (3, "c"),
    }
    # richer WHEN clauses now execute through cowtable.merge
    # (full coverage in tests/test_cow_merge_multi.py)
    run_sql(
        spark,
        f"MERGE INTO {path} USING (SELECT CAST(1 AS BIGINT) AS k, 'x' AS v) s "
        f"ON k = k WHEN MATCHED THEN DELETE",
    )
    assert {tuple(r) for r in cow.read(spark, path).collect()} == {
        (2, "B"), (3, "c"),
    }
    # a malformed clause action is still refused
    with pytest.raises(ValueError, match="PARSE_SYNTAX_ERROR"):
        run_sql(
            spark,
            f"MERGE INTO {path} USING (SELECT CAST(1 AS BIGINT) AS k, 'x' AS v) s "
            f"ON k = k WHEN MATCHED THEN TRUNCATE",
        )
    # non-equi / cross-column ON is refused (the key list must be
    # same-name equalities)
    with pytest.raises(ValueError, match="same-name column equalities"):
        run_sql(
            spark,
            f"MERGE INTO {path} USING (SELECT 1 AS k, 'x' AS v) s ON t.k = s.v "
            f"WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        )
    # a view name as the USING source works too
    spark.createDataFrame([(9, "z")], "k long, v string").createOrReplaceTempView("mrg_src")
    run_sql(
        spark,
        f"MERGE INTO {path} USING mrg_src ON k = k "
        f"WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    # {2, 3} after the DELETE above, +9 from the view merge
    assert {r["k"] for r in cow.read(spark, path).collect()} == {2, 3, 9}
    spark.catalog.dropTempView("mrg_src")


# ---------------------------------------------------------------- QUALIFY


def test_qualify_basic_matches_hand_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(30).selectExpr("id % 3 AS g", "id AS v").createOrReplaceTempView("qal_t")
    got = run_sql(
        spark,
        "SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) AS rn "
        "FROM qal_t QUALIFY rn <= 2",
    )
    assert "__qualify__" not in got.columns
    w = Window.partitionBy("g").orderBy(F.col("v").desc())
    want = (
        spark.table("qal_t")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_qualify_inline_window_predicate_and_tail(spark):
    spark.range(30).selectExpr("id % 3 AS g", "id AS v").createOrReplaceTempView("qal_t")
    got = run_sql(
        spark,
        "SELECT g, v FROM qal_t "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) = 1 "
        "ORDER BY g LIMIT 2",
    ).collect()
    assert [tuple(r) for r in got] == [(0, 27), (1, 28)]


def test_qualify_inside_cte_final_select(spark):
    spark.range(30).selectExpr("id % 3 AS g", "id AS v").createOrReplaceTempView("qal_t")
    got = run_sql(
        spark,
        "WITH s AS (SELECT g, v FROM qal_t WHERE v >= 10) "
        "SELECT g, MAX(v) AS mx FROM s GROUP BY g "
        "QUALIFY RANK() OVER (ORDER BY mx DESC) = 1",
    ).collect()
    assert [tuple(r) for r in got] == [(2, 29)]


def test_qualify_guards_raise(spark):
    import pytest as _pytest

    spark.range(4).selectExpr("id AS v").createOrReplaceTempView("qal_t")
    for bad in (
        "SELECT v FROM qal_t QUALIFY",
        "SELECT v FROM qal_t QUALIFY   ORDER BY v",
    ):
        with _pytest.raises(ValueError):
            run_sql(spark, bad)


def test_qualify_setops_and_distinct_compose(spark):
    """The former refusals (r7 punch-list #7): QUALIFY now composes
    with set operations (per-branch rewrite) and SELECT DISTINCT
    (qualify-before-dedup, the standard clause order). Cross-engine
    equivalence is fuzzed in test_fuzz_differential; this pins the
    semantics on a hand-checked case."""
    spark.createDataFrame(
        [(i % 3, i) for i in range(12)], "g int, v int"
    ).createOrReplaceTempView("qal_s")
    # per-branch QUALIFY in a UNION ALL with a GLOBAL order/limit
    got = run_sql(
        spark,
        "SELECT g, v FROM qal_s "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) = 1 "
        "UNION ALL "
        "SELECT g, v FROM qal_s "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) = 1 "
        "ORDER BY g, v LIMIT 4",
    ).collect()
    # max-per-group: (0,9),(1,10),(2,11); min-per-group: (0,0),(1,1),(2,2)
    assert [tuple(r) for r in got] == [(0, 0), (0, 9), (1, 1), (1, 10)]
    # DISTINCT dedups AFTER the qualify filter; windows see every row
    got2 = run_sql(
        spark,
        "SELECT DISTINCT g FROM qal_s "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) <= 2",
    ).collect()
    assert sorted(r["g"] for r in got2) == [0, 1, 2]


def test_qualify_keyword_inside_literal_is_not_a_clause(spark):
    spark.range(2).selectExpr("id AS v").createOrReplaceTempView("qal_t")
    got = run_sql(spark, "SELECT v, 'no QUALIFY here' AS s FROM qal_t")
    assert got.count() == 2


def test_qualify_pred_on_dropped_input_column_uses_inject_form(spark):
    spark.range(30).selectExpr("id % 3 AS g", "id AS v").createOrReplaceTempView("qal_t")
    got = run_sql(
        spark,
        "SELECT g FROM qal_t "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) = 1",
    ).collect()
    assert sorted(tuple(r) for r in got) == [(0,), (1,), (2,)]


# ---------------------------------------------------------------- RESTORE


def test_restore_to_version_and_timestamp(spark, tmp_path):
    from data_warehouse_solution_spark import cowtable as cow

    path = str(tmp_path / "restore_t")
    s0 = cow.create(spark, path, spark.createDataFrame([(1,), (2,)], "k long"))
    cow.append(spark, path, spark.createDataFrame([(3,), (4,)], "k long"))
    assert cow.read(spark, path).count() == 4
    out = run_sql(spark, f"RESTORE TABLE `{path}` TO VERSION AS OF {s0}").collect()[0]
    assert out["restored_to_snapshot"] == s0
    assert cow.read(spark, path).count() == 2
    # history moved FORWARD: the pre-restore state is still readable
    assert cow.read(spark, path, snapshot=out["new_snapshot"] - 1).count() == 4
    # timestamp form: restore back to the 4-row state via its commit stamp
    import json as _json

    m = _json.loads(
        (
            tmp_path
            / "restore_t"
            / "_manifests"
            / f"manifest-{out['new_snapshot'] - 1:08d}.json"
        ).read_text()
    )
    out2 = run_sql(
        spark, f"RESTORE `{path}` TO TIMESTAMP AS OF '{m['committed_at']}'"
    ).collect()[0]
    assert out2["restored_to_snapshot"] == out["new_snapshot"] - 1
    assert cow.read(spark, path).count() == 4


def test_restore_non_cow_target_is_refused(spark, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in the allowed set"):
        run_sql(spark, f"RESTORE TABLE `{tmp_path}/nope` TO VERSION AS OF 0")
    # and the reference-parity command filter still drops RESTORE
    from data_warehouse_solution_spark.sql_gate import filter_sql_commands

    assert filter_sql_commands(["RESTORE TABLE t TO VERSION AS OF 1"]) == []


def test_restore_without_to_keyword(spark, tmp_path):
    """Delta's grammar makes TO optional: RESTORE [TABLE] t [TO] VERSION
    AS OF n must be handled by the gate, not fall through to spark.sql
    (the r6 ADVICE finding)."""
    from data_warehouse_solution_spark import cowtable as cow

    path = str(tmp_path / "restore_noto")
    s0 = cow.create(spark, path, spark.createDataFrame([(1,), (2,)], "k long"))
    cow.append(spark, path, spark.createDataFrame([(3,)], "k long"))
    out = run_sql(spark, f"RESTORE TABLE `{path}` VERSION AS OF {s0}").collect()[0]
    assert out["restored_to_snapshot"] == s0
    assert cow.read(spark, path).count() == 2


def test_qualify_typo_raises_original_error_not_inject_form(spark):
    """A genuinely-unresolvable predicate column fails BOTH rewrite
    forms; the raised error must come from the wrap form (whose text
    embeds the user's own statement) and not be masked behind the
    inject-rewritten text — and a non-resolution analysis error must
    never trigger the inject fallback at all."""
    import pytest as _pytest
    from pyspark.errors.exceptions.base import AnalysisException

    spark.range(4).selectExpr("id % 2 AS g", "id AS v").createOrReplaceTempView("qal_t")
    with _pytest.raises(AnalysisException) as ei:
        run_sql(
            spark,
            "SELECT g, v FROM qal_t "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY no_such_col) = 1",
        )
    assert "no_such_col" in str(ei.value)
    # the inject form's marker select-list rewrite never appears in a
    # typo error: the wrap error (user's statement embedded) is raised
    assert "__dws_qualify_in" in str(ei.value) or "no_such_col" in str(ei.value)


def test_qualify_inside_cte_body(spark):
    """A QUALIFY inside a CTE body (previously refused via Spark's
    parse error) rewrites per-block: wrap form, inject form (the body
    projects away the window's input column), and a nested WITH."""
    spark.range(30).selectExpr("id % 3 AS g", "id AS v").createOrReplaceTempView("qal_t")
    got = run_sql(
        spark,
        "WITH top2 AS (SELECT g, v FROM qal_t "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) <= 2) "
        "SELECT g, SUM(v) AS sv FROM top2 GROUP BY g ORDER BY g",
    ).collect()
    assert [tuple(r) for r in got] == [(0, 51), (1, 53), (2, 55)]
    # inject form inside the body: the select list drops v
    got2 = run_sql(
        spark,
        "WITH only_g AS (SELECT g FROM qal_t "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) = 1) "
        "SELECT g FROM only_g ORDER BY g",
    ).collect()
    assert [tuple(r) for r in got2] == [(0,), (1,), (2,)]
    # CTE QUALIFY + final-block QUALIFY in one statement
    got3 = run_sql(
        spark,
        "WITH top2 AS (SELECT g, v FROM qal_t "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) <= 2) "
        "SELECT g, SUM(v) AS sv FROM top2 GROUP BY g "
        "QUALIFY RANK() OVER (ORDER BY sv DESC) = 1",
    ).collect()
    assert [tuple(r) for r in got3] == [(2, 55)]
    # WITH nested inside a CTE body
    got4 = run_sql(
        spark,
        "WITH o AS (WITH i AS (SELECT g, v FROM qal_t "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) = 1) "
        "SELECT g, v + 100 AS v FROM i) SELECT * FROM o ORDER BY g",
    ).collect()
    assert [tuple(r) for r in got4] == [(0, 100), (1, 101), (2, 102)]


def test_create_cow_clustered_by_buckets(spark, tmp_path):
    """CREATE TABLE ... USING cow CLUSTERED BY (k) INTO n BUCKETS
    (Spark's own bucketing DDL phrase) maps to the bucketed COW
    layout: the manifest carries the spec and the files are
    one-bucket-per-file."""
    import re as _re

    from data_warehouse_solution_spark import cowtable as cow

    p = str(tmp_path / "gate_bkt")
    out = run_sql(
        spark,
        f"CREATE TABLE `{p}` USING cow CLUSTERED BY (k) INTO 4 BUCKETS "
        "AS SELECT id AS k, id * 2 AS v FROM VALUES (0) t(x), "
        "(SELECT explode(sequence(0, 99)) AS id)",
    )
    assert out.collect()[0]["snapshot_id"] == 1
    m = cow._load_manifest(spark, p, 1)
    assert m["bucket_by"] == {"columns": ["k"], "buckets": 4}
    assert all(_re.search(r"_(\d{5})\.parquet$", f["name"]) for f in m["files"])
    assert cow.read(spark, p).count() == 100


def test_sql_select_routes_through_bucketed_view(spark, tmp_path):
    """r7 punch-list #4: a pure-SQL-text join of two bucketed COW
    tables plans exchange-free (the gate resolves cow.`path` refs of
    bucketed snapshots through bucketed_view); ineligible snapshots
    (renamed columns) fall back to the engine read silently."""
    import re as _re

    from data_warehouse_solution_spark import cowtable as cow

    o = str(tmp_path / "g_bo")
    l = str(tmp_path / "g_bl")
    cow.create(
        spark, o,
        spark.range(200).selectExpr("id AS o_k", "id % 5 AS st"),
        bucket_by=["o_k"], num_buckets=4,
    )
    cow.create(
        spark, l,
        spark.range(600).selectExpr("id % 200 AS l_k", "id AS q"),
        bucket_by=["l_k"], num_buckets=4,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        j = run_sql(
            spark,
            f"SELECT t.o_k, u.q FROM cow.`{o}` t "
            f"JOIN cow.`{l}` u ON t.o_k = u.l_k",
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 0, plan
        assert j.count() == 600
        # MOR delete (no compact): still exchange-free via the DV mask
        cow.delete(spark, o, "st = 3", mode="mor")
        j2 = run_sql(
            spark,
            f"SELECT t.o_k, u.q FROM cow.`{o}` t "
            f"JOIN cow.`{l}` u ON t.o_k = u.l_k",
        )
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert len(_re.findall(r"Exchange hashpartitioning", plan2)) == 0
        assert j2.count() == 480
        # time travel through the bucketed route
        assert (
            run_sql(spark, f"SELECT count(*) AS c FROM cow.`{o}` VERSION AS OF 1")
            .collect()[0]["c"]
            == 200
        )
        # renamed table: silent fallback to the engine read
        cow.alter_rename_column(spark, l, "q", "qty")
        assert (
            run_sql(spark, f"SELECT count(*) AS c FROM cow.`{l}`").collect()[0]["c"]
            == 600
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old)


def test_qualify_mixed_forms_cte_inject_final_wrap(spark):
    """One statement where the CTE body NEEDS the inject form (its
    window reads a projected-away column) and the final block NEEDS
    the wrap form (its window orders by a select alias) — the
    candidate chain must find the mixed combination."""
    spark.range(30).selectExpr("id % 3 AS g", "id AS v").createOrReplaceTempView("qal_t")
    got = run_sql(
        spark,
        "WITH only_g AS (SELECT g FROM qal_t "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) <= 5) "
        "SELECT g, COUNT(*) AS n FROM only_g GROUP BY g "
        "QUALIFY RANK() OVER (ORDER BY n DESC, g) = 1",
    ).collect()
    assert [tuple(r) for r in got] == [(0, 5)]


def test_create_cow_clustered_sorted_by_buckets(spark, tmp_path):
    from data_warehouse_solution_spark import cowtable as cow

    p = str(tmp_path / "gate_sbkt")
    run_sql(
        spark,
        f"CREATE TABLE `{p}` USING cow CLUSTERED BY (k) SORTED BY (k) "
        "INTO 4 BUCKETS AS SELECT explode(sequence(0, 99)) AS k",
    )
    m = cow._load_manifest(spark, p, 1)
    assert m["bucket_by"] == {"columns": ["k"], "buckets": 4, "sort_by": ["k"]}


def test_sql_bucketed_route_degrades_on_oserror(spark, tmp_path, monkeypatch):
    """r8 punch-list #6: a filesystem hiccup inside the symlink-tree
    builder (OSError, not the contract ValueError) must DEGRADE the
    SQL read to the engine path, never fail it — the bucketed route
    is a plan-shape optimization, not a correctness dependency."""
    from data_warehouse_solution_spark import cowtable as cow

    p = str(tmp_path / "g_oserr")
    cow.create(
        spark, p,
        spark.range(50).selectExpr("id AS k", "id % 5 AS st"),
        bucket_by=["k"], num_buckets=4,
    )

    def _boom(*a, **kw):
        raise OSError(28, "No space left on device (simulated)")

    monkeypatch.setattr(cow, "bucketed_view", _boom)
    got = run_sql(
        spark, f"SELECT count(*) AS c FROM cow.`{p}` WHERE st <> 3"
    ).collect()
    assert got[0]["c"] == 40  # engine-read fallback, values intact


def test_create_cow_tblproperties_write_mode(spark, tmp_path):
    """TBLPROPERTIES ('write_mode'='mor') makes merge-on-read the
    SQL-created table's DML default (Delta's enableDeletionVectors
    analogue); unknown properties refuse loudly."""
    import pytest as _pytest

    from data_warehouse_solution_spark import cowtable as cow

    p = str(tmp_path / "g_mor")
    run_sql(
        spark,
        f"CREATE TABLE cow.`{p}` USING cow TBLPROPERTIES "
        "('write_mode'='mor') AS SELECT id AS k, id % 5 AS st FROM range(50)",
    )
    run_sql(spark, f"DELETE FROM cow.`{p}` WHERE st = 3")
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    assert m.get("write_mode") == "mor"
    assert any(f.get("dv") for f in m["files"]), (
        "SQL DELETE on the MOR-default table did not produce deletion vectors"
    )
    got = run_sql(spark, f"SELECT count(*) AS c FROM cow.`{p}`").collect()
    assert got[0]["c"] == 40
    with _pytest.raises(ValueError, match="unsupported TBLPROPERTIES"):
        run_sql(
            spark,
            f"CREATE TABLE cow.`{tmp_path / 'g_bad'}` USING cow "
            "TBLPROPERTIES ('zorder'='yes') AS SELECT 1 AS x",
        )
    # composes with the other clauses (partition + buckets + props)
    p2 = str(tmp_path / "g_mor_bkt")
    run_sql(
        spark,
        f"CREATE TABLE cow.`{p2}` USING cow PARTITIONED BY (st) "
        "CLUSTERED BY (k) INTO 4 BUCKETS TBLPROPERTIES "
        "('write_mode'='mor') AS SELECT id AS k, id % 3 AS st FROM range(30)",
    )
    m2 = cow._load_manifest(spark, p2, cow.current_snapshot(spark, p2))
    assert m2.get("write_mode") == "mor" and m2.get("bucket_by")
    # r10 (ADVICE): MALFORMED entries refuse too — unquoted or
    # double-quoted pairs must not silently parse to an empty props
    # dict (which would create the table copy-on-write, the exact
    # silent-property-drop 'refuse loudly' promises to prevent)
    for bad in ("(write_mode=mor)", '("write_mode"="mor")', "('write_mode'=mor)"):
        with _pytest.raises(ValueError, match="malformed TBLPROPERTIES"):
            run_sql(
                spark,
                f"CREATE TABLE cow.`{tmp_path / 'g_malformed'}` USING cow "
                f"TBLPROPERTIES {bad} AS SELECT 1 AS x",
            )


def test_show_create_table_round_trips(spark, tmp_path):
    """r11 punch #7: SHOW CREATE TABLE emits executable DDL — the
    CREATE with every layout clause plus one ALTER per CHECK
    constraint; re-executing against a new path (with an AS payload)
    reproduces a DESCRIBE-equal table."""
    import data_warehouse_solution_spark.cowtable as cow

    p1, p2 = str(tmp_path / "sc1"), str(tmp_path / "sc2")
    run_sql(
        spark,
        f"CREATE TABLE `{p1}` USING cow PARTITIONED BY (st) "
        "BLOOM BY (v) CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS "
        "TBLPROPERTIES ('write_mode'='mor') "
        "AS SELECT id AS k, CAST(id % 3 AS STRING) AS st, "
        "CONCAT('v', id) AS v FROM range(20)",
    )
    run_sql(spark, f"ALTER TABLE `{p1}` ADD CONSTRAINT pos_k CHECK (k >= 0)")
    stmts = [
        r.createtab_stmt
        for r in run_sql(spark, f"SHOW CREATE TABLE `{p1}`").collect()
    ]
    assert stmts[0].startswith(f"CREATE TABLE cow.`{p1}` USING cow")
    for clause in (
        "PARTITIONED BY (st)",
        "BLOOM BY (v)",
        "CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS",
        "TBLPROPERTIES ('write_mode'='mor')",
    ):
        assert clause in stmts[0], clause
    assert stmts[1] == f"ALTER TABLE cow.`{p1}` ADD CONSTRAINT pos_k CHECK (k >= 0)"
    # round trip: re-execute on a NEW path with an AS payload
    for s in stmts:
        run_sql(spark, s.replace(p1, p2) + (f" AS SELECT * FROM cow.`{p1}`" if s.startswith("CREATE") else ""))
    drop = {"# location", "# snapshot", "# name"}
    d1 = {(r.col_name, r.data_type) for r in run_sql(spark, f"DESCRIBE TABLE `{p1}`").collect() if r.col_name not in drop}
    d2 = {(r.col_name, r.data_type) for r in run_sql(spark, f"DESCRIBE TABLE `{p2}`").collect() if r.col_name not in drop}
    assert d1 == d2
    # named tables emit name target + LOCATION
    old = spark.conf.get("spark.dws.cow.catalogDir", None)
    spark.conf.set("spark.dws.cow.catalogDir", str(tmp_path / "_cat"))
    try:
        run_sql(spark, f"CREATE TABLE sc_named USING cow LOCATION '{p1}'")
        st = run_sql(spark, "SHOW CREATE TABLE sc_named").first().createtab_stmt
        assert st.startswith("CREATE TABLE sc_named USING cow")
        assert f"LOCATION '{p1}'" in st
        run_sql(spark, "DROP TABLE sc_named")
    finally:
        if old is None:
            spark.conf.unset("spark.dws.cow.catalogDir")
        else:
            spark.conf.set("spark.dws.cow.catalogDir", old)
