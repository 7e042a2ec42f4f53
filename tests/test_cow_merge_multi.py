"""Multi-clause MERGE (``cowtable.merge`` + the gate's rich WHEN
surface): conditional UPDATE/DELETE on match, conditional column-list
INSERT on no-match, first-clause-wins ordering, the multiple-match
ambiguity guard, and null-key never-matches semantics — the full
Delta/ANSI MERGE shape the restricted ``merge_upsert`` doesn't cover."""

from __future__ import annotations

import pytest

import data_warehouse_solution_spark.cowtable as cow
from data_warehouse_solution_spark.sql_gate import run_sql


def _mk(spark, path):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, s string, v double",
    ).repartition(2)
    cow.create(spark, path, df)


def _src(spark, rows=None):
    return spark.createDataFrame(
        rows
        or [
            (1, "A", 100.0),  # matched, v>=50 -> delete clause
            (2, "B", 5.0),  # matched, v<50 -> update clause
            (5, "E", 55.0),  # not matched, v>=50 -> insert
            (6, "F", 7.0),  # not matched, v<50 -> discarded
        ],
        "k long, s string, v double",
    )


_CLAUSES = [
    {"when": "matched", "and": "s.v >= 50", "then": "delete"},
    {"when": "matched", "then": "update", "set": {"s": "s.s", "v": "t.v + s.v"}},
    {
        "when": "not_matched",
        "and": "s.v >= 50",
        "then": "insert",
        "values": {"k": "s.k", "s": "lower(s.s)", "v": "s.v"},
    },
]


def test_merge_update_delete_insert_clauses(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    st = cow.merge(spark, p, _src(spark), ["k"], _CLAUSES)
    assert st["snapshot_id"] == 2
    got = {tuple(r) for r in cow.read(spark, p).collect()}
    assert got == {
        (2, "B", 25.0),  # updated: v = 20 + 5
        (3, "c", 30.0),  # untouched
        (4, "d", 40.0),  # untouched
        (5, "e", 55.0),  # inserted, lower()
        # k=1 deleted; k=6 discarded (no applicable not_matched clause)
    }


def test_merge_first_clause_wins(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    # both clauses applicable to k=1: the FIRST (update) must win
    cow.merge(
        spark,
        p,
        _src(spark, [(1, "X", 99.0)]),
        ["k"],
        [
            {"when": "matched", "and": "s.v > 0", "then": "update", "set": {"s": "'first'"}},
            {"when": "matched", "then": "delete"},
        ],
    )
    got = dict((r["k"], r["s"]) for r in cow.read(spark, p).collect())
    assert got[1] == "first" and len(got) == 4


@pytest.mark.parametrize(
    "clause",
    [
        {"when": "matched", "then": "update", "set": {"v": "s.v) WHEN (true) THEN (0"}},
        {"when": "not_matched", "then": "insert", "values": {"k": "s.k", "v": "1) + (2"}},
    ],
)
def test_merge_refuses_an_unbalanced_expression(spark, tmp_path, clause):
    """A SET or VALUES expression is spliced into the projection's SQL
    text only if it parses alone: an unbalanced one could otherwise
    close the CASE around it and change rows no clause selected."""
    from pyspark.errors import ParseException

    p = str(tmp_path / "t")
    _mk(spark, p)
    before = {tuple(r) for r in cow.read(spark, p).collect()}
    with pytest.raises(ParseException):
        cow.merge(spark, p, _src(spark, [(1, "X", 5.0), (9, "Z", 9.0)]), ["k"], [clause])
    assert cow.current_snapshot(spark, p) == 1
    assert {tuple(r) for r in cow.read(spark, p).collect()} == before


def test_merge_expression_may_end_in_a_comment(spark, tmp_path):
    """A trailing ``--`` comment, even one ending in a backslash, ends
    with the expression."""
    p = str(tmp_path / "t")
    _mk(spark, p)
    cow.merge(
        spark, p, _src(spark, [(1, "X", 5.0)]), ["k"],
        [{"when": "matched", "then": "update", "set": {"v": "s.v + 1 -- note \\"}}],
    )
    got = {r["k"]: r["v"] for r in cow.read(spark, p).collect()}
    assert got == {1: 6.0, 2: 20.0, 3: 30.0, 4: 40.0}


def test_merge_ambiguous_source_raises(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    dup = _src(spark, [(1, "X", 1.0), (1, "Y", 2.0)])
    with pytest.raises(ValueError, match="ambiguous"):
        cow.merge(
            spark, p, dup, ["k"], [{"when": "matched", "then": "update", "set": "*"}]
        )


def test_merge_null_keys_never_match(spark, tmp_path):
    p = str(tmp_path / "nulls")
    cow.create(
        spark,
        p,
        spark.createDataFrame([(None, "t-null", 1.0), (1, "one", 2.0)], "k long, s string, v double"),
    )
    src = spark.createDataFrame([(None, "s-null", 3.0)], "k long, s string, v double")
    cow.merge(
        spark,
        p,
        src,
        ["k"],
        [
            {"when": "matched", "then": "update", "set": "*"},
            {"when": "not_matched", "then": "insert", "values": "*"},
        ],
    )
    got = {tuple(r) for r in cow.read(spark, p).collect()}
    # target NULL row untouched; source NULL row INSERTED (not matched)
    assert got == {(None, "t-null", 1.0), (1, "one", 2.0), (None, "s-null", 3.0)}


def test_merge_star_clauses_equal_merge_upsert(spark, tmp_path):
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    _mk(spark, p1)
    _mk(spark, p2)
    src = _src(spark)
    cow.merge(
        spark,
        p1,
        src,
        ["k"],
        [
            {"when": "matched", "then": "update", "set": "*"},
            {"when": "not_matched", "then": "insert", "values": "*"},
        ],
    )
    cow.merge_upsert(spark, p2, src, ["k"])
    want = {
        (1, "A", 100.0),  # matched: the source row replaces the target's
        (2, "B", 5.0),
        (3, "c", 30.0),  # untouched
        (4, "d", 40.0),
        (5, "E", 55.0),  # not matched: inserted
        (6, "F", 7.0),
    }
    assert {tuple(r) for r in cow.read(spark, p1).collect()} == want
    assert {tuple(r) for r in cow.read(spark, p2).collect()} == want


def test_merge_prunes_to_matching_files(spark, tmp_path):
    p = str(tmp_path / "prune")
    df = spark.range(0, 1000).selectExpr("id as k", "cast(id as double) as v")
    cow.create(spark, p, df.repartitionByRange(8, "k"))
    src = spark.createDataFrame([(5, -1.0)], "k long, v double")
    st = cow.merge(
        spark, p, src, ["k"], [{"when": "matched", "then": "update", "set": "*"}]
    )
    # range-partitioned files: the key envelope prunes the candidates
    # and only the single file holding k=5 rewrites
    assert st["files_rewritten"] == 1 and st["files_scanned"] <= 2
    assert cow.read(spark, p).filter("k = 5").collect()[0]["v"] == -1.0


def test_merge_extra_source_columns_drive_conditions(spark, tmp_path):
    p = str(tmp_path / "extra")
    _mk(spark, p)
    src = spark.createDataFrame(
        [(1, "del"), (2, "keep")], "k long, op string"
    )
    cow.merge(
        spark,
        p,
        src,
        ["k"],
        [
            {"when": "matched", "and": "s.op = 'del'", "then": "delete"},
            {"when": "matched", "then": "update", "set": {"s": "concat(t.s, '!')"}},
        ],
    )
    got = {(r["k"], r["s"]) for r in cow.read(spark, p).collect()}
    assert got == {(2, "b!"), (3, "c"), (4, "d")}


def test_gate_rich_merge_sql_matches_python(spark, tmp_path):
    p_sql, p_py = str(tmp_path / "sql"), str(tmp_path / "py")
    _mk(spark, p_sql)
    _mk(spark, p_py)
    _src(spark).createOrReplaceTempView("merge_src_multi")
    run_sql(
        spark,
        f"""MERGE INTO cow.`{p_sql}` tgt USING merge_src_multi src
            ON tgt.k = src.k
            WHEN MATCHED AND src.v >= 50 THEN DELETE
            WHEN MATCHED THEN UPDATE SET s = src.s, v = tgt.v + src.v
            WHEN NOT MATCHED AND src.v >= 50 THEN
              INSERT (k, s, v) VALUES (src.k, lower(src.s), src.v)""",
    )
    cow.merge(spark, p_py, _src(spark), ["k"], _CLAUSES)
    a = {tuple(r) for r in cow.read(spark, p_sql).collect()}
    b = {tuple(r) for r in cow.read(spark, p_py).collect()}
    assert a == b
    spark.catalog.dropTempView("merge_src_multi")


def test_merge_mor_matches_cow_and_rewrites_nothing(spark, tmp_path):
    import os

    p_mor, p_cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    _mk(spark, p_mor)
    _mk(spark, p_cow)
    before = sorted(
        n
        for _r, _d, ns in os.walk(os.path.join(p_mor, "data"))
        for n in ns
        if n.endswith(".parquet")
    )
    st = cow.merge(spark, p_mor, _src(spark), ["k"], _CLAUSES, mode="mor")
    cow.merge(spark, p_cow, _src(spark), ["k"], _CLAUSES)
    assert st["files_rewritten"] == 0 and st["files_written"] >= 1
    after = sorted(
        n
        for _r, _d, ns in os.walk(os.path.join(p_mor, "data"))
        for n in ns
        if n.endswith(".parquet")
    )
    assert set(before) <= set(after)  # originals untouched
    a = {tuple(r) for r in cow.read(spark, p_mor).collect()}
    b = {tuple(r) for r in cow.read(spark, p_cow).collect()}
    assert a == b


def test_merge_mor_insert_only_when_nothing_matches(spark, tmp_path):
    p = str(tmp_path / "insonly")
    _mk(spark, p)
    src = spark.createDataFrame([(99, "z", 1.0)], "k long, s string, v double")
    st = cow.merge(
        spark,
        p,
        src,
        ["k"],
        [
            {"when": "matched", "then": "delete"},
            {"when": "not_matched", "then": "insert", "values": "*"},
        ],
        mode="mor",
    )
    assert st["files_rewritten"] == 0
    assert (99, "z", 1.0) in {tuple(r) for r in cow.read(spark, p).collect()}


def test_merge_upsert_on_mor_table_takes_dv_path(spark, tmp_path):
    p = str(tmp_path / "upsmor")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, s string, v double"
    )
    cow.create(spark, p, df, write_mode="mor")
    src = spark.createDataFrame([(1, "A", -1.0), (3, "C", 3.0)], "k long, s string, v double")
    st = cow.merge_upsert(spark, p, src, ["k"])
    m = cow._load_manifest(spark, p, st["snapshot_id"])
    assert m["operation"] == "mor_merge"
    got = {tuple(r) for r in cow.read(spark, p).collect()}
    assert got == {(1, "A", -1.0), (2, "b", 20.0), (3, "C", 3.0)}


def test_gate_restricted_merge_still_routes_to_upsert(spark, tmp_path):
    p = str(tmp_path / "upsert")
    _mk(spark, p)
    _src(spark).createOrReplaceTempView("merge_src_star")
    run_sql(
        spark,
        f"""MERGE INTO `{p}` USING merge_src_star ON k = k
            WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""",
    )
    got = {r["k"] for r in cow.read(spark, p).collect()}
    assert got == {1, 2, 3, 4, 5, 6}
    spark.catalog.dropTempView("merge_src_star")


def _star_merge(p: str, values: str) -> str:
    return (
        f"MERGE INTO cow.`{p}` t USING (SELECT * FROM VALUES {values} "
        "AS s(k, s, v)) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )


def test_gate_star_merge_duplicate_matched_key_is_ambiguous(spark, tmp_path):
    """Two source rows for target row k = 1: SET * cannot pick one, so
    the statement refuses and the table keeps its head."""
    p = str(tmp_path / "dup")
    _mk(spark, p)
    head = cow.current_snapshot(spark, p)
    with pytest.raises(ValueError, match="ambiguous"):
        run_sql(spark, _star_merge(p, "(1, 'x', 1.0D), (1, 'y', 2.0D)"))
    assert cow.current_snapshot(spark, p) == head
    assert cow.read(spark, p).count() == 4


def test_gate_star_merge_duplicate_unmatched_keys_both_insert(spark, tmp_path):
    p = str(tmp_path / "dupnew")
    _mk(spark, p)
    run_sql(spark, _star_merge(p, "(7, 'x', 1.0D), (7, 'y', 2.0D), (2, 'B', 5.0D)"))
    got = sorted(tuple(r) for r in cow.read(spark, p).collect())
    assert got == [
        (1, "a", 10.0), (2, "B", 5.0), (3, "c", 30.0), (4, "d", 40.0),
        (7, "x", 1.0), (7, "y", 2.0),
    ]


# --- WHEN NOT MATCHED BY SOURCE (r11): Delta's sync direction -------


def test_nmbs_delete_and_update_full_sync(spark, tmp_path):
    """The canonical sync MERGE: matched rows update, new source rows
    insert, target rows absent from the source delete — target ends
    exactly equal to the source."""
    p = str(tmp_path / "nmbs_sync")
    _mk(spark, p)
    src = spark.createDataFrame(
        [(2, "B", 200.0), (9, "I", 9.0)], "k long, s string, v double"
    )
    cow.merge(
        spark,
        p,
        src,
        ["k"],
        [
            {"when": "matched", "then": "update", "set": "*"},
            {"when": "not_matched", "then": "insert", "values": "*"},
            {"when": "not_matched_by_source", "then": "delete"},
        ],
    )
    got = {tuple(r) for r in cow.read(spark, p).collect()}
    assert got == {(2, "B", 200.0), (9, "I", 9.0)}


def test_nmbs_first_clause_wins_and_conditions_are_target_only(spark, tmp_path):
    p = str(tmp_path / "nmbs_order")
    _mk(spark, p)
    src = spark.createDataFrame([(1, "A", 1.0)], "k long, s string, v double")
    cow.merge(
        spark,
        p,
        src,
        ["k"],
        [
            {"when": "not_matched_by_source", "and": "t.v >= 40", "then": "delete"},
            {
                "when": "not_matched_by_source",
                "and": "t.k % 2 = 0",
                "then": "update",
                "set": {"s": "concat(t.s, '!')"},
            },
        ],
    )
    got = {tuple(r) for r in cow.read(spark, p).collect()}
    # k=4 (v=40) deleted by the first clause even though k%2=0 also
    # applies; k=2 updated; k=3 (odd, v<40) carried; k=1 matched
    assert got == {(1, "a", 10.0), (2, "b!", 20.0), (3, "c", 30.0)}


def test_nmbs_mor_masks_positions_without_rewrites(spark, tmp_path):
    p = str(tmp_path / "nmbs_mor")
    _mk(spark, p)
    src = spark.createDataFrame([(1, "A", 1.0)], "k long, s string, v double")
    st = cow.merge(
        spark,
        p,
        src,
        ["k"],
        [
            {"when": "not_matched_by_source", "and": "t.k = 3", "then": "delete"},
            {
                "when": "not_matched_by_source",
                "and": "t.k = 4",
                "then": "update",
                "set": {"v": "t.v * 10"},
            },
        ],
        mode="mor",
    )
    assert st["files_rewritten"] == 0
    got = {tuple(r) for r in cow.read(spark, p).collect()}
    assert got == {(1, "a", 10.0), (2, "b", 20.0), (4, "d", 400.0)}


def test_nmbs_refusals(spark, tmp_path):
    p = str(tmp_path / "nmbs_refuse")
    _mk(spark, p)
    src = spark.createDataFrame([(1, "A", 1.0)], "k long, s string, v double")
    for bad, msg in [
        ([{"when": "not_matched_by_source", "then": "insert", "values": "*"}],
         "update/delete"),
        ([{"when": "not_matched_by_source", "then": "update", "set": "*"}],
         "explicit SET"),
        ([{"when": "not_matched_by_source", "and": "s.v > 0", "then": "delete"}],
         "cannot reference the source"),
        ([{"when": "not_matched_by_source", "then": "update",
           "set": {"v": "s.v"}}],
         "cannot reference the source"),
    ]:
        with pytest.raises(ValueError, match=msg):
            cow.merge(spark, p, src, ["k"], bad)


def test_nmbs_source_ref_inside_string_literal_is_legal(spark, tmp_path):
    """The s.-refusal scans outside single-quoted literals only: a
    literal containing \"s.\" is data, not a source reference."""
    p = str(tmp_path / "nmbs_lit")
    _mk(spark, p)
    src = spark.createDataFrame([(1, "A", 1.0)], "k long, s string, v double")
    cow.merge(
        spark,
        p,
        src,
        ["k"],
        [
            {
                "when": "not_matched_by_source",
                "and": "t.k = 2",
                "then": "update",
                "set": {"s": "'s.literal'"},
            }
        ],
    )
    got = {tuple(r) for r in cow.read(spark, p).collect()}
    assert (2, "s.literal", 20.0) in got


def test_nmbs_only_merge_tolerates_duplicate_source_keys(spark, tmp_path):
    """Without matched clauses duplicate source keys are legal
    (Delta's rule): the join runs against the deduped key set, so
    carried matched rows can never multiply."""
    p = str(tmp_path / "nmbs_dupsrc")
    _mk(spark, p)
    src = spark.createDataFrame(
        [(1, "x", 0.0), (1, "y", 0.0)], "k long, s string, v double"
    )
    cow.merge(
        spark,
        p,
        src,
        ["k"],
        [{"when": "not_matched_by_source", "then": "update", "set": {"v": "-1.0"}}],
    )
    rows = cow.read(spark, p).collect()
    assert len(rows) == 4
    got = {tuple(r) for r in rows}
    assert got == {(1, "a", 10.0), (2, "b", -1.0), (3, "c", -1.0), (4, "d", -1.0)}


def test_insert_only_merge_never_rewrites_and_never_duplicates(spark, tmp_path):
    """Regression (found r11): an insert-only MERGE with a
    duplicate-keyed source DUPLICATED the matched target row — the
    ambiguity guard only arms when a matched clause exists, yet
    affected files still rewrote through the multiplying left join.
    Insert-only merges now take Delta's no-rewrite fast path."""
    p = str(tmp_path / "insonly")
    _mk(spark, p)
    src = spark.createDataFrame(
        [(1, "x", 0.0), (1, "y", 0.0), (9, "z", 9.0)],
        "k long, s string, v double",
    )
    st = cow.merge(
        spark,
        p,
        src,
        ["k"],
        [{"when": "not_matched", "then": "insert", "values": "*"}],
    )
    assert st["files_rewritten"] == 0
    rows = cow.read(spark, p).collect()
    assert len(rows) == 5  # 4 originals + 1 insert; k=1 NOT duplicated
    assert sorted(r["k"] for r in rows) == [1, 2, 3, 4, 9]


def test_gate_nmbs_sql_and_by_target_synonym(spark, tmp_path):
    p = str(tmp_path / "nmbs_gate")
    _mk(spark, p)
    spark.createDataFrame(
        [(2, "B", 200.0), (9, "I", 9.0)], "k long, s string, v double"
    ).createOrReplaceTempView("nmbs_gate_src")
    run_sql(
        spark,
        f"""MERGE INTO cow.`{p}` tgt USING nmbs_gate_src src ON tgt.k = src.k
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED BY TARGET THEN INSERT *
            WHEN NOT MATCHED BY SOURCE AND tgt.v >= 40 THEN DELETE
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET s = upper(tgt.s)""",
    )
    got = {tuple(r) for r in cow.read(spark, p).collect()}
    assert got == {
        (1, "A", 10.0),
        (2, "B", 200.0),
        (3, "C", 30.0),
        (9, "I", 9.0),
    }
    spark.catalog.dropTempView("nmbs_gate_src")


def test_gate_nmbs_refusals(spark, tmp_path):
    p = str(tmp_path / "nmbs_gate_refuse")
    _mk(spark, p)
    spark.createDataFrame(
        [(1, "A", 1.0)], "k long, s string, v double"
    ).createOrReplaceTempView("nmbs_gate_bad_src")
    for stmt, msg in [
        (f"MERGE INTO cow.`{p}` t USING nmbs_gate_bad_src s ON t.k = s.k "
         f"WHEN NOT MATCHED BY SOURCE THEN INSERT *", "PARSE_SYNTAX_ERROR"),
        (f"MERGE INTO cow.`{p}` t USING nmbs_gate_bad_src s ON t.k = s.k "
         f"WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *", "PARSE_SYNTAX_ERROR"),
        (f"MERGE INTO cow.`{p}` t USING nmbs_gate_bad_src s ON t.k = s.k "
         f"WHEN MATCHED BY SOURCE THEN DELETE", "PARSE_SYNTAX_ERROR"),
        (f"MERGE INTO cow.`{p}` t USING nmbs_gate_bad_src s ON t.k = s.k "
         f"WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE",
         "cannot reference the source"),
    ]:
        with pytest.raises(ValueError, match=msg):
            run_sql(spark, stmt)
    spark.catalog.dropTempView("nmbs_gate_bad_src")


def test_nmbs_backtick_quoted_source_ref_also_refuses(spark, tmp_path):
    """`s`.col resolves to the source exactly like s.col — the
    refusal scan must catch the quoted form too."""
    p = str(tmp_path / "nmbs_bt")
    _mk(spark, p)
    src = spark.createDataFrame([(1, "A", 1.0)], "k long, s string, v double")
    with pytest.raises(ValueError, match="cannot reference the source"):
        cow.merge(
            spark, p, src, ["k"],
            [{"when": "not_matched_by_source", "and": "`s`.v > 0",
              "then": "delete"}],
        )


def test_gate_merge_alias_qualified_set_keys(spark, tmp_path):
    # ADVICE r12 (low): the standard `UPDATE SET t.x = s.x` spelling —
    # assignment KEYS carry the target alias; the gate must strip it
    # before handing clauses to the engine (only expression VALUES go
    # through the alias rewrite).
    p = str(tmp_path / "t")
    _mk(spark, p)
    _src(spark).createOrReplaceTempView("merge_alias_src")
    run_sql(
        spark,
        f"""MERGE INTO cow.`{p}` tgt USING merge_alias_src src
            ON tgt.k = src.k
            WHEN MATCHED THEN UPDATE SET tgt.v = tgt.v + src.v
            WHEN NOT MATCHED AND src.v >= 50 THEN
              INSERT (k, s, v) VALUES (src.k, src.s, src.v)""",
    )
    got = {r["k"]: r["v"] for r in cow.read(spark, p).collect()}
    assert got[1] == 110.0 and got[2] == 25.0  # updated through t-alias keys
    assert got[5] == 55.0 and 6 not in got


def test_gate_merge_backticked_set_keys(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    _src(spark).createOrReplaceTempView("merge_btick_src")
    run_sql(
        spark,
        f"""MERGE INTO cow.`{p}` t USING merge_btick_src s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET `t`.`v` = s.v""",
    )
    got = {r["k"]: r["v"] for r in cow.read(spark, p).collect()}
    assert got[1] == 100.0 and got[2] == 5.0

def test_gate_merge_source_alias_t_set_keys(spark, tmp_path):
    # ADVICE r13 (low): `USING src AS t` makes 't' the SOURCE alias —
    # a SET key spelled `t.v` must refuse as source-qualified, not be
    # silently stripped into a target column. The bare-name and
    # target-alias spellings keep working in the same statement shape.
    p = str(tmp_path / "t")
    _mk(spark, p)
    _src(spark).createOrReplaceTempView("merge_srct_src")
    with pytest.raises(ValueError, match="source\\s+alias"):
        run_sql(
            spark,
            f"""MERGE INTO cow.`{p}` tgt USING merge_srct_src AS t
                ON tgt.k = t.k
                WHEN MATCHED THEN UPDATE SET t.v = t.v""",
        )
    # unqualified key still lands on the target column
    run_sql(
        spark,
        f"""MERGE INTO cow.`{p}` tgt USING merge_srct_src AS t
            ON tgt.k = t.k
            WHEN MATCHED THEN UPDATE SET v = t.v""",
    )
    got = {r["k"]: r["v"] for r in cow.read(spark, p).collect()}
    assert got[1] == 100.0 and got[2] == 5.0


def test_merge_subquery_source_materialized_once(spark, tmp_path):
    """r15 size-gated source materialization: a merge whose source is
    a SUBQUERY (aggregate) evaluates that subquery exactly ONCE — the
    probe, key-range, rewrite join and insert staging all read the
    checkpoint — while simple-scan sources stay on the
    zero-materialization path (gate returns no nodes)."""
    from pyspark.sql import functions as F

    from data_warehouse_solution_spark.plans import multipass_source_nodes

    p = str(tmp_path / "t")
    cow.create(
        spark,
        p,
        spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], "k long, v double"),
    )
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        acc.add(1)
        return x

    base = spark.createDataFrame(
        [(1, 10.0), (5, 50.0), (5, 40.0)], "k long, v double"
    )
    src = (
        base.withColumn("k", bump("k"))
        .groupBy("k")
        .agg(F.max("v").alias("v"))
    )
    # the gate classifies the plans correctly
    assert "Aggregate" in multipass_source_nodes(src)
    assert multipass_source_nodes(base.filter("k > 0")) == []
    stats = cow.merge(
        spark,
        p,
        src,
        ["k"],
        [
            {"when": "matched", "then": "update", "set": "*"},
            {"when": "not_matched", "then": "insert", "values": "*"},
        ],
    )
    assert stats["files_written"] >= 1
    # one evaluation of the source subtree: the UDF below the
    # aggregate ran once per input row, not once per merge pass
    assert acc.value == 3
    got = {r["k"]: r["v"] for r in cow.read(spark, p).collect()}
    assert got == {1: 10.0, 2: 2.0, 3: 3.0, 5: 50.0}
