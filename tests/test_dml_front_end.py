"""The standard DML front end: Spark's parser reads DELETE / UPDATE /
MERGE / INSERT into one record that execution and EXPLAIN share.

Pinned here: the gate hands ``cowtable`` the condition text exactly as
written, so a statement through ``run_sql`` prunes the same files as
the Python API call with the same condition; EXPLAIN shows that same
verbatim text without launching a job; and a path target that is not
absolute is refused before anything is written."""

from __future__ import annotations

import os

import pytest

from data_warehouse_solution_spark import cowtable as cow
from data_warehouse_solution_spark.sql_gate import run_sql

from .conftest import no_cwd_escape


_COLS = ("id AS k", "CASE WHEN id >= 50 THEN NULL ELSE id % 7 END AS n")


def _mk(spark, path):
    """Six files, k = 0..59 in ascending ranges of ten; n is NULL only
    in the last file, so min/max and null-count stats can refute."""
    for i in range(6):
        rows = spark.range(i * 10, (i + 1) * 10).selectExpr(*_COLS).coalesce(1)
        (cow.create if i == 0 else cow.append)(spark, path, rows)


def _scanned(monkeypatch):
    """Record how many files survive stats pruning per DML call."""
    seen: list[int] = []
    real = cow.stats_candidate_files

    def spy(m, condition):
        out = real(m, condition)
        seen.append(len(out))
        return out

    monkeypatch.setattr(cow, "stats_candidate_files", spy)
    return seen


@pytest.mark.parametrize(
    "cond", ["k > 12 AND k < 27", "n IS NULL", "k BETWEEN 30 AND 41"]
)
def test_gate_prunes_like_the_api(spark, tmp_path, monkeypatch, cond):
    seen = _scanned(monkeypatch)
    for verb in ("delete", "update"):
        via_sql, via_api = str(tmp_path / f"{verb}_sql"), str(tmp_path / f"{verb}_api")
        _mk(spark, via_sql)
        _mk(spark, via_api)
        seen.clear()
        if verb == "delete":
            got = run_sql(spark, f"DELETE FROM cow.`{via_sql}` WHERE {cond}").first()
            want = cow.delete(spark, via_api, cond)
        else:
            got = run_sql(
                spark, f"UPDATE cow.`{via_sql}` SET n = -1 WHERE {cond}"
            ).first()
            want = cow.update(spark, via_api, cond, {"n": "-1"})
        assert len(seen) == 2, seen
        assert seen[0] == seen[1], (verb, cond, seen)
        assert got["files_rewritten"] == want["files_rewritten"]
        assert got["files_untouched"] == want["files_untouched"]
        assert sorted(map(tuple, cow.read(spark, via_sql).collect())) == sorted(
            map(tuple, cow.read(spark, via_api).collect())
        )
        assert seen[0] < 6, (verb, cond, seen)


@pytest.mark.parametrize(
    "cond, facts",
    [
        ("k between 30 and 41", [("k", ">=", 30), ("k", "<=", 41)]),
        ("k NOT BETWEEN 30 AND 41", []),
        # a non-literal bound yields no fact, and its upper half is a
        # bound, not a conjunct of its own
        ("k BETWEEN n AND 41", []),
        ("k BETWEEN 1 AND n = 2", []),
        ("k BETWEEN n AND 41 AND n = 3", [("n", "=", 3)]),
        ("s = 'a BETWEEN 1 AND 2'", [("s", "=", "a BETWEEN 1 AND 2")]),
        (
            "k BETWEEN 1 AND 5 AND j = 2",
            [("k", ">=", 1), ("k", "<=", 5), ("j", "=", 2)],
        ),
        ("(k BETWEEN 1 AND 5)", [("k", ">=", 1), ("k", "<=", 5)]),
    ],
)
def test_between_conjuncts(cond, facts):
    assert cow._parse_conjuncts(cond) == facts


def test_explain_shows_the_executed_record_without_jobs(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    jobs = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    df = run_sql(
        spark,
        f"EXPLAIN UPDATE cow.`{p}` SET n = n + 1, k = k WHERE k > 1 AND k < 9",
    )
    assert spark.sparkContext._jsc.sc().dagScheduler().nextJobId() == jobs
    txt = df.first()["plan"]
    assert "set: n = n + 1, k = k" in txt
    assert "condition: k > 1 AND k < 9" in txt
    m = run_sql(
        spark,
        f"EXPLAIN MERGE INTO cow.`{p}` AS tgt USING (SELECT 3 AS k) src "
        "ON tgt.k = src.k WHEN MATCHED THEN DELETE",
    ).first()["plan"]
    assert "CowMerge" in m and "keys: k" in m and "using: SELECT 3 AS k" in m
    assert cow.current_snapshot(spark, p) == 6


def test_plain_delete_update_take_no_alias(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    for stmt in (
        f"DELETE FROM cow.`{p}` x WHERE x.k = 1",
        f"UPDATE cow.`{p}` x SET n = 0 WHERE x.k = 1",
    ):
        with pytest.raises(ValueError, match="takes no target alias"):
            run_sql(spark, stmt)
    assert cow.current_snapshot(spark, p) == 6


def test_relative_and_unbalanced_path_targets_write_nothing(spark, tmp_path):
    """A backticked path must be absolute (or a scheme URI): a relative
    one resolves against the working directory. The unbalanced-backtick
    shape once slipped through a ``\\S+`` fallback as the relative path
    ``\\`<root>/c`` and created a table under the working directory."""
    root = str(tmp_path / "root")
    run_sql(
        spark,
        f"CREATE TABLE `{root}/t` USING cow AS SELECT id AS k FROM range(3)",
    )
    with no_cwd_escape(spark):
        with pytest.raises(Exception):
            run_sql(spark, f"CREATE TABLE ``{root}/c` SHALLOW CLONE `{root}/t`")
        for stmt in (
            f"CREATE TABLE `rel/c` SHALLOW CLONE `{root}/t`",
            f"CREATE TABLE cow.`c` SHALLOW CLONE `{root}/t`",
            "CREATE TABLE `rel` USING cow AS SELECT 1 AS k",
            "INSERT INTO `rel/t` VALUES (1)",
            "CONVERT TO COW parquet.`rel`",
        ):
            with pytest.raises(ValueError, match="absolute path"):
                run_sql(spark, stmt)
    assert not os.path.exists(f"{root}/c")


@pytest.mark.parametrize(
    "cond",
    [
        # an escaped quote: the literal is "a' AND k = 3 AND 'b"
        "s = 'a\\' AND k = 3 AND \\'b'",
        # Spark decodes \t, so the text is not the value
        "s = 'a\\tb'",
    ],
)
def test_escaped_literals_are_not_analyzed(cond):
    assert cow._parse_conjuncts(cond) == []


@pytest.mark.parametrize(
    "value, cond",
    [
        ("a\tb", "s = 'a\\tb'"),
        # a string column holding a timestamp-shaped value compares
        # the literal as written: ' ' sorts before 'T'
        ("2024-01-01 06:00:00.000000", "s < '2024-01-01T05:00:00'"),
    ],
)
def test_string_literals_prune_as_spark_compares(spark, tmp_path, value, cond):
    p = str(tmp_path / "t")
    cow.create(spark, p, spark.createDataFrame([(value,)], "s string"))
    got = run_sql(spark, f"DELETE FROM cow.`{p}` WHERE {cond}").first()
    assert got["files_rewritten"] == 1
    assert cow.read(spark, p).count() == 0
