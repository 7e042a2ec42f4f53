"""The job budget of COW DML on a CHECK-constrained table.

Pinned here: a statement's result frame is a local relation, so
collecting it launches no Spark job; a CHECK that the staged files'
footer stats prove is never validated by a read; a CHECK they do not
prove still runs the violation-counting scan, whose counts are the
refusal message; ``ADD CONSTRAINT`` asks the manifest stats before
it scans the table; and a DELETE or UPDATE whose stats leave one
candidate file is one job, matched or not, while several candidates,
or one large one, keep the probe; and the job count of a SET * /
INSERT * MERGE from VALUES."""

from __future__ import annotations

import os

import pytest

from data_warehouse_solution_spark import cowtable as cow
from data_warehouse_solution_spark.sql_gate import run_sql


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _mk(spark, path, checks=None):
    """Four bloom-free files, k = 0..39; q = k + 1 (all positive)."""
    for i in range(4):
        rows = (
            spark.range(i * 10, (i + 1) * 10)
            .selectExpr("id AS k", "CAST(id + 1 AS DOUBLE) AS q")
            .coalesce(1)
        )
        if i == 0:
            cow.create(spark, path, rows, check_constraints=checks)
        else:
            cow.append(spark, path, rows)


def _spy_validations(monkeypatch) -> list[dict]:
    calls: list[dict] = []
    real = cow._validate_constraints

    def spy(df, constraints):
        calls.append(dict(constraints or {}))
        return real(df, constraints)

    monkeypatch.setattr(cow, "_validate_constraints", spy)
    return calls


def test_dml_results_collect_without_jobs(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p, {"q_pos": "q > 0"})
    t = f"cow.`{p}`"
    for stmt in (
        f"UPDATE {t} SET q = q + 1 WHERE k BETWEEN 12 AND 15",
        f"DELETE FROM {t} WHERE k BETWEEN 20 AND 22",
        f"INSERT INTO {t} SELECT 20 AS k, 21.0 AS q",
        f"MERGE INTO {t} x USING (SELECT 5 AS k, 9.0 AS q) s ON x.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    ):
        df = run_sql(spark, stmt)
        before = _next_job(spark)
        rows = df.collect()
        assert _next_job(spark) == before, stmt
        assert len(rows) == 1 and rows[0]["snapshot_id"] > 0


def test_proven_check_skips_the_validation_read(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    _mk(spark, p, {"q_pos": "q > 0", "k_set": "k IS NOT NULL AND k >= 0"})
    calls = _spy_validations(monkeypatch)
    run_sql(spark, f"UPDATE cow.`{p}` SET q = q + 1 WHERE k BETWEEN 12 AND 15")
    cow.append(spark, p, spark.createDataFrame([(50, 2.0)], "k long, q double"))
    assert calls == []
    assert cow.read(spark, p).filter("k BETWEEN 12 AND 15").count() == 4


def test_unproven_check_still_refuses_with_counts(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    _mk(spark, p, {"q_pos": "q > 0"})
    calls = _spy_validations(monkeypatch)
    head = cow.current_snapshot(spark, p)
    with pytest.raises(
        cow.CowConstraintViolation,
        match=r"\(name: rows\): \{'q_pos': 2\}",
    ):
        run_sql(spark, f"UPDATE cow.`{p}` SET q = -q WHERE k BETWEEN 12 AND 13")
    assert calls == [{"q_pos": "q > 0"}]
    assert cow.current_snapshot(spark, p) == head


def test_nan_rows_meet_checks_as_spark_evaluates_them(spark, tmp_path):
    """NaN sorts above every double in Spark: it passes ``x > 0`` and
    fails ``x < 10``, whatever the footer bounds say."""
    rows = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, None)], "k long, x double"
    ).coalesce(1)
    lo = str(tmp_path / "lo")
    cow.create(spark, lo, rows, check_constraints={"x_pos": "x > 0"})
    assert cow.read(spark, lo).count() == 3
    hi = str(tmp_path / "hi")
    with pytest.raises(
        cow.CowConstraintViolation,
        match=r"\(name: rows\): \{'x_small': 1\}",
    ):
        cow.create(spark, hi, rows, check_constraints={"x_small": "x < 10"})


def test_add_constraint_proven_from_manifest_stats(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    run_sql(spark, f"DELETE FROM cow.`{p}` WHERE k = 3")
    before = _next_job(spark)
    cow.add_check_constraint(spark, p, "q_pos", "q > 0 AND k BETWEEN 0 AND 39")
    assert _next_job(spark) == before
    with pytest.raises(
        cow.CowConstraintViolation,
        match=r"\(name: rows\): \{'q_big': 28\}",
    ):
        cow.add_check_constraint(spark, p, "q_big", "q > 29")
    assert sorted(cow.table_head_meta(spark, p)["check_constraints"]) == ["q_pos"]


def _entry(stats, nulls, rows=10):
    return {"name": "f.parquet", "rows": rows, "stats": stats, "nulls": nulls}


@pytest.mark.parametrize(
    "expr, entry, proven",
    [
        ("q > 0", _entry({"q": [1.0, 9.0]}, {}), True),
        ("q >= 1", _entry({"q": [1.0, 9.0]}, {"q": 3}), True),
        # a double's NaN is not in its bounds: only > and >= are proven
        ("q < 10", _entry({"q": [1.0, 9.0]}, {}), False),
        ("k < 10 AND k >= 0", _entry({"k": [0, 9]}, {}), True),
        ("k BETWEEN 0 AND 9", _entry({"k": [0, 9]}, {}), True),
        ("k = 4", _entry({"k": [4, 4]}, {}), True),
        ("k > 0", _entry({"k": [0, 9]}, {}), False),
        ("k IS NOT NULL", _entry({"k": [0, 9]}, {}), True),
        ("k IS NOT NULL", _entry({"k": [0, 9]}, {"k": 1}), False),
        # an all-NULL column passes every comparison (NULL passes)
        ("k > 100", _entry({}, {"k": 10}), True),
        # a missing stat or null count proves nothing
        ("k > 0", _entry({}, {}), False),
        ("k > 0", {"name": "f", "rows": 10, "stats": {"k": [1, 9]}}, False),
        ("s >= 'a'", _entry({"s": ["b", "c"]}, {}), True),
        ("s >= 'a\\\\b'", _entry({"s": ["b", "c"]}, {}), False),
        ("s >= 1", _entry({"s": ["b", "c"]}, {}), False),
        ("k > '0'", _entry({"k": [1, 9]}, {}), False),
        # shapes the prover does not read
        ("k > 0 OR k < 0", _entry({"k": [1, 9]}, {}), False),
        ("NOT (k < 0)", _entry({"k": [1, 9]}, {}), False),
        ("k > 0 AND k + 1 > 0", _entry({"k": [1, 9]}, {}), False),
        ("k IN (1, 2)", _entry({"k": [1, 2]}, {}), False),
        ("nope > 0", _entry({"nope": [1, 9]}, {}), False),
    ],
)
def test_checks_hold(expr, entry, proven):
    types = {"k": "bigint", "q": "double", "s": "string"}
    assert cow._checks_hold({"c": expr}, [entry], types) is proven


def test_checks_hold_maps_renamed_columns():
    entry = _entry({"k_phys": [1, 9]}, {})
    types = {"k": "bigint"}
    assert cow._checks_hold({"c": "k > 0"}, [entry], types, {"k": "k_phys"})
    assert not cow._checks_hold({"c": "k > 0"}, [entry], types)


def _jobs(spark, stmt: str) -> int:
    before = _next_job(spark)
    run_sql(spark, stmt).collect()
    return _next_job(spark) - before


def _probe_jobs(spark) -> int:
    """The probe's ``distinct().collect()`` is one job, plus the one AQE
    spends on the shuffle stage it materializes first."""
    return 2 if spark.conf.get("spark.sql.adaptive.enabled") == "true" else 1


def test_one_candidate_dml_is_one_job(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    t = f"cow.`{p}`"
    assert _jobs(spark, f"UPDATE {t} SET q = q + 1 WHERE k BETWEEN 12 AND 15") == 1
    assert _jobs(spark, f"DELETE FROM {t} WHERE k BETWEEN 20 AND 22") == 1
    assert cow.read(spark, p).count() == 37
    assert cow.read(spark, p).filter("k BETWEEN 12 AND 15 AND q = k + 2").count() == 4


def test_several_candidates_keep_the_probe(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    t = f"cow.`{p}`"
    want = _probe_jobs(spark) + 1
    assert _jobs(spark, f"UPDATE {t} SET q = q + 1 WHERE k BETWEEN 8 AND 12") == want
    assert _jobs(spark, f"DELETE FROM {t} WHERE k BETWEEN 18 AND 21") == want
    assert cow.read(spark, p).count() == 36


def test_one_large_candidate_keeps_the_probe(spark, tmp_path, monkeypatch):
    """The unprobed rewrite is for a candidate of at most
    ``_UNPROBED_MAX_ROWS`` rows; each file here has 10."""
    p = str(tmp_path / "t")
    _mk(spark, p)
    t = f"cow.`{p}`"
    monkeypatch.setattr(cow, "_UNPROBED_MAX_ROWS", 9)
    want = _probe_jobs(spark) + 1
    assert _jobs(spark, f"UPDATE {t} SET q = q + 1 WHERE k BETWEEN 12 AND 15") == want
    assert _jobs(spark, f"DELETE FROM {t} WHERE k BETWEEN 20 AND 22") == want
    monkeypatch.setattr(cow, "_UNPROBED_MAX_ROWS", 10)
    assert _jobs(spark, f"UPDATE {t} SET q = q + 1 WHERE k BETWEEN 32 AND 35") == 1
    assert cow.read(spark, p).count() == 37
    assert cow.read(spark, p).filter("k BETWEEN 32 AND 35 AND q = k + 2").count() == 4


@pytest.mark.parametrize("verb", ["delete", "update"])
def test_one_candidate_without_a_match_publishes_nothing(spark, tmp_path, verb):
    """Stats cannot refute ``q * 2 = 1``, so file 1 is the one
    candidate; no row matches, and the statement leaves the table as
    the probe would have: same head, same files, the probe's dict."""
    p = str(tmp_path / "t")
    _mk(spark, p)
    cond = "k BETWEEN 12 AND 15 AND q * 2 = 1"
    head = cow.current_snapshot(spark, p)
    m = cow._load_manifest(spark, p, head)
    before = sorted(os.listdir(p)), sorted(os.listdir(os.path.join(p, "data")))
    stmt = (
        f"DELETE FROM cow.`{p}` WHERE {cond}"
        if verb == "delete"
        else f"UPDATE cow.`{p}` SET q = 0 WHERE {cond}"
    )
    assert _jobs(spark, stmt) == 1
    if verb == "delete":
        got = cow.delete(spark, p, cond)
    else:
        got = cow.update(spark, p, cond, {"q": "0"})
    assert got == cow._unchanged(m)
    assert cow.current_snapshot(spark, p) == head
    assert (sorted(os.listdir(p)), sorted(os.listdir(os.path.join(p, "data")))) == before


def test_star_merge_from_values_jobs(spark, tmp_path):
    """One matched key and one new key: the key envelope, the probe,
    the broadcasts of the rewrite and insert joins and the staging
    write."""
    p = str(tmp_path / "t")
    _mk(spark, p, {"q_pos": "q > 0"})
    stmt = (
        f"MERGE INTO cow.`{p}` x USING (SELECT * FROM VALUES (5, 9.0D), "
        "(45, 46.0D) AS s(k, q)) s ON x.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert _jobs(spark, stmt) == (9 if aqe else 6)
    got = {r["k"]: r["q"] for r in cow.read(spark, p).collect()}
    assert len(got) == 41 and got[5] == 9.0 and got[45] == 46.0 and got[6] == 7.0
