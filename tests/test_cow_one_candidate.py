"""COW DELETE/UPDATE when manifest stats leave one candidate file.

That file is rewritten without the probe (``_affected_files``); the
staging write counts the matches. Each case checks the table against
the same statement applied to a plain DataFrame of its rows, and spies
that the probe never ran."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_warehouse_solution_spark import cowtable as cow


@pytest.fixture
def no_probe(monkeypatch):
    calls: list[str] = []
    real = cow._affected_files

    def spy(spark, table_path, m, cond, condition_str, candidates=None):
        calls.append(condition_str)
        return real(spark, table_path, m, cond, condition_str, candidates)

    monkeypatch.setattr(cow, "_affected_files", spy)
    yield
    assert calls == []


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def _deleted(df, cond: str):
    return df.filter(~F.coalesce(F.expr(cond), F.lit(False)))


def _updated(df, cond: str, assignments: dict[str, str]):
    return df.select(
        *[
            F.when(F.expr(cond), F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in df.columns
        ]
    )


def _mk(spark, path, rows, ddl, files=1, **kw):
    """``files`` files of consecutive row slices (k ascending)."""
    step = -(-len(rows) // files)
    for i in range(files):
        df = spark.createDataFrame(rows[i * step : (i + 1) * step], ddl).coalesce(1)
        if i == 0:
            cow.create(spark, path, df, **kw)
        else:
            cow.append(spark, path, df)


_NULLY = [(k, None if k % 3 == 0 else k % 5, f"s{k}") for k in range(30)]
_NULLY_DDL = "k long, n int, s string"


def test_null_predicate_rows_are_kept_and_not_counted(spark, tmp_path, no_probe):
    p = str(tmp_path / "t")
    _mk(spark, p, _NULLY, _NULLY_DDL, files=3)
    src = cow.read(spark, p)
    want = _rows(_deleted(src, "k >= 10 AND k < 20 AND n > 2"))
    st = cow.delete(spark, p, "k >= 10 AND k < 20 AND n > 2")
    assert st["files_rewritten"] == 1 and st["files_untouched"] == 2
    assert _rows(cow.read(spark, p)) == want
    assert cow.read(spark, p).filter("k >= 10 AND k < 20 AND n IS NULL").count() == 3
    # every row the predicate reaches is NULL or FALSE: no match
    head = cow.current_snapshot(spark, p)
    st = cow.update(spark, p, "k >= 10 AND k < 20 AND n * 2 = 7", {"s": "'x'"})
    assert st["files_rewritten"] == 0 and st["snapshot_id"] == head
    assert cow.current_snapshot(spark, p) == head
    src = cow.read(spark, p)
    want = _rows(_updated(src, "k >= 20 AND n < 3", {"s": "upper(s)", "n": "n + 10"}))
    cow.update(spark, p, "k >= 20 AND n < 3", {"s": "upper(s)", "n": "n + 10"})
    assert _rows(cow.read(spark, p)) == want


def test_cow_delete_of_a_file_with_a_deletion_vector(spark, tmp_path, no_probe):
    p = str(tmp_path / "t")
    _mk(spark, p, _NULLY, _NULLY_DDL)
    cow.delete(spark, p, "k < 5", mode="mor")
    (entry,) = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))["files"]
    assert entry.get("dv")
    src = cow.read(spark, p)
    want = _rows(_deleted(src, "k < 8 OR n = 4"))
    st = cow.delete(spark, p, "k < 8 OR n = 4", mode="cow")
    assert st["files_rewritten"] == 1
    assert _rows(cow.read(spark, p)) == want
    (entry,) = cow._load_manifest(spark, p, st["snapshot_id"])["files"]
    assert not entry.get("dv")


def test_partitioned_table(spark, tmp_path, no_probe):
    p = str(tmp_path / "t")
    rows = [(k, k % 5, "a" if k < 20 else "b") for k in range(40)]
    _mk(spark, p, rows, "k long, n int, part string", files=2, partition_by=["part"])
    src = cow.read(spark, p)
    want = _rows(_updated(src, "part = 'b' AND n >= 3", {"n": "n * 100"}))
    st = cow.update(spark, p, "part = 'b' AND n >= 3", {"n": "n * 100"})
    assert st["files_rewritten"] == 1 and st["files_untouched"] == 1
    assert _rows(cow.read(spark, p)) == want
    want = _rows(_deleted(cow.read(spark, p), "part = 'a' AND k > 15"))
    cow.delete(spark, p, "part = 'a' AND k > 15")
    assert _rows(cow.read(spark, p)) == want
    names = [e["name"] for e in cow._load_manifest(
        spark, p, cow.current_snapshot(spark, p))["files"]]
    assert sorted(n.split("/")[0] for n in names) == ["part=a", "part=b"]


def test_renamed_column(spark, tmp_path, no_probe):
    p = str(tmp_path / "t")
    _mk(spark, p, _NULLY, _NULLY_DDL, files=2)
    cow.alter_rename_column(spark, p, "n", "m")
    src = cow.read(spark, p)
    want = _rows(_updated(src, "k >= 15 AND m > 1", {"m": "m - 1"}))
    cow.update(spark, p, "k >= 15 AND m > 1", {"m": "m - 1"})
    assert _rows(cow.read(spark, p)) == want
    want = _rows(_deleted(cow.read(spark, p), "k < 15 AND m = 1"))
    cow.delete(spark, p, "k < 15 AND m = 1")
    assert _rows(cow.read(spark, p)) == want


def test_unproven_check_refuses_with_counts(spark, tmp_path, no_probe):
    p = str(tmp_path / "t")
    rows = [(k, float(k + 1)) for k in range(20)]
    _mk(spark, p, rows, "k long, q double", files=2, check_constraints={"q_pos": "q > 0"})
    head = cow.current_snapshot(spark, p)
    files = sorted(
        e["name"] for e in cow._load_manifest(spark, p, head)["files"]
    )
    with pytest.raises(
        cow.CowConstraintViolation, match=r"\(name: rows\): \{'q_pos': 3\}"
    ):
        cow.update(spark, p, "k BETWEEN 12 AND 14", {"q": "-q"})
    assert cow.current_snapshot(spark, p) == head
    m = cow._load_manifest(spark, p, head)
    assert sorted(e["name"] for e in m["files"]) == files
    assert _rows(cow.read(spark, p)) == sorted(rows, key=repr)


def test_lost_race_rebases_over_a_disjoint_append(spark, tmp_path, monkeypatch, no_probe):
    """A rival appends rows outside the DELETE's range between its
    staging write and its publish: the DELETE rebases onto the
    rival's snapshot, like the probed path does."""
    p = str(tmp_path / "t")
    rows = [(k, float(k)) for k in range(40)]
    _mk(spark, p, rows, "k long, v double", files=4)
    rival = [(1000 + i, 0.5) for i in range(5)]
    real = cow._stage_files
    raced: list[int] = []

    def stage_then_lose(spark_, table_path, df, snap, layout, checks=None):
        out = real(spark_, table_path, df, snap, layout, checks)
        if not raced:
            raced.append(snap)
            cow.append(spark, p, spark.createDataFrame(rival, "k long, v double"))
        return out

    monkeypatch.setattr(cow, "_stage_files", stage_then_lose)
    st = cow.delete(spark, p, "k BETWEEN 10 AND 19")
    assert raced and st.get("rebased") is True
    want = sorted([r for r in rows if not 10 <= r[0] <= 19] + rival, key=repr)
    assert _rows(cow.read(spark, p)) == want
