"""Concurrent-writer conflict resolution for predicate DML: a
DELETE/UPDATE that loses the optimistic-commit race REBASES onto the
winner when provably safe (winner touched other files AND its added
files are stat-refuted by our predicate — Delta's conflict rules),
and refuses loudly otherwise. Races are reproduced deterministically
by capturing a stale manifest, letting a 'winner' commit, then
driving the loser's commit path with the stale snapshot."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

import data_warehouse_solution_spark.cowtable as cow


def _mk(spark, path, write_mode=None):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    ).repartition(4)
    cow.create(spark, path, df, write_mode=write_mode)


def _stale_cow_delete(spark, path, m, cond_str):
    cond = F.expr(cond_str)
    affected = cow._affected_files(spark, path, m, cond, cond_str)
    survivors = cow._read_entries(
        spark, path, m, cow._entries_for(m, affected)
    ).filter(~F.coalesce(cond, F.lit(False)))
    return cow._rewrite_commit(
        spark, path, m, affected, survivors, None, "delete",
        rebase_condition=cond_str,
    )


def test_cow_delete_rebases_over_disjoint_append(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    # winner: appends rows whose stats REFUTE the loser's predicate
    cow.append(spark, p, spark.createDataFrame(
        [(1000 + i, 0.5) for i in range(5)], "k long, v double"))
    st = _stale_cow_delete(spark, p, m, "k < 10")
    assert st.get("rebased") is True
    got = {r["k"] for r in cow.read(spark, p).collect()}
    # delete applied AND the winner's rows survived
    assert got == set(range(10, 100)) | {1000, 1001, 1002, 1003, 1004}


def test_cow_between_delete_rebases_over_disjoint_append(spark, tmp_path):
    """BETWEEN is a >= and a <= fact to the stats analyzer, so a winner
    that appended outside the range is refuted and the loser rebases;
    an append inside the range still conflicts."""
    p = str(tmp_path / "t")
    _mk(spark, p)
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    cow.append(spark, p, spark.createDataFrame(
        [(1000 + i, 0.5) for i in range(5)], "k long, v double"))
    st = _stale_cow_delete(spark, p, m, "k BETWEEN 0 AND 9")
    assert st.get("rebased") is True
    got = {r["k"] for r in cow.read(spark, p).collect()}
    assert got == set(range(10, 100)) | {1000, 1001, 1002, 1003, 1004}
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    cow.append(spark, p, spark.createDataFrame([(15, 1.0)], "k long, v double"))
    with pytest.raises(cow.CowConcurrentWrite):
        _stale_cow_delete(spark, p, m, "k between 12 and 20")


def test_cow_delete_conflicts_on_overlapping_append(spark, tmp_path):
    p = str(tmp_path / "t2")
    _mk(spark, p)
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    # winner appends a row the loser's DELETE WOULD have matched
    cow.append(spark, p, spark.createDataFrame([(5, 99.0)], "k long, v double"))
    with pytest.raises(cow.CowConcurrentWrite):
        _stale_cow_delete(spark, p, m, "k < 10")


def test_cow_delete_conflicts_when_winner_touched_same_file(spark, tmp_path):
    p = str(tmp_path / "t3")
    _mk(spark, p)
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    cow.delete(spark, p, "k = 7")  # winner rewrites the file holding k=7
    with pytest.raises(cow.CowConcurrentWrite):
        _stale_cow_delete(spark, p, m, "k < 10")


def test_cow_delete_conflicts_on_concurrent_alter(spark, tmp_path):
    p = str(tmp_path / "t4")
    _mk(spark, p)
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    cow.alter_add_column(spark, p, "extra", "int")
    with pytest.raises(cow.CowConcurrentWrite):
        _stale_cow_delete(spark, p, m, "k < 10")


def test_mor_delete_rebases_over_disjoint_append(spark, tmp_path):
    p = str(tmp_path / "mor")
    _mk(spark, p, write_mode="mor")
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    cow.append(spark, p, spark.createDataFrame(
        [(2000, 1.0)], "k long, v double"))
    st = cow._mor_commit(
        spark, p, m, F.expr("k < 10"), "k < 10", None, "mor_delete"
    )
    assert st.get("rebased") is True and st["files_rewritten"] == 0
    got = {r["k"] for r in cow.read(spark, p).collect()}
    assert got == set(range(10, 100)) | {2000}


def test_mor_delete_conflicts_when_winner_masked_same_file(spark, tmp_path):
    p = str(tmp_path / "mor2")
    _mk(spark, p, write_mode="mor")
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    cow.delete(spark, p, "k = 3")  # winner DV-masks the same file
    with pytest.raises(cow.CowConcurrentWrite):
        cow._mor_commit(
            spark, p, m, F.expr("k < 10"), "k < 10", None, "mor_delete"
        )
    # and the refused statement re-run against the NEW head succeeds
    st = cow.delete(spark, p, "k < 10")
    assert {r["k"] for r in cow.read(spark, p).collect()} == set(range(10, 100))
    assert st["rows_deleted"] == 9  # k=3 was already gone


def _race_merge(spark, monkeypatch, path, stale_m, fn):
    """Drive a merge whose initial manifest load sees ``stale_m`` (the
    loser read before the winner committed); every later load — the
    rebase's head reload — sees the real table."""
    real = cow._load_manifest
    calls = {"n": 0}

    def one_shot_stale(spark_, path_, n_):
        calls["n"] += 1
        if calls["n"] == 1:
            return stale_m
        return real(spark_, path_, n_)

    monkeypatch.setattr(cow, "_load_manifest", one_shot_stale)
    try:
        return fn()
    finally:
        monkeypatch.setattr(cow, "_load_manifest", real)


def test_merge_rebases_over_disjoint_key_append(spark, tmp_path, monkeypatch):
    """The r6 punch-list 'done': a disjoint-key concurrent append and
    a MERGE both commit — the winner's added files are refuted by the
    MERGE source's key envelope, so the rebase is provably safe."""
    p = str(tmp_path / "mr")
    _mk(spark, p)
    stale = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    # winner: appends keys far outside the merge source's [3, 120]
    cow.append(spark, p, spark.createDataFrame(
        [(5000 + i, 0.25) for i in range(4)], "k long, v double"))
    src = spark.createDataFrame(
        [(3, -3.0), (120, -120.0)], "k long, v double"
    )
    st = _race_merge(
        spark, monkeypatch, p, stale,
        lambda: cow.merge_upsert(spark, p, src, ["k"]),
    )
    assert st.get("rebased") is True
    got = {r["k"]: r["v"] for r in cow.read(spark, p).collect()}
    assert got[3] == -3.0 and got[120] == -120.0  # matched + inserted
    assert all(got[5000 + i] == 0.25 for i in range(4))  # winner kept
    assert len(got) == 100 + 4 + 1


def test_merge_conflicts_on_overlapping_key_append(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "mc")
    _mk(spark, p)
    stale = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    # winner appends a key INSIDE the source envelope: the merge's
    # matched/unmatched split is stale — must refuse, never rebase
    cow.append(spark, p, spark.createDataFrame([(60, 9.9)], "k long, v double"))
    src = spark.createDataFrame([(3, -3.0), (120, -120.0)], "k long, v double")
    with pytest.raises(cow.CowConcurrentWrite):
        _race_merge(
            spark, monkeypatch, p, stale,
            lambda: cow.merge_upsert(spark, p, src, ["k"]),
        )


def test_multiclause_merge_rebases_over_disjoint_append(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "mm")
    _mk(spark, p)
    stale = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    cow.append(spark, p, spark.createDataFrame([(7000, 1.0)], "k long, v double"))
    src = spark.createDataFrame([(10, 0.0), (150, 5.0)], "k long, v double")
    st = _race_merge(
        spark, monkeypatch, p, stale,
        lambda: cow.merge(
            spark, p, src, ["k"],
            [
                {"when": "matched", "then": "delete"},
                {"when": "not_matched", "then": "insert", "values": "*"},
            ],
        ),
    )
    assert st.get("rebased") is True
    got = {r["k"] for r in cow.read(spark, p).collect()}
    assert 10 not in got and 150 in got and 7000 in got


def test_merge_conflicts_on_concurrent_alter(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "ma")
    _mk(spark, p)
    stale = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    cow.alter_add_columns(spark, p, "extra int")
    src = spark.createDataFrame([(3, -3.0)], "k long, v double")
    with pytest.raises(cow.CowConcurrentWrite):
        _race_merge(
            spark, monkeypatch, p, stale,
            lambda: cow.merge_upsert(spark, p, src, ["k"]),
        )


# -- refused writes leave no orphaned files ---------------------------------


def _unreferenced(spark, p):
    """Parquet files under data/ and _dv/ that no snapshot references."""
    referenced = set()
    for n in cow._list_snapshots(spark, p):
        for f in cow._load_manifest(spark, p, n)["files"]:
            referenced.add(f"data/{f['name']}")
            if f.get("dv"):
                referenced.add(f"_dv/{f['dv']['name']}")
    on_disk = {
        os.path.relpath(f, p)
        for d in ("data", "_dv")
        for f in glob.glob(os.path.join(p, d, "**", "*.parquet"), recursive=True)
    }
    return on_disk - referenced


def _lost_cow_delete(spark, p, monkeypatch):
    _mk(spark, p)
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    cow.delete(spark, p, "k = 7")  # winner rewrites the file holding k=7
    return lambda: _stale_cow_delete(spark, p, m, "k < 10"), cow.CowConcurrentWrite


def _lost_mor_update(spark, p, monkeypatch):
    _mk(spark, p, write_mode="mor")
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    cow.delete(spark, p, "k = 3")  # winner DV-masks the same file
    return (
        lambda: cow._mor_commit(
            spark, p, m, F.expr("k < 10"), "k < 10", {"v": "v + 1"}, "mor_update"
        ),
        cow.CowConcurrentWrite,
    )


def _append_identity_moved(spark, p, monkeypatch):
    cow.create(
        spark, p, spark.createDataFrame([(0,)], "k long"),
        identity_columns={"id": {"start": 1, "step": 1}},
    )
    real_stage = cow._stage_files

    def stage_then_rival(*a, **kw):
        entries = real_stage(*a, **kw)
        monkeypatch.setattr(cow, "_stage_files", real_stage)
        # the rival allocates ids past the mark our staged ids came from
        cow.append(spark, p, spark.createDataFrame([(2,)], "k long"))
        return entries

    monkeypatch.setattr(cow, "_stage_files", stage_then_rival)
    return (
        lambda: cow.append(spark, p, spark.createDataFrame([(1,)], "k long")),
        cow.CowConcurrentWrite,
    )


def _staging_failure(checks):
    def setup(spark, p, monkeypatch):
        cow.create(
            spark, p, spark.createDataFrame([(1, 1.0)], "k long, v double"),
            check_constraints=checks,
        )

        def footer_fails(*a, **kw):
            raise OSError("injected footer read failure")

        monkeypatch.setattr(cow, "_footer_stats", footer_fails)
        rows = spark.createDataFrame([(2, 2.0), (3, 3.0)], "k long, v double")
        return lambda: cow.append(spark, p, rows.repartition(2)), OSError

    return setup


@pytest.mark.parametrize(
    "setup",
    [
        _lost_cow_delete,
        _lost_mor_update,
        _append_identity_moved,
        _staging_failure(None),
        _staging_failure({"vpos": "v > 0"}),
    ],
    ids=[
        "cow_delete_lost_race",
        "mor_update_lost_race",
        "append_identity_moved",
        "staging_failure_unconstrained",
        "staging_failure_checked",
    ],
)
def test_refused_write_leaves_no_orphans(spark, tmp_path, monkeypatch, setup):
    """Every exit of a write that did not publish deletes what it
    staged: data files under data/ and the deletion vector under _dv/."""
    p = str(tmp_path / "t")
    write, refusal = setup(spark, p, monkeypatch)
    with pytest.raises(refusal):
        write()
    assert not _unreferenced(spark, p)
