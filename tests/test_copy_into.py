"""COPY INTO (r12): Delta-style idempotent bulk file loading into COW
snapshot tables — loaded-file registry in content-addressed manifest
shards, re-run loads nothing, PATTERN globbing, FORCE reload, schema
cast through the declared table schema, DEFAULT/IDENTITY/GENERATED/
CHECK integration via the engine-append contract, vacuum ref-safety
of registry shards, and the gate verb's strict clause validation
(reference anchor: the loader surface COPY INTO subsumes is
``pipeline.py:160-162``'s per-file INSERT emission)."""

from __future__ import annotations

import glob
import os

import pytest

import data_warehouse_solution_spark.cowtable as cow
from data_warehouse_solution_spark.sql_gate import run_sql


def _write_csvs(tmp_path, name_rows: dict[str, list[tuple[int, str]]]) -> str:
    src = tmp_path / "landing"
    src.mkdir(exist_ok=True)
    for name, rows in name_rows.items():
        p = src / name
        p.parent.mkdir(parents=True, exist_ok=True)
        with open(p, "w") as fh:
            fh.write("k,v\n")
            for k, v in rows:
                fh.write(f"{k},{v}\n")
    return str(src)


def _mk(spark, path, ddl="k long, v string"):
    cow.create(spark, path, spark.createDataFrame([], ddl))
    return path


def test_copy_into_loads_then_skips(spark, tmp_path):
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a"), (2, "b")], "b.csv": [(3, "c")]})
    p = _mk(spark, str(tmp_path / "t"))
    st = cow.copy_into(spark, p, src, "csv")
    assert st["files_loaded"] == 2 and st["rows_loaded"] == 3
    assert cow.read(spark, p).count() == 3
    # the idempotency contract: the SAME statement loads nothing
    st2 = cow.copy_into(spark, p, src, "csv")
    assert st2["files_loaded"] == 0 and st2["rows_loaded"] == 0
    assert st2["files_skipped"] == 2
    assert cow.read(spark, p).count() == 3
    # snapshot id did not advance on the no-op
    assert st2["snapshot_id"] == st["snapshot_id"]


def test_copy_into_race_with_rival_of_same_files(spark, tmp_path, monkeypatch):
    """A rival COPY INTO of the same files commits while this one is
    staging: the loser loads nothing and keeps none of its staged
    files."""
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a"), (2, "b")], "b.csv": [(3, "c")]})
    p = _mk(spark, str(tmp_path / "t"))
    real_stage = cow._stage_files

    def stage_then_rival(*a, **kw):
        entries = real_stage(*a, **kw)
        monkeypatch.setattr(cow, "_stage_files", real_stage)
        assert cow.copy_into(spark, p, src, "csv")["files_loaded"] == 2
        return entries

    monkeypatch.setattr(cow, "_stage_files", stage_then_rival)
    st = cow.copy_into(spark, p, src, "csv")
    assert st["files_loaded"] == 0 and st["files_written"] == 0
    assert sorted(r["k"] for r in cow.read(spark, p).collect()) == [1, 2, 3]
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    data = os.path.join(p, "data")
    on_disk = {
        os.path.relpath(f, data)
        for f in glob.glob(os.path.join(data, "**", "*.parquet"), recursive=True)
    }
    assert on_disk == {f["name"] for f in m["files"]}


def test_copy_into_loads_only_new_files(spark, tmp_path):
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a")]})
    p = _mk(spark, str(tmp_path / "t"))
    cow.copy_into(spark, p, src, "csv")
    _write_csvs(tmp_path, {"b.csv": [(2, "b")], "c.csv": [(3, "c")]})
    st = cow.copy_into(spark, p, src, "csv")
    assert st["files_loaded"] == 2 and st["files_skipped"] == 1
    got = sorted(r["k"] for r in cow.read(spark, p).collect())
    assert got == [1, 2, 3]


def test_copy_into_force_reloads(spark, tmp_path):
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a")]})
    p = _mk(spark, str(tmp_path / "t"))
    cow.copy_into(spark, p, src, "csv")
    st = cow.copy_into(spark, p, src, "csv", force=True)
    assert st["files_loaded"] == 1
    assert cow.read(spark, p).count() == 2  # duplicate rows, by request


def test_copy_into_pattern_glob(spark, tmp_path):
    src = _write_csvs(
        tmp_path,
        {"x/a.csv": [(1, "a")], "y/b.csv": [(2, "b")], "y/c.txt": [(9, "z")]},
    )
    p = _mk(spark, str(tmp_path / "t"))
    st = cow.copy_into(spark, p, src, "csv", pattern="y/*.csv")
    assert st["files_loaded"] == 1
    assert [r["k"] for r in cow.read(spark, p).collect()] == [2]
    # widening the pattern later picks up the not-yet-loaded files only
    st2 = cow.copy_into(spark, p, src, "csv", pattern="*/*.csv")
    assert st2["files_loaded"] == 1
    assert sorted(r["k"] for r in cow.read(spark, p).collect()) == [1, 2]


def test_copy_into_skips_hidden_and_marker_files(spark, tmp_path):
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a")]})
    with open(os.path.join(src, "_SUCCESS"), "w") as fh:
        fh.write("")
    with open(os.path.join(src, ".staging.csv"), "w") as fh:
        fh.write("k,v\n9,z\n")
    p = _mk(spark, str(tmp_path / "t"))
    st = cow.copy_into(spark, p, src, "csv")
    assert st["files_loaded"] == 1
    assert [r["k"] for r in cow.read(spark, p).collect()] == [1]


def test_copy_into_registry_survives_other_dml(spark, tmp_path):
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a"), (2, "b")]})
    p = _mk(spark, str(tmp_path / "t"))
    cow.copy_into(spark, p, src, "csv")
    cow.delete(spark, p, "k = 1")
    cow.append(spark, p, spark.createDataFrame([(9, "x")], "k long, v string"))
    cow.create_tag(spark, p, "v1")
    # the registry carried through DELETE/INSERT/tag commits: the
    # already-loaded file still skips (idempotency survives DML)
    st = cow.copy_into(spark, p, src, "csv")
    assert st["files_loaded"] == 0
    assert sorted(r["k"] for r in cow.read(spark, p).collect()) == [2, 9]
    assert len(cow.copied_files(spark, p)) == 1


def test_copy_into_missing_column_fills_default(spark, tmp_path):
    p = str(tmp_path / "t")
    cow.create(
        spark,
        p,
        spark.createDataFrame([], "k long, v string, prio int"),
        column_defaults={"prio": "7"},
    )
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a")]})  # no prio column
    cow.copy_into(spark, p, src, "csv")
    rows = cow.read(spark, p).collect()
    assert rows[0]["prio"] == 7


def test_copy_into_parquet_roundtrip(spark, tmp_path):
    src = str(tmp_path / "pq")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(
        1
    ).write.parquet(src)
    p = _mk(spark, str(tmp_path / "t"))
    st = cow.copy_into(spark, p, src, "parquet")
    assert st["rows_loaded"] == 2
    assert cow.copy_into(spark, p, src, "parquet")["files_loaded"] == 0


def test_copy_into_check_constraint_refuses_bad_bytes(spark, tmp_path):
    p = str(tmp_path / "t")
    cow.create(spark, p, spark.createDataFrame([], "k long, v string"))
    cow.add_check_constraint(spark, p, "k_pos", "k > 0")
    src = _write_csvs(tmp_path, {"bad.csv": [(-1, "a")]})
    with pytest.raises(cow.CowConstraintViolation):
        cow.copy_into(spark, p, src, "csv")
    # nothing landed, and the file is NOT marked loaded (a fixed
    # file re-loads)
    assert cow.read(spark, p).count() == 0
    assert cow.copied_files(spark, p) == []


def test_copy_into_identity_assigns_engine_values(spark, tmp_path):
    p = str(tmp_path / "t")
    cow.create(
        spark,
        p,
        spark.createDataFrame([], "v string"),
        identity_columns={"id": {"start": 10, "step": 1}},
    )
    src = _write_csvs(tmp_path, {"a.csv": []})
    with open(os.path.join(src, "a.csv"), "w") as fh:
        fh.write("v\nx\ny\n")
    cow.copy_into(spark, p, src, "csv")
    ids = sorted(r["id"] for r in cow.read(spark, p).collect())
    assert ids == [10, 11]


def test_copy_into_vacuum_keeps_registry_shards(spark, tmp_path):
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a")]})
    p = _mk(spark, str(tmp_path / "t"))
    cow.copy_into(spark, p, src, "csv")
    for i in range(3):
        cow.append(
            spark, p, spark.createDataFrame([(100 + i, "x")], "k long, v string")
        )
    cow.vacuum(spark, p, keep_last=1, min_file_age_seconds=0)
    # the registry shard the head references survived vacuum
    assert len(cow.copied_files(spark, p)) == 1
    assert cow.copy_into(spark, p, src, "csv")["files_loaded"] == 0


def test_copy_into_gate_statement(spark, tmp_path):
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a"), (2, "b")]})
    p = _mk(spark, str(tmp_path / "t"))
    out = run_sql(
        spark,
        f"COPY INTO cow.`{p}` FROM '{src}' FILEFORMAT = CSV "
        "FORMAT_OPTIONS ('header' = 'true')",
    ).collect()[0]
    assert out["files_loaded"] == 1 and out["rows_loaded"] == 2
    out2 = run_sql(
        spark, f"COPY INTO cow.`{p}` FROM '{src}' FILEFORMAT = CSV"
    ).collect()[0]
    assert out2["files_loaded"] == 0


def test_copy_into_gate_force_and_pattern(spark, tmp_path):
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a")], "b.csv": [(2, "b")]})
    p = _mk(spark, str(tmp_path / "t"))
    out = run_sql(
        spark,
        f"COPY INTO cow.`{p}` FROM '{src}' FILEFORMAT = CSV "
        "PATTERN = 'a.csv'",
    ).collect()[0]
    assert out["files_loaded"] == 1
    out2 = run_sql(
        spark,
        f"COPY INTO cow.`{p}` FROM '{src}' FILEFORMAT = CSV "
        "PATTERN = 'a.csv' COPY_OPTIONS ('force' = 'true')",
    ).collect()[0]
    assert out2["files_loaded"] == 1
    assert cow.read(spark, p).count() == 2


def test_copy_into_gate_refuses_unrecognized_clause(spark, tmp_path):
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a")]})
    p = _mk(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="unrecognized COPY INTO clause"):
        run_sql(
            spark,
            f"COPY INTO cow.`{p}` FROM '{src}' FILEFORMAT = CSV "
            "VALIDATE ALL",
        )
    with pytest.raises(ValueError, match="FILEFORMAT"):
        run_sql(spark, f"COPY INTO cow.`{p}` FROM '{src}'")
    with pytest.raises(ValueError, match="malformed FORMAT_OPTIONS"):
        run_sql(
            spark,
            f"COPY INTO cow.`{p}` FROM '{src}' FILEFORMAT = CSV "
            "FORMAT_OPTIONS ('header' 'true')",
        )
    with pytest.raises(ValueError, match="unsupported COPY_OPTIONS"):
        run_sql(
            spark,
            f"COPY INTO cow.`{p}` FROM '{src}' FILEFORMAT = CSV "
            "COPY_OPTIONS ('mergeSchema' = 'true')",
        )
    # nothing half-committed by any refusal
    assert cow.read(spark, p).count() == 0
    assert cow.current_snapshot(spark, p) == 1


def test_copy_into_non_cow_target_falls_to_whitelist(spark, tmp_path):
    with pytest.raises(ValueError, match="not in the allowed set"):
        run_sql(
            spark,
            f"COPY INTO not_a_cow_table FROM '{tmp_path}' FILEFORMAT = CSV",
        )


def test_copy_into_rejects_unknown_format(spark, tmp_path):
    p = _mk(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="FILEFORMAT must be one of"):
        cow.copy_into(spark, p, str(tmp_path), "avro")


def test_copy_into_registry_is_o_new_files_metadata(spark, tmp_path):
    """Each COPY commit writes ONE new registry shard holding only the
    newly loaded names and re-references prior shards verbatim — the
    manifest-reuse property extended to the ingestion registry."""
    src1 = _write_csvs(tmp_path, {"a.csv": [(1, "a")]})
    p = _mk(spark, str(tmp_path / "t"))
    cow.copy_into(spark, p, src1, "csv")
    m1 = cow.table_head_meta(spark, p)
    assert len(m1.get("copy_shards") or []) == 1
    _write_csvs(tmp_path, {"b.csv": [(2, "b")]})
    cow.copy_into(spark, p, src1, "csv")
    m2 = cow.table_head_meta(spark, p)
    shards2 = m2.get("copy_shards") or []
    assert len(shards2) == 2
    assert shards2[0] == (m1.get("copy_shards") or [])[0]  # reused by name


def test_copied_files_metadata_table_sql(spark, tmp_path):
    src = _write_csvs(tmp_path, {"a.csv": [(1, "a")], "b.csv": [(2, "b")]})
    p = _mk(spark, str(tmp_path / "t"))
    cow.copy_into(spark, p, src, "csv")
    rows = run_sql(
        spark, f"SELECT path, size FROM cow.`{p}`.copied_files ORDER BY path"
    ).collect()
    assert len(rows) == 2
    assert rows[0]["path"].endswith("a.csv") and rows[0]["size"] > 0
    with pytest.raises(ValueError, match="time travel does not apply"):
        run_sql(
            spark,
            f"SELECT * FROM cow.`{p}`.copied_files VERSION AS OF 1",
        )


def test_copy_into_csv_binds_by_header_name_not_position(spark, tmp_path):
    # ADVICE r12 (high): a landing CSV whose column ORDER differs from
    # the table schema must load by header NAME — the old positional
    # read (explicit schema + enforceSchema) silently swapped values
    # into the wrong columns.
    src = tmp_path / "landing_reordered"
    src.mkdir()
    with open(src / "a.csv", "w") as fh:
        fh.write("v,k\nhello,7\nworld,8\n")  # reversed vs table order
    p = _mk(spark, str(tmp_path / "t"))
    st = cow.copy_into(spark, p, str(src), "csv")
    assert st["rows_loaded"] == 2
    got = {r["k"]: r["v"] for r in cow.read(spark, p).collect()}
    assert got == {7: "hello", 8: "world"}


def test_copy_into_csv_no_matching_header_refuses(spark, tmp_path):
    src = tmp_path / "landing_badheader"
    src.mkdir()
    with open(src / "a.csv", "w") as fh:
        fh.write("x,y\n1,2\n")
    p = _mk(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="no CSV header column matches"):
        cow.copy_into(spark, p, str(src), "csv")


def test_copy_into_pattern_star_stays_in_segment(spark, tmp_path):
    # ADVICE r12 (low): '*' must not cross '/' (Hadoop/Delta glob
    # semantics) — '*.csv' loads only top-level files; '**' recurses.
    src = _write_csvs(
        tmp_path,
        {"top.csv": [(1, "a")], "sub/nested.csv": [(2, "b")]},
    )
    p = _mk(spark, str(tmp_path / "t"))
    st = cow.copy_into(spark, p, src, "csv", pattern="*.csv")
    assert st["files_loaded"] == 1
    assert [r["k"] for r in cow.read(spark, p).collect()] == [1]
    st2 = cow.copy_into(spark, p, src, "csv", pattern="**.csv")
    assert st2["files_loaded"] == 1  # only the nested one remains new
    got = sorted(r["k"] for r in cow.read(spark, p).collect())
    assert got == [1, 2]
