"""Property-fuzz of the SQL gate parser (r11 punch #6): the invariant
is REFUSE-OR-CORRECT, never silent-wrong — the TBLPROPERTIES
silent-drop (r9 ADVICE) is the bug class this hunts. Two properties:

1. CREATE statements composed from well-formed/malformed clause
   variants: the statement succeeds iff every clause is well-formed,
   and on success the committed manifest REFLECTS every clause (a
   clause can never be silently dropped); on refusal no table (or
   half-table) exists at the target.
2. Mutation fuzz over a DML corpus against a canary table: any
   exception leaves the table bit-identical (snapshot id and content
   unchanged) — a refused statement must never half-commit.

Plus a deterministic corpus for the named classes: unterminated
quotes, nested backticks, comment injection, mixed-case verbs, names
colliding with the ``cow.`` reference prefix.

Found by this fuzz (fixed in the same round): ``PARTITIONED BY ()`` /
``CLUSTERED BY () INTO n BUCKETS`` / ``TBLPROPERTIES ()`` previously
created the table with the clause silently dropped.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from .conftest import hyp_examples, no_cwd_escape
from hypothesis import given, settings, strategies as st

from data_warehouse_solution_spark import cowtable as cow
from data_warehouse_solution_spark.sql_gate import filter_sql_commands, run_sql

_PAYLOAD = (
    "AS SELECT id AS k, CAST(id % 3 AS STRING) AS st, "
    "CONCAT('v', id) AS v FROM range(8)"
)

ERR = object()

# (clause text | None, expectation): expectation is the manifest value
# the committed table must carry, or ERR when the gate must refuse
_PART = [
    (None, []),
    ("PARTITIONED BY (st)", ["st"]),
    ("PARTITIONED BY ()", ERR),
    ("PARTITIONED BY ( , )", ERR),
    ("PARTITIONED BY (ghost)", ERR),
]
_BLOOM = [
    (None, []),
    ("BLOOM BY (v)", ["v"]),
    ("BLOOM BY ()", ERR),
    ("BLOOM BY (ghost)", ERR),
]
_BUCKET = [
    (None, None),
    ("CLUSTERED BY (k) INTO 4 BUCKETS", ("k", 4)),
    ("CLUSTERED BY () INTO 4 BUCKETS", ERR),
]
_PROPS = [
    (None, None),
    ("TBLPROPERTIES ('write_mode'='mor')", "mor"),
    ("TBLPROPERTIES (write_mode=mor)", ERR),
    ("TBLPROPERTIES ('bogus'='1')", ERR),
    ("TBLPROPERTIES ()", ERR),
    ("TBLPROPERTIES ('write_mode'='fast')", ERR),
]


@settings(max_examples=hyp_examples(40), deadline=None)
@given(
    part=st.sampled_from(_PART),
    bloom=st.sampled_from(_BLOOM),
    bucket=st.sampled_from(_BUCKET),
    props=st.sampled_from(_PROPS),
)
def test_create_clauses_refuse_or_reflect(spark, part, bloom, bucket, props):
    path = tempfile.mkdtemp(prefix="dws_fuzz_create_")
    shutil.rmtree(path, ignore_errors=True)
    try:
        clauses = [c for c, _ in (part, bloom, bucket, props) if c]
        stmt = " ".join(
            [f"CREATE TABLE `{path}` USING cow", *clauses, _PAYLOAD]
        )
        should_fail = ERR in (part[1], bloom[1], bucket[1], props[1])
        if should_fail:
            with pytest.raises(Exception):
                run_sql(spark, stmt)
            # refusal must leave NOTHING committed at the target
            assert not cow.is_cow_table(spark, path)
        else:
            run_sql(spark, stmt)
            m = cow._load_manifest(spark, path, 1)
            assert (m.get("partition_by") or []) == part[1]
            assert (m.get("bloom_columns") or []) == bloom[1]
            b = m.get("bucket_by")
            if bucket[1] is None:
                assert not b
            else:
                assert (b["columns"], b["buckets"]) == (
                    [bucket[1][0]],
                    bucket[1][1],
                )
            assert m.get("write_mode") == props[1]
            assert run_sql(spark, f"SELECT COUNT(*) AS n FROM cow.`{path}`").first().n == 8
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------- DML fuzz

_DML_BASES = [
    "DELETE FROM `{p}` WHERE v = 'v1'",
    "UPDATE `{p}` SET k = k + 1 WHERE st = '0'",
    "INSERT INTO `{p}` VALUES (99, '9', 'v99')",
    "ALTER TABLE `{p}` ADD CONSTRAINT c{u} CHECK (k >= 0)",
    "TRUNCATE TABLE `{p}`",
    "MERGE INTO `{p}` USING (SELECT 1 AS k, '1' AS st, 'vX' AS v) s "
    "ON k WHEN MATCHED THEN UPDATE SET * "
    "WHEN NOT MATCHED THEN INSERT *",
]


@settings(max_examples=hyp_examples(40), deadline=None)
@given(
    base=st.sampled_from(_DML_BASES),
    ops=st.lists(
        st.tuples(
            st.sampled_from(["ins", "del", "dup", "case"]),
            st.integers(min_value=0, max_value=200),
            st.sampled_from(list("'`\"-;%()armWHERE")),
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_dml_mutations_never_half_commit(spark, base, ops):
    path = tempfile.mkdtemp(prefix="dws_fuzz_dml_")
    shutil.rmtree(path, ignore_errors=True)
    run_sql(
        spark,
        f"CREATE TABLE `{path}` USING cow AS "
        "SELECT id AS k, CAST(id % 3 AS STRING) AS st, "
        "CONCAT('v', id) AS v FROM range(6)",
    )
    try:
        stmt = base.format(p=path, u=uuid.uuid4().hex[:6])
        for kind, pos, ch in ops:
            if not stmt:
                break
            i = pos % len(stmt)
            if kind == "ins":
                stmt = stmt[:i] + ch + stmt[i:]
            elif kind == "del":
                stmt = stmt[:i] + stmt[i + 1 :]
            elif kind == "dup":
                stmt = stmt[:i] + stmt[i] + stmt[i:]
            else:
                stmt = stmt[:i] + stmt[i].swapcase() + stmt[i + 1 :]
        before_snap = cow.current_snapshot(spark, path)
        before_rows = sorted(map(tuple, cow.read(spark, path).collect()))
        with no_cwd_escape(spark):  # a mangled target never writes elsewhere
            try:
                run_sql(spark, stmt)
            except Exception:
                # refused: the table must be BIT-IDENTICAL — no half
                # commit, no staged debris promoted, no snapshot burned
                assert cow.current_snapshot(spark, path) == before_snap
                assert (
                    sorted(map(tuple, cow.read(spark, path).collect()))
                    == before_rows
                )
            else:
                # accepted: the table must still be a consistent
                # snapshot table (manifest loads, content readable)
                cow.read(spark, path).collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)


# --------------------------------------------- deterministic corpus


def test_named_malformed_classes(spark, tmp_path):
    p = str(tmp_path / "corpus_t")
    run_sql(
        spark,
        f"CREATE TABLE `{p}` USING cow AS "
        "SELECT id AS k, CONCAT('v', id) AS v FROM range(5)",
    )
    before = sorted(r.k for r in cow.read(spark, p).collect())

    refusals = [
        # unterminated single quote
        f"DELETE FROM `{p}` WHERE v = 'v1",
        # nested / dangling backticks
        f"DELETE FROM ``{p}`` WHERE v = 'v1'",
        f"DELETE FROM `{p} WHERE v = 'v1'",
        # junk between clauses
        f"CREATE TABLE `{p}x` USING cow SPURIOUS AS SELECT 1 AS k",
        # empty layout clauses (the fuzz-found class)
        f"CREATE TABLE `{p}x` USING cow PARTITIONED BY () AS SELECT 1 AS k",
        f"CREATE TABLE `{p}x` USING cow TBLPROPERTIES () AS SELECT 1 AS k",
    ]
    for stmt in refusals:
        with pytest.raises(Exception):
            run_sql(spark, stmt)
        assert sorted(r.k for r in cow.read(spark, p).collect()) == before, stmt

    # comment injection inside a literal is DATA, not a comment
    n = run_sql(
        spark, f"SELECT COUNT(*) AS n FROM cow.`{p}` WHERE v = '-- DROP'"
    ).first().n
    assert n == 0
    assert sorted(r.k for r in cow.read(spark, p).collect()) == before

    # mixed-case verbs are CORRECT, not refused
    run_sql(spark, f"dElEtE FROM `{p}` WHERE k = 0")
    assert sorted(r.k for r in cow.read(spark, p).collect()) == [1, 2, 3, 4]

    # a registered name colliding with the cow. reference prefix:
    # addressable, resolvable, never confused with cow.`path`
    old = spark.conf.get("spark.dws.cow.catalogDir", None)
    spark.conf.set("spark.dws.cow.catalogDir", str(tmp_path / "_cat"))
    try:
        run_sql(spark, f"CREATE TABLE cow.shadow USING cow LOCATION '{p}'")
        assert run_sql(
            spark, "SELECT COUNT(*) AS n FROM cow.shadow"
        ).first().n == 4
        run_sql(spark, "DROP TABLE cow.shadow")
    finally:
        if old is None:
            spark.conf.unset("spark.dws.cow.catalogDir")
        else:
            spark.conf.set("spark.dws.cow.catalogDir", old)

    # the reference's verb whitelist is case/whitespace-insensitive
    # and never lets a blocked verb through via casing
    stmts = ["  gRaNt ALL ON t TO x", "select 1", "DROP   TABLE t"]
    kept = filter_sql_commands(stmts)
    assert "  gRaNt ALL ON t TO x" not in kept
    assert "select 1" in kept and "DROP   TABLE t" in kept


# ------------------------- r11-late clause families (fuzz extension)

_GEN = [
    (None, None),
    ("GENERATED (g AS (upper(v)))", {"g": "upper(v)"}),
    ("GENERATED ()", ERR),
    ("GENERATED (g AS (upper(ghost)))", ERR),
    ("GENERATED (g upper(v))", ERR),
]
_DFLT = [
    (None, None),
    ("DEFAULTS (v AS ('d'))", {"v": "'d'"}),
    ("DEFAULTS ()", ERR),
    ("DEFAULTS (v AS (k + 1))", ERR),  # column ref: not constant
    ("DEFAULTS (ghost AS ('x'))", ERR),
]
_IDENT = [
    (None, None),
    ("IDENTITY (id START WITH 5 STEP 2)", ("id", 5, 2)),
    ("IDENTITY (id)", ("id", 1, 1)),
    ("IDENTITY ()", ERR),
    ("IDENTITY (id START 5)", ERR),  # malformed: START without WITH
    ("IDENTITY (v)", ERR),  # clobbers a payload column
    ("IDENTITY (id STEP 0)", ERR),
]


@settings(max_examples=hyp_examples(40), deadline=None)
@given(
    gen=st.sampled_from(_GEN),
    dflt=st.sampled_from(_DFLT),
    ident=st.sampled_from(_IDENT),
)
def test_r11_clauses_refuse_or_reflect(spark, gen, dflt, ident):
    """GENERATED / DEFAULTS / IDENTITY composed well-formed x
    malformed: success iff every clause is well-formed; on success the
    manifest reflects each one (never silently dropped) and the data
    obeys it (defaults fill, identity values aligned); on refusal
    nothing exists at the target."""
    path = tempfile.mkdtemp(prefix="dws_fuzz_r11_")
    shutil.rmtree(path, ignore_errors=True)
    try:
        clauses = [c for c, _ in (gen, dflt, ident) if c]
        stmt = " ".join([f"CREATE TABLE `{path}` USING cow", *clauses, _PAYLOAD])
        should_fail = ERR in (gen[1], dflt[1], ident[1])
        if should_fail:
            with pytest.raises(Exception):
                run_sql(spark, stmt)
            assert not cow.is_cow_table(spark, path)
            return
        run_sql(spark, stmt)
        m = cow._load_manifest(spark, path, 1)
        assert (m.get("generated_columns") or None) == gen[1]
        assert (m.get("column_defaults") or None) == dflt[1]
        ident_m = m.get("identity_columns") or None
        if ident[1] is None:
            assert ident_m is None
        else:
            col, start, step = ident[1]
            spec = ident_m[col]
            assert (spec["start"], spec["step"]) == (start, step)
            ids = [
                r[col]
                for r in run_sql(
                    spark, f"SELECT {col} FROM cow.`{path}`"
                ).collect()
            ]
            assert len(set(ids)) == 8
            assert all((i - start) % step == 0 and i >= start for i in ids)
        if dflt[1] is not None:
            # the declared default actually fills on INSERT
            insert_cols = "(k, st)" if gen[1] is None else "(k, st)"
            run_sql(
                spark,
                f"INSERT INTO cow.`{path}` {insert_cols} VALUES (77, 'x')",
            )
            got = run_sql(
                spark, f"SELECT v FROM cow.`{path}` WHERE k = 77"
            ).first()["v"]
            assert got == "d"
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_r11_alter_malformed_classes(spark, tmp_path):
    """Deterministic refusal corpus for the r11 ALTER surface: tag /
    default grammar abuse must refuse (never silently no-op), and a
    refused ALTER leaves the table's snapshot untouched."""
    p = str(tmp_path / "t")
    run_sql(
        spark,
        f"CREATE TABLE `{p}` USING cow {_PAYLOAD}",
    )
    before = cow.current_snapshot(spark, p)
    for stmt in [
        f"ALTER TABLE `{p}` CREATE TAG 'quoted'",  # tag names are identifiers
        f"ALTER TABLE `{p}` CREATE TAG 9starts_with_digit",
        f"ALTER TABLE `{p}` CREATE TAG ok AS OF VERSION 99",
        f"ALTER TABLE `{p}` DROP TAG never_made",
        f"ALTER TABLE `{p}` ALTER COLUMN v SET DEFAULT",  # missing expr
        f"ALTER TABLE `{p}` ALTER COLUMN ghost SET DEFAULT 'x'",
        f"ALTER TABLE `{p}` ALTER COLUMN v DROP DEFAULT",  # none declared
    ]:
        with pytest.raises(Exception):
            run_sql(spark, stmt)
    assert cow.current_snapshot(spark, p) == before
    assert cow.tags(spark, p) == {}


# ------------------------- r12: mutation fuzz over the r11 verb families

_R11_BASES = [
    "ALTER TABLE `{p}` CREATE TAG t{u}",
    "ALTER TABLE `{p}` CREATE OR REPLACE TAG base AS OF VERSION 1",
    "ALTER TABLE `{p}` DROP TAG base",
    "OPTIMIZE `{p}` WHERE st = '1'",
    "OPTIMIZE `{p}` ZORDER BY (k) WHERE st = '0'",
    "ALTER TABLE `{p}` ALTER COLUMN v SET DEFAULT 'dflt'",
    "ALTER TABLE `{p}` ALTER COLUMN v DROP DEFAULT",
    "CREATE TABLE `{c}` SHALLOW CLONE `{p}`",
]


@settings(max_examples=hyp_examples(40), deadline=None)
@given(
    base=st.sampled_from(_R11_BASES),
    ops=st.lists(
        st.tuples(
            st.sampled_from(["ins", "del", "dup", "case"]),
            st.integers(min_value=0, max_value=200),
            st.sampled_from(list("'`\"-;%()armWHERE")),
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_r11_verb_mutations_never_half_commit(spark, base, ops):
    """r12 punch #8: the r11 clause families (TAG / SHALLOW CLONE /
    OPTIMIZE WHERE / DEFAULTS) under the same mutation invariant as
    the core DML corpus — a refused statement leaves the canary
    BIT-IDENTICAL (snapshot id, content, tags, defaults), an accepted
    one leaves a consistent snapshot table."""
    root = tempfile.mkdtemp(prefix="dws_fuzz_r11_")
    path = f"{root}/t"
    try:
        run_sql(
            spark,
            f"CREATE TABLE `{path}` USING cow AS "
            "SELECT id AS k, CAST(id % 3 AS STRING) AS st, "
            "CONCAT('v', id) AS v FROM range(6)",
        )
        run_sql(spark, f"ALTER TABLE `{path}` CREATE TAG base")
        stmt = base.format(p=path, u=uuid.uuid4().hex[:6], c=f"{root}/c")
        for kind, pos, ch in ops:
            if not stmt:
                break
            i = pos % len(stmt)
            if kind == "ins":
                stmt = stmt[:i] + ch + stmt[i:]
            elif kind == "del":
                stmt = stmt[:i] + stmt[i + 1 :]
            elif kind == "dup":
                stmt = stmt[:i] + stmt[i] + stmt[i:]
            else:
                stmt = stmt[:i] + stmt[i].swapcase() + stmt[i + 1 :]
        before_snap = cow.current_snapshot(spark, path)
        before_rows = sorted(map(tuple, cow.read(spark, path).collect()))
        m0 = cow._load_manifest(spark, path, before_snap)
        before_meta = (m0.get("tags"), m0.get("column_defaults"))
        with no_cwd_escape(spark):  # a mangled target never writes elsewhere
            try:
                run_sql(spark, stmt)
            except Exception:
                assert cow.current_snapshot(spark, path) == before_snap
                assert (
                    sorted(map(tuple, cow.read(spark, path).collect()))
                    == before_rows
                )
                m1 = cow._load_manifest(spark, path, before_snap)
                assert (m1.get("tags"), m1.get("column_defaults")) == before_meta
            else:
                cow.read(spark, path).collect()  # still a consistent table
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_identity_defaults_clause_refusals_leave_no_table(spark, tmp_path):
    """Gate-level refusal corpus for the r11 CREATE clause families:
    a malformed IDENTITY / DEFAULTS clause refuses the whole CREATE
    and leaves nothing at the target (the TBLPROPERTIES-()
    silent-drop class, hunted on the new clauses)."""
    refusals = [
        # empty clauses (the fuzz-found silent-drop class)
        "IDENTITY ()",
        "DEFAULTS ()",
        # DEFAULT on an unknown column (IDENTITY on an unknown name
        # is VALID by design — the clause ADDS the identity column)
        "DEFAULTS (ghost AS ('1'))",
        # IDENTITY on an existing non-BIGINT payload column
        "IDENTITY (v)",
        # malformed entries
        "IDENTITY (id2 START WITH x)",
        "DEFAULTS (v 'no-equals')",
        "DEFAULTS (v = 'wrong-grammar')",
        # non-constant default (column reference)
        "DEFAULTS (v AS (k))",
        # analyzes but not convertible (the r12 declaration-time
        # value check: BIGINT column, string constant)
        "DEFAULTS (k AS ('abc'))",
    ]
    for i, clause in enumerate(refusals):
        p = str(tmp_path / f"r{i}")
        stmt = (
            f"CREATE TABLE `{p}` USING cow {clause} AS "
            "SELECT CAST(1 AS BIGINT) AS k, CAST(NULL AS BIGINT) AS id, "
            "'a' AS v"
        )
        with pytest.raises(Exception):
            run_sql(spark, stmt)
        assert not cow.is_cow_table(spark, p), clause


# ------------------------------------------- r12 verb mutation fuzz

_R12_BASES = [
    "COPY INTO `{p}` FROM '{src}' FILEFORMAT = CSV "
    "FORMAT_OPTIONS ('header' = 'true')",
    "COPY INTO `{p}` FROM '{src}' FILEFORMAT = CSV PATTERN = '*.csv' "
    "COPY_OPTIONS ('force' = 'true')",
    "MERGE WITH SCHEMA EVOLUTION INTO `{p}` USING "
    "(SELECT 1 AS k, '1' AS st, 'vX' AS v, 42 AS extra) s ON k "
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    # r13 join-form DML (UPDATE ... FROM / DELETE ... USING)
    "UPDATE `{p}` SET v = s.v FROM (SELECT 1 AS k, 'vX' AS v) s "
    "WHERE t.k = s.k AND s.v IS NOT NULL",
    "DELETE FROM `{p}` t USING (SELECT 2 AS k) d WHERE t.k = d.k",
    # r13 APPLY CHANGES (DLT CDC statement; targets a scratch path so
    # refusals are checked against the canary, accepted runs against
    # the auto-created target)
    "APPLY CHANGES INTO `{src}/ac_t` FROM "
    "(SELECT 1 AS k, 'vX' AS v, 5 AS seq) s KEYS (k) "
    "APPLY AS DELETE WHEN v IS NULL SEQUENCE BY seq STORED AS SCD TYPE 2",
]


@settings(max_examples=hyp_examples(30), deadline=None)
@given(
    base=st.sampled_from(_R12_BASES),
    ops=st.lists(
        st.tuples(
            st.sampled_from(["ins", "del", "dup", "case"]),
            st.integers(min_value=0, max_value=240),
            st.sampled_from(list("'`\"-;%()armWHERE*=")),
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_r12_verb_mutations_never_half_commit(spark, base, ops):
    """COPY INTO / MERGE WITH SCHEMA EVOLUTION under mutation: a
    refused statement leaves the canary table bit-identical (no half
    commit, no snapshot burned, no registry/schema debris); an
    accepted one leaves a consistent, readable snapshot table."""
    import os

    path = tempfile.mkdtemp(prefix="dws_fuzz_r12_")
    src = tempfile.mkdtemp(prefix="dws_fuzz_r12_src_")
    shutil.rmtree(path, ignore_errors=True)
    with open(os.path.join(src, "a.csv"), "w") as fh:
        fh.write("k,v\n77,v77\n")
    run_sql(
        spark,
        f"CREATE TABLE `{path}` USING cow AS "
        "SELECT id AS k, CAST(id % 3 AS STRING) AS st, "
        "CONCAT('v', id) AS v FROM range(6)",
    )
    try:
        stmt = base.format(p=path, src=src)
        for kind, pos, ch in ops:
            if not stmt:
                break
            i = pos % len(stmt)
            if kind == "ins":
                stmt = stmt[:i] + ch + stmt[i:]
            elif kind == "del":
                stmt = stmt[:i] + stmt[i + 1 :]
            elif kind == "dup":
                stmt = stmt[:i] + stmt[i] + stmt[i:]
            else:
                stmt = stmt[:i] + stmt[i].swapcase() + stmt[i + 1 :]
        before_snap = cow.current_snapshot(spark, path)
        before_rows = sorted(
            map(tuple, cow.read(spark, path).select("k", "st", "v").collect())
        )
        with no_cwd_escape(spark):  # a mangled target never writes elsewhere
            try:
                run_sql(spark, stmt)
            except Exception:
                assert cow.current_snapshot(spark, path) == before_snap
                assert (
                    sorted(
                        map(
                            tuple,
                            cow.read(spark, path).select("k", "st", "v").collect(),
                        )
                    )
                    == before_rows
                )
            else:
                cow.read(spark, path).collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)


# ------------------------------------------- r13 view verb mutation fuzz

_VIEW_BASES = [
    "CREATE VIEW {vn} AS SELECT k, v FROM cow.`{p}` WHERE k > 1",
    "CREATE OR REPLACE VIEW {vn} AS SELECT st, COUNT(*) AS n "
    "FROM cow.`{p}` GROUP BY st",
    "DROP VIEW {vn}",
    "SHOW VIEWS LIKE 'dws_fuzz%'",
]


@settings(max_examples=hyp_examples(30), deadline=None)
@given(
    base=st.sampled_from(_VIEW_BASES),
    ops=st.lists(
        st.tuples(
            st.sampled_from(["ins", "del", "dup", "case"]),
            st.integers(min_value=0, max_value=120),
            st.sampled_from(list("'`\"-;%()armWHERE*=")),
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_view_verb_mutations_never_corrupt(spark, base, ops):
    """CREATE/DROP/SHOW VIEW under mutation: a refused statement
    leaves the base table AND the catalog's view set unchanged; an
    accepted one leaves every surviving view still plannable."""
    import os

    from data_warehouse_solution_spark import catalog as _cat

    old = spark.conf.get("spark.dws.cow.catalogDir", None)
    cdir = tempfile.mkdtemp(prefix="dws_fuzz_viewcat_")
    spark.conf.set("spark.dws.cow.catalogDir", cdir)
    path = tempfile.mkdtemp(prefix="dws_fuzz_view_")
    shutil.rmtree(path, ignore_errors=True)
    try:
        run_sql(
            spark,
            f"CREATE TABLE `{path}` USING cow AS "
            "SELECT id AS k, CAST(id % 3 AS STRING) AS st, "
            "CONCAT('v', id) AS v FROM range(6)",
        )
        vn = f"dws_fuzz_v{uuid.uuid4().hex[:6]}"
        run_sql(spark, f"CREATE VIEW {vn}_seed AS SELECT k FROM cow.`{path}`")
        stmt = base.format(vn=vn, p=path)
        for kind, pos, ch in ops:
            if not stmt:
                break
            i = pos % len(stmt)
            if kind == "ins":
                stmt = stmt[:i] + ch + stmt[i:]
            elif kind == "del":
                stmt = stmt[:i] + stmt[i + 1 :]
            elif kind == "dup":
                stmt = stmt[:i] + stmt[i] + stmt[i:]
            else:
                stmt = stmt[:i] + stmt[i].swapcase() + stmt[i + 1 :]
        before_views = _cat.views(spark)
        before_rows = sorted(map(tuple, cow.read(spark, path).collect()))
        try:
            run_sql(spark, stmt)
        except Exception:
            assert _cat.views(spark) == before_views
            assert sorted(map(tuple, cow.read(spark, path).collect())) == before_rows
        # every surviving view must still plan and read
        for name in _cat.views(spark):
            run_sql(spark, f"SELECT * FROM {name}").collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(cdir, ignore_errors=True)
        if old is None:
            spark.conf.unset("spark.dws.cow.catalogDir")
        else:
            spark.conf.set("spark.dws.cow.catalogDir", old)

# --------------------------------------- r14 matview verb mutation fuzz

_MV_BASES = [
    "CREATE MATERIALIZED VIEW {vn} AS SELECT st, COUNT(*) AS n, "
    "SUM(k) AS s FROM cow.`{p}` GROUP BY st",
    "CREATE OR REPLACE MATERIALIZED VIEW {vn}_seed AS SELECT st, "
    "MIN(k) AS lo, MAX(k) AS hi FROM cow.`{p}` GROUP BY st",
    "REFRESH MATERIALIZED VIEW {vn}_seed",
    "DROP MATERIALIZED VIEW {vn}_seed",
    "SHOW MATERIALIZED VIEWS LIKE 'dws_fuzz%'",
]


@settings(max_examples=hyp_examples(30), deadline=None)
@given(
    base=st.sampled_from(_MV_BASES),
    ops=st.lists(
        st.tuples(
            st.sampled_from(["ins", "del", "dup", "case"]),
            st.integers(min_value=0, max_value=120),
            st.sampled_from(list("'`\"-;%()armWHERE*=")),
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_matview_verb_mutations_never_corrupt(spark, base, ops):
    """CREATE/REFRESH/DROP/SHOW MATERIALIZED VIEW under mutation
    (r14): a refused statement leaves the base table, the catalog's
    matview set, and every backing table's snapshot unchanged; an
    accepted one leaves every surviving matview readable AND
    refreshable (the fold must never be corrupted by a parser
    near-miss)."""
    from data_warehouse_solution_spark import catalog as _cat

    old = spark.conf.get("spark.dws.cow.catalogDir", None)
    cdir = tempfile.mkdtemp(prefix="dws_fuzz_mvcat_")
    spark.conf.set("spark.dws.cow.catalogDir", cdir)
    path = tempfile.mkdtemp(prefix="dws_fuzz_mv_")
    shutil.rmtree(path, ignore_errors=True)
    try:
        run_sql(
            spark,
            f"CREATE TABLE `{path}` USING cow AS "
            "SELECT id AS k, CAST(id % 3 AS STRING) AS st, "
            "CONCAT('v', id) AS v FROM range(6)",
        )
        vn = f"dws_fuzz_m{uuid.uuid4().hex[:6]}"
        run_sql(
            spark,
            f"CREATE MATERIALIZED VIEW {vn}_seed AS SELECT st, "
            f"COUNT(*) AS n FROM cow.`{path}` GROUP BY st",
        )
        stmt = base.format(vn=vn, p=path)
        for kind, pos, ch in ops:
            if not stmt:
                break
            i = pos % len(stmt)
            if kind == "ins":
                stmt = stmt[:i] + ch + stmt[i:]
            elif kind == "del":
                stmt = stmt[:i] + stmt[i + 1 :]
            elif kind == "dup":
                stmt = stmt[:i] + stmt[i] + stmt[i:]
            else:
                stmt = stmt[:i] + stmt[i].swapcase() + stmt[i + 1 :]
        before_mvs = {
            nm: (e["table"], cow.current_snapshot(spark, e["table"]))
            for nm, e in _cat.matviews(spark).items()
        }
        before_rows = sorted(map(tuple, cow.read(spark, path).collect()))
        try:
            run_sql(spark, stmt)
        except Exception:
            after_mvs = {
                nm: (e["table"], cow.current_snapshot(spark, e["table"]))
                for nm, e in _cat.matviews(spark).items()
            }
            assert after_mvs == before_mvs
            assert (
                sorted(map(tuple, cow.read(spark, path).collect()))
                == before_rows
            )
        for name in _cat.matviews(spark):
            run_sql(spark, f"SELECT * FROM {name}").collect()
            run_sql(spark, f"REFRESH MATERIALIZED VIEW {name}")
    finally:
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(cdir, ignore_errors=True)
        if old is None:
            spark.conf.unset("spark.dws.cow.catalogDir")
        else:
            spark.conf.set("spark.dws.cow.catalogDir", old)
