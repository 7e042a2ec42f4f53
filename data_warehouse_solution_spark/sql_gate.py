"""SQL entry point with the reference's statement-verb whitelist
(operator A7, ``pipeline.py:110-114``).

The reference filtered generated SQL text down to
CREATE/INSERT/DELETE/UPDATE/DROP/ALTER/TRUNCATE/SELECT/VALUES before
shipping it to the warehouse. Our engine's equivalent gate sits in
front of ``spark.sql``: the Spark parser is the real security
boundary, but the verb whitelist preserves the reference's contract
(reject e.g. SET/RESET/EXPLAIN submitted through the load path) and
fails fast with a clear error instead of a parse attempt.

DML/DDL whose target is a copy-on-write snapshot table (``cowtable``)
executes natively here — INSERT/DELETE/UPDATE/ALTER/TRUNCATE become
real snapshot commits and DROP TABLE removes the table — and SELECT
reads them through ``cow.`<path>``` table references with optional
``VERSION AS OF`` / ``TIMESTAMP AS OF`` time travel, so every
whitelisted verb executes against snapshot tables.

Spark's own SQL parser reads the standard DML verbs — DELETE, UPDATE,
MERGE and INSERT (with INSERT OVERWRITE [PARTITION] and REPLACE WHERE)
— once per statement, into the one record (``_dml_statement``) that
both execution and EXPLAIN dispatch on; quoting, escaping and a
``WHERE`` inside a string literal are the parser's business. The
engine-only verbs Spark's grammar does not know (SHALLOW CLONE,
CREATE/DROP TAG, COPY INTO, OPTIMIZE ... WHERE, APPLY CHANGES, the
ALTER/CREATE clause forms, the join-form ``DELETE ... USING`` /
``UPDATE ... FROM`` detection) keep quote/paren-aware regexes, whose
targets (``_TARGET``) never match an unbalanced backtick; a path
target must be absolute or a scheme URI (``_unquote``).
"""

from __future__ import annotations

import json
import re
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .cowtable import local_frame

# pipeline.py:110-114, plus WITH (CTE prologue of a SELECT)
ALLOWED_VERBS = (
    "CREATE",
    "INSERT",
    "DELETE",
    "UPDATE",
    "DROP",
    "ALTER",
    "TRUNCATE",
    "SELECT",
    "VALUES",
    "WITH",
)

_VERB_RE = re.compile(r"^\s*([A-Za-z]+)")


def filter_sql_commands(commands: list[str]) -> list[str]:
    """Keep only whitelisted statements (reference behavior: silently
    drop everything else, ``pipeline.py:110-114``)."""
    out = []
    for cmd in commands:
        m = _VERB_RE.match(cmd or "")
        if m and m.group(1).upper() in ALLOWED_VERBS:
            out.append(cmd)
    return out


# the target of every engine-verb regex: a backticked path (optionally
# ``cow.``-prefixed) or a bare identifier that holds no backtick, so an
# unbalanced backtick never matches and the statement is refused
_TARGET = r"((?:cow\.)?`[^`]+`|[^\s`]+)"

# heads only bind the verb + target; the clause tail is split by the
# quote/paren-aware scanner below, never by regex
_ALTER_RENAME_TABLE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\S+)\s+RENAME\s+TO\s+(\S+)\s*$", re.IGNORECASE
)
_ALTER_ADD_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+ADD\s+COLUMNS?\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+DROP\s+COLUMNS?\s*\(?\s*(\w+)\s*\)?\s*$",
    re.IGNORECASE,
)
_ALTER_RENAME_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+RENAME\s+COLUMN\s+"
    r"`?(\w+)`?\s+TO\s+`?(\w+)`?\s*$",
    re.IGNORECASE,
)
_ALTER_WIDEN_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+ALTER\s+COLUMN\s+"
    r"`?(\w+)`?\s+(?:SET\s+DATA\s+)?TYPE\s+([\w()<>,\s]+?)\s*$",
    re.IGNORECASE,
)
_ALTER_SET_TP_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+SET\s+TBLPROPERTIES\s*\(([^()]*)\)\s*$",
    re.IGNORECASE,
)
_ALTER_ADD_PF_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+ADD\s+PARTITION\s+FIELD\s+`?(\w+)`?\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_PF_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+DROP\s+PARTITION\s+FIELD\s+`?(\w+)`?\s*$",
    re.IGNORECASE,
)
_CLONE_RE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+{_TARGET}\s+SHALLOW\s+CLONE\s+"
    rf"{_TARGET}"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?:(\d+)|'([^']+)'))?\s*$",
    re.IGNORECASE,
)
_ALTER_SET_NOTNULL_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+ALTER\s+COLUMN\s+"
    r"`?(\w+)`?\s+SET\s+NOT\s+NULL\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_NOTNULL_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+ALTER\s+COLUMN\s+"
    r"`?(\w+)`?\s+DROP\s+NOT\s+NULL\s*$",
    re.IGNORECASE,
)
_ALTER_SET_DEFAULT_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+ALTER\s+COLUMN\s+"
    r"`?(\w+)`?\s+SET\s+DEFAULT\s+(.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_DEFAULT_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+ALTER\s+COLUMN\s+"
    r"`?(\w+)`?\s+DROP\s+DEFAULT\s*$",
    re.IGNORECASE,
)
_ALTER_CREATE_TAG_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+CREATE\s+"
    r"(OR\s+REPLACE\s+)?TAG\s+`?([A-Za-z_][A-Za-z0-9_.\-]*)`?"
    r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_TAG_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+DROP\s+TAG\s+"
    r"`?([A-Za-z_][A-Za-z0-9_.\-]*)`?\s*$",
    re.IGNORECASE,
)
_SHOW_TAGS_RE = re.compile(
    rf"^\s*SHOW\s+TAGS\s+(?:ON\s+|FOR\s+)?{_TARGET}\s*$",
    re.IGNORECASE,
)
_ALTER_ADD_CK_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+ADD\s+CONSTRAINT\s+(\w+)"
    r"\s+CHECK\s*\((.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_CK_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_TARGET}\s+DROP\s+CONSTRAINT\s+(\w+)\s*$",
    re.IGNORECASE,
)
# join-form DML heads (``DELETE ... USING`` / ``UPDATE ... FROM``),
# the one DML shape Spark's grammar refuses; every other DML statement
# is read by Spark's parser (``_parse_dml``)
_DELETE_HEAD_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+{_TARGET}\s*(.*)$", re.IGNORECASE | re.DOTALL
)
_UPDATE_HEAD_RE = re.compile(
    rf"^\s*UPDATE\s+{_TARGET}\s+SET\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_CREATE_COW_RE = re.compile(
    rf"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+{_TARGET}\s+USING\s+COW"
    r"(?:\s+PARTITIONED\s+BY\s*\(([^()]*)\))?"
    r"(?:\s+BLOOM\s+BY\s*\(([^()]*)\))?"
    r"(?:\s+CLUSTERED\s+BY\s*\(([^()]*)\)"
    r"(?:\s+SORTED\s+BY\s*\(([^()]*)\))?\s+INTO\s+(\d+)\s+BUCKETS)?"
    r"(?:\s+TBLPROPERTIES\s*\(([^()]*)\))?"
    r"(?:\s+LOCATION\s+'([^']+)')?"
    r"(?:\s+AS\s+(.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_TBLPROP_RE = re.compile(r"'([^']*)'\s*=\s*'([^']*)'")
_CREATE_LIKE_RE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+{_TARGET}"
    rf"\s+LIKE\s+{_TARGET}"
    r"(?:\s+LOCATION\s+'([^']+)')?\s*$",
    re.IGNORECASE,
)
_TRUNCATE_HEAD_RE = re.compile(
    rf"^\s*TRUNCATE\s+TABLE\s+{_TARGET}\s*$", re.IGNORECASE
)
_DROP_HEAD_RE = re.compile(
    rf"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?{_TARGET}\s*$", re.IGNORECASE
)

# -- views (r13): the reference's warehouse is Dremio, whose primary
# modeling surface is the virtual dataset — a named, stored SELECT
# re-planned at every read. CREATE VIEW stores the text in the same
# catalog namespace as tables (collisions refuse); FROM/JOIN name
# resolution expands a view to its (rewritten) SELECT inline.
# TEMPORARY/GLOBAL views stay native Spark (fall through to spark.sql).
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_VIEW_RE = re.compile(
    r"^\s*ALTER\s+VIEW\s+"
    r"([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?"
    r"([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)\s*$",
    re.IGNORECASE,
)
_SHOW_VIEWS_RE = re.compile(
    r"^\s*SHOW\s+VIEWS(?:\s+LIKE\s+'([^']*)')?\s*$", re.IGNORECASE
)

# -- materialized views (r14): Dremio's REFLECTION — a materialized
# aggregate maintained over a virtual dataset, the reference
# warehouse's acceleration primitive. CREATE materializes into a
# backing COW table; REFRESH folds the base's change feed through
# operators/matview.py's algebra (matview_sql module).
_CREATE_MATVIEW_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?"
    r"([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MATVIEW_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+"
    r"([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)\s*$",
    re.IGNORECASE,
)
_DROP_MATVIEW_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?"
    r"([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)\s*$",
    re.IGNORECASE,
)
_SHOW_MATVIEWS_RE = re.compile(
    r"^\s*SHOW\s+MATERIALIZED\s+VIEWS(?:\s+LIKE\s+'([^']*)')?\s*$",
    re.IGNORECASE,
)

# -- EXPLAIN (r14): the observability verb over the gate's rewrite
# machinery — plans, never executes (zero commits, zero jobs)
_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN\s+(?:(ANALYZE|FORMATTED|EXTENDED|COST|CODEGEN)\s+)?(.+)$",
    re.IGNORECASE | re.DOTALL,
)

# -- engine-extension maintenance statements (NOT in the reference's
# whitelist, so filter_sql_commands still drops them — parity kept;
# run_sql accepts them for COW targets only, the Delta/Iceberg
# table-maintenance surface every lake deployment needs)
_OPTIMIZE_RE = re.compile(
    rf"^\s*OPTIMIZE\s+{_TARGET}"
    r"(?:\s+WHERE\s+(.+?))?"  # Delta's partition-scoped compaction
    r"(?:\s+FILES\s+(\d+))?"
    r"(?:\s+(ZORDER|CLUSTER)\s+BY\s*\(([^()]*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VACUUM_RE = re.compile(
    rf"^\s*VACUUM\s+{_TARGET}(?:\s+RETAIN\s+(\d+)\s+SNAPSHOTS?)?"
    r"(\s+DRY\s+RUN)?\s*$",
    re.IGNORECASE,
)
_HISTORY_RE = re.compile(
    rf"^\s*DESCRIBE\s+HISTORY\s+{_TARGET}\s*$", re.IGNORECASE
)
_DETAIL_RE = re.compile(
    rf"^\s*DESCRIBE\s+DETAIL\s+{_TARGET}\s*$", re.IGNORECASE
)
_DESCRIBE_TABLE_RE = re.compile(
    rf"^\s*DESCRIBE\s+(?:TABLE\s+)?{_TARGET}\s*$", re.IGNORECASE
)
_SHOW_CREATE_RE = re.compile(
    rf"^\s*SHOW\s+CREATE\s+TABLE\s+{_TARGET}\s*$", re.IGNORECASE
)
_SHOW_TABLES_RE = re.compile(
    r"^\s*SHOW\s+TABLES(?:\s+LIKE\s+'([^']*)')?\s*$", re.IGNORECASE
)
_SHOW_PARTITIONS_RE = re.compile(
    rf"^\s*SHOW\s+PARTITIONS\s+{_TARGET}\s*$", re.IGNORECASE
)
_REORG_RE = re.compile(
    rf"^\s*REORG\s+(?:TABLE\s+)?{_TARGET}"
    r"\s+APPLY\s*\(\s*PURGE\s*(?:RATIO\s+([0-9.]+))?\s*\)\s*$",
    re.IGNORECASE,
)
# Delta's CONVERT TO DELTA analogue: in-place adoption of a plain
# parquet directory (metadata-only renames + footer stats; see
# cowtable.convert_to_cow). PARTITIONED BY items are 'name' or
# 'name type' — a partition SCHEMA, like Delta's CONVERT.
_CONVERT_RE = re.compile(
    r"^\s*CONVERT\s+TO\s+COW\s+((?:parquet\.)?`[^`]+`|[^\s`]+)"
    r"(?:\s+PARTITIONED\s+BY\s*\(([^()]*)\))?\s*$",
    re.IGNORECASE,
)
# Delta-style RESTORE: roll the table back to an earlier snapshot by
# committing a NEW snapshot (history only moves forward; see
# cowtable.rollback).
_RESTORE_RE = re.compile(
    # Delta's grammar makes TO optional: RESTORE [TABLE] t [TO] ...;
    # VERSION AS OF also takes a quoted tag name (r11 snapshot tags)
    rf"^\s*RESTORE\s+(?:TABLE\s+)?{_TARGET}\s+(?:TO\s+)?"
    r"(?:VERSION\s+AS\s+OF\s+(?:(\d+)|'([^']+)')"
    r"|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*$",
    re.IGNORECASE,
)
# Delta-style COPY INTO (engine extension, COW targets only — the
# reference's filter drops the verb, like MERGE/OPTIMIZE/VACUUM)
_COPY_HEAD_RE = re.compile(
    rf"^\s*COPY\s+INTO\s+{_TARGET}\s+FROM\s+'([^']+)'\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_FF_RE = re.compile(r"\bFILEFORMAT\s*=\s*(\w+)", re.IGNORECASE)
_COPY_PATTERN_RE = re.compile(r"\bPATTERN\s*=\s*'([^']*)'", re.IGNORECASE)
_COPY_OPTS_RE = re.compile(
    r"\b(FORMAT_OPTIONS|COPY_OPTIONS)\s*\(([^)]*)\)", re.IGNORECASE
)
_COPY_KV_RE = re.compile(r"'([^']*)'\s*=\s*'([^']*)'")


def _find_toplevel_all(text: str, keyword: str) -> list[int]:
    """Every index of whole-word ``keyword`` (case-insensitive)
    outside single-quoted literals and outside parentheses —
    ``'x WHERE y'`` and ``(SELECT ... WHERE ...)`` never match."""
    up = text.upper()
    kw = keyword.upper()
    in_quote, depth = False, 0
    out: list[int] = []
    for i, ch in enumerate(text):
        if ch == "'":
            in_quote = not in_quote
        elif not in_quote:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and up.startswith(kw, i):
                before = text[i - 1] if i else " "
                j = i + len(kw)
                after = text[j] if j < len(text) else " "
                if not (before.isalnum() or before == "_") and not (
                    after.isalnum() or after == "_"
                ):
                    out.append(i)
    return out


def _find_toplevel_keyword(text: str, keyword: str) -> int:
    """First match of ``_find_toplevel_all``; -1 if none."""
    matches = _find_toplevel_all(text, keyword)
    return matches[0] if matches else -1


def _strip_outer_parens(s: str) -> str:
    """Remove ONE balanced outer paren pair if it wraps the whole
    string — balance-aware, so ``d decimal(10,2)`` is untouched."""
    s = s.strip()
    if not (s.startswith("(") and s.endswith(")")):
        return s
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0 and i != len(s) - 1:
                return s  # closes before the end: not a single wrapper
    return s[1:-1].strip()


_SCHEME_URI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:/")


def _unquote(target: str) -> str:
    """The path or name a statement's target addresses. DML accepts
    the same ``cow.`<path>``` reference form SELECT uses (plus the bare
    backticked path, the original gate form). A path target must be
    absolute or a scheme URI: a relative one would resolve against the
    process's working directory, so it is refused before any I/O."""
    quoted = target.startswith(("`", "cow.`"))
    if target.startswith("cow.`"):
        target = target[4:]
    if len(target) > 1 and target.startswith("`") and target.endswith("`"):
        target = target[1:-1]
    if (quoted or ("/" in target and "`" not in target)) and not (
        target.startswith("/") or _SCHEME_URI_RE.match(target)
    ):
        raise ValueError(
            f"path target {target!r} must be an absolute path or a "
            "scheme URI (file:/..., s3a://...)"
        )
    return target


def _resolve_target(spark: SparkSession, target: str) -> str:
    """Catalog-aware ``_unquote``: a bare one-/two-level identifier
    registered via ``CREATE TABLE name USING cow LOCATION '/p'``
    resolves to its registered path (r10: the reference's own
    namespace is two-level names, ``pipeline.py:235``); everything
    else — backticked paths, ``cow.`path``` refs, unregistered names
    — unquotes unchanged, so native Spark tables keep falling
    through to ``spark.sql`` untouched."""
    from . import catalog

    t = _unquote(target)
    if catalog.is_name(t):
        p = catalog.resolve(spark, t)
        if p is not None:
            return p
        if catalog.resolve_view(spark, t) is not None:
            raise ValueError(
                f"{t!r} is a VIEW — it cannot be a write/maintenance "
                "target; address its base table(s)"
            )
        if catalog.resolve_matview(spark, t) is not None:
            raise ValueError(
                f"{t!r} is a MATERIALIZED VIEW — it cannot be a write/"
                "maintenance target; REFRESH MATERIALIZED VIEW "
                "maintains it from its base table"
            )
    return t


def _scan_create_clause(
    statement: str, keyword: str
) -> tuple[str, str | None]:
    """Locate ``<keyword> ( ... )`` in a CREATE statement's clause
    region (before the ``AS <payload>`` head, so a query mentioning a
    same-named function is never eaten) and return (statement with
    the clause removed, the inner text) — or (statement, None) when
    absent. One quote-aware balanced scan shared by the
    GENERATED/DEFAULTS/IDENTITY clause extractors, so their paren and
    string-literal handling can never drift apart."""
    pm = re.search(r"\s+AS\s+(SELECT|VALUES|WITH)\b", statement, re.IGNORECASE)
    limit = pm.start() if pm else len(statement)
    gm = re.search(rf"\b{keyword}\s*\(", statement[:limit], re.IGNORECASE)
    if not gm:
        return statement, None
    i = gm.end() - 1
    depth, j, in_str = 0, i, False
    while j < len(statement):
        ch = statement[j]
        if in_str:
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                break
        j += 1
    if depth != 0:
        raise ValueError(f"unbalanced parentheses in {keyword} clause")
    return statement[: gm.start()] + statement[j + 1 :], statement[i + 1 : j]


def _extract_generated_clause(
    statement: str, keyword: str = "GENERATED"
) -> tuple[str, dict[str, str] | None]:
    """Pull ``<keyword> (col AS (expr), ...)`` out of a CREATE
    statement — ``GENERATED`` (r11: generated columns become
    SQL-declarable, which combined with ``ADD PARTITION FIELD`` makes
    Iceberg-style TRANSFORM partitioning a pure-SQL flow) and
    ``DEFAULTS`` (r11: column DEFAULT fill expressions, the
    Delta/Spark 3.4 surface) share one grammar. Expressions may
    contain parens/commas/quotes, so this is a balanced scan, not a
    regex group; the clause must appear BEFORE the ``AS <payload>``
    (the scan stops at the payload head so a query mentioning a
    same-named function is never eaten). Returns the statement with
    the clause removed plus the {col: expr} map, or (statement, None)
    when absent."""
    rest, inner = _scan_create_clause(statement, keyword)
    if inner is None:
        return statement, None
    from .cowtable import _split_commas

    gen: dict[str, str] = {}
    for e in _split_commas(inner):
        em = re.match(
            r"^\s*`?(\w+)`?\s+AS\s*\((.*)\)\s*$", e, re.IGNORECASE | re.DOTALL
        )
        if not em:
            raise ValueError(
                f"malformed {keyword} entry {e.strip()!r} — use "
                "col AS (expr)"
            )
        gen[em.group(1)] = em.group(2).strip()
    if not gen:
        raise ValueError(
            f"empty {keyword} clause — declare columns or remove it"
        )
    return rest, gen


def _extract_identity_clause(
    statement: str,
) -> tuple[str, dict[str, dict] | None]:
    """Pull ``IDENTITY (col [START WITH n] [STEP n], ...)`` out of a
    CREATE statement (r11: Delta's GENERATED ALWAYS AS IDENTITY,
    engine-assigned BIGINT columns). Same positional rule and shared
    balanced scan as the GENERATED/DEFAULTS clauses."""
    rest, inner = _scan_create_clause(statement, "IDENTITY")
    if inner is None:
        return statement, None
    out: dict[str, dict] = {}
    for e in inner.split(","):
        em = re.match(
            r"^\s*`?(\w+)`?"
            r"(?:\s+START\s+WITH\s+(-?\d+))?"
            r"(?:\s+STEP\s+(-?\d+))?\s*$",
            e,
            re.IGNORECASE,
        )
        if not em:
            raise ValueError(
                f"malformed IDENTITY entry {e.strip()!r} — use "
                "col [START WITH n] [STEP n]"
            )
        out[em.group(1)] = {
            "start": int(em.group(2) or 1),
            "step": int(em.group(3) or 1),
        }
    if not out:
        raise ValueError("empty IDENTITY clause — declare columns or remove it")
    return rest, out


def _write_mode_prop(raw: str) -> str:
    """A TBLPROPERTIES body -> its ``'write_mode'`` value (TBLPROPERTIES
    ('write_mode'='mor') is Delta's enableDeletionVectors analogue).
    Refuse-loudly — a silently ignored table property is how data loss
    hides: after removing every well-formed 'k'='v' pair only commas
    and whitespace may remain (an unquoted ``write_mode=mor`` or a
    double-quoted entry refuses), unknown keys refuse, and an empty
    ``TBLPROPERTIES ()`` refuses (an r11 fuzz finding)."""
    props = dict(_TBLPROP_RE.findall(raw))
    residue = _TBLPROP_RE.sub("", raw).replace(",", "").strip()
    if residue:
        raise ValueError(
            f"malformed TBLPROPERTIES near {residue.split()[0]!r} "
            "— entries must be single-quoted 'key'='value' pairs"
        )
    unknown = set(props) - {"write_mode"}
    if unknown:
        raise ValueError(
            f"unsupported TBLPROPERTIES {sorted(unknown)} — "
            "supported: 'write_mode' ('cow' | 'mor')"
        )
    if not props:
        raise ValueError(
            "empty TBLPROPERTIES — declare 'write_mode' or remove the clause"
        )
    return props["write_mode"]


def _stats_df(spark: SparkSession, stats: dict) -> DataFrame:
    # commit stats are longs except MOR's dv_file name (string/None)
    # and append's replayed flag (bool)
    def _t(v) -> str:
        if isinstance(v, bool):
            return "boolean"
        return "long" if isinstance(v, int) else "string"

    return local_frame(
        spark,
        [tuple(stats[k] for k in sorted(stats))],
        ", ".join(f"{k} {_t(stats[k])}" for k in sorted(stats)),
    )


_APPLY_CHANGES_HEAD_RE = re.compile(
    rf"^\s*APPLY\s+CHANGES\s+INTO\s+{_TARGET}\s+FROM\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _apply_changes_sql(spark: SparkSession, statement: str) -> DataFrame | None:
    """``APPLY CHANGES INTO <target> FROM <source> KEYS (k, ...)
    [APPLY AS DELETE WHEN <expr>] SEQUENCE BY <col>
    [STORED AS SCD TYPE 1|2]`` — the Delta Live Tables CDC-ingestion
    statement, executed by the engine's SCD operators
    (``operators/scd.py``): SCD TYPE 1 (default) is the
    last-writer-wins upsert with the out-of-order guard; SCD TYPE 2
    appends full version history. A missing target is created from
    the source's shape (DLT materializes its target the same way).
    Engine extension like MERGE: the reference's statement filter
    drops the verb; ``run_sql`` accepts it for COW targets."""
    from . import cowtable as cow
    from .operators.scd import (
        _refuse_duplicate_sequences,
        apply_changes_scd1,
        apply_changes_scd2,
        scd2_target_schema,
    )

    hm = _APPLY_CHANGES_HEAD_RE.match(statement)
    if not hm:
        return None
    from . import catalog as _cat

    raw_target = _unquote(hm.group(1))
    target = _resolve_target(spark, hm.group(1))
    register_as = None
    if _cat.is_name(raw_target) and target == raw_target:
        # unregistered bare NAME: materialize under the catalog dir
        # and register it (the CREATE TABLE <name> USING cow
        # convention) — never create a table at a relative path
        register_as = _cat.normalize_name(raw_target)
        target = f"{_cat.catalog_dir(spark)}/tables/{register_as}"
    rest = hm.group(2)
    k_i = _find_toplevel_keyword(rest, "KEYS")
    if k_i < 0:
        raise ValueError("APPLY CHANGES requires KEYS (col, ...)")
    payload = rest[:k_i].strip()
    after = rest[k_i + len("KEYS") :].lstrip()
    if not after.startswith("("):
        raise ValueError("APPLY CHANGES KEYS requires a parenthesized column list")
    close = after.index(")") if ")" in after else -1
    if close < 0:
        raise ValueError("unbalanced parens in APPLY CHANGES KEYS")
    keys = [c.strip().strip("`") for c in after[1:close].split(",") if c.strip()]
    if not keys:
        raise ValueError("APPLY CHANGES KEYS list is empty")
    after = after[close + 1 :]
    s_i = _find_toplevel_keyword(after, "SEQUENCE")
    if s_i < 0:
        raise ValueError("APPLY CHANGES requires SEQUENCE BY <col>")
    between, seq_part = after[:s_i].strip(), after[s_i + len("SEQUENCE") :].strip()
    delete_expr = None
    if between:
        dm = re.match(
            r"^APPLY\s+AS\s+DELETE\s+WHEN\s+(.+)$",
            between,
            re.IGNORECASE | re.DOTALL,
        )
        if not dm:
            raise ValueError(
                f"malformed APPLY CHANGES clause between KEYS and "
                f"SEQUENCE BY: {between!r}"
            )
        delete_expr = dm.group(1).strip()
    sm = re.match(
        r"^BY\s+`?(\w+)`?\s*(?:STORED\s+AS\s+SCD\s+TYPE\s+([12]))?\s*$",
        seq_part,
        re.IGNORECASE,
    )
    if not sm:
        raise ValueError(
            f"malformed APPLY CHANGES SEQUENCE BY tail: {seq_part!r}"
        )
    sequence_by, scd_type = sm.group(1), int(sm.group(2) or 1)
    # source: a table/view name or a parenthesized subquery, with an
    # optional alias — exactly a FROM item, so Spark's parser reads it
    src = run_sql(spark, f"SELECT * FROM {payload}")
    missing = [k for k in keys if k not in src.columns]
    if missing or sequence_by not in src.columns:
        raise ValueError(
            f"APPLY CHANGES source lacks column(s) "
            f"{missing + ([sequence_by] if sequence_by not in src.columns else [])}"
        )
    created = False
    if not cow.is_cow_table(spark, target):
        # data-level refusals detectable from the source alone run
        # BEFORE any target creation/registration: a refused FIRST
        # batch must not leave an empty created-and-registered table
        # behind (r13 ADVICE). Only the about-to-create path needs the
        # up-front job — on an existing target the SCD operators
        # refuse before any commit themselves (r14: SCD2 folds the
        # check into its firsts aggregation at zero extra jobs).
        _refuse_duplicate_sequences(src, keys, sequence_by)
        # DLT materializes its target — create the frame shape from
        # the source (SCD2 gets the version-history columns)
        init = (
            scd2_target_schema(src, keys, sequence_by)
            if scd_type == 2
            else src
        ).limit(0)
        cow.create(spark, target, init)
        created = True
    if register_as is not None and _cat.resolve(spark, register_as) is None:
        _cat.register(spark, register_as, target)
    try:
        if scd_type == 2:
            st = apply_changes_scd2(
                spark, target, src, keys, sequence_by, delete_expr=delete_expr
            )
            flat = {
                "snapshot_id": st["appended"]["snapshot_id"],
                "files_rewritten": st["closed"].get("files_rewritten", 0),
                "files_written": st["appended"].get("files_written", 0),
            }
            return _stats_df(spark, flat)
        return _stats_df(
            spark,
            apply_changes_scd1(
                spark, target, src, keys, sequence_by, delete_expr=delete_expr
            ),
        )
    except Exception:
        if created:
            # backstop for refusals the source-only checks can't see
            # (SCD operators refuse before committing, so the target
            # this statement just created is still empty): remove it
            # and its registration instead of orphaning them
            cow.drop(spark, target)
            if register_as is not None:
                _cat.unregister(spark, register_as, if_exists=True)
        raise


# -- the standard DML verbs: DELETE / UPDATE / MERGE / INSERT (with
# INSERT OVERWRITE [PARTITION] and INSERT INTO ... REPLACE WHERE) are
# read by Spark's own SQL parser, once per statement, into one
# _DmlStatement that both execution (run_sql) and EXPLAIN dispatch on.
# Conditions, expressions and payload queries keep the statement's OWN
# text (the parse tree's source spans), never an Expression.sql()
# re-rendering: cowtable's stats pruning reads the condition text, and
# Spark's ``((k > 1) AND (k < 9))`` rendering would stop it pruning
# (``k BETWEEN 1 AND 9`` as written prunes; the rendered
# ``between(k, 1, 9)`` would not).


@dataclass
class _DmlStatement:
    """One parsed DML statement on a COW target."""

    kind: str  # delete | update | merge | insert | overwrite | replace_where
    target: str  # resolved table path
    # DELETE/UPDATE/REPLACE WHERE condition; MERGE: the ON conjuncts
    # that are not merge keys (as written, statement aliases)
    where: str | None = None
    assignments: dict[str, str] | None = None  # UPDATE SET col = expr
    payload: str | None = None  # INSERT query; MERGE source as a query
    columns: list[str] | None = None  # INSERT (col, ...)
    partition: dict[str, str | None] | None = None  # OVERWRITE PARTITION
    t_alias: str = "t"  # MERGE target / source aliases as written
    s_alias: str = "s"
    keys: list[str] = field(default_factory=list)  # MERGE ON equalities
    clauses: list[dict] | None = None  # MERGE, cowtable.merge's shape
    evolve: bool = False  # MERGE WITH SCHEMA EVOLUTION


# a bare path target (``INSERT INTO /data/t ...``), which Spark's
# grammar refuses, is backticked before parsing
_BARE_PATH_TARGET_RE = re.compile(
    r"^(\s*(?:INSERT\s+(?:INTO|OVERWRITE)(?:\s+TABLE)?|DELETE\s+FROM|UPDATE"
    r"|MERGE\s+(?:WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO)\s+)"
    r"(/[^\s`]*|[A-Za-z][A-Za-z0-9+.\-]*:/[^\s`]*)",
    re.IGNORECASE,
)
_MERGE_THEN = {
    "DeleteAction": "delete",
    "UpdateAction": "update",
    "UpdateStarAction": "update",
    "InsertAction": "insert",
    "InsertStarAction": "insert",
}


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _span(node) -> tuple[int, int] | None:
    """(start, stop) of ``node``'s whole subtree in the statement text:
    the min/max over every origin in it. A node's own origin may start
    mid-expression (``k IS NULL``'s starts at ``IS``, a LIMIT query's
    at ``ORDER BY``); its children cover the rest."""
    o = node.origin()
    lo, hi = o.startIndex(), o.stopIndex()
    span = (lo.get(), hi.get()) if lo.isDefined() and hi.isDefined() else None
    kids = node.children()
    for i in range(kids.size()):
        s = _span(kids.apply(i))
        if s is not None:
            span = s if span is None else (min(span[0], s[0]), max(span[1], s[1]))
    return span


def _name_parts(attr) -> list[str]:
    return attr.nameParts().mkString("\x1f").split("\x1f")


def _unalias(node) -> tuple[object, str | None]:
    if _cls(node) == "SubqueryAlias":
        return node.child(), node.alias()
    return node, None


def _conjuncts(expr) -> list:
    if _cls(expr) == "And":
        return _conjuncts(expr.left()) + _conjuncts(expr.right())
    return [expr]


def _default_target_alias(spark: SparkSession, raw_target: str) -> str:
    """Implicit alias for a MERGE / join-form DML target: a simple
    catalog NAME doubles as its own qualifier (the DuckDB/Postgres
    idiom ``UPDATE t ... WHERE t.k = s.k``); path refs fall back to
    ``t``."""
    from . import catalog as _cat

    t = _unquote(raw_target)
    if _cat.is_name(t) and "." not in t:
        return t
    return "t"


def _rewrite_aliases(expr: str, t_alias: str, s_alias: str) -> str:
    """Map the statement's aliases onto the engine's fixed ``t``/``s``
    in one MERGE condition or expression. Word-boundary replace outside
    single-quoted literals (an alias inside a string stays verbatim)."""
    out, i, in_quote = [], 0, False
    while i < len(expr):
        ch = expr[i]
        if ch == "'":
            in_quote = not in_quote
        elif not in_quote:
            before_ok = i == 0 or not (expr[i - 1].isalnum() or expr[i - 1] in "_`.")
            for alias, fixed in ((t_alias, "t"), (s_alias, "s")):
                mm = re.match(rf"{re.escape(alias)}\s*\.", expr[i:], re.IGNORECASE)
                if mm and before_ok:
                    out.append(f"{fixed}.")
                    i += mm.end()
                    break
            else:
                out.append(ch)
                i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _assignments(assigns, text, t_alias=None, s_alias=None) -> dict[str, str]:
    """``SET`` / MERGE ``INSERT (...) VALUES (...)`` assignments ->
    {target column: expression text}. With MERGE aliases, a key's
    target-alias qualifier (or the engine-fixed ``t``, unless ``t`` is
    the source alias) is stripped, a source-qualified key is refused,
    and the expression is rewritten onto ``t``/``s``."""
    out = {}
    for i in range(assigns.size()):
        a = assigns.apply(i)
        parts = _name_parts(a.key())
        expr = text(a.value())
        if t_alias is not None:
            q = parts[0].lower() if len(parts) == 2 else None
            if q == t_alias.lower() or (q == "t" and s_alias.lower() != "t"):
                parts = parts[1:]
            elif q == s_alias.lower():
                raise ValueError(
                    f"assignment key {'.'.join(parts)!r} is qualified with "
                    f"the source alias {s_alias!r}; SET/VALUES keys must "
                    "name TARGET columns"
                )
            expr = _rewrite_aliases(expr, t_alias, s_alias)
        out[".".join(parts)] = expr
    return out


def _parse_dml(spark: SparkSession, statement: str) -> _DmlStatement | None:
    """Read one DELETE / UPDATE / MERGE / INSERT statement with Spark's
    parser (``parsePlan``: no analysis, no jobs). None when the plan is
    none of those or its target is not a COW table (the caller falls
    through to ``spark.sql``); a statement the parser rejects raises
    ValueError before any I/O."""
    from pyspark.errors import ParseException

    from . import cowtable as cow

    statement = _BARE_PATH_TARGET_RE.sub(r"\1`\2`", statement, count=1)
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(statement)
    except ParseException as e:
        msg = next((ln.strip() for ln in str(e).splitlines() if ln.strip()), "")
        raise ValueError(f"statement does not parse: {msg}") from None

    def text(node) -> str | None:
        s = _span(node)
        return None if s is None else statement[s[0] : s[1] + 1]

    kind = _cls(plan)
    if kind == "MergeIntoTable":
        rel, alias = _unalias(plan.targetTable())
    elif kind in (
        "DeleteFromTable", "UpdateTable", "InsertIntoStatement", "OverwriteByExpression"
    ):
        rel, alias = _unalias(plan.table())
    else:
        return None
    if _cls(rel) != "UnresolvedRelation":
        return None
    raw = text(rel)
    target = _resolve_target(spark, raw)
    if not cow.is_cow_table(spark, target):
        return None
    if kind == "MergeIntoTable":
        t_alias = alias or _default_target_alias(spark, raw)
        return _merge_statement(plan, text, target, t_alias)
    if kind in ("DeleteFromTable", "UpdateTable"):
        if alias is not None:
            # `DELETE FROM t WHERE` parses as an all-rows delete of t
            # aliased WHERE — a plain DELETE/UPDATE takes no alias
            if alias.upper() == "WHERE":
                raise ValueError("WHERE clause present but empty")
            verb = "DELETE" if kind == "DeleteFromTable" else "UPDATE"
            raise ValueError(
                f"{verb} takes no target alias (got {alias!r}); name columns "
                "unqualified, or use the DELETE ... USING / UPDATE ... FROM "
                "join form"
            )
        cond = plan.condition()
        if kind == "DeleteFromTable":
            # no WHERE parses as the TRUE literal
            true = _cls(cond) == "Literal" and cond.toString() == "true"
            return _DmlStatement("delete", target, where=None if true else text(cond))
        return _DmlStatement(
            "update",
            target,
            where=text(cond.get()) if cond.isDefined() else None,
            assignments=_assignments(plan.assignments(), text),
        )
    payload = text(plan.query())
    if kind == "OverwriteByExpression":  # INSERT INTO t REPLACE WHERE c <query>
        return _DmlStatement(
            "replace_where", target, where=text(plan.deleteExpr()), payload=payload
        )
    if plan.byName() or plan.ifPartitionNotExists():
        raise ValueError(
            "INSERT ... BY NAME / IF NOT EXISTS is not supported on COW tables"
        )
    partition: dict[str, str | None] = {}
    it = plan.partitionSpec().iterator()
    while it.hasNext():
        kv = it.next()
        v = kv._2()
        partition[kv._1()] = v.get() if v.isDefined() else None
    cols = plan.userSpecifiedCols()
    columns = cols.mkString("\x1f").split("\x1f") if cols.nonEmpty() else None
    if plan.overwrite():
        if columns:
            raise ValueError("INSERT OVERWRITE takes no column list")
        return _DmlStatement(
            "overwrite", target, payload=payload, partition=partition or None
        )
    if partition:
        raise ValueError(
            "INSERT INTO ... PARTITION is not supported — use INSERT "
            "OVERWRITE ... PARTITION"
        )
    return _DmlStatement("insert", target, payload=payload, columns=columns)


def _merge_statement(plan, text, target: str, t_alias: str) -> _DmlStatement:
    """The MERGE half of ``_parse_dml``. The source becomes a query
    (a table/view name reads as ``SELECT * FROM name``); ON splits into
    merge keys — same-name column equalities between target and source
    (or both unqualified) — and the residual conjuncts; WHEN clauses
    become ``cowtable.merge`` dicts over the engine's fixed ``t``/``s``
    aliases."""
    src, s_alias = _unalias(plan.sourceTable())
    if _cls(src) == "UnresolvedRelation":
        payload = f"SELECT * FROM {text(src)}"
        s_alias = s_alias or src.multipartIdentifier().last()
    else:
        payload = text(src)
        s_alias = s_alias or "s"
    tq, sq = (t_alias.lower(), "t"), (s_alias.lower(), "s")
    keys, residual = [], []
    for c in _conjuncts(plan.mergeCondition()):
        if _cls(c) == "EqualTo":
            lhs, rhs = c.left(), c.right()
            if _cls(lhs) == _cls(rhs) == "UnresolvedAttribute":
                lp, rp = _name_parts(lhs), _name_parts(rhs)
                if lp[-1] == rp[-1] and len(lp) <= 2 and len(rp) <= 2:
                    q1 = lp[0].lower() if len(lp) == 2 else ""
                    q2 = rp[0].lower() if len(rp) == 2 else ""
                    if (not q1 and not q2) or (q1 in tq and q2 in sq) or (
                        q1 in sq and q2 in tq
                    ):
                        keys.append(lp[-1])
                        continue
        residual.append(text(c))
    clauses = []
    for when, actions in (
        ("matched", plan.matchedActions()),
        ("not_matched", plan.notMatchedActions()),
        ("not_matched_by_source", plan.notMatchedBySourceActions()),
    ):
        for i in range(actions.size()):
            a = actions.apply(i)
            act = _cls(a)
            if act not in _MERGE_THEN:
                raise ValueError(f"unsupported MERGE clause action: {act}")
            clause: dict = {"when": when, "then": _MERGE_THEN[act]}
            cond = a.condition()
            if cond.isDefined():
                clause["and"] = _rewrite_aliases(text(cond.get()), t_alias, s_alias)
            slot = "set" if clause["then"] == "update" else "values"
            if act.endswith("StarAction"):
                clause[slot] = "*"
            elif act != "DeleteAction":
                clause[slot] = _assignments(a.assignments(), text, t_alias, s_alias)
            clauses.append(clause)
    return _DmlStatement(
        "merge",
        target,
        where="(" + ") AND (".join(residual) + ")" if residual else None,
        payload=payload,
        t_alias=t_alias,
        s_alias=s_alias,
        keys=keys,
        clauses=clauses,
        evolve=bool(plan.withSchemaEvolution()),
    )


def _join_form_as_merge(spark: SparkSession, verb: str, statement: str) -> str | None:
    """``DELETE FROM t [alias] USING src WHERE ...`` / ``UPDATE t SET
    ... FROM src WHERE ...`` (r13) — the DuckDB/Postgres join-form DML
    idiom, which Spark's grammar refuses — restated as the MERGE it
    means: ``MERGE INTO t alias USING src ON <where> WHEN MATCHED THEN
    DELETE | UPDATE SET ...``. The same-name column equalities in WHERE
    become the merge keys (stat-pruned affected set, same ambiguity
    guard — a target row matching TWO source rows refuses, which is
    STRICTER than Postgres and safer), every other conjunct the matched
    clause's condition; join-form DML never inserts. None when the
    statement is not the join form on a COW target."""
    from . import cowtable as cow

    m = (_DELETE_HEAD_RE if verb == "DELETE" else _UPDATE_HEAD_RE).match(statement)
    if not m:
        return None
    kw = "USING" if verb == "DELETE" else "FROM"
    j = _find_toplevel_keyword(m.group(2), kw)
    if j < 0 or not cow.is_cow_table(spark, _resolve_target(spark, m.group(1))):
        return None
    head, rest = m.group(2)[:j].strip(), m.group(2)[j + len(kw) :]
    if verb == "DELETE":
        alias, action = head or _default_target_alias(spark, m.group(1)), "DELETE"
    else:
        alias, action = _default_target_alias(spark, m.group(1)), f"UPDATE SET {head}"
    w = _find_toplevel_keyword(rest, "WHERE")
    if w < 0:
        raise ValueError(f"{verb} ... {kw} requires a WHERE join condition")
    cond = rest[w + len("WHERE") :].strip()
    if not cond:
        raise ValueError("WHERE clause present but empty")
    return (
        f"MERGE INTO {m.group(1)} {alias} USING {rest[:w].strip()} ON {cond}\n"
        f"WHEN MATCHED THEN {action}"
    )


def _dml_statement(
    spark: SparkSession, verb: str, statement: str
) -> _DmlStatement | None:
    """The one parsed record behind a DELETE / UPDATE / MERGE / INSERT
    on a COW target (None: not a COW target, fall through). Join-form
    DML arrives as its MERGE, with the non-key WHERE conjuncts folded
    into the matched clause; a plain MERGE's ON must be all keys."""
    merge = (
        _join_form_as_merge(spark, verb, statement)
        if verb in ("DELETE", "UPDATE")
        else None
    )
    d = _parse_dml(spark, merge or statement)
    if d is None or d.kind != "merge":
        return d
    if merge is None:
        if d.where is not None or not d.keys:
            raise ValueError(
                "MERGE ON must be a conjunction of same-name column "
                f"equalities; got {d.where or 'no key equality'!r}"
            )
        return d
    if not d.keys:
        raise ValueError(
            "join-form DML requires at least one same-name column "
            f"equality between target and source in WHERE; got {d.where!r}"
        )
    if d.where is not None:
        d.clauses[0]["and"] = _rewrite_aliases(d.where, d.t_alias, d.s_alias)
        d.where = None
    return d


def _run_dml(spark: SparkSession, d: _DmlStatement) -> DataFrame:
    """Execute a parsed COW DML statement as one snapshot commit and
    return its commit stats as a one-row DataFrame (the Delta-style
    DML-metrics result)."""
    from pyspark.sql.types import StructType

    from . import cowtable as cow

    if d.kind == "delete":
        return _stats_df(spark, cow.delete(spark, d.target, d.where or "true"))
    if d.kind == "update":
        return _stats_df(
            spark, cow.update(spark, d.target, d.where or "true", d.assignments)
        )
    # the payload / source query (VALUES ... / SELECT ... / WITH ...)
    # is itself a whitelisted statement: it runs through the gate, so
    # cow.`...` refs, names and views all resolve
    rows = run_sql(spark, d.payload)
    if d.kind == "merge":
        return _stats_df(
            spark,
            cow.merge(
                spark, d.target, rows, d.keys, d.clauses, schema_evolution=d.evolve
            ),
        )
    head = cow.table_head_meta(spark, d.target)
    schema = StructType.fromJson(json.loads(head["schema"]))
    if d.kind == "replace_where":
        # Delta's overwrite-by-filter: one commit deletes the matching
        # rows and appends the payload
        if len(schema.fields) != len(rows.columns):
            raise ValueError(
                f"REPLACE WHERE arity mismatch: {len(rows.columns)} values for "
                f"{len(schema.fields)} columns"
            )
        return _stats_df(
            spark,
            cow.replace_where(
                spark, d.target, d.where, rows.toDF(*[f.name for f in schema.fields])
            ),
        )
    engine_cols = set(head.get("generated_columns") or {}) | set(
        head.get("identity_columns") or {}
    )
    if d.kind == "overwrite":
        return _insert_overwrite(spark, d, rows, head, schema, engine_cols)
    # INSERT: map the payload's columns POSITIONALLY onto the explicit
    # column list or the table schema (standard INSERT semantics), then
    # commit new files only
    names = d.columns or [f.name for f in schema.fields]
    if not d.columns:
        # generated and identity columns are engine-assigned: an
        # implicit column list never targets them (the engine
        # recomputes every generated value before staging anyway)
        if engine_cols and len(rows.columns) == len(names) - len(engine_cols):
            names = [n for n in names if n not in engine_cols]
        elif len(rows.columns) < len(names):
            # Spark 3.4 DEFAULT rule (r11): a short VALUES row may omit
            # TRAILING columns when every omitted one has a declared
            # DEFAULT (generated columns drop out first)
            dflt = head.get("column_defaults") or {}
            non_gen = [n for n in names if n not in engine_cols]
            if len(rows.columns) <= len(non_gen) and all(
                n in dflt for n in non_gen[len(rows.columns) :]
            ):
                names = non_gen[: len(rows.columns)]
    if len(names) != len(rows.columns):
        raise ValueError(
            f"INSERT arity mismatch: {len(rows.columns)} values for "
            f"{len(names)} columns {names}"
        )
    return _stats_df(spark, cow.append(spark, d.target, rows.toDF(*names)))


def _insert_overwrite(spark, d, rows, head, schema, engine_cols) -> DataFrame:
    """INSERT OVERWRITE [TABLE] t [PARTITION (c = 'v', ...)] <payload>
    — ONE replace_where commit (atomic: readers see old or new, never
    the gap a TRUNCATE+INSERT pair publishes). A static PARTITION spec
    scopes the overwrite to exactly those partitions (Spark's
    static-overwrite semantics) and injects the values, cast to the
    partition columns' types, into the payload rows."""
    from pyspark.sql import functions as _F
    from pyspark.sql.types import BooleanType, NumericType

    from . import cowtable as cow

    if d.partition:
        untyped = [c for c, v in d.partition.items() if v is None]
        if untyped:
            raise ValueError(
                "INSERT OVERWRITE PARTITION expects col = 'value' pairs; "
                f"got {untyped}"
            )
        declared = set(head.get("partition_by") or [])
        bad = [c for c in d.partition if c not in declared]
        if bad:
            raise ValueError(
                f"INSERT OVERWRITE PARTITION on non-partition columns {bad} "
                f"(declared: {sorted(declared)})"
            )
        names = [
            f.name
            for f in schema.fields
            if f.name not in d.partition and f.name not in engine_cols
        ]
        if len(names) != len(rows.columns):
            raise ValueError(
                f"INSERT OVERWRITE arity mismatch: {len(rows.columns)} "
                f"values for {len(names)} non-partition columns {names}"
            )
        rows = rows.toDF(*names)
        conds = []
        for c, v in d.partition.items():
            dt = schema[c].dataType
            rows = rows.withColumn(c, _F.lit(v).cast(dt))
            if isinstance(dt, (NumericType, BooleanType)):
                lit = v
            else:
                lit = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
            conds.append(f"{c} = {lit}")
        return _stats_df(
            spark, cow.replace_where(spark, d.target, " AND ".join(conds), rows)
        )
    names = [f.name for f in schema.fields if f.name not in engine_cols]
    if len(names) != len(rows.columns):
        raise ValueError(
            f"INSERT OVERWRITE arity mismatch: {len(rows.columns)} "
            f"values for {len(names)} columns {names}"
        )
    # Spark's partitionOverwriteMode governs the clause-less form on a
    # partitioned table: dynamic replaces ONLY the partitions the
    # payload writes (whole-partition metadata drop + append); static
    # replaces the whole table
    mode = str(
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    ).lower()
    if head.get("partition_by") and mode == "dynamic":
        return _stats_df(
            spark, cow.insert_overwrite_dynamic(spark, d.target, rows.toDF(*names))
        )
    return _stats_df(
        spark,
        cow.replace_where(spark, d.target, "true", rows.toDF(*names), validate=False),
    )


def _explain_dml(spark: SparkSession, d: _DmlStatement, plan_text) -> str:
    """EXPLAIN of a parsed COW DML statement: the engine's route header
    (resolved target, condition, commit strategy) plus the Spark plan
    of an INSERT's payload query. Plans only — no commit, no job."""
    action, strategy = {
        "delete": (
            "CowDelete",
            "stat-pruned copy-on-write file rewrite "
            "(merge-on-read tables: deletion-vector commit)",
        ),
        "update": ("CowUpdate", "stat-pruned copy-on-write file rewrite"),
        "merge": (
            "CowMerge",
            "source key-envelope stat-prunes the affected file set; "
            "one atomic multi-clause commit",
        ),
        "insert": ("CowAppend", "append commit (new files only)"),
        "overwrite": ("CowOverwrite", "partition-scoped atomic replace"),
        "replace_where": ("CowReplaceWhere", "predicate-scoped atomic replace commit"),
    }[d.kind]
    lines = [
        "== Engine DML Plan (not executed) ==",
        f"{action} target=cow.`{d.target}`",
    ]
    if d.assignments:
        lines.append("set: " + ", ".join(f"{c} = {e}" for c, e in d.assignments.items()))
    if d.kind in ("delete", "update", "replace_where"):
        lines.append(f"condition: {d.where or 'TRUE (all rows)'}")
    if d.partition:
        lines.append(f"partition: {d.partition}")
    if d.kind == "merge":
        lines += [f"keys: {', '.join(d.keys)}", f"using: {d.payload}"]
    lines.append(f"strategy: {strategy}")
    if d.payload is not None and d.kind != "merge":
        lines += ["payload:", plan_text(run_sql(spark, d.payload))]
    return "\n".join(lines)


def _strip_trailing_line_comment(body: str) -> str:
    """A ``--`` line comment at the very END of a view body (no
    closing newline) plans fine standalone at CREATE, yet once the
    body is inlined as ``(body)`` at read time the comment swallows
    the closing paren and the view becomes unreadable (r13 ADVICE).
    Strip EOF-reaching line comments (outside single-quoted literals)
    before storing; mid-body comments terminate at their newline and
    are harmless, so they stay."""
    while True:
        body = body.rstrip()
        in_quote, cut, i = False, None, 0
        while i < len(body):
            ch = body[i]
            if ch == "'":
                in_quote = not in_quote
            elif not in_quote and body[i : i + 2] == "--":
                j = body.find("\n", i)
                if j < 0:
                    cut = i
                    break
                i = j
            i += 1
        if cut is None:
            return body
        body = body[:cut]


def _create_view(
    spark: SparkSession,
    name: str,
    body: str,
    replace: bool,
    if_not_exists: bool = False,
) -> DataFrame:
    """``CREATE [OR REPLACE] VIEW name AS <select>`` — store the
    SELECT text in the catalog (Dremio virtual-dataset model,
    ``README.md:3-4``; the reference's users model EVERYTHING as
    views over their loaded tables). The text is validated by planning
    it NOW (unknown tables/columns refuse at create); at read it is
    re-expanded inline by ``_substitute_name_refs``, so the view
    always reflects the CURRENT state of its base tables — including
    COW snapshot advances. The body must itself be a readable query
    (SELECT/WITH/VALUES through this gate's whitelist)."""
    from . import catalog as _cat

    if if_not_exists and _cat.entry_kind(spark, name) == "view":
        return local_frame(
            spark, [(_cat.normalize_name(name),)], "view string"
        )  # IF NOT EXISTS: existing view wins, no-op (tables still refuse)
    body = _strip_trailing_line_comment(body or "")
    head = _VERB_RE.match(body)
    bverb = head.group(1).upper() if head else ""
    if bverb not in ("SELECT", "WITH", "VALUES"):
        raise ValueError(
            f"CREATE VIEW body must be a query (SELECT/WITH/VALUES), "
            f"got verb {bverb or '<empty>'!r}"
        )
    # plan once to refuse broken definitions at create time (never
    # executed — schema resolution only)
    try:
        run_sql(spark, body).schema
    except Exception as e:
        raise ValueError(f"CREATE VIEW body does not plan: {e}") from None
    _cat.register_view(spark, name, body, replace=replace)
    return local_frame(
        spark, [(_cat.normalize_name(name),)], "view string"
    )


def _cow_dml(spark: SparkSession, verb: str, statement: str) -> DataFrame | None:
    """Execute a CREATE / ALTER / TRUNCATE / DROP ``statement``
    natively when its target is a COW snapshot table; None -> not a
    COW-table statement (caller falls through to ``spark.sql``)."""
    from . import cowtable as cow

    if verb == "CREATE":
        mv_ = _CREATE_MATVIEW_RE.match(statement)
        if mv_:
            from .matview_sql import create_matview

            if mv_.group(1) and mv_.group(2):
                raise ValueError(
                    "CREATE MATERIALIZED VIEW: OR REPLACE and IF NOT "
                    "EXISTS are mutually exclusive"
                )
            return create_matview(
                spark,
                mv_.group(3),
                mv_.group(4).strip(),
                bool(mv_.group(1)),
                if_not_exists=bool(mv_.group(2)),
            )
        vm_ = _CREATE_VIEW_RE.match(statement)
        if vm_ and not re.match(
            r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(GLOBAL\s+)?TEMP(ORARY)?\b",
            statement,
            re.IGNORECASE,
        ):
            if vm_.group(1) and vm_.group(2):
                raise ValueError(
                    "CREATE VIEW: OR REPLACE and IF NOT EXISTS are "
                    "mutually exclusive"
                )
            return _create_view(
                spark,
                vm_.group(3),
                vm_.group(4).strip(),
                bool(vm_.group(1)),
                if_not_exists=bool(vm_.group(2)),
            )
        cl = _CLONE_RE.match(statement)
        if cl:
            # CREATE TABLE <dst> SHALLOW CLONE <src> [VERSION AS OF
            # n|'tag'] — zero-copy writable snapshot (r11 late)
            from . import catalog as _cat

            src = _resolve_target(spark, cl.group(2))
            if not cow.is_cow_table(spark, src):
                raise ValueError(
                    f"SHALLOW CLONE source {src!r} is not a COW "
                    "snapshot table"
                )
            raw_dst = cl.group(1)
            name = raw_dst if _cat.is_name(raw_dst) else None
            if name is not None:
                if _cat.resolve(spark, name) is not None:
                    raise ValueError(
                        f"table name {name!r} is already registered — "
                        "DROP TABLE it first"
                    )
                dst = (
                    f"{_cat.catalog_dir(spark)}/tables/"
                    f"{_cat.normalize_name(name)}"
                )
            else:
                dst = _unquote(raw_dst)
            if cl.group(3) is not None:
                snap = int(cl.group(3))
            elif cl.group(4) is not None:
                snap = cow.resolve_ref(spark, src, cl.group(4))
            else:
                snap = None
            committed = cow.shallow_clone(spark, src, dst, snapshot=snap)
            if name is not None:
                _cat.register(spark, name, dst)
            return local_frame(spark, [(committed,)], "snapshot_id long")
        gen_cols = None
        dflt_cols = None
        ident_cols = None
        if re.search(r"\bUSING\s+COW\b", statement, re.IGNORECASE):
            statement, gen_cols = _extract_generated_clause(statement)
            statement, dflt_cols = _extract_generated_clause(
                statement, "DEFAULTS"
            )
            statement, ident_cols = _extract_identity_clause(statement)
        lk = _CREATE_LIKE_RE.match(statement)
        if lk and cow.is_cow_table(spark, _resolve_target(spark, lk.group(2))):
            # CREATE TABLE <new> LIKE <cow-src> [LOCATION '/p'] — shape
            # clone (schema/layout/constraints/defaults/identity-reset),
            # no data. A bare-name target registers in the catalog
            # (LOCATION required, like the USING cow name form).
            from . import catalog as _cat

            src = _resolve_target(spark, lk.group(2))
            raw_target, location = lk.group(1), lk.group(3)
            name = raw_target if _cat.is_name(raw_target) else None
            if name is not None:
                if _cat.resolve(spark, name) is not None:
                    raise ValueError(
                        f"table name {name!r} is already registered — "
                        "DROP TABLE it first"
                    )
                if not location:
                    raise ValueError(
                        "CREATE TABLE <name> LIKE requires LOCATION "
                        "'<path>' (the path target form names it)"
                    )
                new_path = location
            else:
                if location:
                    raise ValueError(
                        "LOCATION requires a table NAME target (the "
                        "path target form already names the location)"
                    )
                new_path = _unquote(raw_target)
            snap = cow.create_like(spark, new_path, src)
            if name is not None:
                _cat.register(spark, name, new_path)
            return local_frame(spark, [(snap,)], "snapshot_id long")
        cm = _CREATE_COW_RE.match(statement)
        if cm:
            # CREATE TABLE <path-or-name> USING cow
            # [PARTITIONED BY (...)] [BLOOM BY (...)]
            # [CLUSTERED BY (...) [SORTED BY (...)] INTO n BUCKETS]
            # [TBLPROPERTIES (...)] [LOCATION '/p']
            # [AS <SELECT|VALUES|WITH ...>] — the full snapshot-table
            # lifecycle is SQL-executable: create here, then INSERT/
            # DELETE/UPDATE/ALTER/TRUNCATE/DROP and the OPTIMIZE/
            # VACUUM maintenance verbs on the same target. CLUSTERED
            # BY is Spark's own bucketing DDL phrase, mapped to the
            # bucketed COW layout (cowtable.bucketed_view exposes it
            # back as a native bucketed catalog table).
            #
            # r10 (named catalog, reference namespace pipeline.py:235):
            # a bare-identifier target registers a durable name.
            #   name + LOCATION, no AS  -> register an EXISTING table
            #   name + LOCATION + AS    -> create at LOCATION, register
            #   name + AS, no LOCATION  -> create under the catalog's
            #                              tables/ dir, register
            # CREATE OR REPLACE (r11): an in-place replace is ONE
            # atomic manifest commit — entirely new files + schema +
            # layout as snapshot N+1, old snapshots still readable
            # (time travel / RESTORE cross the replace, Delta's
            # semantics). Only a LOCATION move falls back to
            # stage-and-swap, where history cannot carry across the
            # root move (the old location's files are dropped so a
            # replaced name never orphans).
            def _cols(g):
                if g is None:
                    return None
                cols = [c.strip().strip("`") for c in g.split(",") if c.strip()]
                if not cols:
                    # r11 fuzz finding: `PARTITIONED BY ()` previously
                    # created an UNPARTITIONED table silently — the
                    # clause-drop class the TBLPROPERTIES residue
                    # check exists to prevent
                    raise ValueError(
                        "empty column list in a layout clause — name "
                        "columns or remove the clause"
                    )
                return cols

            from . import catalog as _cat

            or_replace = bool(
                re.match(r"^\s*CREATE\s+OR\s+REPLACE\b", statement, re.IGNORECASE)
            )
            raw_target = cm.group(1)
            location, query = cm.group(8), cm.group(9)
            name = raw_target if _cat.is_name(raw_target) else None
            prior = None
            if name is None:
                if location:
                    raise ValueError(
                        "LOCATION requires a table NAME target (the path "
                        "target form already names the location)"
                    )
                if query is None:
                    return None  # not our CREATE form; fall through
                table_path = _unquote(raw_target)
            else:
                kind0 = _cat.entry_kind(spark, name)
                if kind0 in ("view", "matview"):
                    # refuse BEFORE any cow.create: creating the table
                    # files first and letting registration refuse would
                    # orphan a directory (r13 ADVICE)
                    raise ValueError(
                        f"name {_cat.normalize_name(name)!r} is a "
                        f"registered {kind0.upper()} — names share one "
                        f"namespace; DROP the {kind0} first"
                    )
                prior = _cat.resolve(spark, name)
                if prior is not None and not or_replace:
                    raise ValueError(
                        f"table name {name!r} is already registered to "
                        f"{prior!r} — DROP TABLE it first or use "
                        "CREATE OR REPLACE"
                    )
                if prior is not None and query is None:
                    raise ValueError(
                        "CREATE OR REPLACE on a registered name needs "
                        "AS <query> (registration-only replace would "
                        "dangle the old table's files)"
                    )
                table_path = location or prior or (
                    f"{_cat.catalog_dir(spark)}/tables/{_cat.normalize_name(name)}"
                )
            if query is None:
                # registration-only form: adopt an existing table —
                # its manifest already fixes the layout, so layout
                # clauses here would be silently-ignored lies
                if gen_cols is not None or dflt_cols is not None or (
                    ident_cols is not None
                ) or any(
                    cm.group(i) is not None for i in (2, 3, 4, 5, 6, 7)
                ):
                    raise ValueError(
                        "registering an existing table (LOCATION without "
                        "AS) takes no layout clauses — the table's "
                        "manifest already defines them"
                    )
                if not cow.is_cow_table(spark, table_path):
                    raise ValueError(
                        f"no COW snapshot table at {table_path!r} — use "
                        "AS <query> to create one"
                    )
                _cat.register(spark, name, table_path)
                snap = cow.current_snapshot(spark, table_path)
                return local_frame(spark, [(snap,)], "snapshot_id long")

            # TBLPROPERTIES: SQL-text users can make merge-on-read the
            # table's DML default, completing the pure-SQL lake lifecycle
            write_mode = (
                _write_mode_prop(cm.group(7)) if cm.group(7) is not None else None
            )
            # r11 (ADVICE high): every clause above validated and the
            # payload query analyzed BEFORE anything destructive — a
            # typo'd TBLPROPERTIES or unresolvable AS query on a
            # CREATE OR REPLACE must leave the old table intact
            # (Delta's REPLACE is atomic; data loss on a malformed
            # statement is not acceptable divergence).
            payload = run_sql(spark, query.strip())
            create_kwargs = dict(
                partition_by=_cols(cm.group(2)),
                bloom_columns=_cols(cm.group(3)),
                bucket_by=_cols(cm.group(4)),
                num_buckets=int(cm.group(6) or 16),
                bucket_sort_by=_cols(cm.group(5)),
                write_mode=write_mode,
                generated_columns=gen_cols,
                column_defaults=dflt_cols,
                identity_columns=ident_cols,
            )
            replacing = or_replace and (
                cow.is_cow_table(spark, table_path)
                or (
                    prior is not None
                    and prior != table_path
                    and cow.is_cow_table(spark, prior)
                )
            )
            if not replacing:
                snap = cow.create(spark, table_path, payload, **create_kwargs)
                if name is not None:
                    _cat.register(spark, name, table_path, replace=prior is not None)
                return local_frame(spark, [(snap,)], "snapshot_id long")
            if (prior is None or prior == table_path) and cow.is_cow_table(
                spark, table_path
            ):
                # in-place REPLACE (r11): ONE atomic manifest commit —
                # entirely new files + schema + layout as snapshot
                # N+1, with the old snapshots still readable (time
                # travel and RESTORE cross the replace; old files age
                # out via VACUUM). This closes the r10 documented
                # divergence from Delta.
                snap = cow.replace_table(spark, table_path, payload, **create_kwargs)
                if name is not None:
                    _cat.register(spark, name, table_path, replace=prior is not None)
                return local_frame(spark, [(snap,)], "snapshot_id long")
            # LOCATION moves the table: history cannot carry across a
            # root move — stage the replacement at a sibling temp path and swap it
            # in only after the full write succeeds: manifest data-file
            # names are RELATIVE to the table root (cowtable manifest
            # notes), so a staged table directory renames into place
            # wholesale. A runtime failure in the payload (ANSI
            # overflow, unreadable source file) aborts with the old
            # table — files, snapshots, registration — untouched.
            stage = f"{table_path.rstrip('/')}.__replace-{uuid.uuid4().hex}"
            try:
                snap = cow.create(spark, stage, payload, **create_kwargs)
            except Exception:
                fs, jstage = cow._fs(spark, stage)
                if fs.exists(jstage):
                    fs.delete(jstage, True)
                raise
            # success: retire the old table(s), move the stage in.
            # when LOCATION moves the table, the OLD location's files
            # go too (a replaced name must never leave orphans)
            if (
                prior is not None
                and prior != table_path
                and cow.is_cow_table(spark, prior)
            ):
                cow.drop(spark, prior)
            fs, jdst = cow._fs(spark, table_path)
            if cow.is_cow_table(spark, table_path):
                cow.drop(spark, table_path)
            elif fs.exists(jdst):
                fs.delete(jdst, True)
            if not fs.rename(cow._jpath(spark, stage), jdst):
                raise IOError(
                    f"failed to move staged replacement {stage!r} into "
                    f"place at {table_path!r} — staged table left for "
                    "manual recovery"
                )
            cow._COW_TABLE_MEMO.discard(stage)
            if name is not None:
                _cat.register(spark, name, table_path, replace=prior is not None)
            return local_frame(spark, [(snap,)], "snapshot_id long")
    elif verb == "ALTER":
        rt = _ALTER_RENAME_TABLE_RE.match(statement)
        if rt:
            # ALTER TABLE <name> RENAME TO <name> — a catalog-registry
            # remap (the table's files never move; path targets have
            # nothing to rename). Register-new-then-unregister-old: a
            # crash in the window leaves BOTH names resolving to the
            # same path (benign, re-runnable), never neither.
            from . import catalog as _cat

            old, new = _unquote(rt.group(1)), _unquote(rt.group(2))
            if _cat.is_name(old) and _cat.resolve(spark, old) is not None:
                if not _cat.is_name(new):
                    raise ValueError(
                        f"RENAME TO target {new!r} is not a valid "
                        "one-/two-level table name"
                    )
                if _cat.resolve(spark, new) is not None:
                    raise ValueError(
                        f"table name {new!r} is already registered — "
                        "DROP TABLE it first"
                    )
                path_ = _cat.resolve_or_raise(spark, old)
                _cat.register(spark, new, path_)
                _cat.unregister(spark, old)
                return local_frame(
                    spark, [(old, new, path_)], "old string, new string, path string"
                )
        tp = _ALTER_SET_TP_RE.match(statement)
        if tp and cow.is_cow_table(spark, _resolve_target(spark, tp.group(1))):
            # SET TBLPROPERTIES (r11): the write_mode toggle, with the
            # same refuse-loudly validation as CREATE's TBLPROPERTIES
            snap = cow.alter_set_write_mode(
                spark, _resolve_target(spark, tp.group(1)), _write_mode_prop(tp.group(2))
            )
            return local_frame(spark, [(snap,)], "snapshot_id long")
        nn_set = _ALTER_SET_NOTNULL_RE.match(statement)
        nn_drop = _ALTER_DROP_NOTNULL_RE.match(statement)
        nn = nn_set or nn_drop
        if nn and cow.is_cow_table(spark, _resolve_target(spark, nn.group(1))):
            # Delta's NOT NULL column constraint (r11 late) — sugar
            # over the CHECK machinery: SET validates the EXISTING
            # content first (add_check_constraint's one-aggregate
            # rule) and every later write validates its own rows;
            # c IS NOT NULL evaluates FALSE (not NULL) on a NULL, so
            # SQL's NULL-evaluations-pass rule never lets one through
            npath = _resolve_target(spark, nn.group(1))
            col = nn.group(2)
            if nn_set:
                snap = cow.add_check_constraint(
                    spark, npath, f"nn_{col}", f"{col} IS NOT NULL"
                )
            else:
                snap = cow.drop_check_constraint(spark, npath, f"nn_{col}")
            return local_frame(spark, [(snap,)], "snapshot_id long")
        df_set = _ALTER_SET_DEFAULT_RE.match(statement)
        df_drop = _ALTER_DROP_DEFAULT_RE.match(statement)
        dfm = df_set or df_drop
        if dfm and cow.is_cow_table(spark, _resolve_target(spark, dfm.group(1))):
            # r11 column DEFAULTs (Delta/Spark 3.4): metadata-only;
            # future INSERTs omitting the column fill the expression
            dpath = _resolve_target(spark, dfm.group(1))
            if df_set:
                snap = cow.alter_set_column_default(
                    spark, dpath, df_set.group(2),
                    _strip_outer_parens(df_set.group(3).strip()),
                )
            else:
                snap = cow.alter_drop_column_default(
                    spark, dpath, df_drop.group(2)
                )
            return local_frame(spark, [(snap,)], "snapshot_id long")
        tg_add = _ALTER_CREATE_TAG_RE.match(statement)
        tg_drop = _ALTER_DROP_TAG_RE.match(statement)
        tg = tg_add or tg_drop
        if tg and cow.is_cow_table(spark, _resolve_target(spark, tg.group(1))):
            # r11 snapshot tags (Iceberg named refs): metadata-only
            # commits; tagged snapshots survive VACUUM until dropped
            tpath = _resolve_target(spark, tg.group(1))
            if tg_add:
                snap = cow.create_tag(
                    spark,
                    tpath,
                    tg_add.group(3),
                    snapshot=(
                        int(tg_add.group(4))
                        if tg_add.group(4) is not None
                        else None
                    ),
                    replace=bool(tg_add.group(2)),
                )
            else:
                snap = cow.drop_tag(spark, tpath, tg_drop.group(2))
            return local_frame(spark, [(snap,)], "snapshot_id long")
        pf_add = _ALTER_ADD_PF_RE.match(statement)
        pf_drop = _ALTER_DROP_PF_RE.match(statement)
        pf = pf_add or pf_drop
        if pf and cow.is_cow_table(spark, _resolve_target(spark, pf.group(1))):
            # r11 partition-spec evolution (Iceberg ADD/DROP PARTITION
            # FIELD): metadata-only — no data rewrite; old files keep
            # pruning under their own spec vintage
            fn = (
                cow.alter_add_partition_field
                if pf_add
                else cow.alter_drop_partition_field
            )
            snap = fn(spark, _resolve_target(spark, pf.group(1)), pf.group(2))
            return local_frame(spark, [(snap,)], "snapshot_id long")
        ck_add = _ALTER_ADD_CK_RE.match(statement)
        ck_drop = _ALTER_DROP_CK_RE.match(statement)
        ck = ck_add or ck_drop
        if ck and cow.is_cow_table(spark, _resolve_target(spark, ck.group(1))):
            # Delta-style CHECK constraints (engine extension: the
            # reference whitelists the ALTER verb and delegates)
            if ck_add:
                snap = cow.add_check_constraint(
                    spark, _resolve_target(spark, ck.group(1)), ck.group(2), ck.group(3).strip()
                )
            else:
                snap = cow.drop_check_constraint(
                    spark, _resolve_target(spark, ck.group(1)), ck.group(2)
                )
            return local_frame(spark, [(snap,)], "snapshot_id long")
        av = _ALTER_VIEW_RE.match(statement)
        if av:
            from . import catalog as _cat

            kind = _cat.entry_kind(spark, av.group(1))
            if kind == "view":
                # ANSI redefinition — same validation/commit as OR REPLACE
                return _create_view(
                    spark, av.group(1), av.group(2).strip(), replace=True
                )
            if kind == "table":
                raise ValueError(
                    f"ALTER VIEW: {av.group(1)!r} is a registered TABLE"
                )
            # unknown name: a native Spark (temp) view may own it —
            # fall through to spark.sql
        rn = _ALTER_RENAME_RE.match(statement)
        if rn and cow.is_cow_table(spark, _resolve_target(spark, rn.group(1))):
            snap = cow.alter_rename_column(
                spark, _resolve_target(spark, rn.group(1)), rn.group(2), rn.group(3)
            )
            return local_frame(spark, [(snap,)], "snapshot_id long")
        wd = _ALTER_WIDEN_RE.match(statement)
        if wd and cow.is_cow_table(spark, _resolve_target(spark, wd.group(1))):
            snap = cow.alter_widen_column(
                spark, _resolve_target(spark, wd.group(1)), wd.group(2), wd.group(3).strip()
            )
            return local_frame(spark, [(snap,)], "snapshot_id long")
        am = _ALTER_ADD_RE.match(statement)
        rm = _ALTER_DROP_RE.match(statement)
        target = _resolve_target(spark, (am or rm).group(1)) if (am or rm) else None
        if target and cow.is_cow_table(spark, target):
            if am:
                snap = cow.alter_add_columns(spark, target, _strip_outer_parens(am.group(2)))
            else:
                snap = cow.alter_drop_column(spark, target, rm.group(2))
            return local_frame(spark, [(snap,)], "snapshot_id long")
    elif verb == "TRUNCATE":
        tm = _TRUNCATE_HEAD_RE.match(statement)
        if tm and cow.is_cow_table(spark, _resolve_target(spark, tm.group(1))):
            # metadata-only empty-file-list commit: reversible via
            # time travel/rollback until vacuum, O(1) at any size
            return _stats_df(spark, cow.truncate(spark, _resolve_target(spark, tm.group(1))))
    elif verb == "DROP":
        dmv = _DROP_MATVIEW_RE.match(statement)
        if dmv:
            from .matview_sql import drop_matview

            return drop_matview(spark, dmv.group(2), bool(dmv.group(1)))
        dv = _DROP_VIEW_RE.match(statement)
        if dv:
            from . import catalog as _cat

            nm = dv.group(2)
            kind = _cat.entry_kind(spark, nm)
            if kind in ("table", "matview"):
                verb_for = "DROP TABLE" if kind == "table" else (
                    "DROP MATERIALIZED VIEW"
                )
                raise ValueError(
                    f"{nm!r} is a registered {kind} — use {verb_for}"
                )
            if kind != "view":
                if dv.group(1):  # IF EXISTS
                    return local_frame(spark, [(False,)], "dropped boolean")
                # unknown name: a native Spark view may own it
                return spark.sql(statement)
            _cat.unregister(spark, nm)
            return local_frame(spark, [(True,)], "dropped boolean")
        pm = _DROP_HEAD_RE.match(statement)
        if pm:
            from . import catalog as _cat

            raw = _unquote(pm.group(1))
            kind_ = _cat.entry_kind(spark, raw) if _cat.is_name(raw) else None
            if kind_ == "view":
                raise ValueError(
                    f"{raw!r} is a registered VIEW — use DROP VIEW"
                )
            if kind_ == "matview":
                raise ValueError(
                    f"{raw!r} is a registered matview — use DROP "
                    "MATERIALIZED VIEW"
                )
            if _cat.is_name(raw) and _cat.resolve(spark, raw) is not None:
                # named table: drop the files AND the registration —
                # a name must never dangle to a dropped path
                p = _cat.resolve(spark, raw)
                if cow.is_cow_table(spark, p):
                    cow.drop(spark, p)
                _cat.unregister(spark, raw)
                return local_frame(spark, [(True,)], "dropped boolean")
            if cow.is_cow_table(spark, raw):
                cow.drop(spark, raw)
                return local_frame(spark, [(True,)], "dropped boolean")
    return None


# SELECT over snapshot tables: `cow.`/path/to/table`` table references
# (the delta.`/path` idiom), with optional time travel —
#   cow.`/tmp/t`                          latest snapshot
#   cow.`/tmp/t` VERSION AS OF 3          snapshot 3
#   cow.`/tmp/t` TIMESTAMP AS OF '2026-08-14T12:00:00+00:00'
_COW_REF_RE = re.compile(
    r"\bcow\s*\.\s*`([^`]+)`"
    r"(?:\s*\.\s*(files|history|snapshots|copied_files)\b)?"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?:(\d+)|'([^']+)')"
    r"|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?",
    re.IGNORECASE,
)


def _in_single_quotes(text: str, pos: int) -> bool:
    """True when ``pos`` falls inside a single-quoted SQL literal."""
    return text.count("'", 0, pos) % 2 == 1


def _substitute_cow_refs(
    spark: SparkSession, statement: str, _depth: int = 0
) -> str:
    """Rewrite every ``cow.`<path>``` table reference (plus optional
    VERSION/TIMESTAMP AS OF time travel) into a temp view backed by
    ``cowtable.read`` at the resolved snapshot, then hand the rewritten
    text to ``spark.sql``. This closes the last reference-whitelisted
    verb (SELECT, ``pipeline.py:112``) against the engine's own table
    format: reads of snapshot tables no longer need the Python API.
    ``cow.`<path>`.files`` / ``.history`` / ``.snapshots`` resolve to
    the METADATA tables instead (Iceberg's inspection tables); ``files``
    honors VERSION AS OF, the log tables are inherently all-history.

    View names are deterministic per (path, snapshot) and registered
    with createOrReplaceTempView, so repeated statements reuse one
    catalog entry instead of accreting views. References inside string
    literals are left untouched.

    BUCKETED snapshot tables resolve through ``cowtable.bucketed_view``
    instead of a plain-read temp view (r7 punch-list #4): the SQL-text
    join of two bucketed COW tables then plans with zero
    hash-partitioning Exchange — the same storage-partitioned-join
    shape the Python API gets — and partition pruning still reaches
    the scan on partitioned+bucketed tables. Snapshots the bucketed
    registration cannot serve (renamed columns, pre-widening vintages,
    non-local filesystems) fall back to the engine read silently: a
    SQL read never gets WORSE because the fast path refused."""
    out, last = [], 0
    for m in _COW_REF_RE.finditer(statement):
        if _in_single_quotes(statement, m.start()):
            continue
        view = _cow_ref_view(
            spark,
            m.group(1),
            (m.group(2) or "").lower(),
            m.group(3),
            m.group(4),
            m.group(5),
        )
        out.append(statement[last : m.start()])
        out.append(view)
        last = m.end()
    out.append(statement[last:])
    return _substitute_name_refs(spark, "".join(out), _depth)


def _cow_ref_view(
    spark: SparkSession,
    path: str,
    meta: str,
    version: str | None,
    tag: str | None,
    ts: str | None,
) -> str:
    """Register (or refresh) the deterministic temp view serving one
    COW table reference and return its name — shared by the
    ``cow.`path``` and the registered-name rewrites. ``VERSION AS OF``
    takes an integer snapshot id or a quoted TAG name (r11,
    ``cowtable.create_tag``) resolved through the head manifest."""
    from hashlib import md5

    from . import cowtable as cow

    if not cow.is_cow_table(spark, path):
        raise ValueError(f"cow.`{path}` is not a COW snapshot table")
    if version is not None:
        snap = int(version)
    elif tag is not None:
        snap = cow.resolve_ref(spark, path, tag)
    elif ts is not None:
        snap = cow.snapshot_as_of(spark, path, ts)
    else:
        snap = None
    view = f"cow_ref_{md5(f'{path}@{snap}#{meta}'.encode()).hexdigest()[:12]}"
    if meta in ("history", "snapshots"):
        if snap is not None:
            raise ValueError(
                f"cow.`{path}`.{meta} is the full log — time travel "
                "does not apply"
            )
        df = cow.metadata_history(spark, path)
    elif meta == "files":
        df = cow.metadata_files(spark, path, snapshot=snap)
    elif meta == "copied_files":
        # COPY INTO's loaded-file registry (r12) — the ingestion
        # observability twin of .files; head-state, like the log tables
        if snap is not None:
            raise ValueError(
                f"cow.`{path}`.copied_files is head state — time "
                "travel does not apply"
            )
        rows = [
            (e["path"], int(e.get("size") or 0), int(e.get("mtime") or 0))
            for e in cow.copied_files(spark, path)
        ]
        df = local_frame(
            spark, rows, "path string, size long, mtime long"
        )
    else:
        df = None
        try:
            # bucketed read path: registers `view` as a native
            # bucketed catalog table (or a DV-masked temp view
            # over one) — SQL-text joins plan exchange-free
            cow.bucketed_view(spark, path, view, snapshot=snap)
        except (ValueError, OSError):
            # ValueError: not bucketed / renamed / widened /
            # non-local — by contract. OSError: the symlink-tree
            # builder hit a filesystem hiccup (r8 ADVICE #6) — a
            # degraded SQL read through the engine path beats a
            # failed one; the engine read serves every case
            # correctly, just without the bucketed plan shape
            df = cow.read(spark, path, snapshot=snap)
    if df is not None:
        df.createOrReplaceTempView(view)
    return view


# identifiers that can directly follow a table reference without
# being a user-supplied alias — used to decide whether the rewritten
# view needs an appended `AS <name>` so post-rewrite queries can
# still qualify columns by the original table name (r10 ADVICE)
_POST_TABLE_KEYWORDS = frozenset(
    """where on group order having limit union intersect except minus
    join inner left right full cross natural semi anti lateral using
    qualify window pivot unpivot tablesample distribute sort cluster
    when then else end set values select offset fetch for""".split()
)

# CTE definitions: `WITH name AS (` / `, name AS (`, optionally with
# a column list between name and AS
_CTE_DEF_RE = re.compile(
    r"(?:\bWITH|,)\s+([A-Za-z_][A-Za-z0-9_]*)\s*(?:\([^()]*\)\s*)?AS\s*\(",
    re.IGNORECASE,
)

_NAME_REF_RE = re.compile(
    r"\b(FROM|JOIN)\s+"
    r"([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)"
    r"(?:\s*\.\s*(files|history|snapshots)\b)?"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?:(\d+)|'([^']+)')"
    r"|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?"
    r"(?![\w.$])",
    re.IGNORECASE,
)


def _substitute_name_refs(
    spark: SparkSession, statement: str, _depth: int = 0
) -> str:
    """Rewrite ``FROM <name>`` / ``JOIN <name>`` references to
    catalog-registered COW tables (r10: the named-table ergonomics the
    reference's two-level namespace gives its users, ``pipeline.py:235``)
    into snapshot-read temp views, honoring the same metadata-table
    suffix (``.files``/``.history``/``.snapshots``) and VERSION /
    TIMESTAMP AS OF time travel grammar as ``cow.`path``` refs.

    Only identifiers in table position (directly after FROM or JOIN,
    outside string literals) rewrite — a column that happens to share
    a registered name never does. SQL name precedence is honored
    (r10 ADVICE): a same-named CTE in this statement's WITH clause or
    an existing temp view / native catalog table shadows the
    registered name and is never rewritten. Unregistered names are
    left for Spark's own resolution. The rewritten view gets an
    appended ``AS <last-name-segment>`` (unless the user wrote their
    own alias) so ``SELECT t.x FROM t`` still resolves post-rewrite.

    Scale note (r10 ADVICE): candidate identifiers are extracted from
    the statement FIRST and only those resolve through the catalog —
    one existence check + KB read per DISTINCT candidate, never a
    directory listing of the whole catalog per statement."""
    from . import catalog as _cat

    matches = [
        m
        for m in _NAME_REF_RE.finditer(statement)
        if not _in_single_quotes(statement, m.start())
    ]
    if not matches:
        return statement
    # CTE names defined in this statement shadow the catalog
    # (precedence: CTE > view > catalog table > extension catalog)
    ctes = {
        m.group(1).lower()
        for m in _CTE_DEF_RE.finditer(statement)
        if not _in_single_quotes(statement, m.start())
    }

    def _shadowed(nm: str) -> bool:
        if nm in ctes:
            return True
        try:
            # temp views and native catalog tables also win over the
            # extension catalog — Spark must keep resolving them
            return spark.catalog.tableExists(nm)
        except Exception:
            return False

    # resolve each DISTINCT candidate once;
    # ("table", path, base, suffix) | ("view", select_text, base, "") | None
    resolved: dict[tuple[str, str], tuple | None] = {}
    for m in matches:
        nm, suffix = m.group(2).lower(), (m.group(3) or "").lower()
        key = (nm, suffix)
        if key in resolved:
            continue
        hit = None
        if not _shadowed(nm):
            p = _cat.resolve(spark, nm)
            if p is not None:
                hit = ("table", p, nm, suffix)
            else:
                v = _cat.resolve_view(spark, nm)
                mv = None if v is not None else _cat.resolve_matview(spark, nm)
                if v is not None:
                    hit = ("view", v, nm, suffix)
                elif mv is not None:
                    hit = ("matview", mv, nm, suffix)
                elif "." in nm and suffix == "":
                    # `t.files` parses as a two-level name — retry as
                    # single-level name + metadata suffix
                    base, tail = nm.rsplit(".", 1)
                    if tail in ("files", "history", "snapshots") and not _shadowed(base):
                        p = _cat.resolve(spark, base)
                        if p is not None:
                            hit = ("table", p, base, tail)
        resolved[key] = hit
    if not any(resolved.values()):
        return statement
    out, last = [], 0
    for m in matches:
        nm = m.group(2).lower()
        hit = resolved[(nm, (m.group(3) or "").lower())]
        if hit is None:
            continue
        kind, payload, base, suffix = hit
        if kind == "view":
            if suffix or m.group(4) or m.group(5) or m.group(6):
                raise ValueError(
                    f"{base!r} is a VIEW — metadata tables and "
                    "VERSION/TIMESTAMP AS OF apply to snapshot "
                    "TABLES only (a view has no snapshots; time-travel "
                    "its base tables instead)"
                )
            if _depth >= 10:
                raise ValueError(
                    f"view expansion exceeded depth 10 at {base!r} — "
                    "circular view definitions?"
                )
            # re-planned at read: expand the stored text (itself run
            # through the same rewrites, so views over views and views
            # over cow.`path` refs compose), inline as a subquery
            view = f"({_substitute_cow_refs(spark, payload, _depth + 1)})"
        elif kind == "matview":
            # a matview READ is the backing table (stale until
            # REFRESH — Dremio's reflection semantics), with the
            # hidden maintenance columns projected away
            if suffix or m.group(4) or m.group(5) or m.group(6):
                raise ValueError(
                    f"{base!r} is a MATERIALIZED VIEW — metadata "
                    "tables and VERSION/TIMESTAMP AS OF apply to "
                    "snapshot TABLES only"
                )
            sub = _cow_ref_view(spark, payload["table"], "", None, None, None)
            cols = ", ".join(f"`{c}`" for c in payload["user_cols"])
            view = f"(SELECT {cols} FROM {sub})"
        else:
            view = _cow_ref_view(
                spark, payload, suffix, m.group(4), m.group(5), m.group(6)
            )
        out.append(statement[last : m.start()])
        rewritten = f"{m.group(1)} {view}"
        # keep original-name qualification working: append an alias
        # unless the user supplied one right after the reference
        nxt = re.match(
            r"\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)", statement[m.end() :]
        )
        has_user_alias = bool(
            nxt
            and (
                "AS" in nxt.group(0).upper().split()
                or nxt.group(1).lower() not in _POST_TABLE_KEYWORDS
            )
        )
        if not has_user_alias:
            rewritten += f" AS {base.rsplit('.', 1)[-1]}"
        out.append(rewritten)
        last = m.end()
    out.append(statement[last:])
    return "".join(out)


def _cow_copy_into(spark: SparkSession, statement: str) -> DataFrame | None:
    """``COPY INTO <cow> FROM '<path>' FILEFORMAT = <fmt>
    [PATTERN = '<glob>'] [FORMAT_OPTIONS ('k'='v', ...)]
    [COPY_OPTIONS ('force'='true')]`` — Delta's idempotent bulk file
    loader executed as a ``cowtable.copy_into`` commit (loaded file
    paths tracked in the manifest registry; re-running loads nothing).
    Engine extension like MERGE: the reference's statement filter
    drops the verb (``pipeline.py:110-114``); ``run_sql`` accepts it
    for COW targets only. Every clause is validated and STRIPPED; any
    unrecognized tail refuses — a mistyped clause can never silently
    drop (the r11 gate-fuzz bug class). None -> not a COW target."""
    from . import cowtable as cow

    hm = _COPY_HEAD_RE.match(statement)
    if not hm:
        raise ValueError(
            "malformed COPY INTO — expected COPY INTO <table> FROM "
            "'<path>' FILEFORMAT = <fmt> [PATTERN = '<glob>'] "
            "[FORMAT_OPTIONS (...)] [COPY_OPTIONS (...)]"
        )
    target = _resolve_target(spark, hm.group(1))
    if not cow.is_cow_table(spark, target):
        return None
    tail = hm.group(3)
    ffm = _COPY_FF_RE.search(tail)
    if not ffm:
        raise ValueError("COPY INTO requires FILEFORMAT = <format>")
    pm = _COPY_PATTERN_RE.search(tail)
    fopts: dict[str, str] = {}
    copts: dict[str, str] = {}
    for om in _COPY_OPTS_RE.finditer(tail):
        inner = om.group(2)
        pairs = _COPY_KV_RE.findall(inner)
        # validate the inner list exhaustively: pairs + separators
        # must account for every character, else refuse (no silent
        # option drops)
        residue = _COPY_KV_RE.sub("", inner).replace(",", "").strip()
        if residue:
            raise ValueError(
                f"malformed {om.group(1).upper()} entry near {residue!r} "
                "(expected 'key' = 'value', comma-separated)"
            )
        d = dict(pairs)
        if om.group(1).upper() == "FORMAT_OPTIONS":
            fopts = d
        else:
            copts = d
    leftover = tail
    for rx in (_COPY_OPTS_RE, _COPY_PATTERN_RE, _COPY_FF_RE):
        leftover = rx.sub("", leftover)
    if leftover.strip():
        raise ValueError(
            f"unrecognized COPY INTO clause: {leftover.strip()!r}"
        )
    force = str(copts.pop("force", "false")).strip().lower() == "true"
    if copts:
        raise ValueError(f"unsupported COPY_OPTIONS: {sorted(copts)}")
    stats = cow.copy_into(
        spark, target, hm.group(2), ffm.group(1),
        pm.group(1) if pm else None, fopts, force,
    )
    return _stats_df(spark, stats)


def _explain_sql(spark: SparkSession, statement: str) -> DataFrame:
    """``EXPLAIN [FORMATTED|EXTENDED|COST|CODEGEN] <statement>`` —
    the observability verb every warehouse user reaches for (r14,
    VERDICT r13 punch #6), returning the plan WITHOUT executing:
    zero commits, zero jobs beyond planning (pinned by tests).

    Queries (SELECT/WITH/VALUES) go through the gate's full rewrite
    machinery — registered names resolved, views and materialized
    views expanded inline, ``cow.`path``` refs (incl. time travel)
    rewritten to snapshot reads — then Spark's analyzer/optimizer
    produce the requested plan form, so the output shows the REAL
    pushed filters / pruned columns / join strategies the statement
    would run with. COW DML (INSERT/DELETE/UPDATE/MERGE on an engine
    table) has no single Spark plan — the engine executes it as
    stat-pruned snapshot commits — so EXPLAIN reads the same parsed
    record execution runs on (``_dml_statement``) and emits the
    engine's DML route header (resolved target, condition, commit
    strategy) plus the Spark plan of any INSERT payload query. DML on
    non-engine targets delegates to ``spark.sql`` whole, keeping
    native EXPLAIN behavior untouched."""
    em = _EXPLAIN_RE.match(statement)
    if not em:
        raise ValueError("EXPLAIN requires a statement to explain")
    mode = (em.group(1) or "simple").lower()
    analyze = mode == "analyze"
    if analyze:
        mode = "formatted"
    inner = em.group(2).strip().rstrip(";").strip()
    ivm = _VERB_RE.match(inner)
    ivb = ivm.group(1).upper() if ivm else ""

    def _plan_text(df: DataFrame) -> str:
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            mode
        )
        return df._jdf.queryExecution().explainString(jmode)

    def _out(txt: str) -> DataFrame:
        return local_frame(spark, [(txt,)], "plan string")

    if ivb in ("SELECT", "WITH", "VALUES"):
        df = run_sql(spark, inner)
        if not analyze:
            return _out(_plan_text(df))
        # ANALYZE: execute THIS QueryExecution once, JVM-side only —
        # toRdd().count() runs the full plan and fills its SQLMetrics
        # without transferring a single row to the driver (a noop-sink
        # write would execute a DIFFERENT QueryExecution and leave
        # these metrics empty). EXPLAIN still never commits: only
        # queries reach this branch.
        from .plans import executed_metrics

        df._jdf.queryExecution().toRdd().count()
        m = executed_metrics(df)
        lines = [
            "== Measured Metrics (one noop-sink execution) ==",
            f"output_rows: {m['output_rows']}",
            f"scan_rows: {m['scan_rows']}",
            f"exchanges: {m['exchanges']}  shuffle_bytes: {m['shuffle_bytes']}",
            f"broadcasts: {m['broadcasts']}  broadcast_bytes: {m['broadcast_bytes']}",
            f"spill_bytes: {m['spill_bytes']}",
            "",
        ]
        return _out("\n".join(lines) + _plan_text(df))
    if analyze:
        raise ValueError(
            "EXPLAIN ANALYZE executes its statement and therefore "
            "supports QUERIES only (SELECT/WITH/VALUES) — DML would "
            "commit; use plain EXPLAIN for the engine's DML route"
        )

    if ivb in ("DELETE", "UPDATE", "INSERT", "MERGE"):
        d = _dml_statement(spark, ivb, inner)
        if d is not None:
            return _out(_explain_dml(spark, d, _plan_text))
    elif ivb in ALLOWED_VERBS or ivb in (
        "OPTIMIZE", "VACUUM", "COPY", "APPLY", "REFRESH", "RESTORE",
        "CONVERT", "REORG", "TRUNCATE",
    ):
        raise ValueError(
            f"EXPLAIN does not support {ivb} statements — supported: "
            "queries (SELECT/WITH/VALUES) and COW DML "
            "(INSERT/DELETE/UPDATE/MERGE)"
        )
    # non-engine target or unrecognized: native Spark EXPLAIN
    return spark.sql(_substitute_cow_refs(spark, statement))


def run_sql(spark: SparkSession, statement: str) -> DataFrame:
    """Execute one whitelisted statement; raise ValueError (not a
    parse error) for non-whitelisted verbs.

    INSERT/DELETE/UPDATE/MERGE whose target is a copy-on-write
    snapshot table (``cowtable``) are read by Spark's parser
    (``_dml_statement``) and execute as real snapshot commits (append /
    file-level rewrite) and return the commit stats as a one-row
    DataFrame (the Delta-style DML-metrics result); ALTER TABLE
    ADD/DROP COLUMN on a COW target commits the metadata-only schema
    change and returns the snapshot id. SELECT/WITH/VALUES (and any
    fall-through) first rewrite ``cow.`<path>``` references — with
    optional ``VERSION AS OF n`` / ``TIMESTAMP AS OF 'ts'`` — into
    snapshot reads (``_substitute_cow_refs``). Any other target falls
    through to ``spark.sql`` — the reference whitelisted these verbs
    (``pipeline.py:110-114``) assuming the warehouse executes them;
    this engine now does."""
    m = _VERB_RE.match(statement or "")
    verb = m.group(1).upper() if m else ""
    if verb in ("OPTIMIZE", "VACUUM", "DESCRIBE", "REORG", "RESTORE", "SHOW", "CONVERT"):
        handled = _cow_maintenance(spark, verb, statement)
        if handled is not None:
            return handled
    if verb in ("DELETE", "UPDATE", "INSERT", "MERGE"):
        d = _dml_statement(spark, verb, statement)
        if d is not None:
            return _run_dml(spark, d)
    if verb == "COPY":
        handled = _cow_copy_into(spark, statement)
        if handled is not None:
            return handled
    if verb == "APPLY":
        handled = _apply_changes_sql(spark, statement)
        if handled is not None:
            return handled
    if verb == "REFRESH":
        rm = _REFRESH_MATVIEW_RE.match(statement)
        if rm:
            from .matview_sql import refresh_matview

            return refresh_matview(spark, rm.group(1))
        raise ValueError(
            "REFRESH supports: REFRESH MATERIALIZED VIEW <name>"
        )
    if verb == "EXPLAIN":
        return _explain_sql(spark, statement)
    if verb not in ALLOWED_VERBS:
        raise ValueError(
            f"statement verb {verb or '<empty>'!r} is not in the allowed set {ALLOWED_VERBS}"
        )
    if verb in ("CREATE", "ALTER", "TRUNCATE", "DROP"):
        handled = _cow_dml(spark, verb, statement)
        if handled is not None:
            return handled
    if verb in ("SELECT", "WITH"):
        handled = _run_qualify(spark, statement)
        if handled is not None:
            return handled
    return spark.sql(_substitute_cow_refs(spark, statement))


def _qualify_forms(block: str, in_cte: bool) -> tuple[str, str] | None:
    """Rewrite ONE set-op-free SELECT block carrying a top-level
    QUALIFY into its (wrap, inject) forms; None when the block has no
    top-level QUALIFY. Guards raise (empty predicate, no FROM). With
    ``in_cte`` the rewrites must stay column-identical in SQL alone —
    the helper column is removed with ``* EXCEPT`` (Spark 3.4+)
    instead of a DataFrame-level drop.

    SELECT DISTINCT composes (r7 punch-list #7): the standard clause
    order evaluates QUALIFY BEFORE DISTINCT (DuckDB/Snowflake), so
    the wrap form strips DISTINCT from the inner block (windows see
    every pre-dedup row) and re-applies it on the outer projection;
    the inject form keeps DISTINCT inside — the helper column joins
    the dedup key, which is harmless (rows equal in the real columns
    and in the predicate verdict collapse exactly like the
    qualify-then-distinct order does) because the filter pins the
    helper to TRUE before it is projected away."""
    qpos = _find_toplevel_keyword(block, "QUALIFY")
    if qpos < 0:
        return None
    tail = block[qpos + len("QUALIFY") :]
    cut = len(tail)
    for kw in ("ORDER", "LIMIT"):
        k = _find_toplevel_keyword(tail, kw)
        if k >= 0:
            cut = min(cut, k)
    pred, suffix = tail[:cut].strip(), tail[cut:].strip()
    if not pred:
        raise ValueError("QUALIFY clause present but empty")
    head = block[:qpos]
    selects = _find_toplevel_all(head, "SELECT")
    if not selects:
        raise ValueError("QUALIFY without a top-level SELECT")
    spos = selects[-1]
    after_sel = spos + len("SELECT")
    dm = re.match(r"\s*DISTINCT\b", head[after_sel:], re.IGNORECASE)
    distinct = dm is not None
    frel = _find_toplevel_keyword(head[spos:], "FROM")
    if frel < 0:
        raise ValueError("QUALIFY requires the SELECT to have a FROM clause")
    fpos = spos + frel
    star = "* EXCEPT (__qualify__)" if in_cte else "*"
    outer_sel = f"SELECT DISTINCT {star}" if distinct else f"SELECT {star}"
    # wrap: windows evaluate over the PRE-DISTINCT rows — strip the
    # quantifier inside, dedup outside the filter
    head_nd = head[:after_sel] + head[after_sel + dm.end() :] if distinct else head
    wrap = (
        f"{outer_sel} FROM (SELECT *, ({pred}) AS __qualify__ "
        f"FROM ({head_nd}) __dws_qualify_in) __dws_qualify WHERE __qualify__ {suffix}"
    )
    inner = f"{head[:fpos]}, ({pred}) AS __qualify__ {head[fpos:]}"
    inject = (
        f"SELECT {star} FROM ({inner}) __dws_qualify WHERE __qualify__ {suffix}"
    )
    return wrap, inject


_SETOPS = ("UNION", "INTERSECT", "EXCEPT")


def _split_setop_branches(block: str) -> tuple[list[str], list[str], str] | None:
    """Split a block with top-level set operators into
    (branches, operators, global_tail); None when the block has no
    top-level set op. The global tail is the trailing top-level
    ORDER BY / LIMIT after the last operator — per the SQL grammar it
    binds to the WHOLE set expression (a bare operand cannot carry
    one), so it must stay OUTSIDE any per-branch rewrite."""
    marks: list[tuple[int, str]] = []
    for op in _SETOPS:
        for p in _find_toplevel_all(block, op):
            # a set operator's right operand is a query term — require
            # SELECT / ( after the optional quantifier, which keeps
            # Spark's `* EXCEPT (col)` projection syntax from reading
            # as a set operator
            rest = block[p + len(op) :]
            qm = re.match(r"\s+(ALL|DISTINCT)\b", rest, re.IGNORECASE)
            if qm:
                rest = rest[qm.end() :]
            if re.match(r"\s*(SELECT\b|\(\s*(SELECT|WITH)\b)", rest, re.IGNORECASE):
                marks.append((p, op))
    if not marks:
        return None
    marks.sort()
    last_op_end = 0
    branches: list[str] = []
    operators: list[str] = []
    pos = 0
    for p, op in marks:
        branches.append(block[pos:p])
        tok_end = p + len(op)
        qm = re.match(r"\s+(ALL|DISTINCT)\b", block[tok_end:], re.IGNORECASE)
        if qm:
            tok_end += qm.end()
        operators.append(block[p:tok_end])
        pos = tok_end
        last_op_end = tok_end
    rest = block[pos:]
    # global tail: earliest top-level ORDER / LIMIT in the last branch
    cut = len(rest)
    for kw in ("ORDER", "LIMIT"):
        k = _find_toplevel_keyword(rest, kw)
        if k >= 0:
            cut = min(cut, k)
    branches.append(rest[:cut])
    _ = last_op_end
    return branches, operators, rest[cut:].strip()


def _qualify_block_forms(block: str, in_cte: bool) -> tuple[str, str] | None:
    """Set-op-aware QUALIFY rewrite of one block: with no top-level
    set operator this is ``_qualify_forms``; with one, each BRANCH
    carrying its own QUALIFY is rewritten independently (QUALIFY is a
    select-block clause, so it binds to its branch, never the whole
    set expression — DuckDB/Snowflake grammar) in the column-identical
    ``* EXCEPT`` form and re-parenthesized, while the trailing ORDER
    BY / LIMIT stays on the whole set expression. Returns None when
    no branch (and not the block itself) carries a QUALIFY. Both
    returned variants apply the SAME form (wrap / inject) to every
    rewritten branch; the caller's candidate chain covers the
    mixed-need case by falling through on UNRESOLVED_COLUMN."""
    split = _split_setop_branches(block)
    if split is None:
        return _qualify_forms(block, in_cte)
    branches, operators, gtail = split
    wrap_parts: list[str] = []
    inject_parts: list[str] = []
    changed = False
    for b in branches:
        forms = _qualify_forms(b, in_cte=True)
        if forms is None:
            wrap_parts.append(b)
            inject_parts.append(b)
        else:
            changed = True
            wrap_parts.append(f"({forms[0]})")
            inject_parts.append(f"({forms[1]})")
    if not changed:
        return None

    def _assemble(parts: list[str]) -> str:
        out = [parts[0]]
        for op, b in zip(operators, parts[1:]):
            out.append(op if op.startswith(" ") else f" {op}")
            out.append(b if b.startswith(" ") else f" {b}")
        if gtail:
            out.append(f" {gtail}")
        return "".join(out)

    return _assemble(wrap_parts), _assemble(inject_parts)


def _cte_body_spans(statement: str) -> list[tuple[int, int]]:
    """(start, end) spans of the INNER text of each top-level CTE
    body — every balanced paren group directly following a top-level
    ``AS`` in a WITH statement. Quote-aware; nested CTEs sit at
    depth > 0 and are handled by recursion on the body text."""
    if _find_toplevel_keyword(statement, "WITH") != 0 and not re.match(
        r"\s*WITH\b", statement, re.IGNORECASE
    ):
        return []
    spans: list[tuple[int, int]] = []
    for apos in _find_toplevel_all(statement, "AS"):
        j = apos + 2
        while j < len(statement) and statement[j].isspace():
            j += 1
        if j >= len(statement) or statement[j] != "(":
            continue
        depth, in_quote = 0, False
        for k in range(j, len(statement)):
            ch = statement[k]
            if ch == "'":
                in_quote = not in_quote
            elif not in_quote:
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        spans.append((j + 1, k))
                        break
    return spans


def _rewrite_qualify_statement(statement: str) -> list[str]:
    """Candidate full-statement rewrites covering every CTE body
    carrying a QUALIFY (recursively — a CTE body that is itself a
    WITH statement rewrites its own CTEs) and then the final block;
    [] when no QUALIFY exists anywhere at rewritable depth. Each CTE
    group and the final block can independently need the wrap form
    (predicate over select aliases) or the inject form (predicate
    over projected-away input columns), so the candidates enumerate
    (cte_form x final_form) — wrap-first in both positions, four
    variants at most — and the caller falls through the list on
    UNRESOLVED_COLUMN."""

    def rewrite_bodies(stmt: str, form: int) -> tuple[str, bool]:
        parts: list[str] = []
        changed = False
        pos = 0
        for s, e in _cte_body_spans(stmt):
            body = stmt[s:e]
            inner, inner_changed = rewrite_bodies(body, form)
            if inner_changed:
                body, changed = inner, True
            forms = _qualify_block_forms(body, in_cte=True)
            if forms is not None:
                body, changed = forms[form], True
            parts.append(stmt[pos:s] + body)
            pos = e
        parts.append(stmt[pos:])
        return "".join(parts), changed

    out: list[str] = []
    any_change = False
    for cte_form, final_form in ((0, 0), (1, 1), (0, 1), (1, 0)):
        stmt, changed = rewrite_bodies(statement, cte_form)
        forms = _qualify_block_forms(stmt, in_cte=False)
        if forms is not None:
            stmt, changed = forms[final_form], True
        any_change = any_change or changed
        if stmt not in out:
            out.append(stmt)
    return out if any_change else []


def _run_qualify(spark: SparkSession, statement: str) -> DataFrame | None:
    """Execute a SELECT/WITH statement carrying a top-level QUALIFY
    clause — window-predicate filtering (DuckDB/Snowflake/BigQuery
    syntax) that Spark SQL lacks. Returns None when there is no
    top-level QUALIFY (plain statements take the normal path).

    Rewrite, two complementary forms (Catalyst collapses either into
    the hand-written window-subquery plan — one WindowExec
    partitioned by the predicate's PARTITION BY, then a filter):

    1. WRAP (tried first): the QUALIFY-less block becomes a
       subquery and the predicate evaluates one level out, where
       select-list aliases are real columns — so windows OVER
       aliases (``QUALIFY RANK() OVER (ORDER BY mx)`` with ``mx``
       an aggregate alias) resolve, which Spark's lateral column
       aliases refuse inside a select list
       (UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_WINDOW).
    2. INJECT (fallback on AnalysisException): the predicate is
       added to the final SELECT list as a boolean helper column —
       needed when it references INPUT columns that the select list
       drops, which the wrap form cannot see.

    Both compute the window over the same pre-filter row set, so
    whenever both resolve they agree; the helper column is dropped
    from the returned frame either way, and any ORDER BY / LIMIT
    tail re-attaches outside the wrapper.

    CTE bodies are covered too (``_rewrite_qualify_statement``): each
    top-level CTE body carrying its own QUALIFY is rewritten in place
    (recursively, so a WITH nested inside a CTE body works), using
    ``* EXCEPT (__qualify__)`` so the body stays column-identical in
    pure SQL; the wrap->inject fallback applies uniformly to every
    rewritten block.

    Set operations and SELECT DISTINCT compose (r7 punch-list #7):
    QUALIFY is a select-block clause, so in a UNION/INTERSECT/EXCEPT
    each branch's own QUALIFY rewrites independently (re-
    parenthesized, the whole-expression ORDER BY / LIMIT left
    outside), and DISTINCT applies AFTER the qualify filter per the
    standard clause order — windows always see the pre-dedup rows."""
    candidates = _rewrite_qualify_statement(statement)
    if not candidates:
        return None
    from pyspark.errors.exceptions.base import AnalysisException

    def _cond(e):
        for getter in ("getCondition", "getErrorClass"):
            try:
                return getattr(e, getter)() or ""
            except Exception:
                continue
        return ""

    for i, cand in enumerate(candidates):
        try:
            return spark.sql(_substitute_cow_refs(spark, cand)).drop("__qualify__")
        except AnalysisException as e:
            # fall through ONLY for the expected failures: the
            # predicate references a column the chosen form cannot see
            # (UNRESOLVED_COLUMN for the wrap form's output scope) or
            # binds through a lateral select alias the inject form
            # cannot place in a window
            # (UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_WINDOW).
            # Any other analysis error is a genuine user error —
            # re-raise it, from the FIRST (wrap) form when possible,
            # whose embedded text is the user's own statement. The
            # last candidate re-raises unconditionally.
            expected = _cond(e).startswith("UNRESOLVED_COLUMN") or _cond(
                e
            ).startswith("UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS")
            if i == len(candidates) - 1 or not expected:
                raise


def _cow_maintenance(spark: SparkSession, verb: str, statement: str) -> DataFrame | None:
    """Engine-extension maintenance statements on COW targets:

      OPTIMIZE <table> [FILES n] [ZORDER BY (a, b) | CLUSTER BY (a)]
      VACUUM <table> [RETAIN n SNAPSHOTS]
      DESCRIBE HISTORY <table>
      REORG [TABLE] <table> APPLY (PURGE [RATIO r])

    The reference never emits these (its warehouse runs maintenance
    out-of-band), so ``filter_sql_commands`` still drops them —
    ``run_sql`` accepts them interactively for snapshot tables only;
    a non-COW target (or DESCRIBE anything-else) falls through to
    ``spark.sql`` / the verb whitelist. Returns commit stats /
    history rows as DataFrames, the Delta UX."""
    from . import cowtable as cow

    if verb == "OPTIMIZE":
        om = _OPTIMIZE_RE.match(statement)
        if om and cow.is_cow_table(spark, _resolve_target(spark, om.group(1))):
            cols = (
                [c.strip().strip("`") for c in om.group(5).split(",") if c.strip()]
                if om.group(5)
                else None
            )
            return _stats_df(
                spark,
                cow.compact(
                    spark,
                    _resolve_target(spark, om.group(1)),
                    target_files=int(om.group(3)) if om.group(3) else 8,
                    cluster_by=cols,
                    zorder=bool(om.group(4)) and om.group(4).upper() == "ZORDER",
                    where=om.group(2).strip() if om.group(2) else None,
                ),
            )
    elif verb == "VACUUM":
        vm = _VACUUM_RE.match(statement)
        if vm and cow.is_cow_table(spark, _resolve_target(spark, vm.group(1))):
            if vm.group(3):
                # DRY RUN returns the itemized reclaim listing (r13,
                # Delta parity): every file/DV/manifest/shard the real
                # run would delete, with sizes and ages — derived from
                # the SAME planning pass the real run executes
                items = cow.vacuum_report(
                    spark,
                    _resolve_target(spark, vm.group(1)),
                    keep_last=int(vm.group(2)) if vm.group(2) else 1,
                )
                return local_frame(
                    spark,
                    [
                        (
                            it["kind"],
                            it["name"],
                            int(it["size"]),
                            float(it["age_seconds"]),
                        )
                        for it in items
                    ],
                    "kind string, name string, size long, age_seconds double",
                )
            removed = cow.vacuum(
                spark,
                _resolve_target(spark, vm.group(1)),
                keep_last=int(vm.group(2)) if vm.group(2) else 1,
            )
            return local_frame(spark, [(removed,)], "files_removed long")
    elif verb == "DESCRIBE":
        hm = _HISTORY_RE.match(statement)
        if hm and cow.is_cow_table(spark, _resolve_target(spark, hm.group(1))):
            rows = cow.history(spark, _resolve_target(spark, hm.group(1)))
            return local_frame(
                spark,
                [(r["snapshot_id"], r["operation"], r["n_files"], r["n_rows"]) for r in rows],
                "snapshot_id long, operation string, n_files long, n_rows long",
            )
        dd = _DETAIL_RE.match(statement)
        if dd and cow.is_cow_table(spark, _resolve_target(spark, dd.group(1))):
            d = cow.describe_detail(spark, _resolve_target(spark, dd.group(1)))
            d = {
                k: (",".join(v) if isinstance(v, list) else v)
                for k, v in d.items()
            }
            return _stats_df(spark, d)
        dm = _DESCRIBE_TABLE_RE.match(statement)
        if dm and not hm and not dd:
            return _describe_table(spark, dm.group(1))
    elif verb == "SHOW":
        sc_ = _SHOW_CREATE_RE.match(statement)
        if sc_:
            return _show_create_table(spark, sc_.group(1))
        sp_ = _SHOW_PARTITIONS_RE.match(statement)
        if sp_ and cow.is_cow_table(spark, _resolve_target(spark, sp_.group(1))):
            # distinct LIVE partition value tuples from manifest
            # entries — metadata-only, like Spark's SHOW PARTITIONS.
            # Mixed spec vintages (partition evolution) surface their
            # own recorded keys; an unpartitioned table refuses like
            # Spark does.
            p_ = _resolve_target(spark, sp_.group(1))
            m_ = cow.table_head_meta(spark, p_)
            pby = m_.get("partition_by") or []
            if not pby and not (m_.get("partition_specs") or []):
                raise ValueError(
                    f"SHOW PARTITIONS: table {p_!r} is not partitioned"
                )
            full = cow._load_manifest(spark, p_, m_["snapshot_id"])
            seen = sorted(
                {
                    "/".join(
                        f"{k}={v}"
                        for k, v in sorted((e.get("partition") or {}).items())
                    )
                    for e in full["files"]
                    if e.get("partition")
                }
            )
            return local_frame(
                spark, [(s,) for s in seen], "partition string"
            )
        st_ = _SHOW_TAGS_RE.match(statement)
        if st_ and cow.is_cow_table(spark, _resolve_target(spark, st_.group(1))):
            t = cow.tags(spark, _resolve_target(spark, st_.group(1)))
            return local_frame(
                spark, sorted(t.items()), "tag string, snapshot_id long"
            )
        sm_ = _SHOW_TABLES_RE.match(statement)
        if sm_:
            # the COW named-table catalog (r10); native Spark catalog
            # tables are listed by spark.catalog, not this gate —
            # run_sql's SHOW surface is the lake format's own state.
            # LIKE takes the SQL wildcard pair (% and _), matching
            # case-insensitively like the names themselves.
            import fnmatch as _fn

            from . import catalog as _cat

            entries = _cat.tables(spark)
            if sm_.group(1) is not None:
                pat = sm_.group(1).lower().replace("%", "*").replace("_", "?")
                entries = {
                    k: v for k, v in entries.items() if _fn.fnmatchcase(k, pat)
                }
            return local_frame(
                spark, list(entries.items()), "name string, path string"
            )
        smv_ = _SHOW_MATVIEWS_RE.match(statement)
        if smv_:
            from .matview_sql import show_matviews

            pat = smv_.group(1)
            if pat is not None:
                pat = pat.lower().replace("%", "*").replace("_", "?")
            return show_matviews(spark, pat)
        sv_ = _SHOW_VIEWS_RE.match(statement)
        if sv_:
            import fnmatch as _fn

            from . import catalog as _cat

            entries = _cat.views(spark)
            if sv_.group(1) is not None:
                pat = sv_.group(1).lower().replace("%", "*").replace("_", "?")
                entries = {
                    k: v for k, v in entries.items() if _fn.fnmatchcase(k, pat)
                }
            return local_frame(
                spark, list(entries.items()), "name string, sql string"
            )
    elif verb == "CONVERT":
        cv = _CONVERT_RE.match(statement)
        if cv:
            raw = cv.group(1)
            if raw.lower().startswith("parquet.`"):
                raw = raw[len("parquet.") :]
            path = _unquote(raw)
            specs = (
                [s.strip().strip("`") for s in cv.group(2).split(",") if s.strip()]
                if cv.group(2)
                else None
            )
            snap = cow.convert_to_cow(spark, path, partition_by=specs)
            return local_frame(spark, [(snap,)], "snapshot_id long")
    elif verb == "REORG":
        rm = _REORG_RE.match(statement)
        if rm and cow.is_cow_table(spark, _resolve_target(spark, rm.group(1))):
            return _stats_df(
                spark,
                cow.reorg_purge(
                    spark,
                    _resolve_target(spark, rm.group(1)),
                    min_dv_ratio=float(rm.group(2)) if rm.group(2) else 0.0,
                ),
            )
    elif verb == "RESTORE":
        sm = _RESTORE_RE.match(statement)
        if sm and cow.is_cow_table(spark, _resolve_target(spark, sm.group(1))):
            path = _resolve_target(spark, sm.group(1))
            if sm.group(2) is not None:
                target = int(sm.group(2))
            elif sm.group(3) is not None:
                target = cow.resolve_ref(spark, path, sm.group(3))
            else:
                target = cow.snapshot_as_of(spark, path, sm.group(4))
            new_snap = cow.rollback(spark, path, target)
            return local_frame(
                spark, [(target, new_snap)],
                "restored_to_snapshot long, new_snapshot long",
            )
    return None


def _show_create_table(spark: SparkSession, target: str) -> DataFrame:
    """``SHOW CREATE TABLE <name-or-path>`` (r11 punch #7): emit the
    ROUND-TRIPPABLE DDL from the head manifest — one row per
    statement in the ``createtab_stmt`` column (the Spark/Delta
    convention): the ``CREATE TABLE ... USING cow`` with every layout
    clause the gate's CREATE grammar accepts (PARTITIONED BY under
    the CURRENT spec, BLOOM BY, CLUSTERED/SORTED/INTO BUCKETS,
    TBLPROPERTIES write_mode, LOCATION), followed by one
    ``ALTER TABLE ... ADD CONSTRAINT`` per CHECK constraint.
    Re-executing the emitted statements against a new LOCATION (plus
    an AS payload — SHOW CREATE describes layout, not data)
    reproduces a DESCRIBE-equal table; pinned by
    ``tests/test_sql_gate.py``. Generated columns emit as the
    ``GENERATED (col AS (expr), ...)`` clause the CREATE grammar
    accepts (r11), so they round-trip like every other layout
    clause."""
    import json as _json

    from . import catalog as _cat
    from . import cowtable as cow

    raw = _unquote(target)
    name = None
    if _cat.is_name(raw):
        view_sql = _cat.resolve_view(spark, raw)
        if view_sql is not None:
            # a VIEW round-trips as its CREATE VIEW statement (r13)
            nm = _cat.normalize_name(raw)
            return local_frame(
                spark, [(f"CREATE VIEW {nm} AS {view_sql}",)],
                "createtab_stmt string",
            )
        mv_e = _cat.resolve_matview(spark, raw)
        if mv_e is not None:
            # a MATERIALIZED VIEW round-trips the same way (r14)
            nm = _cat.normalize_name(raw)
            return local_frame(
                spark, [(f"CREATE MATERIALIZED VIEW {nm} AS {mv_e['sql']}",)],
                "createtab_stmt string",
            )
        name = raw
        path = _cat.resolve_or_raise(spark, raw)
    else:
        path = raw
    if not cow.is_cow_table(spark, path):
        raise ValueError(
            f"SHOW CREATE TABLE: {path!r} is not a COW snapshot table"
        )
    snap = cow.current_snapshot(spark, path)
    head = _json.loads(cow._read_file(spark, cow._manifest_path(path, snap)).decode())
    tgt = name if name else f"cow.`{path}`"
    parts = [f"CREATE TABLE {tgt} USING cow"]
    gen = head.get("generated_columns") or {}
    if gen:
        parts.append(
            "GENERATED ("
            + ", ".join(f"{c} AS ({e})" for c, e in sorted(gen.items()))
            + ")"
        )
    dflt = head.get("column_defaults") or {}
    if dflt:
        parts.append(
            "DEFAULTS ("
            + ", ".join(f"{c} AS ({e})" for c, e in sorted(dflt.items()))
            + ")"
        )
    ident = head.get("identity_columns") or {}
    if ident:
        parts.append(
            "IDENTITY ("
            + ", ".join(
                f"{c} START WITH {s['start']} STEP {s['step']}"
                for c, s in sorted(ident.items())
            )
            + ")"
        )
    if head.get("partition_by"):
        parts.append(
            "PARTITIONED BY (" + ", ".join(head["partition_by"]) + ")"
        )
    if head.get("bloom_columns"):
        parts.append("BLOOM BY (" + ", ".join(head["bloom_columns"]) + ")")
    b = head.get("bucket_by")
    if b:
        clause = "CLUSTERED BY (" + ", ".join(b["columns"]) + ")"
        if b.get("sort_by"):
            clause += " SORTED BY (" + ", ".join(b["sort_by"]) + ")"
        clause += f" INTO {b['buckets']} BUCKETS"
        parts.append(clause)
    if head.get("write_mode"):
        parts.append(f"TBLPROPERTIES ('write_mode'='{head['write_mode']}')")
    if name:
        parts.append(f"LOCATION '{path}'")
    stmts = [" ".join(parts)]
    for cname, expr in sorted((head.get("check_constraints") or {}).items()):
        stmts.append(
            f"ALTER TABLE {tgt} ADD CONSTRAINT {cname} CHECK ({expr})"
        )
    return local_frame(spark, [(s,) for s in stmts], "createtab_stmt string")


def _describe_table(spark: SparkSession, target: str) -> DataFrame:
    """``DESCRIBE [TABLE] <name-or-path>`` over a COW snapshot table:
    columns (with generated expressions inline) followed by
    ``# ``-prefixed spec rows sourced from the head manifest —
    location, snapshot, write mode, partition / bucket / bloom layout,
    CHECK constraints — so a SQL-text user can discover table state
    without Python (r10 punch #8). Refuses cleanly on non-COW targets;
    an unregistered bare name lists the registered tables."""
    import json as _json

    from . import catalog as _cat
    from . import cowtable as cow

    raw = _unquote(target)
    name = None
    if _cat.is_name(raw):
        view_sql = _cat.resolve_view(spark, raw)
        if view_sql is not None:
            # DESCRIBE of a VIEW (r13): the planned output columns,
            # then the stored text — the Dremio/ANSI expectation
            planned = run_sql(spark, view_sql)
            rows = [
                (f.name, f.dataType.simpleString(), None)
                for f in planned.schema.fields
            ]
            rows += [
                ("# kind", "view", None),
                ("# name", _cat.normalize_name(raw), None),
                ("# sql", view_sql, None),
            ]
            return local_frame(
                spark, rows, "col_name string, data_type string, info string"
            )
        mv_e = _cat.resolve_matview(spark, raw)
        if mv_e is not None:
            # DESCRIBE of a MATERIALIZED VIEW (r14): the user-visible
            # columns (backing table minus maintenance cols), then the
            # stored definition + maintenance state
            back_schema = {
                f.name: f.dataType.simpleString()
                for f in cow.read(spark, mv_e["table"]).schema.fields
            }
            rows = [
                (c, back_schema[c], None) for c in mv_e["user_cols"]
            ]
            rows += [
                ("# kind", "materialized view", None),
                ("# name", _cat.normalize_name(raw), None),
                ("# mode", mv_e["mode"], None),
                ("# base_snapshot", str(mv_e.get("last_snapshot")), None),
                ("# sql", mv_e["sql"], None),
            ]
            return local_frame(
                spark, rows, "col_name string, data_type string, info string"
            )
        name = raw
        path = _cat.resolve_or_raise(spark, raw)
    else:
        path = raw
    if not cow.is_cow_table(spark, path):
        raise ValueError(
            f"DESCRIBE TABLE: {path!r} is not a COW snapshot table"
        )
    snap = cow.current_snapshot(spark, path)
    head = _json.loads(cow._read_file(spark, cow._manifest_path(path, snap)).decode())
    gen = head.get("generated_columns") or {}
    # schema JSON spells integral types 'long'/'integer'/...; DESCRIBE
    # reports the DDL (simpleString) spellings users write
    simple = {"long": "bigint", "integer": "int", "short": "smallint", "byte": "tinyint"}
    rows: list[tuple[str, str, str | None]] = []
    dflt = head.get("column_defaults") or {}
    ident = head.get("identity_columns") or {}
    for f in _json.loads(head["schema"])["fields"]:
        t = f["type"]
        t = simple.get(t, t) if isinstance(t, str) else _json.dumps(t)
        if f["name"] in gen:
            info = f"generated as ({gen[f['name']]})"
        elif f["name"] in dflt:
            info = f"default ({dflt[f['name']]})"
        elif f["name"] in ident:
            s = ident[f["name"]]
            info = (
                f"identity (start {s['start']} step {s['step']}, "
                f"high water {s.get('high_water')})"
            )
        else:
            info = None
        rows.append((f["name"], t, info))
    if name:
        rows.append(("# name", name, None))
    rows.append(("# location", path, None))
    rows.append(("# snapshot", str(snap), None))
    rows.append(("# write_mode", head.get("write_mode") or "cow", None))
    if head.get("partition_by"):
        rows.append(("# partition_by", ", ".join(head["partition_by"]), None))
    if head.get("partition_specs"):
        # r11 spec evolution: surface every vintage; files written
        # under an old spec keep pruning under it (no rewrite)
        for s in head["partition_specs"]:
            marker = " (default)" if s["spec_id"] == head.get("default_spec_id", 0) else ""
            rows.append(
                (
                    f"# partition_spec[{s['spec_id']}]",
                    (", ".join(s["fields"]) or "(unpartitioned)") + marker,
                    None,
                )
            )
    b = head.get("bucket_by")
    if b:
        rows.append(("# bucket_by", ", ".join(b["columns"]), None))
        rows.append(("# num_buckets", str(b["buckets"]), None))
        if b.get("sort_by"):
            rows.append(("# bucket_sort_by", ", ".join(b["sort_by"]), None))
    if head.get("bloom_columns"):
        rows.append(("# bloom_columns", ", ".join(head["bloom_columns"]), None))
    for cname, expr in sorted((head.get("check_constraints") or {}).items()):
        rows.append((f"# check: {cname}", expr, None))
    for tname, tsnap in sorted((head.get("tags") or {}).items()):
        rows.append((f"# tag: {tname}", str(tsnap), None))
    return local_frame(spark, rows, "col_name string, data_type string, info string")
