"""Doc-count drift tripwire (the r6 punch-list #4): SURVEY.md's
registry line must match the live registry, so the counts can never
silently diverge again (they drifted in rounds 5 and 6)."""

from __future__ import annotations

import re


def test_survey_registry_line_matches_registry():
    import data_warehouse_solution_spark.operators  # noqa: F401
    import data_warehouse_solution_spark.streaming  # noqa: F401
    from data_warehouse_solution_spark.registry import all_oracles, all_queries

    text = open("SURVEY.md").read()
    found = re.findall(
        r"Registry: \*\*(\d+) queries\*\* \((\d+) value-oracled; (\d+) rows-only",
        text,
    )
    assert found, "SURVEY.md registry line not found (format changed?)"
    # earlier matches are per-round history; the LAST is the current line
    n_q, n_o, n_r = map(int, found[-1])
    q, o = all_queries(), all_oracles()
    assert n_q == len(q), f"SURVEY says {n_q} queries, registry has {len(q)}"
    assert n_o == len(o), f"SURVEY says {n_o} value-oracled, registry has {len(o)}"
    assert n_r == len(q) - len(o), (
        f"SURVEY says {n_r} rows-only, registry has {len(q) - len(o)}"
    )


def test_bench_headliners_are_registered():
    """Every bench headliner must be a registered query — a renamed
    query would otherwise silently drop out of the perf surface."""
    import bench

    import data_warehouse_solution_spark.operators  # noqa: F401
    import data_warehouse_solution_spark.streaming  # noqa: F401
    from data_warehouse_solution_spark.registry import all_queries

    q = all_queries()
    missing = [n for n in bench.HEADLINE if n not in q]
    assert not missing, f"bench headliners not in the registry: {missing}"


def test_scale_md_headliner_count_matches_bench():
    """SCALE.md's canonical headliner count vs bench.HEADLINE."""
    import re

    import bench

    text = open("SCALE.md").read()
    found = re.findall(r"\*\*Bench headliners: (\d+)\*\*", text)
    assert found, "SCALE.md headliner line not found (format changed?)"
    assert int(found[-1]) == len(bench.HEADLINE), (
        f"SCALE.md says {found[-1]} headliners, bench.py has "
        f"{len(bench.HEADLINE)} — update SCALE.md's 'Current status' line"
    )
