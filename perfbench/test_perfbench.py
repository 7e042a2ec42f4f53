"""Tests of the warehouse benchmark itself.

    python3 -m pytest perfbench -q

The end-to-end tests run ``run.py`` in a subprocess at TPC-H sf0.001
with a one-second loop (each run still pays a Spark start-up).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import steady  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = sorted(workloads.WORKLOADS)


def bench(workload: str, seed: int = 1, trace: int = 0, patch: str = "") -> tuple[int, dict, dict]:
    """Run the benchmark at sf0.001; ``patch`` is Python run in the
    benchmark process before ``run.main`` (to plant a wrong result).
    Returns (exit code, last-line JSON or {}, {name: printed value})."""
    argv = ["--workload", workload, "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace), "--sf", "0.001"]
    code = (f"import sys; sys.path[:0] = [{HERE!r}]; import run, workloads\n{patch}\n"
            f"sys.exit(run.main({argv!r}))")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    printed = {}
    for ln in lines:
        name, sep, rest = ln.partition(": ")
        if sep and " " not in name:
            printed[name] = rest
    return p.returncode, result, printed


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_with_unit(workload, spec):
    code, result, printed = bench(workload)
    assert code == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for name, unit in want.items():
        assert printed[name].endswith(f" {unit}")
    assert printed["op_fail_frac"] == "0.0 ratio"
    assert printed["op_p90_s"].startswith("not reported")


@pytest.fixture(scope="module")
def traced_twice():
    return [bench("cow_dml", seed=7, trace=1) for _ in range(2)]


def test_traced_run_prints_every_layer_metric(traced_twice, spec):
    code, result, printed = traced_twice[0]
    assert code == 0 and result["correct"] is True
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, unit in want.items():
        assert printed[name].endswith(f" {unit}")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["py4j.calls"] > 0 and m["cowtable.update_s"] > 0
    assert m["cowtable.files_rewritten"] == 4  # both UPDATEs, DELETE and MERGE rewrite one file each


def test_traced_ingest_run_measures_the_ingest_layer(spec):
    code, result, _ = bench("ingest_csv", trace=1)
    assert code == 0 and result["correct"] is True
    assert list(result["metrics"]) == [m["name"] for m in spec["per_layer"]]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["ingest.read_source_s"] > 0 and m["ingest.ingest_s"] > 0 and m["spark.jobs"] > 0
    # four files on up to four pool threads: per-file spans overlap
    assert m["ingest.overlap"] > 1 or len(os.sched_getaffinity(0)) == 1
    assert m["sql_gate.self_s"] == 0 and m["cowtable.files_rewritten"] == 0


def test_counts_repeat_exactly_for_one_seed(traced_twice):
    (_, r1, p1), (_, r2, p2) = traced_twice
    for name in ("write_amp", "space_amp"):
        assert p1[name] == p2[name]
    for name in ("spark.jobs", "cowtable.files_rewritten", "cowtable.files_untouched",
                 "cowtable.data_bytes", "cowtable.manifest_bytes"):
        assert r1["metrics"][name]["value"] == r2["metrics"][name]["value"], name


def test_wrong_expected_query_result_fails_the_run():
    patch = ("orig = workloads.CowQuery.expected\n"
             "workloads.CowQuery.expected = lambda self, op: [r[:-1] + (-1,) for r in orig(self, op)]")
    code, result, _ = bench("cow_query", patch=patch)
    assert code != 0
    assert result["correct"] is False and result["failed"] == result["attempted"]


def test_diverging_dml_replay_fails_the_run():
    # the oracle skips one statement, so the final table cannot match it
    patch = ("orig = workloads.DuckReplay.apply\n"
             "def apply(self, op):\n"
             "    return 0 if op['kind'] == 'update' else orig(self, op)\n"
             "workloads.DuckReplay.apply = apply")
    code, result, _ = bench("cow_dml", patch=patch)
    assert code != 0 and result["correct"] is False


class _Harness:
    tracer = None

    def start(self) -> None:
        pass


class _SleepWorkload:
    """One 20 ms op per cycle, two measured cycles."""

    min_cycles = 2

    def prepare(self, h) -> None:
        pass

    setup = warm_up = prepare

    def cycle(self) -> list[dict]:
        return [{"kind": "sleep"}]

    def run(self, h, op: dict) -> None:
        time.sleep(0.02)

    def after(self, h, op: dict, result, in_prefix: bool) -> bool:
        return True

    def finish(self, h) -> tuple[bool, dict]:
        return True, {"write_amp": 1.0, "space_amp": 1.0}


def test_only_the_first_min_cycles_are_measured():
    r = run.run_workload(_SleepWorkload(), _Harness(), seconds=0.3)
    assert r["ops"] > 2 and r["attempted"] == r["ops"]
    assert len(r["lat"]) == len(r["cpu"]) == len(r["kinds"]) == 2


def test_run_sets_alternate_run_by_run(tmp_path, monkeypatch):
    calls = []

    def fake_run(workload, seed, seconds, trace):
        calls.append((workload, seed))
        return {"seed": seed, "run_s": 1.0, "host_steal_frac": 0.0, "printed": {"op_p50_s": 1.0}}

    monkeypatch.setattr(steady, "one_run", fake_run)
    outs = [str(tmp_path / "a.json"), str(tmp_path / "b.json")]
    args = argparse.Namespace(out=outs, seeds=["1-2", "11-12"], workloads="w",
                              seconds=1, trace=0)
    assert steady.cmd_run(args) == 0
    assert calls == [("w", 1), ("w", 11), ("w", 2), ("w", 12)]
    with open(outs[1]) as fh:
        assert [r["seed"] for r in json.load(fh)["workloads"]["w"]["runs"]] == [11, 12]


def test_inputs_repeat_for_a_seed(tmp_path):
    a, b = data.tpch_tables(3, 300), data.tpch_tables(3, 300)
    assert a[0].equals(b[0]) and a[1].equals(b[1])
    assert not a[0].equals(data.tpch_tables(4, 300)[0])
    assert data.csv_table(3, 1, 50).equals(data.csv_table(3, 1, 50))


def test_dml_ranges_cover_fixed_rows_inside_one_base_file():
    lineitem, _ = data.tpch_tables(5, workloads.ORDERS)
    keys = lineitem.column("l_orderkey").to_numpy()
    base = workloads.Base("base", "orders", len(keys),
                          np.bincount(keys - 1, minlength=workloads.ORDERS))
    stream = workloads.DmlStream(5, 3, "t", base)
    per = workloads.ORDERS // workloads.FILES
    for _ in range(50):
        ops = stream.cycle()
        assert [op["kind"] for op in ops] == list(workloads.DmlStream.KINDS)
        for op in ops:
            lo, hi = op["range"]
            assert (lo - 1) // per == (hi - 1) // per
            want = workloads.MERGE_ROWS if op["kind"] == "merge" else workloads.UPDATE_ROWS
            # whole orders of at most seven rows each
            assert want <= base.order_rows[lo - 1 : hi].sum() < want + data.ROWS_PER_ORDER_MAX


def test_rows_equal_tolerates_float_order_only():
    assert workloads.rows_equal([("a", 1, 0.1 + 0.2)], [("a", 1, 0.3)])
    assert not workloads.rows_equal([("a", 1, 0.3)], [("a", 2, 0.3)])
    assert not workloads.rows_equal([("a", 1, 0.3)], [("a", 1, 0.31)])
    assert workloads.rows_equal([("b", 1, None), ("a", 2, 1.0)], [("a", 2, 1.0), ("b", 1, None)])


def test_self_time_subtracts_covered_child_time():
    t = spans.Tracer()
    t.spans = [spans.Span("root", 0.0, 10.0), spans.Span("a", 1.0, 4.0, parent=0),
               spans.Span("b", 3.0, 6.0, parent=0), spans.Span("c", 8.0, 9.0, parent=0)]
    assert t.self_time(0, t.children()) == pytest.approx(10.0 - 6.0)
    assert spans.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_end_to_end_names_match_spec(spec):
    assert list(run.END_TO_END) == [m["name"] for m in spec["end_to_end"]]
    assert list(run.PER_LAYER) == [m["name"] for m in spec["per_layer"]]
