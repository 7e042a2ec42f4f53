"""Warehouse benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload cow_dml --seed 1 --seconds 4 --trace 0

Run from the repository root. The run builds the engine's session with
``session.build_session`` (deployment settings only), generates its
inputs from ``--seed`` inside a scratch directory under the current
directory, runs one warm-up cycle, then times whole op cycles until
``--seconds`` have passed (and at least the workload's ``min_cycles``).
Metrics cover the first ``min_cycles`` timed cycles only, so the work
they measure does not depend on how fast the host is.
Outputs are checked against DuckDB. The last line of stdout is one JSON
object; with ``--trace 1`` its metrics are the per-layer ones.
Exit status is non-zero when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from spans import (  # noqa: E402
    Tracer,
    descendants,
    host_cpu_times,
    proc_table,
    process_age_seconds,
    tree_cpu_seconds,
)

SCRATCH_ROOT = ".perfbench_scratch"
DRIVER_MEMORY = "4g"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_p50_s": "s",
    "op_cpu_p50_s": "s",
    "write_amp": "x",
    "space_amp": "x",
}
PER_LAYER = {
    "session.build_s": "s",
    "sql_gate.self_s": "s",
    "cowtable.update_s": "s",
    "cowtable.delete_s": "s",
    "cowtable.append_s": "s",
    "cowtable.merge_s": "s",
    "cowtable.read_s": "s",
    "cowtable.files_rewritten": "count",
    "cowtable.files_untouched": "count",
    "cowtable.prune_frac": "ratio",
    "cowtable.data_bytes": "B",
    "cowtable.manifest_bytes": "B",
    "ingest.read_source_s": "s",
    "ingest.ingest_s": "s",
    "ingest.overlap": "x",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "plans.scan_rows": "count",
    "plans.shuffle_bytes": "B",
    "plans.exchanges": "count",
    "py4j.calls": "count",
    "host.steal_frac": "ratio",
    "trace.op_p50_s": "s",
}
COW_VERBS = {
    "update": "update", "delete": "delete", "append": "append",
    "merge": "merge", "merge_upsert": "merge", "read": "read",
}


class Harness:
    """What a workload sees: the session, the product modules, the
    scratch dir, and hooks that feed per-layer counters."""

    def __init__(self, seed: int, sf: float, scratch: str, tracer: Tracer | None) -> None:
        self.seed, self.scratch, self.tracer = seed, scratch, tracer
        self.orders = int(1_500_000 * sf)  # TPC-H orders at scale factor sf
        self.warehouse = os.path.join(scratch, "warehouse")
        self.commits: list[dict] = []
        self.selects: list[dict] = []
        self.counting = False  # True while a prefix op runs

    def start(self) -> None:
        # imported here so that a checkout without the product fails
        # before printing any result
        from data_warehouse_solution_spark import cowtable, ingest, plans, session, sql_gate

        self.cowtable, self.ingest, self.plans = cowtable, ingest, plans
        self.session, self.sql_gate = session, sql_gate
        if self.tracer is not None:
            self._instrument()
        cpus = len(os.sched_getaffinity(0))
        cfg = session.EngineConfig(
            master=f"local[{cpus}]",
            driver_memory=DRIVER_MEMORY,
            extra={
                "spark.sql.warehouse.dir": self.warehouse,
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark = session.build_session(cfg)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if self.tracer is not None:
            self.tracer.count_py4j(self.spark.sparkContext._gateway._gateway_client)
            self._sc = self.spark.sparkContext._jsc.sc()
            self._job_mark = self._next_job_id()

    def _instrument(self) -> None:
        t = self.tracer
        t.wrap(self.session, "build_session", "session.build")
        t.wrap(self.sql_gate, "run_sql", "sql_gate.run_sql")
        for attr, verb in COW_VERBS.items():
            t.wrap(self.cowtable, attr, f"cowtable.{verb}")
        for attr in ("ingest_many", "ingest", "read_source"):
            t.wrap(self.ingest, attr, f"ingest.{attr}")

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its workers to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        kids = descendants(os.getpid(), proc_table())
        spark.stop()
        gw = spark.sparkContext._gateway
        if gw is not None:
            gw.shutdown()
        if self._jvm_proc is not None:
            self._jvm_proc.terminate()
            self._jvm_proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(_alive(p) for p in kids):
            time.sleep(0.1)
        for p in kids:
            if _alive(p):
                os.kill(p, signal.SIGKILL)

    # --- per-layer hooks (active only in traced runs) -------------------
    def commit_stats(self, result: dict, data_bytes: int, manifest_bytes: int) -> None:
        if self.tracer is not None and self.counting:
            self.commits.append(dict(result, data_bytes=data_bytes, manifest_bytes=manifest_bytes))

    def select_done(self, df) -> None:
        if self.tracer is not None and self.counting:
            with self.tracer.paused():
                self.selects.append(self.plans.executed_metrics(df))

    def _next_job_id(self) -> int:
        with self.tracer.paused():
            return int(self._sc.dagScheduler().nextJobId())

    def op_jobs(self) -> list[dict]:
        """Jobs launched since the previous call, from the status store
        (after the listener bus has drained). Jobs are found by job-id
        range, because ``ingest_many``'s pool threads carry no job group."""
        with self.tracer.paused():
            self._sc.listenerBus().waitUntilEmpty()
            end = self._next_job_id()
            store = self._sc.statusStore()
            jobs = []
            for jid in range(self._job_mark, end):
                j = store.job(jid)
                sub, done = j.submissionTime(), j.completionTime()
                jobs.append({
                    "id": jid,
                    "stages": j.stageIds().size() - j.numSkippedStages(),
                    "tasks": j.numCompletedTasks(),
                    "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                    "end": done.get().getTime() / 1000 if done.isDefined() else None,
                })
            self._job_mark = end
        return jobs


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def log(msg: str) -> None:
    print(f"[{process_age_seconds():7.2f}s] {msg}", file=sys.stderr, flush=True)


def run_workload(workload, h: Harness, seconds: float) -> dict:
    """Set up, warm up, run the timed closed loop, check, measure."""
    tracer = h.tracer
    # inputs are generated while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        inputs = pool.submit(workload.prepare, h)
        h.start()
        log("session built")
        inputs.result()
    workload.setup(h)
    log("tables built")
    workload.warm_up(h)  # untimed, counted in setup_s
    log("warm-up done")
    if tracer is not None:
        h.op_jobs()  # drop setup's jobs

    lat, cpu, kinds, per_op = [], [], [], []
    attempted = failed = cycles = n_prefix = 0
    pid = os.getpid()
    setup_s = process_age_seconds()
    steal0, total0 = host_cpu_times()
    loop0 = time.perf_counter()
    while cycles < workload.min_cycles or time.perf_counter() - loop0 < seconds:
        in_prefix = cycles < workload.min_cycles
        for op in workload.cycle():
            h.counting = in_prefix
            if tracer is not None:
                tracer.op = attempted
                calls0 = tracer.py4j_calls
                root = tracer.open(f"op.{op['kind']}")
            c0 = tree_cpu_seconds(pid)
            t0 = time.perf_counter()
            err = result = None
            try:
                result = workload.run(h, op)
            except Exception as e:  # one failed op must not end the run
                err = e
            t1 = time.perf_counter()
            c1 = tree_cpu_seconds(pid)
            if tracer is not None:
                tracer.close(root)
                calls = tracer.py4j_calls - calls0
                jobs = h.op_jobs()
                _attach_jobs(tracer, jobs, attempted)
                if in_prefix:
                    per_op.append({"op": attempted, "py4j": calls, "jobs": jobs})
                tracer.op = None
            attempted += 1
            lat.append(t1 - t0)
            cpu.append(c1 - c0)
            kinds.append(op["kind"])
            ok = False
            if err is None:
                try:
                    ok = workload.after(h, op, result, in_prefix)
                except Exception as e:
                    err = e
            if not ok:
                failed += 1
                print(f"FAILED op {attempted - 1} ({op['kind']}): {err or 'wrong result'}",
                      file=sys.stderr)
        cycles += 1
        if cycles == workload.min_cycles:
            n_prefix = attempted
    h.counting = False
    steal1, total1 = host_cpu_times()
    log(f"timed loop done: {attempted} ops")
    correct, amp = workload.finish(h)
    log("final checks done")
    if not correct:  # the outputs of the run as a whole are wrong
        failed = max(failed, 1)
        print("FAILED final check: outputs differ from the DuckDB replay", file=sys.stderr)
    return {
        "attempted": attempted, "failed": failed, "correct": failed == 0,
        "setup_s": setup_s, "cycles": cycles, "ops": attempted,
        # only the first min_cycles cycles are measured (see module doc)
        "lat": lat[:n_prefix], "cpu": cpu[:n_prefix], "kinds": kinds[:n_prefix],
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "amp": amp, "per_op": per_op,
    }


def _attach_jobs(tracer: Tracer, jobs: list[dict], op: int) -> None:
    """Record each job as a span under the deepest span of ``op`` that
    was open when the job was submitted."""
    mine = [i for i, s in enumerate(tracer.spans) if s.op == op]
    for j in jobs:
        if j["start"] is None or j["end"] is None:
            continue
        start = j["start"] - tracer.epoch_offset
        end = j["end"] - tracer.epoch_offset
        holders = [i for i in mine if tracer.spans[i].start <= start <= tracer.spans[i].end]
        parent = max(holders, key=lambda i: tracer.spans[i].start) if holders else None
        tracer.add("spark.job", start, end, parent)


def end_to_end(r: dict) -> dict:
    return {
        "setup_s": r["setup_s"],
        "op_p50_s": statistics.median(r["lat"]),
        "op_cpu_p50_s": statistics.median(r["cpu"]),
        "write_amp": r["amp"]["write_amp"],
        "space_amp": r["amp"]["space_amp"],
    }


def per_layer(r: dict, h: Harness) -> dict:
    """Per-layer metrics of a traced run. Counts and bytes cover the
    first ``min_cycles`` timed cycles (identical for a seed); times
    are means per call over the same ops."""
    t = h.tracer
    prefix = {p["op"] for p in r["per_op"]}
    kids = t.children()
    spans = [(i, s) for i, s in enumerate(t.spans) if s.op in prefix]

    def mean_dur(name):
        d = [s.duration for _, s in spans if s.name == name]
        return sum(d) / len(d) if d else 0.0

    n_ops = max(1, len(prefix))
    gate_self = sum(t.self_time(i, kids) for i, s in spans if s.name == "sql_gate.run_sql")
    many = sum(s.duration for _, s in spans if s.name == "ingest.ingest_many")
    per_file = sum(s.duration for _, s in spans if s.name == "ingest.ingest")
    rewritten = sum(c.get("files_rewritten", 0) for c in h.commits)
    untouched = sum(c.get("files_untouched", 0) for c in h.commits)
    n_commits = max(1, len(h.commits))
    n_sel = max(1, len(h.selects))
    jobs = [j for p in r["per_op"] for j in p["jobs"]]
    builds = [s.duration for s in t.spans if s.name == "session.build"]
    return {
        "session.build_s": builds[0] if builds else 0.0,
        "sql_gate.self_s": gate_self / n_ops,
        "cowtable.update_s": mean_dur("cowtable.update"),
        "cowtable.delete_s": mean_dur("cowtable.delete"),
        "cowtable.append_s": mean_dur("cowtable.append"),
        "cowtable.merge_s": mean_dur("cowtable.merge"),
        "cowtable.read_s": mean_dur("cowtable.read"),
        "cowtable.files_rewritten": rewritten,
        "cowtable.files_untouched": untouched,
        "cowtable.prune_frac": untouched / max(1, rewritten + untouched),
        "cowtable.data_bytes": sum(c["data_bytes"] for c in h.commits) / n_commits,
        "cowtable.manifest_bytes": sum(c["manifest_bytes"] for c in h.commits) / n_commits,
        "ingest.read_source_s": mean_dur("ingest.read_source"),
        "ingest.ingest_s": mean_dur("ingest.ingest"),
        "ingest.overlap": per_file / many if many else 0.0,
        "spark.jobs": len(jobs) / n_ops,
        "spark.stages": sum(j["stages"] for j in jobs) / n_ops,
        "spark.tasks": sum(j["tasks"] for j in jobs) / n_ops,
        "plans.scan_rows": sum(s["scan_rows"] for s in h.selects) / n_sel,
        "plans.shuffle_bytes": sum(s["shuffle_bytes"] for s in h.selects) / n_sel,
        "plans.exchanges": sum(s["exchanges"] for s in h.selects) / n_sel,
        "py4j.calls": sum(p["py4j"] for p in r["per_op"]) / n_ops,
        "host.steal_frac": r["steal_frac"],
        "trace.op_p50_s": statistics.median(r["lat"]),
    }


def report(r: dict, h: Harness) -> dict:
    """Print every metric by name and unit (end-to-end, and per-layer
    when traced); return the result object for the last line."""
    n = r["attempted"]
    print(f"ops: {r['ops']} in {r['cycles']} cycles, the first {len(r['lat'])} measured, "
          f"failed {r['failed']}, host steal {r['steal_frac']:.4f}")
    for kind in dict.fromkeys(r["kinds"]):
        ls = [x for x, k in zip(r["lat"], r["kinds"]) if k == kind]
        cs = [x for x, k in zip(r["cpu"], r["kinds"]) if k == kind]
        print(f"  {kind:12s} n={len(ls):3d} wall p50 {statistics.median(ls):.4f} s "
              f"cpu p50 {statistics.median(cs):.4f} s")
    m = len(r["lat"])
    print(f"op_p90_s: not reported: {m} ops leave {m // 10} beyond p90, 10 are needed")
    print(f"op_fail_frac: {r['failed'] / n!r} ratio")
    e2e = end_to_end(r)
    layers = per_layer(r, h) if h.tracer is not None else {}
    for name, value in e2e.items():
        print(f"{name}: {value!r} {END_TO_END[name]}")
    for name, value in layers.items():
        print(f"{name}: {value!r} {PER_LAYER[name]}")
    if h.tracer is not None:
        metrics, units = layers, PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    return {
        "correct": r["correct"],
        "attempted": n,
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="TPC-H scale factor of the inputs")
    args = ap.parse_args(argv)

    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.abspath(SCRATCH_ROOT))
    # keep every temp file of Spark's launcher, the JVM, its block
    # manager (SPARK_LOCAL_DIRS overrides spark.local.dir) and the
    # Python workers inside the scratch dir
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    tempfile.tempdir = None
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # still clean up
    h = Harness(args.seed, args.sf, scratch, Tracer() if args.trace else None)
    try:
        r = run_workload(WORKLOADS[args.workload](), h, args.seconds)
        out = report(r, h)
    finally:
        try:
            h.stop()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                os.rmdir(SCRATCH_ROOT)
            except OSError:  # another run's scratch dir is still there
                pass
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
