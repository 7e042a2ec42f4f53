"""Run sets for the steadiness record.

    python3 perfbench/steady.py run --out perfbench/runs/set_a.json perfbench/runs/set_b.json \
        --seeds 1-10 11-20
    python3 perfbench/steady.py compare perfbench/runs/set_a.json perfbench/runs/set_b.json
    python3 perfbench/steady.py table perfbench/runs/set_a.json
    python3 perfbench/steady.py overhead --out perfbench/runs/overhead.json --seeds 1-3

``run`` calls ``run.py`` once per (workload, seed), one after another,
and stores every result with, per metric, the median, the quartiles
(``statistics.quantiles(n=4)``) and the interquartile spread as a share
of the median. Given several sets (one ``--out`` and one seed range
each), it alternates between them run by run, so that a change in host
load hits every set alike. ``compare`` checks each spread, and the
second set's median against the first, with the bounds in
BENCHMARK.json.
``overhead`` alternates untraced and traced runs of each seed and
reports the traced ``op_p50_s`` against the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def printed_metrics(stdout: str) -> dict[str, float]:
    """Every ``name: value unit`` line a run printed."""
    out = {}
    for ln in stdout.splitlines():
        parts = ln.split(" ")
        if len(parts) == 3 and parts[0].endswith(":"):
            try:
                out[parts[0][:-1]] = float(parts[1])
            except ValueError:
                pass
    return out


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    took = time.monotonic() - t0
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    result = json.loads(last) if last.startswith("{") else {}
    steal = next((ln.split("host steal ")[1] for ln in p.stdout.splitlines()
                  if "host steal " in ln), "nan")
    vals = {k: round(v["value"], 4) for k, v in result.get("metrics", {}).items()}
    print(f"{workload} seed {seed} trace {trace}: exit {p.returncode} in {took:.1f}s "
          f"steal {steal} {vals}", flush=True)
    return {"seed": seed, "trace": trace, "exit": p.returncode, "run_s": took,
            "host_steal_frac": float(steal),
            "per_kind": [ln.strip() for ln in p.stdout.splitlines() if " wall p50 " in ln],
            "printed": printed_metrics(p.stdout), **result}


def summarize_runs(runs: list[dict]) -> dict:
    names = list(dict.fromkeys(k for r in runs for k in r["printed"]))
    summary = {n: summarize([r["printed"][n] for r in runs if n in r["printed"]]) for n in names}
    summary["run_s"] = summarize([r["run_s"] for r in runs])
    summary["host_steal_frac"] = summarize([r["host_steal_frac"] for r in runs])
    return summary


def workloads_of(args) -> list[str]:
    if args.workloads:
        return args.workloads.split(",")
    return [w["name"] for w in load_spec()["workloads"]]


def cmd_run(args) -> int:
    seconds = args.seconds or load_spec()["run_seconds"]
    seeds = [parse_seeds(s) for s in args.seeds]
    if len(seeds) != len(args.out) or len({len(s) for s in seeds}) != 1:
        sys.exit("run: give one seed range per --out file, all of one length")
    sets = [{"seconds": seconds, "trace": args.trace, "workloads": {}} for _ in args.out]
    for w in workloads_of(args):
        runs = [[] for _ in sets]
        for i in range(len(seeds[0])):
            for k, runs_k in enumerate(runs):
                runs_k.append(one_run(w, seeds[k][i], seconds, args.trace))
        for out, runs_k in zip(sets, runs):
            out["workloads"][w] = {"runs": runs_k, "summary": summarize_runs(runs_k)}
    for path, out in zip(args.out, sets):
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
    return 0


def cmd_overhead(args) -> int:
    """Untraced and traced runs of each seed, alternating, so slow
    drifts in host load hit both sides alike."""
    seconds = args.seconds or load_spec()["run_seconds"]
    out = {"seconds": seconds, "workloads": {}}
    for w in workloads_of(args):
        runs = [one_run(w, seed, seconds, trace)
                for seed in parse_seeds(args.seeds) for trace in (0, 1)]
        plain = statistics.median(r["printed"]["op_p50_s"] for r in runs if not r["trace"])
        traced = statistics.median(r["printed"]["trace.op_p50_s"] for r in runs if r["trace"])
        out["workloads"][w] = {"runs": runs, "op_p50_s": plain, "trace.op_p50_s": traced,
                               "overhead": traced / plain - 1}
        print(f"{w}: untraced op_p50_s {plain:.4f} s, traced {traced:.4f} s, "
              f"overhead {traced / plain - 1:+.3f}")
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    return 0


def cmd_compare(args) -> int:
    spec = load_spec()
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    sets = []
    for path in args.sets:
        with open(path) as fh:
            sets.append(json.load(fh))
    ok = True
    for w in sets[0]["workloads"]:
        for name, m in bounds.items():
            row = []
            meds = []
            for s in sets:
                summ = s["workloads"][w]["summary"][name]
                meds.append(summ["median"])
                spread_ok = summ["spread"] <= m["bound"]
                ok &= spread_ok
                row.append(f"median {summ['median']:.4g} spread {summ['spread']:.3f}"
                           f"{'' if spread_ok else ' (over bound)'}")
            drift = ""
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) / meds[0]
                if m["better"] == "higher":
                    worse = -worse
                ok &= worse <= m["bound"]
                drift = f" | 2nd vs 1st {worse:+.3f} (bound {m['bound']})"
            print(f"{w:10s} {name:13s} " + " | ".join(row) + drift)
    print("within bounds" if ok else "OUT OF BOUNDS")
    return 0 if ok else 1


def cmd_table(args) -> int:
    """Markdown table of one run set: median [q1, q3] and spread."""
    with open(args.set) as fh:
        rs = json.load(fh)
    for w, body in rs["workloads"].items():
        n = len(body["runs"])
        print(f"\n{w} ({n} runs, seeds {body['runs'][0]['seed']}-{body['runs'][-1]['seed']})\n")
        print("| metric | median | q1 | q3 | spread |")
        print("|---|---|---|---|---|")
        for name, sm in body["summary"].items():
            print(f"| {name} | {sm['median']:.4g} | {sm['q1']:.4g} | {sm['q3']:.4g} "
                  f"| {sm['spread']:.3f} |")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("run", "overhead"):
        r = sub.add_parser(name)
        several = "+" if name == "run" else None
        r.add_argument("--out", required=True, nargs=several)
        r.add_argument("--seeds", default=["1-10"] if several else "1-10", nargs=several)
        r.add_argument("--workloads", default="")
        r.add_argument("--seconds", type=int, default=0)
        if name == "run":
            r.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("compare")
    c.add_argument("sets", nargs="+")
    t = sub.add_parser("table")
    t.add_argument("set")
    args = ap.parse_args()
    commands = {"run": cmd_run, "overhead": cmd_overhead, "compare": cmd_compare,
                "table": cmd_table}
    return commands[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
