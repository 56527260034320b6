#!/usr/bin/env python3
"""Paired A/B comparison of two commits on the benchmark.

Usage (from a git clone of the repository):

    python3 perfbench/ab.py <parent-rev> <change-rev> [--pairs <n >= 10>]

Exports both revisions with ``git archive`` under ``.bench_build/ab/`` and
copies this tree's ``BENCHMARK.json`` and ``perfbench/`` into both, so the
two sides run identical benchmark code and settings, at the run length
``BENCHMARK.json`` fixes. Pair ``i`` runs every workload of
``BENCHMARK.json`` on both sides with seed ``SEED0 + i``; even pairs run
the parent first, odd pairs the change first.

For every workload x end-to-end metric it reports each side's median and
quartiles and the pairs the change won (ties count for neither). It also
pools each side's daily increments over all its runs, so their p90 has
at least ten samples beyond it. The verdicts:

- ``gain``: the change won at least 9/10 of the pairs and the medians
  differ by more than the parent's own quartile distance;
- ``regression``: the change's median is worse than the parent's by more
  than the metric's bound;
- ``unresolved``: the parent's quartile spread exceeds the bound, unless
  every change run beats every parent run;
- ``within bound`` otherwise.

A run that fails, or reports incorrect output, is listed; a gain does
not count when more operations fail than on the parent.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
AB = os.path.join(ROOT, ".bench_build", "ab")
SEED0 = 1000


def export(rev, side):
    """A checkout of ``rev`` carrying this tree's benchmark files."""
    dest = os.path.join(AB, side)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             capture_output=True, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dest, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)
    return dest


# The operations whose per-run samples are pooled across pairs: one run
# has too few for a p90 with ten samples beyond it.
POOLED_OP = {"daily_etl": "increment"}


def run(side_dir, workload, seed, seconds):
    """The result line and the timed operations of one run, or None."""
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=side_dir, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        return None
    try:
        result, report = json.loads(lines[-1]), json.loads(lines[-2])
        with open(os.path.join(side_dir, report["detail"])) as f:
            result["ops"] = json.load(f)["ops"]
    except (json.JSONDecodeError, KeyError, OSError):
        return None
    return result


def pooled(results, workload):
    """Median and p90 of the workload's operation walls pooled over all
    runs of one side: enough samples for ten to lie beyond the p90."""
    if workload not in POOLED_OP:
        return None
    walls = sorted(o["wall_s"] for r in results if r for o in r["ops"]
                   if o["ok"] and o["kind"] == POOLED_OP[workload])
    if not walls:
        return None
    p90 = walls[max(0, math.ceil(0.9 * len(walls)) - 1)]
    return {"n": len(walls), "median": statistics.median(walls), "p90": p90,
            "beyond_p90": sum(w > p90 for w in walls)}


def verdict(parent, change, bound, better, pairs, more_failures):
    """Apply the 9/10 win rule, the quartile-spread rule and the bound."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    q_p = statistics.quantiles(parent, n=4)
    q_c = statistics.quantiles(change, n=4)
    med_p, med_c = statistics.median(parent), statistics.median(change)
    spread = (q_p[2] - q_p[0]) / med_p if med_p else math.inf
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    worse_by = sign * (med_c - med_p) / med_p if med_p else 0.0
    if (not more_failures and len(pairs) >= 10 and wins >= math.ceil(0.9 * len(pairs))
            and abs(med_c - med_p) > q_p[2] - q_p[0] and sign * (med_p - med_c) > 0):
        v = "gain"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse_by > bound:
        v = "regression"
    else:
        v = "within bound"
    return {"parent": {"median": med_p, "q1": q_p[0], "q3": q_p[2]},
            "change": {"median": med_c, "q1": q_c[0], "q3": q_c[2]},
            "change_wins": wins, "pairs": len(pairs), "parent_spread": spread,
            "change_worse_by": worse_by, "bound": bound, "verdict": v}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description="Paired A/B runs of the benchmark.")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    if a.pairs < 10:
        ap.error("at least 10 pairs are needed")
    sides = {"parent": export(a.parent, "parent"), "change": export(a.change, "change")}
    workloads = [w["name"] for w in bench["workloads"]]
    runs = {w: {"parent": [], "change": []} for w in workloads}
    failures = []
    for i in range(a.pairs):
        seed = SEED0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in workloads:
            for side in order:
                res = run(sides[side], w, seed, bench["run_seconds"])
                if res is None or not res["correct"]:
                    failures.append({"pair": i, "workload": w, "side": side, "result": res})
                runs[w][side].append(res)
            print(f"pair {i + 1}/{a.pairs} {w} done", file=sys.stderr)
    report = {"parent": a.parent, "change": a.change, "pairs": a.pairs,
              "failures": failures, "workloads": {}}
    for w in workloads:
        ok = [(p, c) for p, c in zip(runs[w]["parent"], runs[w]["change"]) if p and c]
        failed = {s: sum(r["failed"] for r in runs[w][s] if r) for s in sides}
        report["workloads"][w] = {"failed_ops": failed, "pooled_ops": {
            s: pooled(runs[w][s], w) for s in sides}}
        if len(ok) < 2:
            continue
        for m in bench["end_to_end"]:
            pairs = [(p["metrics"][m["name"]]["value"], c["metrics"][m["name"]]["value"])
                     for p, c in ok]
            report["workloads"][w][m["name"]] = verdict(
                [p for p, _ in pairs], [c for _, c in pairs], m["bound"], m["better"],
                pairs, failed["change"] > failed["parent"])
    os.makedirs(AB, exist_ok=True)
    with open(os.path.join(AB, "summary.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(f"{'workload':12} {'metric':12} {'parent median [q1,q3]':>28} "
          f"{'change median [q1,q3]':>28} {'wins':>6}  verdict")
    for w, ms in report["workloads"].items():
        for name, v in ms.items():
            if name in ("failed_ops", "pooled_ops"):
                continue
            p, c = v["parent"], v["change"]
            print(f"{w:12} {name:12} {p['median']:10.4g} [{p['q1']:.4g},{p['q3']:.4g}]"
                  f" {c['median']:10.4g} [{c['q1']:.4g},{c['q3']:.4g}]"
                  f" {v['change_wins']:>3}/{v['pairs']:<2}  {v['verdict']}")
        for side, p in ms["pooled_ops"].items():
            if p:
                print(f"{w:12} {POOLED_OP[w]:12} {side}: pooled median {p['median']:.4g} s, "
                      f"p90 {p['p90']:.4g} s over {p['n']} ops ({p['beyond_p90']} beyond)")
    if failures:
        print(f"{len(failures)} failed or incorrect runs; see {AB}/summary.json")


if __name__ == "__main__":
    main()
