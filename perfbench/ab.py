#!/usr/bin/env python3
"""Paired A/B comparison of two commits on the graft benchmark.

    python3 perfbench/ab.py BASE HEAD [--pairs 10] [--workloads a,b] [--seed 100]

Checks both commits out as git worktrees under <build dir>/ab/, copies this
benchmark (perfbench/ and BENCHMARK.json) into both so that the two sides
run identical benchmark code, then runs --pairs pairs per workload with the
seed of pair i on both sides, alternating which side goes first. Prints,
for each workload and metric, both sides' median and quartiles, the share of
pairs the head won (ties count for neither) and a verdict:

  improved    head wins >= 90% of pairs and the medians differ by more than
              the base's own quartile spread
  worse       head median worse than the base median by more than the bound
  unresolved  a side's quartile spread exceeds the bound, and not every head
              run beats every base run
  no worse    otherwise

Bounds come from BENCHMARK.json; metrics it does not declare (the
workload-specific ones of the detail line) use --bound. Finally one traced
run per side and workload diffs the per-layer report.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes")


def sh(*cmd, cwd=ROOT):
    return subprocess.run(cmd, cwd=cwd, check=True, stdout=subprocess.PIPE, text=True).stdout.strip()


def checkout(rev, base_dir):
    sha = sh("git", "rev-parse", rev)
    d = os.path.join(base_dir, sha[:12])
    if not os.path.isdir(d):
        sh("git", "worktree", "add", "--detach", d, sha)
    shutil.rmtree(os.path.join(d, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    return sha, d


def run(tree, workload, seed, seconds, trace):
    """One benchmark run; returns (detail line, result line)."""
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=tree, env=env, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"run failed in {tree}: {workload} seed {seed}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(base, head, better, bound):
    lo_better = better == "lower"
    b1, bm, b3 = quartiles(base)
    h1, hm, h3 = quartiles(head)
    wins = sum((h < b) if lo_better else (h > b) for b, h in zip(base, head))
    ties = sum(h == b for b, h in zip(base, head))
    win_frac = wins / len(base)
    delta = (hm - bm) / bm if bm else 0.0
    worse_by = delta if lo_better else -delta
    all_better = (max(head) < min(base)) if lo_better else (min(head) > max(base))
    spread = max((b3 - b1) / bm if bm else 0.0, (h3 - h1) / hm if hm else 0.0)
    if win_frac >= 0.9 and abs(hm - bm) > (b3 - b1) and worse_by < 0:
        v = "improved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "no worse"
    return dict(base=[b1, bm, b3], head=[h1, hm, h3], win_frac=win_frac, ties=ties,
                delta=delta, spread=spread, verdict=v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--seed", type=int, default=100, help="seed of the first pair")
    ap.add_argument("--bound", type=float, default=0.15, help="bound for metrics BENCHMARK.json does not declare")
    a = ap.parse_args()
    if a.pairs < 10:
        ap.error("a claim needs at least 10 pairs")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    declared = {m["name"]: m for m in spec["end_to_end"]}
    ab_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "ab")
    os.makedirs(ab_dir, exist_ok=True)
    sides = [checkout(a.base, ab_dir), checkout(a.head, ab_dir)]
    report = {"base": sides[0][0], "head": sides[1][0], "workloads": {}}

    for w in workloads:
        samples = [dict(), dict()]  # side -> metric -> [values by pair]
        for i in range(a.pairs):
            order = (0, 1) if i % 2 == 0 else (1, 0)
            for side in order:
                detail, result = run(sides[side][1], w, a.seed + i, spec["run_seconds"], 0)
                if result["failed"]:
                    print(f"note: {w} pair {i} {'base' if side == 0 else 'head'}: "
                          f"{result['failed']}/{result['attempted']} ops failed", file=sys.stderr)
                for k, v in detail["metrics"].items():
                    if isinstance(v, (int, float)) and not k.endswith(("_n", "_tail_q")):
                        samples[side].setdefault(k, []).append(v)
        rows = {}
        for k in sorted(set(samples[0]) & set(samples[1])):
            if len(samples[0][k]) != a.pairs or len(samples[1][k]) != a.pairs:
                continue
            m = declared.get(k, {})
            better = m.get("better") or ("higher" if k == "ops_per_s" else "lower")
            rows[k] = verdict(samples[0][k], samples[1][k], better, m.get("bound", a.bound))
        traced = [run(sides[s][1], w, a.seed, spec["run_seconds"], 1)[0]["trace"] for s in (0, 1)]
        layers = {k: [traced[0]["metrics"].get(k), traced[1]["metrics"].get(k)]
                  for k in sorted(set(traced[0]["metrics"]) | set(traced[1]["metrics"]))}
        report["workloads"][w] = {"metrics": rows, "layers": layers,
                                  "self_s": [traced[0]["self_s"], traced[1]["self_s"]],
                                  "unattributed_s": [traced[0]["unattributed_s"], traced[1]["unattributed_s"]]}

        print(f"\n== {w}: {a.pairs} pairs, base {sides[0][0][:10]} vs head {sides[1][0][:10]}")
        print(f"{'metric':<24}{'base q1/med/q3':>30}{'head q1/med/q3':>30}{'win':>6}{'delta':>8}  verdict")
        for k, r in rows.items():
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{k:<24}{fmt(r['base']):>30}{fmt(r['head']):>30}{r['win_frac']:>6.2f}"
                  f"{r['delta']:>+8.1%}  {r['verdict']}")
        print(f"{'layer (traced, seed ' + str(a.seed) + ')':<40}{'base':>16}{'head':>16}")
        for k, (b, h) in layers.items():
            mark = "  *" if k in COUNTS and b != h else ""
            print(f"{k:<40}{b if b is not None else '-':>16.6}{h if h is not None else '-':>16.6}{mark}")

    with open(os.path.join(ab_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nfull report: {os.path.join(ab_dir, 'report.json')}")


if __name__ == "__main__":
    main()
