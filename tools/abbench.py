#!/usr/bin/env python3
"""Paired A/B runs of the benchmark: this checkout against a parent commit.

    python3 tools/abbench.py --parent <ref> --runs <n> [--parent-dir DIR]

Run from the root of a checkout. The parent is checked out into a git
worktree under .bench_build/abbench/ (reused while it exists), unless
--parent-dir names an existing checkout of it. Both sides are compiled
first, so no run's wall time includes a build. Then, for each pair
i = 1..n and each workload of BENCHMARK.json, enginebench/run.py runs
on both sides with the same seed (9000 + i), BENCHMARK.json's
run_seconds and --trace 0. The side that runs first alternates: this
checkout first on odd pairs, the parent first on even ones, so that a
warm page cache or similar carry-over from one run to the next falls on
both sides alike.

Printed: every run's exit code, `correct`, `failed` and wall time; then,
per workload and end-to-end metric of BENCHMARK.json, both sides'
medians and quartiles, the relative delta of the medians (positive =
worse, in the metric's own direction), that delta against the metric's
bound, the pairs the change won, and the parent's own spread
(interquartile range / median). Every run is also written as JSON to
.bench_build/abbench/ab-<time>.json after every pair.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB_DIR = os.path.join(ROOT, ".bench_build", "abbench")
SEED0 = 9000  # pair i runs seed SEED0 + i on both sides


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def parent_checkout(ref):
    sha = git("rev-parse", "--verify", ref + "^{commit}")
    path = os.path.join(AB_DIR, "parent-" + sha[:12])
    if not os.path.isdir(path):
        os.makedirs(AB_DIR, exist_ok=True)
        git("worktree", "add", "--detach", path, sha)
    return path, sha


def build(checkout):
    """Compile program + benchmark of `checkout` through run.py's own build."""
    code = "import sys; sys.path.insert(0, 'enginebench'); import run; run.build()"
    rc = subprocess.run([sys.executable, "-c", code], cwd=checkout).returncode
    if rc != 0:
        sys.exit(f"abbench: build failed in {checkout} (exit {rc})")


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "enginebench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    wall = time.time() - t0
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else {}
    return {"exit": p.returncode, "wall_s": round(wall, 1), "correct": result.get("correct"),
            "attempted": result.get("attempted"), "failed": result.get("failed"),
            "metrics": {k: v["value"] for k, v in result.get("metrics", {}).items()}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs, metrics, workloads):
    rows = []
    for w in workloads:
        for m in metrics:
            name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
            pairs = [(r["change"]["metrics"].get(name), r["parent"]["metrics"].get(name))
                     for r in runs if r["workload"] == w]
            pairs = [(c, p) for c, p in pairs if c is not None and p is not None]
            if not pairs:
                continue
            cq = quartiles([c for c, _ in pairs])
            pq = quartiles([p for _, p in pairs])
            sign = 1 if lower else -1
            delta = sign * (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            wins = sum(1 for c, p in pairs if sign * (c - p) < 0)
            spread = (pq[2] - pq[0]) / pq[1] if pq[1] else 0.0
            rows.append({"workload": w, "metric": name, "change_median": cq[1],
                         "change_q1": cq[0], "change_q3": cq[2], "parent_median": pq[1],
                         "parent_q1": pq[0], "parent_q3": pq[2], "delta": delta,
                         "bound": bound, "within_bound": delta <= bound, "wins": wins,
                         "pairs": len(pairs), "parent_spread": spread})
    return rows


def main():
    a = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    a.add_argument("--parent", required=True, help="git ref of the parent commit")
    a.add_argument("--runs", type=int, required=True, help="pairs per workload")
    a.add_argument("--parent-dir", default="", help="an existing checkout of the parent")
    args = a.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    if args.parent_dir:
        parent, sha = os.path.abspath(args.parent_dir), git("rev-parse", "HEAD", cwd=args.parent_dir)
    else:
        parent, sha = parent_checkout(args.parent)
    print(f"abbench: change {ROOT} vs parent {sha[:12]} at {parent}; {args.runs} pairs of "
          f"{','.join(workloads)}, {seconds} s each", flush=True)
    build(ROOT)
    build(parent)

    out = os.path.join(AB_DIR, time.strftime("ab-%Y%m%d-%H%M%S.json"))
    os.makedirs(AB_DIR, exist_ok=True)

    def save(rows=None):
        with open(out, "w") as fh:
            json.dump({"parent": sha, "seconds": seconds, "runs": runs, "summary": rows}, fh,
                      indent=1)

    runs = []
    for i in range(1, args.runs + 1):
        seed = SEED0 + i
        sides = (("change", ROOT), ("parent", parent))
        if i % 2 == 0:
            sides = sides[::-1]
        for w in workloads:
            pair = {"pair": i, "workload": w, "seed": seed, "first": sides[0][0]}
            for side, checkout in sides:
                r = run_once(checkout, w, seed, seconds)
                pair[side] = r
                print(f"pair {i:2d} {w:12s} seed {seed} {side:6s} exit {r['exit']} "
                      f"correct {r['correct']} failed {r['failed']}/{r['attempted']} "
                      f"wall {r['wall_s']:.1f} s", flush=True)
            runs.append(pair)
            save()

    rows = summarize(runs, bench["end_to_end"], workloads)
    print(f"\n{'workload':12s} {'metric':12s} {'change':>10s} {'parent':>10s} {'delta':>8s} "
          f"{'bound':>6s} {'wins':>6s} {'p.spread':>8s}")
    for r in rows:
        flag = "" if r["within_bound"] else "  EXCEEDS BOUND"
        print(f"{r['workload']:12s} {r['metric']:12s} {r['change_median']:10.3f} "
              f"{r['parent_median']:10.3f} {r['delta']:+8.3f} {r['bound']:6.2f} "
              f"{r['wins']:3d}/{r['pairs']:<2d} {r['parent_spread']:8.3f}{flag}")
    bad = [(p["pair"], p["workload"], s) for p in runs for s in ("change", "parent")
           if p[s]["exit"] != 0 or p[s]["correct"] is not True or p[s]["failed"] != 0]
    print(f"\nruns not clean (exit != 0, correct != true or failed > 0): {bad or 'none'}")

    save(rows)
    print(f"abbench: runs written to {out}")


if __name__ == "__main__":
    main()
