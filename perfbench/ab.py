"""Same-box A/B of the benchmark: a git ref against the checkout's HEAD.

    python3 perfbench/ab.py REF

Checks REF out into a `git worktree` under .bench_build/ab/, then runs every
workload of BENCHMARK.json alternately on REF's program and on this
checkout's: one warm-up pair, which is dropped, then ten pairs, swapping
which side goes first on every pair. Both sides run this checkout's
perfbench code with the run length of BENCHMARK.json and the same seed per
pair; only the program sources differ. For each (workload, end-to-end
metric) it prints each side's median and quartiles and the
share of pairs HEAD wins (ties count for neither side), and writes the raw
values to .bench_build/ab/result-<time>.json. The worktree is removed at
the end.

A gain is claimed only when HEAD wins at least nine pairs in ten and the
medians differ by more than REF's own interquartile distance; the same
rule, reversed, flags a regression.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WARMUP_PAIRS = 1
PAIRS = 10


def git(*args, cwd=REPO):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def run_side(root, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0", "--repo", root]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"ab: {workload} seed {seed} failed on {root}:\n{p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        sys.exit(f"ab: {workload} seed {seed} gave wrong results on {root}")
    return result["metrics"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("ref")
    a = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}

    sha = git("rev-parse", "--verify", a.ref + "^{commit}")
    head = git("rev-parse", "HEAD")
    ab_dir = os.path.join(REPO, ".bench_build", "ab")
    tree = os.path.join(ab_dir, sha[:12])
    os.makedirs(ab_dir, exist_ok=True)
    if os.path.isdir(tree):  # left by an interrupted A/B
        git("worktree", "remove", "--force", tree)
    git("worktree", "add", "--detach", tree, sha)
    sides = {"ref": tree, "head": REPO}
    values = {}  # (workload, metric) -> side -> [values], pair-aligned
    try:
        for i in range(WARMUP_PAIRS + PAIRS):
            seed = 1000 + i
            order = ("ref", "head") if i % 2 == 0 else ("head", "ref")
            for w in workloads:
                got = {s: run_side(sides[s], w, seed, seconds) for s in order}
                if i < WARMUP_PAIRS:
                    continue
                for m in better:
                    for s in sides:
                        values.setdefault((w, m), {}).setdefault(s, []).append(
                            got[s][m]["value"])
            print(f"ab: pair {i + 1}/{WARMUP_PAIRS + PAIRS} done"
                  + (" (warm-up, dropped)" if i < WARMUP_PAIRS else ""),
                  file=sys.stderr)
    finally:
        git("worktree", "remove", "--force", tree)

    print(f"A/B  ref {sha[:12]}  head {head[:12]}  pairs {PAIRS}  "
          f"seconds {seconds}")
    print(f"{'workload':10s} {'metric':18s} {'ref median [q1, q3]':>32s} "
          f"{'head median [q1, q3]':>32s} {'head wins':>9s}  verdict")
    rows = []
    for (w, m), by in values.items():
        ref, new = by["ref"], by["head"]
        sign = 1 if better[m] == "higher" else -1
        wins = sum(1 for r, h in zip(ref, new) if sign * (h - r) > 0)
        losses = sum(1 for r, h in zip(ref, new) if sign * (h - r) < 0)
        rq, hq = quartiles(ref), quartiles(new)
        spread = rq[2] - rq[0]
        delta = sign * (hq[1] - rq[1])
        verdict = ("gain" if wins >= 0.9 * len(ref) and delta > spread else
                   "regression" if losses >= 0.9 * len(ref) and -delta > spread
                   else "no claim")
        print(f"{w:10s} {m:18s} {rq[1]:12.4g} [{rq[0]:.4g}, {rq[2]:.4g}]"
              f" {hq[1]:12.4g} [{hq[0]:.4g}, {hq[2]:.4g}]"
              f" {wins / len(ref):9.2f}  {verdict}")
        rows.append({"workload": w, "metric": m, "ref": ref, "head": new,
                     "head_win_fraction": wins / len(ref), "verdict": verdict})
    out = os.path.join(ab_dir, f"result-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump({"ref": sha, "head": head, "seconds": seconds,
                   "rows": rows}, f, indent=1)
    print(f"ab: raw values in {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
