#!/usr/bin/env python
"""Two-tree interleaved bench A/B (judge r13 item #7).

Runs bench.py from TWO checkouts (the r13-close worktree and this repo)
in strict alternation — A, B, A, B, ... — so ambient host drift hits both
arms symmetrically, and writes ONE committed artifact with per-entry
minima across each arm's runs plus every run's calibration gauges.  This
makes the round-over-round comparison self-contained: the next judge
reads one file measured on one host in one session window, no cross-host
normalization.

Usage:
    python scripts/ab_two_trees.py [--reps 2] [--out AB_r14_vs_r13.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

A_TREE = "/root/r13close"  # r13-close commit c0f8065 (git worktree)
B_TREE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(tree: str, tag: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_TAG"] = tag
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    if out.returncode != 0:
        raise RuntimeError(
            f"bench.py in {tree} exited {out.returncode}:\n{out.stderr}"
        )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    parsed = json.loads(line)
    detail_path = os.path.join(tree, parsed["detail"])
    detail = json.load(open(detail_path))
    os.remove(detail_path)  # A/B runs live in THIS artifact, not loose files
    return {
        "tree": tree,
        "tag": tag,
        "wall_sec": round(time.time() - t0, 1),
        "stdout": parsed,
        "times": detail["times"],
        "calib": detail["calib"],
        "load_pre": detail["load_pre"],
        "load_post": detail["load_post"],
        "contended": detail["contended"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--out", default="AB_r14_vs_r13.json")
    args = ap.parse_args()

    runs = []
    for i in range(args.reps):
        for arm, tree in (("r13close", A_TREE), ("r14", B_TREE)):
            print(f"run {i} arm {arm} ...", flush=True)
            runs.append({"arm": arm, "rep": i, **run_bench(tree, f"ab{i}{arm}")})

    def arm_min(arm: str) -> dict:
        times: dict[str, float] = {}
        for r in runs:
            if r["arm"] != arm:
                continue
            for k, v in r["times"].items():
                times[k] = min(v, times.get(k, float("inf")))
        return times

    a, b = arm_min("r13close"), arm_min("r14")
    common = sorted(set(a) & set(b))
    per_query = {
        k: {"r13close_sec": a[k], "r14_sec": b[k], "speedup": round(a[k] / b[k], 3) if b[k] else None}
        for k in common
    }
    import math

    ratios = [a[k] / b[k] for k in common if a[k] > 0 and b[k] > 0]
    geomean = (
        round(math.exp(sum(math.log(r) for r in ratios) / len(ratios)), 4)
        if ratios
        else None  # no entry timed > 0 on both arms
    )
    artifact = {
        "description": "interleaved two-tree bench A/B: r13-close (c0f8065) vs r14-close, alternating full bench runs, min per arm",
        "run_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "reps_per_arm": args.reps,
        "geomean_speedup_r14_over_r13close": geomean,
        "total_r13close": round(sum(a[k] for k in common), 3),
        "total_r14": round(sum(b[k] for k in common), 3),
        "per_query": per_query,
        "runs": runs,
    }
    out_path = os.path.join(B_TREE, args.out)
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"geomean r14/r13close speedup: {geomean}; wrote {out_path}")


if __name__ == "__main__":
    main()
