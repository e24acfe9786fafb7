#!/usr/bin/env python
"""Full-registry sf0.1 oracle sweep orchestrator (judge r07 item #5).

The r7 close swept the registry at sf0.001 (437/437) but only 35 entries at
sf0.1 before abandoning on DuckDB-side cost: a handful of quadratic-witness
oracles take minutes each at 5,000 docs, and the bare ~1g plain session dies
under toPandas at this SF.  This runner finishes the job the way the judge
prescribed — ENGINE session (48g driver), tranches, and a DOCUMENTED skip
list discovered empirically:

* names are processed in registry order, in chunks, each chunk a fresh
  ``driver_sim.py`` subprocess (engine session, QPSPARK_SIM_SF_DIR=sf0.1);
* a chunk gets a wall-clock budget; if it times out, every entry whose
  result line already printed is recorded, the entry that was RUNNING is
  marked skipped (reason: oracle wall-clock at sf0.1), and the sweep
  resumes right after it;
* state persists in .tmp/sf01_sweep_state.json, so the sweep is resumable
  across invocations (and across a killed session).

Usage:  python scripts/sf01_sweep.py [--chunk 25] [--timeout 1500]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from qpmodel_spark import registry  # noqa: E402

STATE_PATH = os.path.join(REPO, ".tmp", "sf01_sweep_state.json")
SIM_OUT = "/tmp/driver_sim.json"
LINE_RE = re.compile(r"^(\S+)\s+(ok|ERR|MISMATCH)\s+([0-9.]+)s\s*$")


def load_state() -> dict:
    if os.path.exists(STATE_PATH):
        with open(STATE_PATH) as fh:
            return json.load(fh)
    return {"results": {}, "skipped": {}}


def save_state(state: dict) -> None:
    os.makedirs(os.path.dirname(STATE_PATH), exist_ok=True)
    tmp = STATE_PATH + ".part"
    with open(tmp, "w") as fh:
        json.dump(state, fh, indent=1, sort_keys=True)
    os.replace(tmp, STATE_PATH)


def run_chunk(names: list[str], timeout: int) -> tuple[dict, str | None]:
    """Run one driver_sim subprocess; return (per-entry results parsed from
    its detail JSON + stdout, name-that-hung-or-None)."""
    env = dict(
        os.environ,
        QPSPARK_SIM_SF_DIR="/root/testdata/sf0.1",
        SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "16"),
    )
    env.pop("QPSPARK_SIM_PLAIN", None)  # engine session on purpose (48g)
    # Clear any stale detail file first (ADVICE r08): detail.get(name) is
    # preferred over the parsed stdout status, so a leftover SIM_OUT from a
    # previous run containing the same entry names would be silently
    # recorded as THIS chunk's result if the subprocess dies before writing.
    try:
        os.remove(SIM_OUT)
    except OSError:
        pass
    proc = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "scripts", "driver_sim.py"), *names],
        cwd=REPO,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    try:
        out, _ = proc.communicate(timeout=timeout)
        timed_out = False
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        timed_out = True
    seen: dict[str, dict] = {}
    detail: dict = {}
    if not timed_out and os.path.exists(SIM_OUT):
        try:
            with open(SIM_OUT) as fh:
                detail = json.load(fh)
        except ValueError:
            detail = {}
    for line in (out or "").splitlines():
        m = LINE_RE.match(line.strip())
        if m:
            name, status, sec = m.group(1), m.group(2), float(m.group(3))
            seen[name] = detail.get(name) or {"status": status, "sec": sec}
            seen[name].setdefault("status", status)
    hung = None
    if timed_out:
        for n in names:
            if n not in seen:
                hung = n
                break
    return seen, hung


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--chunk", type=int, default=25)
    ap.add_argument("--timeout", type=int, default=1500)
    ap.add_argument("--max-chunks", type=int, default=10**9)
    args = ap.parse_args()

    state = load_state()
    all_names = list(registry.all_specs())
    todo = [
        n
        for n in all_names
        if n not in state["results"] and n not in state["skipped"]
    ]
    print(
        f"registry={len(all_names)} done={len(state['results'])} "
        f"skipped={len(state['skipped'])} todo={len(todo)}",
        flush=True,
    )
    chunks = 0
    while todo and chunks < args.max_chunks:
        chunk = todo[: args.chunk]
        t0 = time.time()
        seen, hung = run_chunk(chunk, args.timeout)
        state["results"].update(seen)
        if hung:
            state["skipped"][hung] = (
                f"oracle exceeded chunk budget at sf0.1 "
                f"(chunk of {len(chunk)} killed at {args.timeout}s; "
                f"{len(seen)} entries before it completed)"
            )
            print(f"SKIP {hung}: chunk timeout", flush=True)
        save_state(state)
        done_names = set(state["results"]) | set(state["skipped"])
        todo = [n for n in todo if n not in done_names]
        n_bad = sum(
            1
            for r in state["results"].values()
            if r.get("err") or r.get("hash_match") is False
        )
        print(
            f"chunk done in {time.time() - t0:.0f}s: "
            f"done={len(state['results'])} skipped={len(state['skipped'])} "
            f"todo={len(todo)} failures={n_bad}",
            flush=True,
        )
        chunks += 1
    n_bad = sum(
        1
        for r in state["results"].values()
        if r.get("err") or r.get("hash_match") is False
    )
    print(
        f"SWEEP {'COMPLETE' if not todo else 'PAUSED'}: "
        f"{len(state['results'])} checked, {len(state['skipped'])} skipped, "
        f"{n_bad} failures",
        flush=True,
    )
    raise SystemExit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
