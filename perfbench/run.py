#!/usr/bin/env python3
"""The benchmark command.

    python3 perfbench/run.py --workload sql_batch --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout.  One run is one fresh worker process
(``worker.py``) driving one workload as a closed loop with one client.  This
file pins the run's environment, gives the run its own temporary, Spark
local, working and warehouse directories (removed at exit), samples the PSS
of the worker's whole process tree from outside, and turns the worker's
record into metrics.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of ``BENCHMARK.json`` for ``--trace 0`` and its per-layer metrics for
``--trace 1``.  Earlier lines starting with ``#`` describe the run.

Exit code 0 when every execution succeeded and every oracle check matched,
1 when one failed, 2 when the run could not be made at all.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DATA = os.path.join(HERE, "data")
DRIVER_MEM = "4g"
YOUNG_GEN = "512m"
PSS_EVERY_S = 0.5
WORKER_TIMEOUT_S = 170
SELF_TEST_PASSES = 4  # U T T U: two traced passes to compare job counts


class RunError(Exception):
    """The run could not be made; no result is printed."""


def pss_mb(pids: list[int]) -> dict[int, float]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) / 1024
                        break
        except OSError:  # process ended between listing and reading
            pass
    return out


def group_pids(pgid: int) -> list[int]:
    """Live (not zombie) members of a process group."""
    stats, _ = tracing.proc_table()
    return [pid for pid, st in stats.items() if st.pgrp == pgid and st.state != "Z"]


def stop_group(pgid: int) -> None:
    """Wait for the worker's process group to end, killing what is left of
    it after a grace period, until every member has ended."""
    start = time.monotonic()
    while group_pids(pgid):
        waited = time.monotonic() - start
        if waited > 30:
            raise RunError(f"processes of group {pgid} did not end")
        if waited > 5:
            try:
                os.killpg(pgid, signal.SIGTERM if waited < 15 else signal.SIGKILL)
            except ProcessLookupError:
                break
        time.sleep(0.2)


def run_env(sandbox: str) -> dict[str, str]:
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        env.pop(k, None)
    tmp = os.path.join(sandbox, "tmp")
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(sandbox, "local"),
        # both JVMs (launcher and driver) keep their temp files in the sandbox
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a fixed heap and young generation: with G1 left to size them, the
        # JVM's PSS at the end of a run varied by 15% between runs
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}' pyspark-shell",
        "PYTHONHASHSEED": "0",
        "OMP_NUM_THREADS": "1",
    })
    return env


def run_worker(workload: str, seed: int, seconds: float, trace: int,
               sf_dir: str, passes: int = 0) -> tuple[dict, float, dict]:
    """Run one worker process; returns (its record, peak PSS MB, env)."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    sandbox = os.path.join(ROOT, ".perfbench_run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(sandbox, ignore_errors=True)
    for d in ("tmp", "local", "cwd"):
        os.makedirs(os.path.join(sandbox, d))
    os.makedirs(out_dir, exist_ok=True)
    env = run_env(sandbox)
    rec_path = os.path.join(sandbox, "record.json")
    spans_path = os.path.join(out_dir, f"spans-{workload}-seed{seed}.json")
    log_path = os.path.join(sandbox, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--root", ROOT, "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--passes", str(passes),
        "--sf-dir", sf_dir, "--out", rec_path,
        "--spans-out", spans_path if trace else "",
    ]
    peak, peak_by_comm = 0.0, {}
    try:
        with open(log_path, "w") as log:
            t0 = time.time()
            proc = subprocess.Popen(
                cmd + ["--t0", repr(t0)], cwd=os.path.join(sandbox, "cwd"), env=env,
                stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                while proc.poll() is None:
                    if time.time() - t0 > WORKER_TIMEOUT_S:
                        raise RunError(f"worker exceeded {WORKER_TIMEOUT_S} s")
                    stats, children = tracing.proc_table()
                    sample = pss_mb([proc.pid] + tracing.descendants(proc.pid, children))
                    if sum(sample.values()) > peak:
                        peak = sum(sample.values())
                        peak_by_comm = {}
                        for pid, mb in sample.items():
                            comm = stats[pid].comm if pid in stats else "?"
                            peak_by_comm[comm] = peak_by_comm.get(comm, 0) + mb
                    time.sleep(PSS_EVERY_S)
            finally:
                stop_group(proc.pid)
                proc.wait()
        if proc.returncode != 0 or not os.path.exists(rec_path):
            with open(log_path) as fh:
                tail = fh.read()[-3000:]
            raise RunError(f"worker exited with {proc.returncode}:\n{tail}")
        with open(rec_path) as fh:
            record = json.load(fh)
        record["pss_peak_by_process"] = {k: round(v, 1) for k, v in peak_by_comm.items()}
    finally:
        shutil.rmtree(sandbox, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(sandbox))
        except OSError:  # another run still uses it
            pass
    return record, peak, env


# -- metrics ---------------------------------------------------------------

def entry_medians(execs: list[dict]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for e in execs:
        by.setdefault(e["name"], []).append(e["s"])
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def per_entry_pass_s(execs: list[dict]) -> float:
    """Sum over entries of each entry's median execution time."""
    return sum(entry_medians(execs).values())


def tail(times: list[float]) -> tuple[float, str]:
    """The highest whole percentile with at least ten executions beyond it,
    and never below p95.  A run makes far fewer than 200 timed executions,
    so it is p95, interpolated between the two nearest executions.  With
    about 20 executions p90 falls on the edge between the slowest entry's
    executions and the next entry's, and moved twice as much from run to
    run as p95."""
    xs = sorted(times)
    n = len(xs)
    pct = math.floor(100 * (n - 10) / n) if n > 10 else 0
    if pct > 95:
        return xs[math.ceil(pct * n / 100) - 1], f"p{pct} of {n}"
    if n == 1:
        return xs[0], "the only execution"
    return statistics.quantiles(xs, n=20, method="inclusive")[-1], f"p95 of {n}"


def end_to_end(record: dict, peak_pss: float) -> tuple[dict, dict]:
    execs = [e for e in record["execs"] if not e["traced"]]
    times = [e["s"] for e in execs]
    if not times:
        raise RunError(f"no timed execution succeeded: {record['errors']}")
    tail_s, tail_label = tail(times)
    values = {
        "setup_s": record["setup_s"],
        "warm_pass_s": sum(record["warm"].values()),
        "pass_s": per_entry_pass_s(execs),
        "entry_p50_s": statistics.median(times),
        "entry_tail_s": tail_s,
        "peak_pss_mb": peak_pss,
    }
    return values, {"entry_tail": tail_label}


def _top_level(spans: list[dict], prefix: str) -> list[dict]:
    """Spans named ``prefix*`` not nested inside another such span."""
    by_id = {s["id"]: s for s in spans}
    return [
        s for s in spans
        if s["name"].startswith(prefix)
        and not by_id.get(s["parent"], {"name": ""})["name"].startswith(prefix)
    ]


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s",
    "spark.input_mb", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
)


def pass_layers(execs: list[dict], cores: int) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    spans = [s for e in execs for s in e["layers"]["spans"]]
    catalog = _top_level(spans, "catalog.")
    merges = _top_level(spans, "ddl.merge_into")
    out = {k: float(sum(e["layers"][k] for e in execs)) for k in SPARK_KEYS}
    out.update({
        "catalog.calls": float(len(catalog)),
        "catalog.s": _dur(catalog),
        "entry.build_s": _dur([s for s in spans if s["name"] == "entry.build"]),
        "spark.exec_s": _dur([s for s in spans if s["name"] == "spark.exec"]),
        "ddl.merge_calls": float(len(merges)),
        "ddl.merge_s": _dur(merges),
    })
    for k in ("jvm", "pyworker", "driver"):
        out[f"cpu.{k}_s"] = sum(e["layers"][f"cpu.{k}_s"] for e in execs)
    wall = sum(e["s"] for e in execs)
    out["cpu.core_util"] = (out["cpu.jvm_s"] + out["cpu.pyworker_s"]) / (wall * cores)
    streams = [e["layers"]["stream"] for e in execs]
    trig = [t for s in streams for t in s["triggers"]]
    out["stream.triggers"] = float(len(trig))
    out["stream.trigger_p50_ms"] = float(statistics.median(trig)) if trig else 0.0
    for key, ms in (("add_batch", "add_batch_ms"), ("planning", "planning_ms"),
                    ("wal_commit", "wal_commit_ms"), ("commit_offsets", "commit_offsets_ms"),
                    ("state_commit", "state_commit_ms")):
        out[f"stream.{key}_s"] = sum(s[ms] for s in streams) / 1e3
    out["stream.state_rows"] = float(sum(r for s in streams for r, _ in s["state"].values()))
    out["stream.state_mem_mb"] = sum(m for s in streams for _, m in s["state"].values()) / (1 << 20)
    selfs = tracing.self_times(spans)
    out["self.execution_s"] = selfs.get("execution", 0.0)
    out["self.build_s"] = selfs.get("entry.build", 0.0)
    out["self.catalog_s"] = sum(v for k, v in selfs.items() if k.startswith("catalog."))
    out["self.ddl_s"] = selfs.get("ddl.merge_into", 0.0)
    out["self.exec_s"] = selfs.get("spark.exec", 0.0)
    return out


def per_layer(record: dict) -> tuple[dict, dict]:
    traced = [e for e in record["execs"] if e["traced"]]
    untraced = [e for e in record["execs"] if not e["traced"]]
    by_pass: dict[int, list[dict]] = {}
    for e in traced:
        by_pass.setdefault(e["pass"], []).append(e)
    layers = [pass_layers(v, record["cores"]) for v in by_pass.values()]
    values = {k: statistics.median(d[k] for d in layers) for k in layers[0]}
    last = record["passes"][-1]
    for k in ("blockmgr.retained_mb", "blockmgr.cached_rdds", "ddl.tmp_mb_left"):
        values[k] = float(last[k])
    values["session.get_spark_s"] = record["session.get_spark_s"]
    values["registry.load_s"] = record["registry.load_s"]
    values["host.calib_s"] = statistics.median(record["calib_start"] + record["calib_end"])
    values["host.load1"] = record["load1_end"]
    traced_pass_s = per_entry_pass_s(traced)
    values["trace.overhead_s"] = traced_pass_s - per_entry_pass_s(untraced)
    values["trace.spans"] = float(statistics.median(
        sum(len(e["layers"]["spans"]) for e in v) for v in by_pass.values()))
    info = {
        "wrapped_refs": record["wrapped_refs"],
        "traced_passes": sorted(by_pass),
        "traced_pass_s": traced_pass_s,
        "jobs_by_entry": {
            p: {e["name"]: e["layers"]["spark.jobs"] for e in v} for p, v in by_pass.items()
        },
    }
    return values, info


def declared(trace: int) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return bench["per_layer"] if trace else bench["end_to_end"]


def metrics_json(values: dict, decl: list[dict]) -> dict:
    missing = [m["name"] for m in decl if m["name"] not in values]
    if missing:
        raise RunError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in decl}


def describe(record: dict, env: dict, sf_dir: str) -> list[str]:
    """The ``#`` lines: pinned environment, host gauge and retained state."""
    n = record["attempted"]
    lines = [
        "# env " + json.dumps({
            "cores": env["SPARK_GRAFT_CPUS"], "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
            "young_gen": YOUNG_GEN,
            "sf_dir": os.path.relpath(sf_dir, ROOT), "omp_threads": env["OMP_NUM_THREADS"],
            "python": sys.version.split()[0],
        }),
        "# host " + json.dumps({
            "calib_start_s": record["calib_start"], "calib_end_s": record["calib_end"],
            "load1_start": record["load1_start"], "load1_end": record["load1_end"],
        }),
        "# phases_s " + json.dumps({k: round(v, 2) for k, v in record["phases_s"].items()}),
        "# warm_s " + json.dumps({k: round(v, 2) for k, v in record["warm"].items()}),
        "# entry_median_s " + json.dumps({k: round(v, 3) for k, v in entry_medians(
            [e for e in record["execs"] if not e["traced"]]).items()}),
        "# pss_peak_by_process_mb " + json.dumps(record["pss_peak_by_process"]),
        "# retained_per_pass " + json.dumps([
            {k: round(p[k], 3) for k in ("blockmgr.retained_mb", "blockmgr.cached_rdds",
                                         "ddl.tmp_mb_left")}
            for p in record["passes"]
        ]),
        "# fail_frac " + json.dumps({"failed": record["failed"], "attempted": n,
                                      "fail_frac": record["failed"] / max(n, 1)}),
    ]
    lines += [f"# error {e!r}" for e in record["errors"]]
    return lines


# -- command ---------------------------------------------------------------

def check_checkout() -> None:
    for rel in ("qpmodel_spark/registry.py", "scripts/driver_sim.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise RunError(f"{rel} not found: run from the root of a full checkout")


def one_run(args) -> int:
    sf_dir = os.path.join(DATA, "sf0.01")
    record, peak, env = run_worker(args.workload, args.seed, args.seconds, args.trace, sf_dir)
    if args.trace:
        values, info = per_layer(record)
    else:
        values, info = end_to_end(record, peak)
    for line in describe(record, env, sf_dir):
        print(line)
    print("# info " + json.dumps(info))
    correct = record["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics_json(values, declared(args.trace)),
    }))
    return 0 if correct else 1


def self_test() -> int:
    """Each workload once at sf0.001, traced, with fixed passes."""
    sf_dir = os.path.join(DATA, "sf0.001")
    problems = []
    for name in WORKLOADS:
        t0 = time.time()
        record, peak, _ = run_worker(name, 0, 0, 1, sf_dir, passes=SELF_TEST_PASSES)
        e2e, _ = end_to_end(record, peak)
        layers, info = per_layer(record)
        for decl, values in ((declared(0), e2e), (declared(1), layers)):
            out = metrics_json(values, decl)
            bad = [k for k, m in out.items()
                   if not m["unit"] or not math.isfinite(float(m["value"]))]
            problems += [f"{name}: metric {k} has no unit or value" for k in bad]
        if record["failed"]:
            problems.append(f"{name}: {record['failed']} failed executions: {record['errors']}")
        if name == "sql_batch":
            counts = list(info["jobs_by_entry"].values())
            if len(counts) < 2 or any(c != counts[0] for c in counts[1:]):
                problems.append(f"{name}: spark.jobs per entry differ across passes: {counts}")
        spans = [s for e in record["execs"] if e["traced"] for s in e["layers"]["spans"]]
        ids = {s["id"] for s in spans}
        orphans = [s for s in spans if s["parent"] is not None and s["parent"] not in ids]
        roots = [s for s in spans if s["parent"] is None and s["name"] != "execution"]
        if orphans or roots or not spans:
            problems.append(f"{name}: {len(orphans)} spans with unresolved parents, "
                            f"{len(roots)} non-execution roots, {len(spans)} spans")
        print(f"# self-test {name}: {time.time() - t0:.1f} s, "
              f"jobs by entry {info['jobs_by_entry']}", flush=True)
    for p in problems:
        print(f"self-test FAILED: {p}")
    if not problems:
        print("self-test passed")
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops its worker (the finally in run_worker)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not args.self_test and args.workload is None:
        ap.error("--workload is required")
    try:
        check_checkout()
        return self_test() if args.self_test else one_run(args)
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
