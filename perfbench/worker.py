"""One benchmark run inside one fresh process.

``run.py`` starts this file with the run's environment already pinned and
reads back the JSON record it writes to ``--out``.  The sequence is fixed:

1. set up: start the SparkSession and import the registry (``setup_s``
   runs from the moment ``run.py`` spawned this process);
2. host gauge (``host.calib_s``), whose untimed first repetition also pays
   the JVM's first-job cost;
3. warm pass: each entry's first execution in the fresh session, timed
   (``warm_pass_s``); after each, untimed, the same DataFrame is collected
   and compared with the entry's DuckDB oracle;
4. timed passes in seeded orders, each execution being the entry's
   ``spark_fn`` plus a noop-sink save;
5. host gauge again.

With ``--trace 1`` the timed passes alternate untraced and traced in the
order U T T U U T ..., and the traced ones record spans, status-store
deltas, process CPU and streaming progress per execution.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from contextlib import nullcontext

import tracing
from workloads import WORKLOADS

# host gauge: the plan of bench.py's calibration frame, at a size that runs
# in a fraction of a second on a few cores
CALIB_ROWS = 1 << 23
CALIB_REPS = 3
_CALIB_EXPR = "id"
for _ in range(8):
    _CALIB_EXPR = f"xxhash64({_CALIB_EXPR})"


def calib(spark, cores: int) -> list[float]:
    from pyspark.sql import functions as F

    def save(rows: int) -> None:
        (
            spark.range(0, rows, 1, 2 * cores)
            .selectExpr(f"pmod({_CALIB_EXPR}, 1000003) h")
            .agg(F.sum("h"))
            .write.mode("overwrite").format("noop").save()
        )

    # untimed and small: it pays the first-job cost without running the
    # hash loop uncompiled over the full size
    save(1 << 16)
    reps = []
    for _ in range(CALIB_REPS):
        t0 = time.perf_counter()
        save(CALIB_ROWS)
        reps.append(time.perf_counter() - t0)
    return reps


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def tree_mb(*dirs: str) -> float:
    total = 0
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                try:
                    total += os.lstat(os.path.join(base, f)).st_size
                except OSError:
                    pass
    return total / (1 << 20)


def block_manager(spark) -> tuple[float, int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)
    return mb, len(infos)


class Oracle:
    """DuckDB over the same parquet tables, compared the way
    ``scripts/driver_sim.py`` compares (its ``_canon``)."""

    def __init__(self, root: str, sf_dir: str) -> None:
        import duckdb

        sys.path.insert(0, os.path.join(root, "scripts"))
        from driver_sim import _canon

        from qpmodel_spark import catalog

        self._canon = _canon
        self.con = duckdb.connect()
        for name in catalog.TABLES:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{catalog.table_path(sf_dir, name)}')"
            )

    def mismatch(self, spec, df) -> str | None:
        """None when the DataFrame matches the oracle, else why not."""
        if spec.oracle is None:
            return "entry has no oracle"
        spdf = df.toPandas()
        odf = self.con.execute(spec.oracle).df()
        scols = sorted(c.lower() for c in spdf.columns)
        ocols = sorted(c.lower() for c in odf.columns)
        if scols != ocols:
            return f"columns differ: {scols} vs {ocols}"
        srows, orows = self._canon(spdf), self._canon(odf)
        if len(srows) != len(orows):
            return f"row counts differ: {len(srows)} vs {len(orows)}"
        if srows != orows:
            return "row values differ"
        return None


class Run:
    def __init__(self, args, spark, specs) -> None:
        self.args = args
        self.spark = spark
        self.sf_dir = args.sf_dir
        self.wl = WORKLOADS[args.workload]
        self.specs = {n: specs[n] for n in self.wl.entries}
        self.rng = random.Random(args.seed)
        self.failed = 0
        self.attempted = 0
        self.errors: list[str] = []
        self.tracer = None
        self.wrapped_refs = 0
        if args.trace:
            self._init_tracing(specs)

    # -- tracing -----------------------------------------------------------
    def _init_tracing(self, specs) -> None:
        self.tracer = tracing.Tracer()
        self.wrapped_refs = tracing.install_wrappers(self.tracer, specs)
        self.status = tracing.StatusStore(self.spark)
        self.stream_sink = {"current": tracing.new_stream_record()}
        self.listener = tracing.make_stream_listener(self.stream_sink)
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def _span(self, name):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name)

    # -- one execution -----------------------------------------------------
    def execute(self, name: str):
        spec = self.specs[name]
        with self._span("execution"):
            with self._span("entry.build"):
                df = spec.spark_fn(self.spark, self.sf_dir)
            with self._span("spark.exec"):
                df.write.mode("overwrite").format("noop").save()
        return df

    def timed(self, name: str) -> tuple[float, object]:
        """(seconds, DataFrame); the DataFrame is None when it failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = self.execute(name)
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:400]}")
            df = None
        return time.perf_counter() - t0, df

    def traced_execution(self, p: int, name: str) -> tuple[float, dict]:
        before = self.status.snapshot()
        cpu0 = tracing.process_cpu(os.getpid(), self.jvm_pid)
        self.stream_sink["current"] = tracing.new_stream_record()
        first_span = len(self.tracer.spans)
        self.tracer.trace_id = f"pass{p}:{name}"
        self.tracer.on = True
        try:
            secs, _ = self.timed(name)
        finally:
            self.tracer.on = False
        after = self.status.snapshot()  # waits for the listener bus
        cpu1 = tracing.process_cpu(os.getpid(), self.jvm_pid)
        rec = self.status.delta(before, after)
        for k in ("jvm", "pyworker", "driver"):
            rec[f"cpu.{k}_s"] = cpu1[k] - cpu0[k]
        rec["stream"] = self.stream_sink["current"]
        rec["spans"] = self.tracer.spans[first_span:]
        return secs, rec

    # -- the run -----------------------------------------------------------
    def warm_and_check(self) -> dict[str, float]:
        """Each entry's first execution in the fresh session, timed; after
        each, untimed, the same DataFrame is collected and compared with the
        entry's DuckDB oracle."""
        oracle = Oracle(self.args.root, self.sf_dir)
        warm = {}
        for name in self.rng.sample(list(self.specs), len(self.specs)):
            warm[name], df = self.timed(name)
            if df is None:
                continue
            try:
                why = oracle.mismatch(self.specs[name], df)
            except Exception as e:
                why = f"{type(e).__name__}: {str(e)[:400]}"
            if why is not None:
                self.failed += 1
                self.errors.append(f"{name}: oracle check failed: {why}")
        oracle.con.close()
        return warm

    def timed_passes(self) -> tuple[list[dict], list[dict]]:
        """Whole passes in seeded orders until ``--seconds`` have gone by.

        Every pass is whole, so each entry has the same number of timed
        executions and a median over all of them mixes the entries in fixed
        shares.  A run makes at least the workload's ``min_passes``; a
        traced run at least four, U T T U, so that its untraced passes are
        not only the coldest one."""
        execs, passes = [], []
        deadline = time.perf_counter() + self.args.seconds
        fixed = self.args.passes
        min_passes = 4 if self.tracer is not None else self.wl.min_passes
        p = 0
        while (p < fixed) if fixed else (p < min_passes or time.perf_counter() < deadline):
            traced = self.tracer is not None and p % 4 in (1, 2)
            if traced:
                self.spark.streams.addListener(self.listener)
            t0 = time.perf_counter()
            for name in self.rng.sample(list(self.specs), len(self.specs)):
                failed = self.failed
                if traced:
                    secs, rec = self.traced_execution(p, name)
                else:
                    secs, rec = self.timed(name)[0], None
                if self.failed == failed:  # a failed execution has no timing
                    execs.append({"pass": p, "name": name, "s": secs, "traced": traced, "layers": rec})
            wall = time.perf_counter() - t0
            if traced:
                self.spark.streams.removeListener(self.listener)
            retained_mb, cached = block_manager(self.spark)
            passes.append({
                "pass": p,
                "traced": traced,
                "wall_s": wall,
                "blockmgr.retained_mb": retained_mb,
                "blockmgr.cached_rdds": cached,
                "ddl.tmp_mb_left": tree_mb(os.environ["TMPDIR"], os.getcwd()),
            })
            p += 1
        return execs, passes


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--passes", type=int, default=0, help="fixed timed passes (self-test)")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch time of spawn")
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-out", default="")
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    from qpmodel_spark.session import get_spark

    t = time.time()
    spark = get_spark("perfbench")
    session_s = time.time() - t
    from qpmodel_spark import registry

    t = time.time()
    specs = registry.all_specs()
    registry_s = time.time() - t
    setup_s = time.time() - args.t0

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    run = Run(args, spark, specs)
    load_start = load1()
    phases = {"setup": setup_s}

    def phase(name: str, fn):
        t = time.time()
        out = fn()
        phases[name] = time.time() - t
        return out

    calib_start = phase("calib_start", lambda: calib(spark, cores))
    warm = phase("warm_and_check", run.warm_and_check)
    execs, passes = phase("timed_passes", run.timed_passes)
    calib_end = phase("calib_end", lambda: calib(spark, cores))
    record = {
        "setup_s": setup_s,
        "session.get_spark_s": session_s,
        "registry.load_s": registry_s,
        "cores": cores,
        "warm": warm,
        "phases_s": phases,
        "execs": execs,
        "passes": passes,
        "calib_start": calib_start,
        "calib_end": calib_end,
        "load1_start": load_start,
        "load1_end": load1(),
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "wrapped_refs": run.wrapped_refs,
    }
    if run.tracer is not None and args.spans_out:
        with open(args.spans_out, "w") as fh:
            json.dump(run.tracer.spans, fh)
    with open(args.out, "w") as fh:
        json.dump(record, fh)
    spark.stop()


if __name__ == "__main__":
    main()
