"""Structured Streaming execution of the stream-window queries.

The reference's CREATE STREAM tables never execute (PhysicScanStream.Exec is
an empty stub, Stream.cs:183-194).  Here the same windowed aggregations from
batch_windows.py run as real streams: parquet file source → watermark →
windowed groupBy → sink.

This module is the only place that knows how a bounded stream is fed, run
and stopped:

- ``file_batches`` is the one-file-per-micro-batch parquet reader, and
  ``stage_stream`` writes a frame as ``n`` files and returns that reader —
  every multi-batch source goes through them;
- ``run_windowed_stream`` is the only ``start()``: it pins one state
  partition per task slot, at most 8, so each trigger's stateful stage
  runs as one wave of tasks, runs the query into a memory table or a
  ``foreachBatch`` sink (optionally checkpointed), drains it with
  ``processAllAvailable`` and stops it in ``finally``.  It is both the
  test harness and the template for a production kafka-source deployment;
- ``scratch_dir`` makes the directories a run stages into, checkpoints to
  and keeps its warehouse in, under one root per process that is removed
  at exit.

Watermarks (absent in the reference — SURVEY §2.10) bound the state store:
late events beyond the watermark are dropped, so state size is
O(windows in flight), not O(stream length) — the property that makes these
plans viable on an unbounded 100 TB/day stream.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qpmodel_spark.catalog import normalize_events_ts, table_path
from qpmodel_spark.queries._util import msum

# one staged source dir per sf_dir per process (avoid temp-dir leak per call)
_STAGE_DIRS: dict[str, str] = {}
# the events schema per sf_dir; like _STAGE_DIRS, it assumes the inputs do
# not change while the process runs
_EVENTS_SCHEMAS: dict[str, T.StructType] = {}
# the per-process parent of every scratch_dir, made on first use
_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A new directory for a streaming run's staged source, checkpoint or
    warehouse.  All of them sit under one root per process, made on first
    use and removed at exit.  Only the process that made the root removes
    it: a forked Python worker inherits the exit hook but must not delete
    the driver's files."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="qp_scratch_")
        atexit.register(_remove_scratch_root, _SCRATCH_ROOT, os.getpid())
    path = os.path.join(_SCRATCH_ROOT, f"{prefix}{uuid.uuid4().hex[:8]}")
    os.mkdir(path)
    return path


def _remove_scratch_root(root: str, owner_pid: int) -> None:
    if os.getpid() == owner_pid:
        shutil.rmtree(root, ignore_errors=True)


def _events_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """The events schema exactly as the file source will surface it.

    Inferred from the parquet footer via the batch reader (with
    ``nanosAsLong`` set, so a TIMESTAMP(NANOS) generation arrives as int64
    and a timestamp[us] generation as TIMESTAMP_NTZ) — the streaming twin of
    ``catalog.load``'s generation-independence.  ``normalize_events_ts``
    then gives downstream operators plain TimestampType either way.

    UTC is pinned here for the same reason ``catalog.load`` pins it: the
    NTZ→timestamp reinterpretation and every downstream epoch cast
    (``unix_micros``, ``cast("long")`` on window bounds) read the SESSION
    tz at execution — under a driver session in any other zone the whole
    stream's epochs shift by the zone offset while the DuckDB oracle stays
    naive-UTC.  Every stream reader passes through here, so the pin holds
    before any streaming query starts.  The footer is read once per
    ``sf_dir`` per process; the pins are set on every call.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _EVENTS_SCHEMAS.get(sf_dir)
    if schema is None:
        schema = spark.read.parquet(table_path(sf_dir, "events")).schema
        _EVENTS_SCHEMAS[sf_dir] = schema
    return schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded source (file source over the parquet path).

    Spark's file stream source requires a *directory* (new files appended to
    it become new micro-batches).  The testdata table is a single file, so
    it is staged into a temp directory via symlink — in production this is
    simply the landing directory (or a kafka source).
    """
    stage = _STAGE_DIRS.get(sf_dir)
    if stage is None:
        stage = scratch_dir("qp_stream_events_")
        os.symlink(table_path(sf_dir, "events"), os.path.join(stage, "events.parquet"))
        _STAGE_DIRS[sf_dir] = stage
    raw = spark.readStream.schema(_events_schema(spark, sf_dir)).parquet(stage)
    return normalize_events_ts(raw)


def tumble_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of batch_windows.stream_tumble."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        # msum = decimal-sum discipline, same as the batch twin — keeps
        # streaming output bit-identical to batch/oracle aggregates
        .agg(F.count("*").alias("n"), msum(F.col("value")).alias("sum_value"))
        .select(F.col("w.start").cast("long").alias("win_start"), "event_type", "n", "sum_value")
    )


def session_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming session windows (stateful; watermark bounds state)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("sw.start").cast("long").alias("sess_start"), "user_id", "n_events")
    )


def run_windowed_stream(
    spark: SparkSession,
    streaming_df: DataFrame,
    output_mode: str = "complete",
    *,
    checkpoint: str | None = None,
    foreach_batch=None,
) -> DataFrame | None:
    """Drive a bounded streaming DataFrame to completion — the one place a
    streaming query is started.

    The sink is ``foreach_batch`` when given (returns None), else a memory
    table (returned).  While the query runs, sink included,
    ``spark.sql.shuffle.partitions`` is pinned to the task slots
    (``defaultParallelism``) but at most 8, and it is restored afterwards.
    A stateful query runs one state store per shuffle partition in every
    trigger, fixed when the query starts, and each store is a task with a
    fixed cost whatever its rows (a state commit, and for a pandas operator
    a Python worker's setup).  With up to 8 slots this runs each trigger's
    stateful stage as one wave, no wider than the slots (on a 4-core host,
    4 stores per trigger instead of 8 cut the stream_mv pass by about a
    third).  The cap keeps wider hosts at 8 stores per trigger: small
    triggers gain nothing from more, and a task downstream of a
    ``coalesce(1)`` walks every store one after another.  A plain
    session's 200 would be 200 per trigger.  The state partitioning
    changes parallelism, never results.  The query is drained with
    ``processAllAvailable`` (a sink failure propagates as
    ``StreamingQueryException``) and stopped in ``finally``.
    """
    w = streaming_df.writeStream.outputMode(output_mode)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    name = None
    if foreach_batch is not None:
        w = w.foreachBatch(foreach_batch)
    else:
        name = f"qp_stream_{uuid.uuid4().hex[:8]}"
        w = w.format("memory").queryName(name)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    slots = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(min(slots, 8)))
    try:
        q = w.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return None if name is None else spark.table(name)


def file_batches(
    spark: SparkSession, schema: T.StructType | str, path: str
) -> DataFrame:
    """A parquet directory as a stream of one file per micro-batch (files
    are taken in modification-time order)."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)


def stage_stream(
    spark: SparkSession, frame: DataFrame, n_files: int, path: str
) -> DataFrame:
    """Write ``frame`` as ``n_files`` parquet files under ``path`` and return
    them as a ``file_batches`` stream: ``n_files`` micro-batches."""
    frame.repartition(n_files).write.mode("overwrite").parquet(path)
    return file_batches(spark, frame.schema, path)


def user_totals(events: DataFrame) -> DataFrame:
    """Per-user ``n`` and exact money sum ``sv`` — the running totals the
    CDC, restart and kill-resume entries MERGE on ``user_id``.  The
    per-batch result is a few hundred keys, so it is collapsed to one
    partition: each copy-on-write MERGE rewrite stays one task instead of
    fanning out across the shuffle partitions (wall-clock only; the MERGE
    plan does not depend on it)."""
    return (
        events.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n"), msum(F.col("value")).alias("sv"))
        .coalesce(1)
    )


def hop_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of batch_windows.stream_hop (sliding windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("long").alias("win_start"), "event_type", "n")
    )


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState.

    Maintains per-user running state (event count, running value sum) across
    micro-batches — the primitive behind custom sessionizers, rate limiters
    and online feature aggregation that windowed aggregates can't express.
    State lives in Spark's state store (per-key, partitioned, checkpointed);
    a watermark-driven timeout would bound it on an unbounded keyspace.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: "GroupState"):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 2)]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def read_events_stream_batched(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """events as a MULTI-micro-batch stream: the table is staged into
    ``n_files`` parquet files and read as ``file_batches``, so the query
    processes n_files distinct micro-batches — required to exercise
    incremental paths (upsert sinks, state evolution) that a single-batch
    bounded stream cannot."""
    key = f"{sf_dir}#batched{n_files}"
    schema = _events_schema(spark, sf_dir)
    stage = _STAGE_DIRS.get(key)
    if stage is None:
        stage = scratch_dir("qp_stream_batched_")
        spark.read.schema(schema).parquet(
            table_path(sf_dir, "events")
        ).repartition(n_files).write.mode("overwrite").parquet(stage)
        _STAGE_DIRS[key] = stage
    return normalize_events_ts(file_batches(spark, schema, stage))


def run_stream_upsert(
    spark: SparkSession,
    streaming_totals: DataFrame,
    engine,
    table: str,
    key: str,
    update_cols: list[str],
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming CDC sink: MERGE each micro-batch's updated rows into a
    warehouse table (foreachBatch + Engine.merge_into).

    ``streaming_totals`` must be an update-mode aggregate keyed by ``key``
    (a batch holding a key twice fails the MERGE, and with it the query)
    — each micro-batch emits the keys whose totals changed, and the merge
    overwrites those rows (last-write-wins) / inserts new keys, so the
    table converges to exactly the batch aggregate of everything ingested.
    This is the Delta/Iceberg streaming-MERGE pattern with the copy-on-write
    rewrite standing in for the transaction log; the checkpoint makes
    re-delivered micro-batches re-run the same deterministic MERGE
    (idempotent — an upsert of identical values), giving effectively-once
    table state without a log.  Pinned as executable evidence by
    tests/test_streaming.py::test_stream_kill_mid_merge_resumes_exactly_once,
    which kills the query between a MERGE and its checkpoint commit and
    proves the re-delivered batch's double-MERGE converges.  At 100 TB the
    same foreachBatch body calls the table format's MERGE and the rewrite
    cost drops to changed files.
    """
    updates = {c: f"src.{c}" for c in update_cols}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        engine.merge_into(table, batch_df, on=key, when_matched_update=updates)

    run_windowed_stream(
        spark, streaming_totals, "update",
        checkpoint=checkpoint_dir, foreach_batch=sink,
    )
    return engine.table(table)


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes — bounded state on an unbounded stream, the streaming
    twin of dedup_exact.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join — streaming twin of
    batch_windows.stream_enrich.

    The static dim side is broadcast into every micro-batch (Spark re-plans
    stream-static joins per batch, so a refreshed dim table is picked up on
    the next batch — the slowly-changing-dimension pattern).  No state is
    kept for the join itself; only the downstream windowed aggregate is
    stateful, bounded by the watermark.
    """
    return (
        events.withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), events.user_id == dim.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count("*").alias("n"), msum(F.col("value")).alias("sum_value"))
        .select(
            F.col("w.start").cast("long").alias("win_start"),
            F.col("c_mktsegment").alias("segment"),
            "n",
            "sum_value",
        )
    )


def interval_join_stream(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream interval join — the streaming twin of
    queries/asof.op_interval_join (reference streams never execute; Spark
    runs this with bounded state).

    Both sides are watermarked, and the join condition carries explicit
    event-time bounds; together these let Spark expire buffered rows — a
    view older than watermark + 1 hour can never match a future purchase,
    so state is O(window x rate), the only viable shape for unbounded
    streams.
    """
    v = views.withWatermark("ts", "1 hour").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    p = purchases.withWatermark("ts", "1 hour").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    return p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "purchase_id",
        "view_id",
        "user_id",
        F.col("p_ts").cast("long").alias("purchase_s"),
        F.col("v_ts").cast("long").alias("view_s"),
    )


def _stage_time_ranges(src: DataFrame, stage: str, edges: list, base: float) -> None:
    """Write the half-open ts ranges (-inf, e0], (e0, e1], ..., (e_last, inf)
    of ``src`` as stage/batch-00..NN parquet files in ONE pass.

    FileStreamSource orders files by modification time; instead of sleeping
    >1s between writes to separate mtimes (4.4s of dead time per staged
    source), files get EXPLICIT strictly-increasing mtimes (os.utime) —
    deterministic delivery order, zero sleeps.

    One partitioned write stages every range: one scan of ``src`` instead
    of one filtered scan per range (a per-range form measured 12.7 s cold
    at sf0.1 for the sentinel staging).  The when-chain reproduces the
    (lo, hi] range predicates exactly; row order within a batch file is
    unspecified, which no consumer observes (every stateful op sorts or
    aggregates per key).
    ``repartition("_b")`` puts each range in exactly one task, so each
    partition directory holds exactly one part file.
    """
    import glob as _glob
    import shutil as _shutil

    n_files = len(edges) + 1
    b = F.when(F.col("ts").isNull(), F.lit(None))
    for i, e in enumerate(edges):
        b = b.when(F.col("ts") <= F.lit(e), F.lit(i))
    b = b.otherwise(F.lit(n_files - 1))
    scratch = f"{stage}/_tmp"
    (
        src.withColumn("_b", b.cast("int"))
        .where(F.col("_b").isNotNull())  # NULL ts matched no range before
        .repartition("_b")
        .write.mode("overwrite")
        .partitionBy("_b")
        .parquet(scratch)
    )
    for i in range(n_files):
        dst = f"{stage}/batch-{i:02d}.parquet"
        files = _glob.glob(f"{scratch}/_b={i}/part-*.parquet")
        if len(files) > 1:  # one task per _b value by construction
            raise RuntimeError(f"range {i} staged as {len(files)} files")
        if files:
            _shutil.move(files[0], dst)
        else:  # degenerate percentile edges can empty a range: 0-row file
            src.where(F.lit(False)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{scratch}/_e")
            _shutil.move(_glob.glob(f"{scratch}/_e/part-*.parquet")[0], dst)
        os.utime(dst, (base + i, base + i))
    _shutil.rmtree(scratch, ignore_errors=True)


def read_events_stream_time_batched(
    spark: SparkSession, sf_dir: str, n_files: int = 3
) -> DataFrame:
    """events as TIME-ORDERED micro-batches: staged into ``n_files`` files
    by timestamp range, written sequentially so FileStreamSource's
    mod-time ordering delivers them in event-time order — required by
    stateful operators whose state encodes a sliding ORDER-SENSITIVE
    recurrence (ewma_stream), where round-robin staging would interleave
    time ranges across batches.

    Three files by default: every consumer's witnessed property is "state
    crosses micro-batch boundaries", which needs >= 2 boundaries; each
    further file adds a trigger + state-store + Python-worker round to
    every bounded run without witnessing anything new."""
    import time as _time

    key = f"{sf_dir}#timebatched{n_files}"
    stage = _STAGE_DIRS.get(key)
    schema = _events_schema(spark, sf_dir)
    if stage is None:
        stage = scratch_dir("qp_stream_tb_")
        src = spark.read.schema(schema).parquet(table_path(sf_dir, "events"))
        bounds = src.selectExpr(
            *[
                f"approx_percentile(ts, {i / n_files}) AS p{i}"
                for i in range(1, n_files)
            ]
        ).first()
        edges = [bounds[f"p{i}"] for i in range(1, n_files)]
        _stage_time_ranges(src, stage, edges, _time.time())
        _STAGE_DIRS[key] = stage
    return normalize_events_ts(file_batches(spark, schema, stage))


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming EWMA (decay 1/2, 8-event horizon) via applyInPandasWithState.

    The stateful-streaming twin of queries/timeseries.op_ewma: per-user
    state is the last 7 values; each arriving event emits the same
    Horner-form 8-term sum the batch entry computes.  Python float
    arithmetic is IEEE double with the identical evaluation order, so
    stream output is BIT-equal to the batch DataFrame — asserted in
    tests/test_streaming.py.  State is 8 doubles per key (the bounded
    envelope a watermark timeout would enforce on an unbounded keyspace).
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    K = 8

    def update(key, pdfs, state: "GroupState"):
        hist = list(state.get[0]) if state.exists else []
        ids, out = [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["us", "event_id"])
            for eid, v in zip(pdf["event_id"], pdf["value"]):
                hist.append(float(v))
                if len(hist) > K:
                    hist.pop(0)
                vals = [0.0] * (K - len(hist)) + hist  # oldest first, len K
                acc = vals[0]
                for x in vals[1:]:
                    acc = x + 0.5 * acc
                ids.append(int(eid))
                out.append(math.floor(acc * 1e6 + 0.5) / 1e6)
        state.update((hist,))
        yield pd.DataFrame(
            {"user_id": [key[0]] * len(ids), "event_id": ids, "ewma": out}
        )

    return (
        events.select(
            "user_id", "event_id", F.unix_micros("ts").alias("us"), "value"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, event_id long, ewma double",
            stateStructType="vals array<double>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sliding_distinct_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of queries/timeseries.op_sliding_distinct: distinct
    users per 1-hour window sliding every 15 minutes.

    Exact distinct aggregation (count(DISTINCT ...)) is unsupported in
    streaming, so the standard decomposition applies: a watermarked
    per-(window, user) deduplication (stateful op #1) feeding a windowed
    count (stateful op #2) — Spark 4's chained-stateful-operator support
    runs both in one query.  State is one row per (window, active user),
    expired by the watermark; at 100 TB/day keyspace the drop-in lever is
    approx_count_distinct per window (HLL partials, mergeable — the
    rel_approx_distinct path).

    Watermark must cover the max event-time spread of one (window, user)
    pair — the window length — or dedup state evicts mid-window and a
    late duplicate double-counts; feed with a time-ordered source
    (read_events_stream_time_batched) for the same reason.
    """
    w = F.window("ts", "1 hour", "15 minutes").alias("win")
    return (
        events.withWatermark("ts", watermark)
        .select("ts", "user_id", w)
        .dropDuplicates(["win", "user_id"])
        .groupBy("win")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.unix_micros(F.col("win.start")).alias("win_start_us"), "n_users"
        )
    )


def read_events_stream_sentinel_batched(
    spark: SparkSession, sf_dir: str, n_files: int = 2
) -> DataFrame:
    """Time-ordered event micro-batches PLUS two trailing watermark
    sentinels — the staging that makes EVENT-TIME TIMEOUT eviction
    deterministic under ``processAllAvailable``.

    Event-time timeouts fire in the batch AFTER the watermark passes the
    timeout timestamp, and Spark flushes trailing timeouts in a no-data
    micro-batch that ``processAllAvailable`` does NOT wait for (it only
    waits for source data).  Two sentinel rows (user_id = -1, ts = max+2h
    and max+4h) in their own trailing files close the race structurally:
    the first sentinel's batch advances the watermark past every real
    session's timeout, and the second sentinel's DATA batch — which
    processAllAvailable does wait for — is where those timeouts fire.
    The sentinel key itself never times out (nothing advances the
    watermark past it) and is filtered out downstream.

    Sentinels are constructed with in-engine arithmetic on max(ts) (no
    Python datetime / session-timezone hazards) and inherit the source ts
    type, so the staging works for both the timestamp[us] and the
    nanos-as-long testdata generations.

    Two data files by default: the timeout witness needs sessions whose
    state crosses a micro-batch boundary (>= 2 data batches) plus the two
    sentinel batches; each further data file adds a stateful micro-batch
    (state-store round + Python workers + commit) to every bounded run
    without witnessing anything new.
    """
    import glob as _glob
    import shutil as _shutil
    import time as _time

    key = f"{sf_dir}#sentinel{n_files}"
    stage = _STAGE_DIRS.get(key)
    schema = _events_schema(spark, sf_dir)
    if stage is None:
        stage = scratch_dir("qp_stream_sent_")
        src = spark.read.schema(schema).parquet(table_path(sf_dir, "events"))
        # ONE stats pass: percentile edges AND max(ts) in the same
        # aggregate, materialized so both sentinel selects below read the
        # 1-row frame instead of re-scanning the table per sentinel
        stats = src.selectExpr(
            *[
                f"approx_percentile(ts, {i / n_files}) AS p{i}"
                for i in range(1, n_files)
            ],
            "max(ts) AS mts",
        ).localCheckpoint(eager=True)
        bounds = stats.first()
        edges = [bounds[f"p{i}"] for i in range(1, n_files)]
        base = _time.time()
        scratch = f"{stage}/_tmp"
        _stage_time_ranges(src, stage, edges, base)

        def _publish(df: DataFrame, i: int) -> None:
            df.coalesce(1).write.mode("overwrite").parquet(scratch)
            src_file = _glob.glob(f"{scratch}/part-*.parquet")[0]
            dst = f"{stage}/batch-{i:02d}.parquet"
            _shutil.move(src_file, dst)
            os.utime(dst, (base + i, base + i))

        # trailing sentinels: ts arithmetic stays in the source ts type
        # (interval addition for timestamps, integer nanos for the
        # nanos-as-long generation)
        ts_is_long = isinstance(schema["ts"].dataType, T.LongType)
        for j in (1, 2):
            if ts_is_long:
                ts_expr = (
                    F.col("mts") + F.lit(j * 7_200 * 1_000_000_000)
                ).cast("long")
            else:
                ts_expr = F.expr(f"mts + make_interval(0, 0, 0, 0, {2 * j}, 0, 0)")
            sent = stats.select(
                F.lit(-j).cast("long").alias("event_id"),
                ts_expr.alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("sentinel").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("").alias("props"),
            ).select(*[f.name for f in schema.fields])
            _publish(sent, n_files - 1 + j)
        _shutil.rmtree(scratch, ignore_errors=True)
        _STAGE_DIRS[key] = stage
    return normalize_events_ts(file_batches(spark, schema, stage))


def session_timeout_stream(events: DataFrame, gap_us: int) -> DataFrame:
    """Gap sessionization as a CUSTOM stateful operator with EVENT-TIME
    TIMEOUT state eviction (applyInPandasWithState +
    GroupStateTimeout.EventTimeTimeout) — the state-bounding shape
    session_window cannot express (arbitrary per-key state, evicted when
    the watermark passes last_event + gap, open session emitted ON
    TIMEOUT).  Per key the state is one open session (start, end, count);
    arriving events either extend it or close it (closed sessions emit
    immediately, in the data batch); the timeout emits the final open
    session once the watermark proves no more in-gap events can arrive.
    State is O(1) per key — on an unbounded keyspace this is the eviction
    discipline that keeps the state store finite, which NoTimeout
    operators (stateful_user_stats) explicitly lack.

    ``events`` must carry an event-time watermark (the caller sets
    withWatermark before the sentinel filter so sentinel rows still
    advance the watermark).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_us // 1000

    def update(key, pdfs, state: "GroupState"):
        if state.hasTimedOut:
            st, en, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_us": [st],
                    "session_end_us": [en],
                    "n_events": [n],
                }
            )
            return
        us_all = []
        for pdf in pdfs:
            us_all.extend(int(x) for x in pdf["us"])
        us_all.sort()
        if state.exists:
            st, en, n = state.get
        else:
            st = en = n = None
        closed = []
        for us in us_all:
            if st is None:
                st, en, n = us, us, 1
            elif us - en > gap_us:
                closed.append((st, en, n))
                st, en, n = us, us, 1
            else:
                en, n = max(en, us), n + 1
        if st is not None:
            state.update((st, en, n))
            # fire strictly after the gap closes (watermark must PASS it)
            state.setTimeoutTimestamp(en // 1000 + gap_ms + 1)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start_us": [c[0] for c in closed],
                    "session_end_us": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    return (
        events.select("user_id", F.unix_micros("ts").alias("us"), "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, session_start_us long,"
                " session_end_us long, n_events long"
            ),
            stateStructType="st long, en long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_kill_resume(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    n_files: int = 2,
    crash_batch: int = 1,
    merge_log: list | None = None,
) -> DataFrame:
    """Crash-recovery harness through the MERGE-vs-commit window — the ONE
    code path behind both the stream_kill_resume registry entry and
    tests/test_streaming.py::test_stream_kill_mid_merge_resumes_exactly_once,
    so the entry and its test cannot drift apart.

    Stages events into ``n_files`` micro-batches; life 1's foreachBatch
    sink MERGEs per-user totals, then raises AFTER batch ``crash_batch``'s
    MERGE executed but BEFORE that batch committed to the checkpoint — the
    worst-case crash window.  Life 2 restarts on the same checkpoint,
    RE-DELIVERS the uncommitted batch (its MERGE runs twice — observable
    via ``merge_log``, which records each merged batch_id), and must
    converge the table to the batch aggregate of all input.  Raises if the
    injected crash never fired (vacuous witness) or if the resumed life
    fails.  Returns the converged (user_id, n, sv) table.
    """
    from pyspark.errors import StreamingQueryException

    from qpmodel_spark.ddl import Engine

    events = spark.read.schema(_events_schema(spark, sf_dir)).parquet(
        table_path(sf_dir, "events")
    )
    totals = user_totals(
        normalize_events_ts(stage_stream(spark, events, n_files, f"{workdir}/src"))
    )
    table = f"killres_totals_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse=f"{workdir}/wh")
    eng.create_table(table, "user_id BIGINT, n BIGINT, sv DOUBLE")
    kill = {"armed": True}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        eng.merge_into(
            table,
            batch_df,
            on="user_id",
            when_matched_update={"n": "src.n", "sv": "src.sv"},
        )
        if merge_log is not None:
            merge_log.append(batch_id)
        if kill["armed"] and batch_id == crash_batch:
            kill["armed"] = False
            raise RuntimeError("injected crash: MERGE done, commit pending")

    def one_life() -> StreamingQueryException | None:
        try:
            run_windowed_stream(
                spark, totals, "update",
                checkpoint=f"{workdir}/ckpt", foreach_batch=sink,
            )
        except StreamingQueryException as err:
            return err
        return None

    if one_life() is None:  # life 1 must crash — a clean run means the
        raise RuntimeError("injected crash did not fire")  # witness is vacuous
    err2 = one_life()
    if err2 is not None:  # life 2 must converge cleanly; chain the
        # streaming failure so the caller sees why it died
        raise RuntimeError("resumed life failed") from err2
    return eng.table(table).select("user_id", "n", "sv")
