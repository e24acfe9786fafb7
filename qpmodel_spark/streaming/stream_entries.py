"""Driver-visible STREAMING entries — real Structured Streaming runs.

The stream_* entries in batch_windows.py state streaming semantics as batch
plans (their streaming twins are parity-tested in tests/test_streaming.py).
The entries here go further: ``spark_fn`` drives the ACTUAL streaming query
— micro-batched file source, stateful operators, memory/table sink — to
completion and returns the converged result, so the driver's DuckDB compare
proves stream == oracle directly (and, where a batch twin carries the same
oracle, stream == batch == oracle).  This is the strongest driver-side
evidence a bounded harness can give for the streaming engine.  One entry
per stateful-streaming SHAPE:

- ``stream_sliding_distinct``: Spark 4 CHAINED stateful operators —
  watermarked per-(window, user) dropDuplicates feeding a windowed count
  (exact sliding-window distinct, the decomposition streaming requires
  because count(DISTINCT) is unsupported there).
- ``stream_interval_join``: watermarked stream-STREAM temporal join —
  two-sided buffered state, expired by the event-time bounds.
- ``stream_ewma``: applyInPandasWithState — per-user sliding recurrence
  (last 7 values) crossing micro-batch boundaries, bit-equal to the batch
  window formulation because both evaluate the identical Horner tree.
- ``stream_user_stats``: applyInPandasWithState — unbounded per-key
  accumulation with split-integer money state (exact compare, no float
  order luck).
- ``stream_cdc_upsert``: foreachBatch MERGE sink — the table-convergence /
  exactly-once contract.
- ``stream_session_live``: session_window — the state-MERGING shape
  (sessions spanning micro-batch boundaries fuse in the state store).
- ``stream_hop_live``: sliding (hop) windows — the overlapping-window
  multi-assignment shape (each event lands in width/slide windows inside
  the stateful aggregate).
- ``stream_restart_resume``: checkpoint restart-recovery — a second query
  instance on the same checkpoint resumes offsets and state; the
  converged MERGE table equals the batch aggregate of both lives' input.
- ``stream_kill_resume``: checkpoint CRASH-recovery — life 1 is killed
  between a foreachBatch MERGE and its checkpoint commit; restart
  re-delivers that batch and the double-MERGE must converge (idempotent
  upsert), proving exactly-once table state through the worst-case
  crash window.

The stateful entries consume multi-file staged sources (time-ordered where
the recurrence is order-sensitive), so state genuinely crosses micro-batch
boundaries on every run — a single-batch run would prove nothing about
state handling.

≙ reference Stream.cs:183-194 (PhysicScanStream.Exec is a stub): executable
streaming with stateful operators is strictly beyond reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from qpmodel_spark.queries._util import o_msum, ranked_topk
from qpmodel_spark.registry import register

_SLIDE_US = 900_000_000  # 15-min step; 1-hour window = 4 steps

_STREAM_SLIDE_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
), x AS (
  SELECT user_id,
         (CAST(floor(us / {_SLIDE_US}.0) AS BIGINT) - i.i) * {_SLIDE_US}
           AS win_start_us
  FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
)
SELECT win_start_us, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM x GROUP BY win_start_us
"""


@register(
    "stream_sliding_distinct",
    tags=("streaming", "stateful", "window"),
    oracle=_STREAM_SLIDE_ORACLE,
)
def stream_sliding_distinct_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained-stateful streaming sliding-window distinct, run for real.

    Complete output mode: a bounded source's tail windows are never passed
    by the final watermark, and the oracle states ALL windows — watermark
    EVICTION semantics are proven separately by the append-mode pytest
    (test_streaming_sliding_distinct_append_watermark_eviction).
    """
    from qpmodel_spark.streaming.stream_runner import (
        read_events_stream_time_batched,
        run_windowed_stream,
        sliding_distinct_stream,
    )

    out = run_windowed_stream(
        spark,
        sliding_distinct_stream(read_events_stream_time_batched(spark, sf_dir)),
    )
    from pyspark.sql import functions as F

    return out.select("win_start_us", F.col("n_users").cast("bigint").alias("n_users"))


_STREAM_INTERVAL_ORACLE = """
SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_s,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_s
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts AND p.ts < v.ts + INTERVAL 1 HOUR
"""


@register(
    "stream_interval_join",
    tags=("streaming", "stream-stream-join", "temporal"),
    oracle=_STREAM_INTERVAL_ORACLE,
)
def stream_interval_join_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join run for real: views and purchases are two
    watermarked streams (filtered from the same micro-batched source);
    the join condition's explicit event-time bounds let Spark expire
    buffered rows, so state is O(window × rate) on an unbounded stream.
    Inner-join results emit as matches happen (append mode), so the bounded
    run produces the complete pair set — the oracle is op_interval_join's
    batch statement, making this the driver-visible proof that the
    streaming and batch temporal-join semantics coincide.
    """
    from pyspark.sql import functions as F

    from qpmodel_spark.streaming.stream_runner import (
        interval_join_stream,
        read_events_stream,
        run_windowed_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    return run_windowed_stream(
        spark,
        interval_join_stream(
            ev.where(F.col("event_type") == "view"),
            ev.where(F.col("event_type") == "purchase"),
        ),
        output_mode="append",
    )


def _ewma_horner_duck() -> str:
    expr = "lag(value, 7, CAST(0 AS DOUBLE)) OVER w"
    for k in range(6, -1, -1):
        lagk = f"lag(value, {k}, CAST(0 AS DOUBLE)) OVER w" if k else "value"
        expr = f"({lagk} + 0.5 * {expr})"
    return expr


_STREAM_EWMA_ORACLE = f"""
SELECT user_id, event_id,
       floor({_ewma_horner_duck()} * 1000000 + 0.5) / CAST(1000000 AS DOUBLE) AS ewma
FROM (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
"""


@register(
    "stream_ewma",
    tags=("streaming", "stateful", "timeseries"),
    oracle=_STREAM_EWMA_ORACLE,
)
def stream_ewma_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key stateful streaming EWMA (applyInPandasWithState), run for
    real; update mode emits each event's EWMA exactly once.  The oracle is
    the batch 8-term Horner window (op_ewma's) — the stream matches it
    bit-for-bit because state carries the last 7 values across micro-batch
    boundaries and Python evaluates the identical IEEE expression tree.
    """
    from qpmodel_spark.streaming.stream_runner import (
        ewma_stream,
        read_events_stream_time_batched,
        run_windowed_stream,
    )

    return run_windowed_stream(
        spark,
        ewma_stream(read_events_stream_time_batched(spark, sf_dir)),
        output_mode="update",
    )


_STREAM_CDC_ORACLE = f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       {o_msum('value')} AS sv
FROM events GROUP BY user_id
"""


@register(
    "stream_cdc_upsert",
    tags=("streaming", "cdc", "sink"),
    oracle=_STREAM_CDC_ORACLE,
)
def stream_cdc_upsert_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC MERGE sink, run for real: per-user running totals
    stream in update mode through a foreachBatch MERGE into a warehouse
    table (first batch inserts, the second overwrites — both MERGE arms
    exercised across the batch boundary; 2 micro-batches keep the driver's
    per-entry wall bounded, the 4-batch variant runs in pytest); the
    converged TABLE is returned, so
    the driver proves the exactly-once sink contract: table state ==
    batch aggregate of everything ingested == oracle.  Checkpointed —
    a re-delivered micro-batch re-runs the same deterministic MERGE
    (idempotent upsert).  ≙ the Delta/Iceberg streaming-MERGE pattern with
    the copy-on-write rewrite standing in for the transaction log.
    """
    import uuid

    from qpmodel_spark.ddl import Engine
    from qpmodel_spark.streaming.stream_runner import (
        read_events_stream_batched,
        run_stream_upsert,
        scratch_dir,
        user_totals,
    )

    tmp = scratch_dir("qp_cdc_")
    table = f"cdc_user_totals_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse=f"{tmp}/wh")
    eng.create_table(table, "user_id BIGINT, n BIGINT, sv DOUBLE")
    totals = user_totals(read_events_stream_batched(spark, sf_dir, n_files=2))
    out = run_stream_upsert(
        spark, totals, eng, table, "user_id", ["n", "sv"], f"{tmp}/ckpt"
    )
    return out.select("user_id", "n", "sv")


@register(
    "stream_user_stats",
    tags=("streaming", "stateful", "custom-op"),
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       {o_msum('value')} AS sv
FROM events GROUP BY user_id
""",
)
def stream_user_stats_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key CUSTOM stateful aggregation (applyInPandasWithState), run for
    real: per-user running (count, exact money sum) crosses micro-batch
    boundaries in the state store.  The state carries the SPLIT-INTEGER
    money accumulators (hi/lo micro parts — the msum discipline), so the
    final recombination is the identical IEEE expression o_msum states and
    the driver compare is exact, not float-order luck.  Update mode emits a
    row per updated key per batch; the converged value per key is the one
    with the largest count (counts are strictly increasing), selected by a
    struct max — no ordering assumptions on the sink table.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from qpmodel_spark.streaming.stream_runner import (
        read_events_stream_batched,
        run_windowed_stream,
    )

    import math

    def update(key, pdfs, state: "GroupState"):
        n, hi, lo = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            for v in pdf["value"]:
                vm = math.floor(float(v) * 1_000_000 + 0.5)
                n += 1
                hi += vm // 1_000_000
                lo += vm % 1_000_000
        state.update((n, hi, lo))
        sv = math.floor((float(hi) * 1e6 + float(lo)) / 1e6 * 100 + 0.5) / 100
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "sv": [sv]})

    stream = (
        # 3 staged files: per-key state crosses two micro-batch boundaries
        # (the witnessed property); each further file is one more trigger
        # + state-store round per run
        read_events_stream_batched(spark, sf_dir, n_files=3)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n long, sv double",
            stateStructType="n long, hi long, lo long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = run_windowed_stream(spark, stream, output_mode="update")
    final = F.max(F.struct("n", "sv")).alias("m")
    return (
        out.groupBy("user_id")
        .agg(final)
        .select("user_id", F.col("m.n").alias("n"), F.col("m.sv").alias("sv"))
    )


_STREAM_SESSION_ORACLE = f"""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
       count(*) AS n_events,
       {o_msum('value')} AS sum_value
FROM s GROUP BY user_id, sid
"""


@register(
    "stream_session_live",
    tags=("streaming", "stateful", "session"),
    oracle=_STREAM_SESSION_ORACLE,
)
def stream_session_live_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window under REAL Structured Streaming — the state-MERGING
    stateful shape (a late-arriving event can fuse two open sessions, the
    one windowed aggregation whose state is not fixed-keyed); batch twin
    stream_session carries the same lag+cumsum oracle.  Complete mode over
    the time-ordered micro-batched source: the driver proves the merged
    session set equals the batch sessionization, micro-batch boundaries
    notwithstanding — a session spanning two batches must merge in the
    state store.
    """
    from pyspark.sql import functions as F

    from qpmodel_spark.queries._util import msum
    from qpmodel_spark.streaming.stream_runner import (
        read_events_stream_time_batched,
        run_windowed_stream,
    )

    ev = read_events_stream_time_batched(spark, sf_dir)
    stream = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), msum(F.col("value")).alias("sum_value"))
        .select(
            "user_id",
            F.col("sw.start").cast("long").alias("sess_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_windowed_stream(spark, stream, output_mode="complete")


from qpmodel_spark.streaming.batch_windows import HOP_ORACLE as _STREAM_HOP_ORACLE


@register(
    "stream_hop_live",
    tags=("streaming", "window", "hop"),
    oracle=_STREAM_HOP_ORACLE,
)
def stream_hop_live_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hop) windows under REAL Structured Streaming — the
    overlapping-window shape where every event is assigned to width/slide
    = 3 windows inside the stateful aggregate.  Complete mode over the
    multi-file staged source (the stream_sliding_distinct rationale: a
    bounded source's tail windows are never passed by the final
    watermark, and the oracle — stream_hop's batch statement — states
    ALL windows), so the driver proves the streaming hop aggregation,
    including money sums in split-integer state, equals the batch twin
    bit-for-bit across micro-batch boundaries.
    """
    from pyspark.sql import functions as F

    from qpmodel_spark.queries._util import msum
    from qpmodel_spark.streaming.stream_runner import (
        read_events_stream,
        run_windowed_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    stream = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), msum(F.col("value")).alias("sum_value"))
        .select(
            F.col("w.start").cast("long").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return run_windowed_stream(spark, stream, output_mode="complete")


@register(
    "stream_restart_resume",
    tags=("streaming", "checkpoint", "exactly-once"),
    oracle=_STREAM_CDC_ORACLE,
)
def stream_restart_resume_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RESTART-RESUME, run for real — the recovery contract the
    other stream entries assume: the query ingests half the staged source
    files to completion and stops; the remaining files land; a NEW query
    instance on the SAME checkpoint resumes and converges.  The final
    MERGE table must equal the batch aggregate of everything — state-store
    loss on restart would leave only the second file's totals, offset-log
    loss would double-count the first, and either breaks the oracle
    match, so the driver row proves offsets AND state survive the restart.
    Split-integer money sums keep the compare exact regardless of file
    processing order.
    """
    import glob
    import os
    import shutil
    import uuid

    from qpmodel_spark.catalog import normalize_events_ts, table_path
    from qpmodel_spark.ddl import Engine
    from qpmodel_spark.streaming.stream_runner import (
        _events_schema,
        file_batches,
        run_stream_upsert,
        scratch_dir,
        user_totals,
    )

    tmp = scratch_dir("qp_restart_")
    alldir, src, ckpt = f"{tmp}/all", f"{tmp}/src", f"{tmp}/ckpt"
    schema = _events_schema(spark, sf_dir)
    (
        spark.read.schema(schema)
        .parquet(table_path(sf_dir, "events"))
        .repartition(2)
        .write.mode("overwrite")
        .parquet(alldir)
    )
    parts = sorted(glob.glob(f"{alldir}/part-*"))
    os.makedirs(src)
    table = f"restart_totals_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse=f"{tmp}/wh")
    eng.create_table(table, "user_id BIGINT, n BIGINT, sv DOUBLE")

    totals = user_totals(normalize_events_ts(file_batches(spark, schema, src)))

    def one_life() -> DataFrame:
        return run_stream_upsert(
            spark, totals, eng, table, "user_id", ["n", "sv"], ckpt
        )

    shutil.copy(parts[0], src)
    one_life()  # first life: file 1, then the query stops
    shutil.copy(parts[1], src)
    out = one_life()  # restart on the same checkpoint: resumes at file 2
    return out.select("user_id", "n", "sv")


_STREAM_CAGG_ORACLE = """
SELECT event_type,
       CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       floor((CAST(sum(CAST(floor(CAST(floor(value * 1000000 + 0.5) AS BIGINT)
                               / 1000000.0) AS BIGINT)) AS DOUBLE) * 1000000.0
              + CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)
                         - CAST(floor(CAST(floor(value * 1000000 + 0.5) AS BIGINT)
                                      / 1000000.0) AS BIGINT) * 1000000) AS DOUBLE))
             / 1000000.0 * 100.0 + 0.5) / 100.0 AS sum_value
FROM events
GROUP BY event_type, CAST(ts AS DATE)
"""


@register(
    "stream_continuous_aggregate",
    tags=("streaming", "mv", "cagg"),
    oracle=_STREAM_CAGG_ORACLE,
)
def stream_continuous_aggregate_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous-aggregate refresh, run for real — the streaming
    twin of op_continuous_aggregate: events stream in
    micro-batches through an UPDATE-mode hourly rollup whose changed rows
    foreachBatch-MERGE into a materialized hourly MV table; the daily
    report is then answered FROM the converged MV, never from raw events.
    The driver row proves stream-maintained MV == batch aggregate of the
    raw stream == DuckDB oracle — the TimescaleDB/Materialize continuous-
    aggregate contract (incremental view maintenance under late,
    out-of-order micro-batches) on Spark's state store + MERGE sink.

    Shapes exercised beyond stream_cdc_upsert: a WINDOWED stateful
    aggregate feeding the MERGE (update mode re-emits a changed hour's
    cumulative row, so the MERGE overwrite converges per hour key), a
    composite MV key carried as one concat key column, and a downstream
    re-aggregation query over the MV (hour → day rollup) — the
    continuous-aggregate read path.

    Money totals use split-integer hi/lo sums end to end (exact under any
    micro-batch interleaving); the MV stores hi/lo and the read path
    recombines — identical arithmetic to op_continuous_aggregate's MV.

    ≙ reference Stream.cs:183-194 (stub) — executable streaming IVM is
    strictly beyond reference parity.
    """
    import uuid

    from pyspark.sql import functions as F

    from qpmodel_spark.ddl import Engine
    from qpmodel_spark.streaming.stream_runner import (
        read_events_stream_batched,
        run_stream_upsert,
        scratch_dir,
    )

    tmp = scratch_dir("qp_cagg_stream_")
    table = f"cagg_mv_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse=f"{tmp}/wh")
    eng.create_table(
        table,
        "mvkey STRING, event_type STRING, hour_idx BIGINT,"
        " n BIGINT, hi BIGINT, lo BIGINT",
    )
    ev = read_events_stream_batched(spark, sf_dir, n_files=2).select(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("hour_idx"),
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("vm"),
    )
    hourly = (
        ev.groupBy("event_type", "hour_idx")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr("sum(CAST(floor(vm / CAST(1000000 AS DOUBLE)) AS BIGINT))")
            .cast("bigint")
            .alias("hi"),
            F.expr(
                "sum(vm - CAST(floor(vm / CAST(1000000 AS DOUBLE)) AS BIGINT)"
                " * 1000000)"
            )
            .cast("bigint")
            .alias("lo"),
        )
        .withColumn(
            "mvkey", F.concat_ws("|", "event_type", "hour_idx")
        )
        .select("mvkey", "event_type", "hour_idx", "n", "hi", "lo")
        # changed-hours delta per micro-batch is |types|x|hours| bounded —
        # collapse so each copy-on-write MERGE rewrite stays single-task
        .coalesce(1)
    )
    mv = run_stream_upsert(
        spark, hourly, eng, table, "mvkey", ["n", "hi", "lo"], f"{tmp}/ckpt"
    )
    day = F.expr("date_add(DATE'1970-01-01', CAST(hour_idx div 24 AS INT))")
    return (
        mv.groupBy("event_type", day.cast("string").alias("day"))
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.expr(
                "floor((CAST(sum(hi) AS DOUBLE) * CAST(1000000 AS DOUBLE)"
                " + CAST(sum(lo) AS DOUBLE)) / CAST(1000000 AS DOUBLE)"
                " * CAST(100 AS DOUBLE) + 0.5) / CAST(100 AS DOUBLE)"
            ).alias("sum_value"),
        )
    )


_SESS_GAP_US = 30 * 60 * 1_000_000  # 30-min gap — op_sessionize's contract

_STREAM_SESS_TIMEOUT_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
), marked AS (
  SELECT user_id, event_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > {_SESS_GAP_US} THEN 1 ELSE 0
         END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), numbered AS (
  SELECT user_id, us,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM marked
)
SELECT user_id,
       CAST(min(us) AS BIGINT) AS session_start_us,
       CAST(max(us) AS BIGINT) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM numbered GROUP BY user_id, sess_no
"""


@register(
    "stream_session_timeout",
    tags=("streaming", "stateful", "timeout", "session"),
    oracle=_STREAM_SESS_TIMEOUT_ORACLE,
)
def stream_session_timeout_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUT eviction,
    run for real — the one stateful-streaming shape the other entries
    don't witness: per-key state evicted by the WATERMARK
    (GroupStateTimeout.EventTimeTimeout), with the open session emitted on
    timeout rather than by an arriving event.  Completeness comes from the
    two-sentinel staging (see read_events_stream_sentinel_batched): the
    first sentinel advances the watermark past every real session's
    timeout, the second sentinel's data batch fires them — so the stream
    emits EVERY session (closed in-stream by a gap-exceeding successor, or
    flushed by timeout) and the driver can hash-compare against plain
    batch gap-sessionization (op_sessionize's contract, 30-min gap).
    Sessions and counts are exact integers; no floats anywhere.

    At scale this is the state-store discipline an unbounded keyspace
    needs: O(1) state per key, eviction driven by event time, and the
    sentinel trick is only harness plumbing — production streams are
    unbounded, so their watermark keeps advancing on its own.

    ≙ reference Stream.cs:183-194 (stub): timeout-evicted custom state is
    strictly beyond reference parity.
    """

    from pyspark.sql import functions as F

    from qpmodel_spark.streaming.stream_runner import (
        read_events_stream_sentinel_batched,
        run_windowed_stream,
        scratch_dir,
        session_timeout_stream,
    )

    ev = read_events_stream_sentinel_batched(spark, sf_dir)
    ev = ev.withWatermark("ts", "15 minutes")
    # The sentinel filter must sit ABOVE the stateful operator, not below:
    # a pre-stateful where(user_id >= 0) gets pushed through the watermark
    # node into the parquet scan, which row-group-skips the all-sentinel
    # files — observed as logOffset advancing with numInputRows 0 and the
    # watermark stuck at max_real - delay, so no tail session ever timed
    # out.  applyInPandasWithState is a pushdown barrier, so filtering the
    # OUTPUT keeps the sentinel rows flowing through the watermark
    # collector while their own (meaningless) sessions are dropped here.
    sessions = session_timeout_stream(ev, _SESS_GAP_US).where(
        F.col("user_id") >= 0
    )
    return run_windowed_stream(
        spark, sessions, "append",
        checkpoint=scratch_dir("qp_sess_timeout_ckpt_"),
    )


@register(
    "stream_kill_resume",
    tags=("streaming", "checkpoint", "exactly-once", "crash"),
    oracle=_STREAM_CDC_ORACLE,
)
def stream_kill_resume_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint CRASH-recovery, run for real — the
    stronger sibling of stream_restart_resume (graceful stop between
    lives): here life 1 is KILLED by an injected failure AFTER a
    micro-batch's MERGE executed but BEFORE that batch committed to the
    checkpoint — the worst-case crash window.  Restart on the same
    checkpoint RE-DELIVERS the uncommitted batch, so its MERGE runs twice;
    the driver row proves the double-MERGE converges to exactly the batch
    aggregate (the foreachBatch idempotence contract: re-running the same
    deterministic upsert is a no-op).  A double-count would inflate n,
    offset-log loss would drop earlier batches — either breaks the oracle
    hash.  At scale this is the recovery path every long-running
    foreachBatch MERGE pipeline takes after an executor/driver loss.

    Shares ONE code path (stream_runner.run_kill_resume) with
    tests/test_streaming.py::test_stream_kill_mid_merge_resumes_exactly_once,
    which runs the 4-file variant and additionally pins the double-MERGE
    observation via the harness's merge_log.
    """

    from qpmodel_spark.streaming.stream_runner import run_kill_resume, scratch_dir

    return run_kill_resume(
        spark, sf_dir, scratch_dir("qp_killres_"), n_files=2
    )


# Literal twins of the Bloom constants in pipeline/dedup.py
# (_BLOOM_N=5, _BLOOM_M=2^16, _BLOOM_KPOS=(1,9,17), 60-bit words): the
# Spark side imports the real constants lazily, so any drift between them
# and these oracle literals turns the driver row red by construction.
_STREAM_BLOOM_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE doc_id % 10 = 3
), grams AS (
  SELECT DISTINCT unnest([array_to_string(ws[i:i+4], '_')
                          for i in range(1, len(ws) - 3)]) AS g
  FROM tok WHERE len(ws) >= 5
), bits AS (
  SELECT DISTINCT ('0x' || substr(md5(g), 1, 8))::BIGINT % 65536 AS b FROM grams
  UNION
  SELECT DISTINCT ('0x' || substr(md5(g), 9, 8))::BIGINT % 65536 AS b FROM grams
  UNION
  SELECT DISTINCT ('0x' || substr(md5(g), 17, 8))::BIGINT % 65536 AS b FROM grams
)
SELECT b // 60 AS word_idx,
       bit_or(CAST(1 AS BIGINT) << (b % 60)) AS wv,
       CAST(bit_count(bit_or(CAST(1 AS BIGINT) << (b % 60))) AS INTEGER)
         AS set_bits
FROM bits GROUP BY 1
"""


@register(
    "stream_bloom_maintain",
    tags=("streaming", "bloom", "decontaminate", "mv"),
    oracle=_STREAM_BLOOM_ORACLE,
)
def stream_bloom_maintain_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination Bloom bitset maintained as a STREAMING
    materialized view — dedup_bloom_incremental's merge algebra driven by
    Structured Streaming: benchmark docs arrive in micro-batches (staged
    2-file source, maxFilesPerTrigger=1), each batch builds its packed
    word table and foreachBatch-MERGEs it into the warehouse bitset with
    ``wv | src.wv`` — the bit_or merge is IDEMPOTENT (x|x = x), so a
    crash-re-delivered batch converges identically (the stream_kill_resume
    guarantee holds here algebraically, not just by determinism).  The
    converged table must equal the batch-built bitset over all benchmark
    docs, which is what the DuckDB oracle states — so the driver hash
    proves stream-maintained gate == batch gate word for word.

    Scale: per micro-batch cost is the DELTA wave's gram scan (map-side
    md5 + <= m-row distinct); the MERGE rewrites a <= ceil(2^16/60) =
    1093-row table.  This is how a production gate ingests newly published
    benchmarks continuously instead of rebuilding from history.
    """
    import uuid

    from pyspark.sql import functions as F

    from qpmodel_spark.catalog import table_path
    from qpmodel_spark.ddl import Engine
    from qpmodel_spark.pipeline.dedup import (
        _BLOOM_N,
        bloom_gram_expr,
        bloom_pack_words,
    )
    from qpmodel_spark.streaming.stream_runner import (
        run_windowed_stream,
        scratch_dir,
        stage_stream,
    )

    tmp = scratch_dir("qp_bloom_mv_")
    bench = (
        spark.read.parquet(table_path(sf_dir, "documents"))
        .where(F.col("doc_id") % 10 == 3)
        .select("doc_id", "text")
    )
    raw = stage_stream(spark, bench, 2, f"{tmp}/src")
    table = f"bloom_gate_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse=f"{tmp}/wh")
    eng.create_table(table, "word_idx BIGINT, wv BIGINT")

    def batch_words(batch_df: DataFrame) -> DataFrame:
        # shared single-source Bloom building blocks (pipeline/dedup.py)
        grams = (
            batch_df.withColumn("ws", F.split("text", " "))
            .where(F.size("ws") >= _BLOOM_N)
            .select(F.explode(F.expr(bloom_gram_expr())).alias("g"))
            .distinct()
        )
        return bloom_pack_words(grams)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        eng.merge_into(
            table,
            batch_words(batch_df),
            on="word_idx",
            when_matched_update={"wv": "wv | src.wv"},
        )

    run_windowed_stream(
        spark, raw, "append", checkpoint=f"{tmp}/ckpt", foreach_batch=sink
    )
    return eng.table(table).select(
        "word_idx", "wv", F.bit_count("wv").cast("int").alias("set_bits")
    )


# Literal twin of the DSIR feature construction in pipeline/curation.py
# (_DSIR_B=4096, md5-slice hashed uni+bigrams, target = doc_id % 10 = 3):
# the Spark side imports the real dsir_feats helper lazily, so any drift
# between helper and these oracle literals turns the driver row red by
# construction.  n_batches_applied = 2 is the staged-source contract
# (2 part files, maxFilesPerTrigger=1) AND the re-delivery witness: the
# sink is invoked a third time with an already-applied batch id, and the
# guard must no-op it.
_STREAM_DSIR_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE doc_id % 10 = 3
), feats AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest(
             list_concat(ws, [ws[i] || '_' || ws[i+1]
                              for i in range(1, len(ws))]))),
           1, 15))::BIGINT % 4096 AS b
  FROM tok
)
SELECT b, CAST(count(*) AS BIGINT) AS ct,
       CAST(2 AS BIGINT) AS n_batches_applied
FROM feats GROUP BY b
"""


@register(
    "stream_dsir_maintain",
    tags=("streaming", "dsir", "mv", "curation"),
    oracle=_STREAM_DSIR_ORACLE,
)
def stream_dsir_maintain_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's target hashed-gram bucket counts maintained as a STREAMING
    materialized view — stream_bloom_maintain's
    pattern applied to COUNTERS: target docs arrive in micro-batches,
    each batch's 4096-bucket count table foreachBatch-MERGEs into the
    warehouse with ``ct + src.ct``.  Unlike the Bloom bitset's ``|``,
    ``+`` is NOT idempotent — a crash-re-delivered batch would double-
    count — so the MERGE carries the batch-id dedup guard: a marker row
    keyed ``b = -1 - batch_id`` rides IN the counts table itself (merged
    in the same source frame), so the guard check and the count merge
    commit in ONE copy-on-write table swap — the Delta txnAppId/txnVersion
    transaction-marker pattern collapsed into the data table; two tables
    would leave a crash window between ledger append and count merge.
    After the stream converges, the sink is re-invoked by hand with an
    already-applied batch id (the worst-case re-delivery) — the guard
    must no-op it, or counts double and the oracle hash goes red.  The
    converged counts must equal the from-scratch target counts, which is
    what the DuckDB oracle states — incremental == scratch, driver-
    oracled, with n_batches_applied = 2 pinning that exactly two distinct
    batches ever merged despite three sink invocations.

    Scale: per micro-batch cost is the delta wave's gram scan (map-side
    md5 + a 4096-row count aggregate); the MERGE rewrites a ≤4096+n_batch-
    row table.  This is how pipeline_dsir_select's target LM ingests a
    continuously-published target corpus instead of recomputing both
    count tables from scratch per release (its raw-side twin maintains
    identically, keyed by the same guard).

    ≙ reference Stream.cs:183-194 (stub): maintained streaming state is
    strictly beyond reference parity.
    """
    import uuid

    from pyspark.sql import functions as F

    from qpmodel_spark.catalog import table_path
    from qpmodel_spark.ddl import Engine
    from qpmodel_spark.pipeline.curation import dsir_feats
    from qpmodel_spark.streaming.stream_runner import (
        run_windowed_stream,
        scratch_dir,
        stage_stream,
    )

    tmp = scratch_dir("qp_dsir_mv_")
    src = f"{tmp}/src"
    target = (
        spark.read.parquet(table_path(sf_dir, "documents"))
        .where(F.col("doc_id") % 10 == 3)
        .select("doc_id", "text")
    )
    raw = stage_stream(spark, target, 2, src)
    table = f"dsir_tcnt_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse=f"{tmp}/wh")
    eng.create_table(table, "b BIGINT, ct BIGINT")

    def batch_counts(batch_df: DataFrame, batch_id: int) -> DataFrame:
        cnt = (
            dsir_feats(batch_df)
            .groupBy("b")
            .agg(F.count("*").cast("bigint").alias("ct"))
        )
        marker = spark.range(1).select(
            F.lit(-1 - batch_id).cast("bigint").alias("b"),
            F.lit(0).cast("bigint").alias("ct"),
        )
        return cnt.unionByName(marker)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        applied = (
            eng.table(table)
            .where(F.col("b") == F.lit(-1 - batch_id))
            .limit(1)
            .count()
            > 0
        )
        if applied:  # re-delivered batch: counters must not re-merge
            return
        eng.merge_into(
            table,
            batch_counts(batch_df, batch_id),
            on="b",
            when_matched_update={"ct": "ct + src.ct"},
        )

    run_windowed_stream(
        spark, raw, "append", checkpoint=f"{tmp}/ckpt", foreach_batch=sink
    )
    # re-delivery witness: the full source re-offered under an already-
    # applied batch id; the marker guard keys on the id alone (exactly the
    # re-delivery semantics), so a broken guard doubles every count
    sink(spark.read.parquet(src), 1)
    mv = eng.table(table)
    napp = mv.where(F.col("b") < 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches_applied")
    )
    return (
        mv.where(F.col("b") >= 0)
        .crossJoin(F.broadcast(napp))
        .select("b", "ct", "n_batches_applied")
    )


# Leaderboard MV: from-scratch per-user exact-millis totals with the
# SAME deterministic tie-break (total desc, user_id asc) the served view
# states.  n_batches_applied = 2 is the staged-source contract (2 part
# files, maxFilesPerTrigger=1) AND the re-delivery witness, exactly as in
# stream_dsir_maintain.
_STREAM_TOPK_ORACLE = """
WITH s AS (
  SELECT user_id,
         CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_vm
  FROM events GROUP BY user_id
), r AS (
  SELECT user_id, total_vm,
         row_number() OVER (ORDER BY total_vm DESC, user_id) AS rnk
  FROM s
)
SELECT CAST(rnk AS BIGINT) AS rnk, user_id, total_vm,
       CAST(2 AS BIGINT) AS n_batches_applied
FROM r WHERE rnk <= 10
"""


@register(
    "stream_topk_maintain",
    tags=("streaming", "mv", "topk", "leaderboard"),
    oracle=_STREAM_TOPK_ORACLE,
)
def stream_topk_maintain_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 leaderboard over a MAINTAINED per-user running-total MV —
    the 'top contributors' dashboard every product ships, maintained
    incrementally instead of recomputed per refresh.

    Three things distinguish this from stream_dsir_maintain's counter MV:
    (1) the maintained key domain is |users| — the MERGE is a real upsert
    (new users INSERT, returning users `vm + src.vm`), not a rewrite of a
    fixed 4096-row grid; (2) the SERVED view is a bounded derived cut
    over the maintained state — sort+limit(10) then rank over the 10-row
    result (the text_bm25_search pattern), so serving cost is independent
    of |users|; (3) values are exact int64 millis, so the incremental
    totals are order- and batching-independent by construction.  `+` is
    non-idempotent, so the MERGE carries the in-table batch-id marker
    guard (user_id = -1 - batch_id rides IN the merged frame — guard and
    merge commit in ONE copy-on-write swap), and after convergence the
    sink is re-invoked with an already-applied batch id: the guard must
    no-op it or every total doubles and the oracle hash goes red.  The
    converged leaderboard must equal the from-scratch top-10 with the
    same (total desc, user_id) tie-break — incremental == scratch,
    driver-oracled.

    Scale: per micro-batch cost is one map-side exact-millis aggregate of
    the delta + a user-keyed MERGE; the leaderboard read is a top-10 heap
    over the MV.  ≙ reference Stream.cs:183-194 (stub): maintained
    streaming state is strictly beyond reference parity.
    """
    import uuid

    from pyspark.sql import functions as F

    from qpmodel_spark import catalog
    from qpmodel_spark.ddl import Engine
    from qpmodel_spark.streaming.stream_runner import (
        run_windowed_stream,
        scratch_dir,
        stage_stream,
    )

    tmp = scratch_dir("qp_topk_mv_")
    src = f"{tmp}/src"
    # stage from catalog.load so the events-ts physical-type quirk is
    # normalized away; the stream needs only (user_id, value)
    values = catalog.load(spark, sf_dir, "events").select("user_id", "value")
    raw = stage_stream(spark, values, 2, src)
    table = f"leaderboard_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse=f"{tmp}/wh")
    eng.create_table(table, "user_id BIGINT, vm BIGINT")

    def batch_totals(batch_df: DataFrame, batch_id: int) -> DataFrame:
        tot = batch_df.groupBy("user_id").agg(
            F.sum(F.expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)"))
            .cast("bigint")
            .alias("vm")
        )
        marker = spark.range(1).select(
            F.lit(-1 - batch_id).cast("bigint").alias("user_id"),
            F.lit(0).cast("bigint").alias("vm"),
        )
        return tot.unionByName(marker)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        applied = (
            eng.table(table)
            .where(F.col("user_id") == F.lit(-1 - batch_id))
            .limit(1)
            .count()
            > 0
        )
        if applied:  # re-delivered batch: totals must not re-merge
            return
        eng.merge_into(
            table,
            batch_totals(batch_df, batch_id),
            on="user_id",
            when_matched_update={"vm": "vm + src.vm"},
        )

    run_windowed_stream(
        spark, raw, "append", checkpoint=f"{tmp}/ckpt", foreach_batch=sink
    )
    # re-delivery witness: full source re-offered under an applied id
    sink(spark.read.parquet(src), 1)
    mv = eng.table(table)
    napp = mv.where(F.col("user_id") < 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches_applied")
    )
    top = ranked_topk(
        mv.where(F.col("user_id") >= 0),
        [F.desc("vm"), F.asc("user_id")],
        10,
        "vm",
    )
    return (
        top.select("rnk", "user_id", F.col("vm").alias("total_vm"))
        .crossJoin(F.broadcast(napp))
        .select("rnk", "user_id", "total_vm", "n_batches_applied")
    )


# HLL-union MV: the sketch family meets the MV
# family.  Per-day HyperLogLog registers (m = 64, Flajolet et al. 2007)
# over the event stream's user ids, maintained as a streaming MV whose
# micro-batch merge is greatest() per register.  THE CONTRAST WITH THE
# `+`-MERGE MVs (stream_dsir_maintain, stream_topk_maintain): register
# max is ASSOCIATIVE, COMMUTATIVE and IDEMPOTENT, so a re-delivered
# micro-batch merges to the identical state — no in-table batch-id guard
# is needed at all, and the entry PROVES that by re-offering the full
# source after convergence with no guard in the sink; a non-idempotent
# merge would shift the estimate and go red against the from-scratch
# oracle.  Exactly-once bookkeeping is a property `+` needs and max gets
# free — worth a dedicated witness because at 100 TB the idempotent-merge
# MV (sketch unions, bitmap ORs, watermark highs) is the cheap, restart-
# safe default and should be preferred wherever the aggregate allows it.
#
# Determinism discipline: the register index and rank derive from a
# 52-bit md5 slice of the user id (reg = v % 64; rho = trailing zeros of
# v div 64, + 1, capped at 47) — pure integer ops both engines state
# identically.  The estimate is the real HLL tree: harmonic mean
# alpha_64 * m^2 / S with S a sum of exact powers of two (every term
# 2^-rho is an exact double, the 64-term sum spans < 53 bits, so it is
# exact and order-independent), with the standard small-range linear-
# counting branch m*ln(m/V) when E <= 2.5m and V > 0 — one ln per served
# key at the 1e-6 micro grid (the text_lm_score precedent).  Exact
# distinct users ride alongside so the driver-hashed output also fixes
# the accuracy envelope: |est - exact| <= 3 * rsd * exact with
# rsd = 1.04/sqrt(64) = 13%.
_HLL_M = 64
_HLL_RSD_MICROS = 130_000  # 1.04/sqrt(64), floored to micros
# rho from the 46-bit remainder w: trailing zeros + 1 (geometric with
# P(rho=r) = 2^-r, the HLL register distribution), 47 when w = 0
_HLL_RHO = "CASE WHEN w = 0 THEN 47 ELSE bit_count((w & -w) - 1) + 1 END"
# served estimate over (cnt present registers, sp = sum of 2^-rho):
# zero registers contribute 2^0 = 1 each; V = m - cnt
_HLL_EST = (
    f"CASE WHEN (CAST(0.709 AS DOUBLE) * {_HLL_M * _HLL_M}"
    f"           / (sp + ({_HLL_M} - cnt))) <= CAST(2.5 AS DOUBLE) * {_HLL_M}"
    f"          AND cnt < {_HLL_M}"
    f"     THEN CAST({_HLL_M} AS DOUBLE) * ln(CAST({_HLL_M} AS DOUBLE) / ({_HLL_M} - cnt))"
    f"     ELSE CAST(0.709 AS DOUBLE) * {_HLL_M * _HLL_M}"
    f"          / (sp + ({_HLL_M} - cnt)) END"
)

_STREAM_HLL_ORACLE = f"""
WITH e AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_k, user_id
  FROM events
), h AS (
  SELECT day_k, user_id,
         ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS v
  FROM e
), r AS (
  SELECT day_k, CAST(v % {_HLL_M} AS BIGINT) AS reg, v // {_HLL_M} AS w
  FROM h
), m AS (
  SELECT day_k, reg, CAST(max({_HLL_RHO}) AS BIGINT) AS rho
  FROM r GROUP BY day_k, reg
), s AS (
  SELECT day_k, count(*) AS cnt,
         sum(CAST(1 AS DOUBLE) / CAST((CAST(1 AS BIGINT) << rho) AS DOUBLE)) AS sp
  FROM m GROUP BY day_k
), est AS (
  SELECT day_k, {_HLL_EST} AS e FROM s
), ex AS (
  SELECT day_k, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users FROM e GROUP BY day_k
)
SELECT est.day_k,
       CAST(floor(e * 1000000.0 + 0.5) AS BIGINT) AS est_micros,
       exact_users,
       abs(CAST(floor(e * 1000000.0 + 0.5) AS BIGINT) - exact_users * 1000000)
         <= 3 * {_HLL_RSD_MICROS} * exact_users AS within_3rsd,
       CAST({_HLL_RSD_MICROS} AS BIGINT) AS rsd_micros
FROM est JOIN ex USING (day_k)
"""


@register(
    "stream_hll_maintain",
    tags=("streaming", "mv", "sketch", "hll"),
    oracle=_STREAM_HLL_ORACLE,
)
def stream_hll_maintain_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day approximate-distinct-users dashboard over a MAINTAINED
    HLL-register MV: micro-batches merge registers with greatest() — the
    idempotent-merge MV shape that needs NO batch-id guard, proven by
    re-offering the entire source after convergence with no guard in the
    sink (block comment).  Served estimates ride next to exact counts
    with a 3-sigma rsd envelope; incremental == scratch, driver-oracled.

    Scale: per micro-batch cost is one map-side (day, reg) max-aggregate
    of the delta (<= |days| x 64 rows out) + a register-keyed MERGE; MV
    size is |days| x 64 regardless of user count; the served read is
    |days| x 64 -> |days|.  ≙ reference Stream.cs:183-194 (stub):
    maintained sketch state is strictly beyond reference parity.
    """
    import uuid

    from pyspark.sql import functions as F

    from qpmodel_spark import catalog
    from qpmodel_spark.ddl import Engine
    from qpmodel_spark.streaming.stream_runner import (
        run_windowed_stream,
        scratch_dir,
        stage_stream,
    )

    tmp = scratch_dir("qp_hll_mv_")
    src = f"{tmp}/src"
    days = catalog.load(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 86400000000").alias("day_k"), "user_id"
    )
    raw = stage_stream(spark, days, 2, src)
    table = f"hll_regs_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse=f"{tmp}/wh")
    eng.create_table(table, "kr BIGINT, rho BIGINT")

    def batch_regs(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                "day_k",
                F.expr(
                    "CAST(conv(substring(md5('hll:' || CAST(user_id AS STRING)),"
                    " 1, 13), 16, 10) AS BIGINT)"
                ).alias("v"),
            )
            .select(
                (F.col("day_k") * _HLL_M + F.col("v") % _HLL_M).alias("kr"),
                F.expr("v div 64").alias("w"),
            )
            .groupBy("kr")
            .agg(F.max(F.expr(_HLL_RHO)).cast("bigint").alias("rho"))
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # NO batch-id guard, deliberately: greatest() is idempotent, so a
        # re-delivered batch converges to identical register state (the
        # contrast with stream_topk_maintain's guarded `+` MERGE)
        eng.merge_into(
            table,
            batch_regs(batch_df),
            on="kr",
            when_matched_update={"rho": "greatest(rho, src.rho)"},
        )

    run_windowed_stream(
        spark, raw, "append", checkpoint=f"{tmp}/ckpt", foreach_batch=sink
    )
    # idempotence witness: the FULL source re-offered as one more merge —
    # with a non-idempotent merge the registers would grow and the
    # estimate would drift off the from-scratch oracle
    sink(spark.read.parquet(src), 0)
    regs = eng.table(table).select(
        F.expr(f"kr div {_HLL_M}").alias("day_k"),
        "rho",
    )
    s = regs.groupBy("day_k").agg(
        F.count("*").alias("cnt"),
        F.sum(
            F.expr("CAST(1 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT), CAST(rho AS INT)) AS DOUBLE)")
        ).alias("sp"),
    )
    est = s.select("day_k", F.expr(_HLL_EST).alias("e"))
    ex = (
        spark.read.parquet(src)
        .groupBy("day_k")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_users"))
    )
    return (
        est.join(ex, "day_k")
        .select(
            "day_k",
            F.expr("CAST(floor(e * 1000000.0 + 0.5) AS BIGINT)").alias("est_micros"),
            "exact_users",
            F.expr(
                f"abs(CAST(floor(e * 1000000.0 + 0.5) AS BIGINT)"
                f" - exact_users * 1000000)"
                f" <= 3 * {_HLL_RSD_MICROS} * exact_users"
            ).alias("within_3rsd"),
            F.lit(_HLL_RSD_MICROS).cast("bigint").alias("rsd_micros"),
        )
    )


# SCD Type-2 dimension history as a streaming MV: the
# warehouse family's op_scd2_intervals build (timeseries.py) meets the
# MV family.  Each micro-batch of change events MERGEs into a maintained
# version-history table by REBUILDING the interval sets of exactly the
# keys the batch touches: stored versions of those keys ∪ the batch's
# new changes, deduped on the version key (event_id), re-chained with
# one lead() per key, then merged on event_id (matched versions update
# their valid_to/is_current, new versions insert).
#
# THE THIRD MERGE CHARACTER in the MV family taxonomy:
#   * stream_topk_maintain / stream_dsir_maintain: `+` accumulation —
#     NON-idempotent, needs the in-table batch-id guard;
#   * stream_hll_maintain: greatest() — idempotent BY ALGEBRA (register
#     max), no guard needed;
#   * here: idempotent BY RECONSTRUCTION — the merged state for a key is
#     a deterministic pure function of (stored versions ∪ batch rows),
#     and once a batch is applied its rows are already stored, so
#     re-applying reproduces the identical chain (proved below by
#     re-offering the FULL source after convergence, unguarded).
# Reconstruction buys more than exactly-once: it is LATE-DATA-ROBUST.
# The classic close-and-insert SCD2 maintenance (close current row at
# the new row's timestamp, insert the new version) silently corrupts
# history when a change arrives out of order; rebuilding the touched
# key's chain converges to the same history under ANY batch ordering —
# the staged source here is deliberately NOT time-partitioned, so
# batches genuinely interleave user timelines.
#
# Scale: per-batch cost is |touched keys' history| — one semi-join on
# the MV's key column (partition-prunable on a key-partitioned table) +
# one per-key window over the touched slice + a key-local MERGE; the
# untouched-key majority of a 100 TB dimension is never read.  Serving
# point-in-time reads stays BETWEEN valid_from/valid_to predicates.
# ≙ reference Stream.cs:183-194 (stub) — maintained streaming state is
# beyond reference parity; the interval semantics mirror
# op_scd2_intervals (timeseries.py:989) whose oracle this entry shares.
def _scd2_sink_factory(eng, table: str):
    """The SCD2 micro-batch sink — reconstruction maintenance shared by
    the entry and the random-batching property witness
    (tests/test_streaming.py): rebuild the interval chains of exactly
    the keys the batch touches and MERGE on the version key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def rechain(versions: "DataFrame") -> "DataFrame":
        w = Window.partitionBy("user_id").orderBy("us", "event_id")
        nxt = F.lead("us").over(w)
        return versions.select(
            "event_id",
            "user_id",
            "event_type",
            F.col("us").alias("valid_from_us"),
            nxt.alias("valid_to_us"),
            nxt.isNull().alias("is_current"),
        )

    def sink(batch_df: "DataFrame", batch_id: int) -> None:
        # NO batch-id guard, deliberately: the rebuilt chain is a pure
        # function of (stored ∪ batch) and applied batches are already
        # stored, so re-application is a no-op (dedup on event_id)
        keys = batch_df.select("user_id").distinct()
        stored = (
            eng.table(table)
            .join(F.broadcast(keys), "user_id", "left_semi")
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.col("valid_from_us").alias("us"),
            )
        )
        allv = stored.unionByName(
            batch_df.select("event_id", "user_id", "event_type", "us")
        ).dropDuplicates(["event_id"])
        eng.merge_into(
            table,
            rechain(allv),
            on="event_id",
            when_matched_update={
                "valid_to_us": "src.valid_to_us",
                "is_current": "src.is_current",
            },
        )

    return sink


# the oracle IS op_scd2_intervals' (incremental == scratch is the whole
# claim): imported, not copied, so a future fix there reaches both
# entries
from qpmodel_spark.queries.timeseries import _SCD2_ORACLE as _STREAM_SCD2_ORACLE


@register(
    "stream_scd2_maintain",
    tags=("streaming", "mv", "warehouse", "scd2"),
    oracle=_STREAM_SCD2_ORACLE,
)
def stream_scd2_maintain_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history maintained incrementally by a streaming MERGE
    that REBUILDS the interval chains of the keys each micro-batch
    touches — idempotent by reconstruction (no batch-id guard, proved by
    an unguarded full re-delivery after convergence) and late-data-
    robust (the staged source interleaves user timelines across batches,
    so closing-by-arrival-order would corrupt; rebuilding converges).
    The converged table must equal the from-scratch SCD2 build of
    op_scd2_intervals — incremental == scratch, driver-oracled.

    See the block comment above for the MV family's merge-character
    taxonomy and the 100 TB cost argument.
    """
    import uuid

    from pyspark.sql import functions as F

    from qpmodel_spark import catalog
    from qpmodel_spark.ddl import Engine
    from qpmodel_spark.streaming.stream_runner import (
        run_windowed_stream,
        scratch_dir,
        stage_stream,
    )

    tmp = scratch_dir("qp_scd2_mv_")
    src = f"{tmp}/src"
    # deliberately NOT time-ordered staging: round-robin repartition(2)
    # interleaves every user's timeline across the micro-batches, so the
    # late-data robustness of reconstruction is actually exercised
    # (batch 2 carries timestamps BEFORE stored ones for ~every user).
    # Two staged files: each further file is one more sink invocation
    # (semi-join + re-chain window + MERGE); arbitrary batchings are
    # covered by the hypothesis witness
    # (test_mv_reconstruction_invariant_under_random_batching).
    versions = catalog.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    raw = stage_stream(spark, versions, 2, src)
    table = f"scd2_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse=f"{tmp}/wh")
    eng.create_table(
        table,
        "event_id BIGINT, user_id BIGINT, event_type STRING,"
        " valid_from_us BIGINT, valid_to_us BIGINT, is_current BOOLEAN",
    )

    sink = _scd2_sink_factory(eng, table)

    run_windowed_stream(
        spark, raw, "append", checkpoint=f"{tmp}/ckpt", foreach_batch=sink
    )
    # idempotence-by-reconstruction witness: FULL source re-offered as
    # one more unguarded merge — a close-by-arrival maintenance would
    # re-close rows at stale timestamps and drift off the oracle
    sink(spark.read.parquet(src), 99)
    return eng.table(table).select(
        "user_id",
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "valid_from_us",
        "valid_to_us",
        "is_current",
    )


# Append-only JOIN MV via the delta-join algebra: the
# MV family so far maintains AGGREGATES (counter grids, leaderboards,
# HLL registers) and VERSION HISTORIES (scd2); this entry maintains a
# JOIN — the classic incremental-view-maintenance identity
#     Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
# (Blakeley et al. 1986) over two insert-only sides carved from one
# event stream: views (A) and purchases (B), joined per user with
# 0 <= purchase.ts - view.ts <= 7 days — the conversion-pair view that
# op_conversion_lag states in batch.  Each micro-batch computes the
# three delta terms against the PRE-batch stored sides, merges the new
# pairs into the MV, then appends the batch rows to the side tables
# (that order matters: the side merges rewrite the parquet the pair
# terms read, so the MV merge evaluates first).
#
# Exactly-once WITHOUT a guard: under exact delivery every pair is
# produced by exactly one term in exactly one batch — the batch where
# the LATER of its two rows arrives (earlier side already stored, term
# 1 or 2; same batch, term 3).  Under RE-delivery the terms stop being
# disjoint (a re-offered row is both in Δ and stored), so the sink
# dedups the pair source on its key and every merge is insert-if-
# absent: idempotent BY KEY, the fourth merge character in the family
# taxonomy (guarded `+` / algebraic greatest() / reconstruction /
# keyed insert-only).  Proven below by re-offering the FULL source
# unguarded after convergence.
#
# Scale: per batch the delta terms are user-keyed equi-joins of the
# BATCH against the stored sides — cost tracks |Δ| x per-user match
# width, never |A| x |B|; the side tables are append-only and the MV
# merge is key-local.  The staged source is round-robin partitioned so
# every batch carries BOTH sides and all three terms are exercised
# non-vacuously.  Pair key: view_eid * 1e9 + purchase_eid (bounds
# asserted; a production MV would key the (view, purchase) struct
# directly).  ≙ reference Stream.cs:183-194 (stub): maintained join
# state is strictly beyond reference parity.
_DJOIN_WINDOW_US = 7 * 86_400_000_000
_DJOIN_PK_BASE = 1_000_000_000

def _djoin_pairs(va: "DataFrame", pb: "DataFrame") -> "DataFrame":
    """Conversion pairs of a view frame x a purchase frame — the join
    body every delta term shares (columns: event_id, user_id, us)."""
    from pyspark.sql import functions as F

    v = va.select(
        F.col("user_id").alias("vu"),
        F.col("event_id").alias("view_eid"),
        F.col("us").alias("vus"),
    )
    p = pb.select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_eid"),
        F.col("us").alias("pus"),
    )
    return (
        v.join(p, F.col("vu") == F.col("pu"))
        .where(
            (F.col("pus") >= F.col("vus"))
            & (F.col("pus") - F.col("vus") <= F.lit(_DJOIN_WINDOW_US))
        )
        .select(
            (
                F.col("view_eid") * F.lit(_DJOIN_PK_BASE)
                + F.col("purchase_eid")
            ).alias("pk"),
            F.col("vu").alias("user_id"),
            "view_eid",
            "purchase_eid",
            (F.col("pus") - F.col("vus")).alias("lag_us"),
        )
    )


def _djoin_sink_factory(eng, a_tab: str, b_tab: str, mv: str):
    """The delta-join micro-batch sink, shared by the entry and the
    partial-failure pytest witness.  ``stop_after_merges`` injects a
    crash after N of the 3 merges (MV, A side, B side) — the worst-case
    window: the MV already holds the batch's pairs but the side tables
    do not, so the batch WILL be re-delivered and its delta terms
    overlap the stored state; keyed insert-only merges must converge it
    (test_stream_delta_join_partial_failure_replay)."""
    from pyspark.sql import functions as F

    def sink(batch_df: "DataFrame", batch_id: int, stop_after_merges: int = 3) -> None:
        cols = ["event_id", "user_id", "us"]
        da = batch_df.where(F.col("event_type") == "view").select(cols)
        db = batch_df.where(F.col("event_type") == "purchase").select(cols)
        a_stored, b_stored = eng.table(a_tab), eng.table(b_tab)
        new_pairs = (
            _djoin_pairs(da, b_stored)
            .unionByName(_djoin_pairs(a_stored, db))
            .unionByName(_djoin_pairs(da, db))
            # disjoint under exact delivery (each pair born where its
            # later row arrives); re-delivery overlaps them — dedup on
            # the key keeps the merge source unique and the op idempotent
            .dropDuplicates(["pk"])
        )
        # MV first: its source reads the PRE-batch side tables, whose
        # parquet the side merges below rewrite
        eng.merge_into(mv, new_pairs, on="pk")
        if stop_after_merges <= 1:
            return
        eng.merge_into(a_tab, da.dropDuplicates(["event_id"]), on="event_id")
        if stop_after_merges <= 2:
            return
        eng.merge_into(b_tab, db.dropDuplicates(["event_id"]), on="event_id")

    return sink


_STREAM_DJOIN_ORACLE = f"""
WITH v AS (
  SELECT user_id, event_id AS view_eid, epoch_us(ts) AS vus
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT user_id, event_id AS purchase_eid, epoch_us(ts) AS pus
  FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id,
       CAST(view_eid AS BIGINT) AS view_eid,
       CAST(purchase_eid AS BIGINT) AS purchase_eid,
       pus - vus AS lag_us
FROM v JOIN p ON v.user_id = p.user_id
WHERE p.pus >= v.vus AND p.pus - v.vus <= {_DJOIN_WINDOW_US}
"""


@register(
    "stream_delta_join_maintain",
    tags=("streaming", "mv", "delta-join", "ivm"),
    oracle=_STREAM_DJOIN_ORACLE,
)
def stream_delta_join_maintain_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-pair JOIN view maintained incrementally by the
    three-term delta-join algebra over two insert-only sides (block
    comment above); keyed insert-only merges make the maintenance
    idempotent without a guard (unguarded full re-delivery witness).
    Converged MV == the from-scratch join — incremental == scratch,
    driver-oracled.
    """
    import uuid

    from pyspark.sql import functions as F

    from qpmodel_spark import catalog
    from qpmodel_spark.ddl import Engine
    from qpmodel_spark.streaming.stream_runner import (
        run_windowed_stream,
        scratch_dir,
        stage_stream,
    )

    tmp = scratch_dir("qp_djoin_mv_")
    src = f"{tmp}/src"
    ev = catalog.load(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    mx = ev.agg(F.max("event_id")).first()[0]
    if mx is not None and mx >= _DJOIN_PK_BASE:
        raise ValueError(
            f"delta-join pair key base {_DJOIN_PK_BASE} overflows at "
            f"event_id {mx}; widen the base or key the struct directly"
        )
    # round-robin staging: every micro-batch carries BOTH sides, so all
    # three delta terms produce pairs in every batch whose stored sides
    # are non-empty (batches 2 and 3 — two independent all-term batches).
    # Three staged files keep every witnessed property (>= 2 all-term
    # batches, interleaved sides, the unguarded full re-delivery below);
    # each further file is one more sink invocation (3 MERGEs + the
    # delta-term joins).
    sides = ev.select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    raw = stage_stream(spark, sides, 3, src)
    sfx = uuid.uuid4().hex[:8]
    a_tab, b_tab, mv = f"dj_views_{sfx}", f"dj_purch_{sfx}", f"dj_pairs_{sfx}"
    eng = Engine(spark, warehouse=f"{tmp}/wh")
    eng.create_table(a_tab, "event_id BIGINT, user_id BIGINT, us BIGINT")
    eng.create_table(b_tab, "event_id BIGINT, user_id BIGINT, us BIGINT")
    eng.create_table(
        mv,
        "pk BIGINT, user_id BIGINT, view_eid BIGINT,"
        " purchase_eid BIGINT, lag_us BIGINT",
    )

    sink = _djoin_sink_factory(eng, a_tab, b_tab, mv)

    run_windowed_stream(
        spark, raw, "append", checkpoint=f"{tmp}/ckpt", foreach_batch=sink
    )
    # idempotence-by-key witness: FULL source re-offered unguarded —
    # non-keyed appends would duplicate every pair and both sides
    sink(spark.read.parquet(src), 99)
    return eng.table(mv).select("user_id", "view_eid", "purchase_eid", "lag_us")
