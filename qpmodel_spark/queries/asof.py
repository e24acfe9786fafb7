"""As-of / temporal joins — an operator Spark lacks natively.

For each 'purchase' event, find the most recent prior-or-simultaneous
'click' by the same user (the canonical attribution / point-in-time-correct
feature lookup).  DuckDB states the semantics natively (ASOF JOIN); Spark
expresses it as a union-tag + window last-value scan:

    union(left tagged, right tagged)
      → Window.partitionBy(user).orderBy(ts, tag)
      → last(right_ts, ignoreNulls) over rows unbounded preceding
      → keep left rows

One shuffle (by user), one sort, no range explosion — this is the shape
that survives 100 TB (the pandas ``merge_asof``-per-group variant in
``asof_join_pandas`` trades JVM window execution for per-group Arrow
batches; both are provided, same semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qpmodel_spark.catalog import footers
from qpmodel_spark.queries._util import t
from qpmodel_spark.registry import register

_ASOF_ORACLE = """
SELECT p.event_id, p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT)  AS purchase_s,
       CAST(floor(epoch(c.ts)) AS BIGINT)  AS click_s,
       round(p.value, 2)                   AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def asof_tagged(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "purchase",
    right_type: str = "click",
    strict: bool = False,
) -> DataFrame:
    """Generalized as-of core: for each ``left_type`` event, the most recent
    ``right_type`` event by the same user at ts' <= ts (``strict=False``,
    ASOF's >= bound) or ts' < ts (``strict=True``, ASOF's > bound).

    The bound is encoded purely in the tie order of the tag column: at
    equal ts, right rows sort BEFORE left for >= (simultaneous rows are in
    the frame) and AFTER left for > (they are not) — same one-shuffle
    window plan either way.
    """
    ev = t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == left_type).select(
        "event_id", "user_id", "ts", "value", F.lit(1).alias("is_left")
    )
    right = ev.where(F.col("event_type") == right_type).select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("is_left"),
    )
    tag_order = F.col("is_left").desc() if strict else F.col("is_left").asc()
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), tag_order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = left.unionByName(right).withColumn(
        "right_ts",
        F.last(F.when(F.col("is_left") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return tagged.where(F.col("is_left") == 1)


def _asof_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_tagged(spark, sf_dir).withColumnRenamed("right_ts", "click_ts")


@register("op_asof_join", tags=("asof", "custom-op"), oracle=_ASOF_ORACLE)
def op_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of left join via union-tag + window last-value (see module doc)."""
    out = _asof_window(spark, sf_dir)
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("purchase_s"),
        F.col("click_ts").cast("long").alias("click_s"),
        F.round("value", 2).alias("purchase_value"),
    )


# ~1M rows x 5 narrow columns ≈ 40 MB as one pandas frame per task — the
# standard execution-memory envelope with headroom for merge_asof's sort
_ASOF_ROWS_PER_TASK = 1_000_000
# spread across the cores once tasks would still hold >= this many rows
# (the loop_shuffle_partitions min_rows_per_task regime: tiny inputs stay
# at 1 partition — pure scheduling otherwise; A/B at sf0.1: p=1 0.65 s,
# p=8 0.66 s, p=32 0.70 s, all within noise of the unbounded r13 form)
_ASOF_MIN_ROWS_PER_TASK = 50_000


def _asof_partitions(spark: SparkSession, df: DataFrame) -> int:
    """Size-derived partition count for the mapInPandas as-of join: input
    row count from the parquet footers (no Spark job; the pre-filter
    count upper-bounds the filtered rows, erring toward more partitions),
    divided by the per-task row budget, with a core-spread floor for
    mid-size inputs.

    Unknown size — no file listing, or any file :func:`catalog.footers`
    cannot read (object-store URI, file gone since listing) — returns the
    session's ``spark.sql.shuffle.partitions``: each task holds its whole
    partition in one pandas frame, so an input of unknown size must never
    collapse onto one task."""
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    stats = list(footers(files))
    if not stats or None in stats:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_rows = sum(s.rows for s in stats)
    cores = spark.sparkContext.defaultParallelism
    p = max(1, -(-n_rows // _ASOF_ROWS_PER_TASK))
    return max(p, min(cores, -(-n_rows // _ASOF_MIN_ROWS_PER_TASK)))


@register("op_asof_join_pandas", tags=("asof", "custom-op", "pandas-udf"), oracle=_ASOF_ORACLE)
def asof_join_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as-of semantics via pandas ``merge_asof`` over user-partitioned
    Arrow batches.  Useful when the per-group logic grows beyond what
    window functions express (e.g. tolerance bands, nearest-rather-than-
    backward).

    The per-user ``applyInPandas`` form paid the Python boundary once per
    GROUP — ~3.3 ms of Arrow-slice + pandas frame construction per user,
    5 s for a trivial function over the 1,500 users at sf0.1 before
    merge_asof even ran.  ``mapInPandas`` over a user-repartitioned frame
    crosses the boundary once per PARTITION and runs ONE vectorized
    ``merge_asof(by="user_id")`` per partition — pandas-documented to
    equal the per-group backward merge, so values are identical
    (OPTIMIZATION_r13.md).

    The per-partition function concatenates its whole partition into ONE
    pandas frame (merge_asof needs every row of a user present, and Arrow
    batch boundaries can split a user), so per-task memory is bounded by
    partition size — and a bare ``repartition("user_id")`` at the
    session's default partition count would put ~1/200th of the table in
    one task at any scale.  The partition count is therefore SIZE-DERIVED
    (:func:`_asof_partitions`): footer row count /
    _ASOF_ROWS_PER_TASK (~40 MB of pandas at 5 narrow columns), spread
    over the cores for mid-size inputs — per-task bytes are bounded by
    construction while small inputs keep whole-machine parallelism.
    Values are partition-independent (each user's rows land in exactly
    one partition under hash repartition for ANY count).
    """
    import pandas as pd

    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select("event_id", "user_id", "event_type", "ts", "value")
    )
    # all of a user's rows in one partition; count derived from metadata
    ev = ev.repartition(_asof_partitions(spark, ev), "user_id")

    def epoch_s(s: pd.Series) -> pd.Series:
        # Normalize to ns resolution explicitly (pandas 2 may hand
        # Arrow-converted timestamps over as datetime64[us], where a
        # raw int64 view would be off by 1000x) and mask NaT before
        # the integer cast (strict in newer pandas).
        s = s.astype("datetime64[ns]")
        out = pd.Series(pd.NA, index=s.index, dtype="Int64")
        m = s.notna()
        out[m] = s[m].astype("int64") // 1_000_000_000
        return out

    def per_partition(batches):
        # one frame per partition: merge_asof(by=) needs every row of a
        # user present, and Arrow batch boundaries can split a user
        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        p = pdf[pdf.event_type == "purchase"].sort_values("ts")
        if p.empty:
            return
        c = (
            pdf[pdf.event_type == "click"]
            .sort_values("ts")[["user_id", "ts"]]
            .rename(columns={"ts": "click_ts"})
        )
        if c.empty:
            merged = p.assign(click_ts=pd.NaT)
        else:
            merged = pd.merge_asof(
                p,
                c,
                by="user_id",
                left_on="ts",
                right_on="click_ts",
                direction="backward",
            )
        yield pd.DataFrame(
            {
                "event_id": merged["event_id"],
                "user_id": merged["user_id"],
                "purchase_s": epoch_s(merged["ts"]),
                "click_s": epoch_s(merged["click_ts"]),
                "purchase_value": merged["value"].round(2),
            }
        )

    return ev.mapInPandas(
        per_partition,
        schema="event_id long, user_id long, purchase_s long, click_s long, purchase_value double",
    )


# --------------------------------------------------------------------------
# Range (interval) join — second temporal/interval operator Spark lacks a
# fast native plan for: a plain `value BETWEEN lo AND hi` join becomes a
# BroadcastNestedLoopJoin (O(rows × ranges) comparisons).  The scale-safe
# rewrite: quantize the range key into coarse buckets, explode each range
# over the buckets it covers, equi-join on the bucket (hash join, shuffle-
# or broadcast-based), then apply the exact bounds as a residual filter.
_TIERS = [("t0", 0.0, 10.0), ("t1", 10.0, 50.0), ("t2", 50.0, 100.0), ("t3", 100.0, 500.1)]
_BUCKET_STEP = 10.0

_RANGE_ORACLE = """
SELECT e.event_id, t.tier
FROM events e
JOIN (VALUES ('t0', 0.0, 10.0), ('t1', 10.0, 50.0),
             ('t2', 50.0, 100.0), ('t3', 100.0, 500.1)) t(tier, lo, hi)
  ON e.value >= t.lo AND e.value < t.hi
"""


@register("op_range_join", tags=("range-join", "custom-op"), oracle=_RANGE_ORACLE)
def op_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: events.value matched to [lo, hi) tiers."""
    ev = t(spark, sf_dir, "events").withColumn(
        "bucket", F.floor(F.col("value") / _BUCKET_STEP).cast("long")
    )
    tiers = spark.createDataFrame(_TIERS, "tier string, lo double, hi double")
    tiers_b = tiers.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / _BUCKET_STEP).cast("long"),
                F.floor((F.col("hi") - F.lit(1e-9)) / _BUCKET_STEP).cast("long"),
            )
        ),
    )
    return (
        ev.join(F.broadcast(tiers_b), "bucket")
        .where((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .select("event_id", "tier")
    )


_INTERVAL_ORACLE = """
SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_s,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_s
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts AND p.ts < v.ts + INTERVAL 1 HOUR
"""


@register("op_interval_join", tags=("interval-join", "temporal", "custom-op"), oracle=_INTERVAL_ORACLE)
def op_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (time-band) join: every purchase paired with each view by
    the same user in the preceding hour — the attribution-window primitive.

    Plan shape: equi-join on user_id with the time band as a residual
    filter — one shuffle by user, no range explosion (band pairs per user
    are bounded by activity rate x window).  This is also exactly the shape
    Structured Streaming requires for stream-stream joins, so
    ``streaming/stream_runner.interval_join_stream`` runs the identical
    condition over two watermarked streams (tests prove stream == batch).
    """
    ev = t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    return (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "purchase_id",
            "view_id",
            "user_id",
            F.col("p_ts").cast("long").alias("purchase_s"),
            F.col("v_ts").cast("long").alias("view_s"),
        )
    )


# --------------------------------------------------------------------------
# Nearest as-of: for each purchase, the click MINIMIZING |Δts| in either
# direction (sensor fusion / trade-quote matching both ways), ties broken
# toward the earlier (backward) click.  Spark states it as TWO carries
# over the same user-partitioned sort — the backward frame carries the
# last click at ts' <= ts (simultaneous included), the forward frame
# (descending order, purchase-before-click at equal ts) carries the first
# click at ts' > ts strictly — then one integer gap compare picks the
# side.  Still one shuffle + two sorts of the same partition, no range
# explosion.  DuckDB states the identical semantics as two directional
# ASOF joins.  side: 1 = backward/simultaneous, 2 = forward, 0 = none.
_ASOF_NEAREST_ORACLE = """
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_us,
       CAST(CASE
         WHEN b.ts IS NOT NULL AND (f.ts IS NULL OR
              epoch_us(p.ts) - epoch_us(b.ts) <= epoch_us(f.ts) - epoch_us(p.ts))
           THEN epoch_us(b.ts)
         ELSE epoch_us(f.ts) END AS BIGINT) AS click_us,
       CAST(CASE
         WHEN b.ts IS NOT NULL AND (f.ts IS NULL OR
              epoch_us(p.ts) - epoch_us(b.ts) <= epoch_us(f.ts) - epoch_us(p.ts))
           THEN 1
         WHEN f.ts IS NOT NULL THEN 2 ELSE 0 END AS BIGINT) AS side
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') b
  ON p.user_id = b.user_id AND p.ts >= b.ts
ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') f
  ON p.user_id = f.user_id AND p.ts < f.ts
"""


@register("op_asof_nearest", tags=("asof", "custom-op"), oracle=_ASOF_NEAREST_ORACLE)
def op_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join (both directions, backward tie-break)
    via two window carries over one user-keyed shuffle (block comment)."""
    ev = t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.expr("unix_micros(ts)").alias("us"),
        F.lit(1).alias("is_left"),
    )
    right = ev.where(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.lit(0).alias("is_left"),
    )
    u = left.unionByName(right)
    # backward: click-before-purchase at equal us → simultaneous included
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # forward: descending; purchase-before-click at equal us → strict >
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").desc(), F.col("is_left").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        u.withColumn(
            "b_us",
            F.last(F.when(F.col("is_left") == 0, F.col("us")), ignorenulls=True).over(wb),
        )
        .withColumn(
            "f_us",
            F.last(F.when(F.col("is_left") == 0, F.col("us")), ignorenulls=True).over(wf),
        )
        .where(F.col("is_left") == 1)
    )
    pick_b = F.col("b_us").isNotNull() & (
        F.col("f_us").isNull()
        | (F.col("us") - F.col("b_us") <= F.col("f_us") - F.col("us"))
    )
    return carried.select(
        "event_id",
        "user_id",
        F.col("us").alias("purchase_us"),
        F.when(pick_b, F.col("b_us")).otherwise(F.col("f_us")).cast("bigint").alias("click_us"),
        F.when(pick_b, F.lit(1))
        .when(F.col("f_us").isNotNull(), F.lit(2))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("side"),
    )
