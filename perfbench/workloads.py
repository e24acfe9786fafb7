"""The benchmark's workloads: fixed lists of registry entries.

Each workload is a closed loop with one client: one entry executes at a
time in one shared SparkSession, the only supported use of a session.
A run makes whole timed passes over its workload until ``--seconds`` have
gone by, and at least ``min_passes`` of them (``worker.Run.timed_passes``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    entries: tuple[str, ...]
    min_passes: int


WORKLOADS = {
    # SQL core: catalog scans, Catalyst planning and codegen joins and
    # aggregates.  op_pagerank_support2 adds a driver-issued action loop with
    # a localCheckpoint per iteration.  No Python workers, no writes.
    # Three passes: the first timed pass still runs slower while the JIT
    # warms, and a median of three leaves it out.
    "sql_batch": Workload(
        entries=(
            "q3",
            "q5",
            "q18",
            "op_sessionize",
            "ds_q3_brand_year_revenue",
            "job_chain9_two_regions",
            "op_pagerank_support2",
        ),
        min_passes=3,
    ),
    # Write path: bounded streams through the state store, a foreachBatch
    # MERGE into parquet (cdc), and Python-worker state (user_stats).
    # Two passes: a pass takes 7 to 8 s, and a third would push a full
    # measurement too close to its time limit.
    "stream_mv": Workload(
        entries=("stream_cdc_upsert", "stream_user_stats"),
        min_passes=2,
    ),
}
