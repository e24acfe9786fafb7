"""Central query registry — the engine's correctness contract.

Every operator/query capability from SURVEY.md §2 (plus the LLM-data-pipeline
extensions) is registered here as a :class:`QuerySpec`:

- ``spark_fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation
  (DataFrame API or ``spark.sql`` over the registered views).
- ``oracle``  — an equivalent SQL string DuckDB can run on the same parquet
  tables, or ``None`` for ops whose semantics aren't SQL-expressible
  (hash-seeded LSH, structured streaming, sampling) — those get a weaker
  rows-only check.

``__spark_entry__.py``, ``tests/`` and ``bench.py`` all iterate this one
registry, so a query is "done" exactly when it's registered with an oracle
and green.  Like a catalog, it is a plain name -> definition map: every
accessor returns entries in registration order (``_QUERY_MODULES`` order,
then declaration order within a module) and reads nothing but the modules.

Hash-stability discipline (see SURVEY.md §7 watch list): the driver compares
Spark vs DuckDB by order-insensitive value hash with columns sorted by name,
so every computed column is aliased identically on both sides and every
floating aggregate is rounded (money → 2dp, ratios → 4dp) in BOTH the Spark
plan and the oracle SQL.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]

# Modules that register queries on import, in the order every accessor
# returns them: the SURVEY §2 surface first (relational, asof, stream
# windows), then the pipeline operators built on it, then the TPC-DS/JOB
# shape suites — so a consumer that checks only a prefix of the registry
# covers the engine's core contract first.
_QUERY_MODULES = [
    "qpmodel_spark.queries.tpch",
    "qpmodel_spark.queries.relational",
    "qpmodel_spark.queries.relational2",
    "qpmodel_spark.queries.asof",
    "qpmodel_spark.queries.events_ops",
    "qpmodel_spark.queries.timeseries",
    "qpmodel_spark.queries.spatial",
    "qpmodel_spark.queries.sketches",
    "qpmodel_spark.queries.mining",
    "qpmodel_spark.queries.experiments",
    "qpmodel_spark.streaming.batch_windows",
    "qpmodel_spark.streaming.stream_entries",
    "qpmodel_spark.pipeline.dedup",
    "qpmodel_spark.pipeline.similarity",
    "qpmodel_spark.pipeline.vectors",
    "qpmodel_spark.pipeline.text",
    "qpmodel_spark.pipeline.multimodal",
    "qpmodel_spark.pipeline.chunking",
    "qpmodel_spark.pipeline.sampling",
    "qpmodel_spark.pipeline.curation",
    "qpmodel_spark.queries.tpcds",
    "qpmodel_spark.queries.tpcds2",
    "qpmodel_spark.queries.tpcds3",
    "qpmodel_spark.queries.job",
]


@dataclass
class QuerySpec:
    name: str
    spark_fn: SparkFn
    oracle: str | None
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[SparkFn], SparkFn]:
    """Decorator: register a query implementation under ``name``."""

    def deco(fn: SparkFn) -> SparkFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, fn.__doc__ or "", bench, tags)
        return fn

    return deco


def register_sql(
    name: str,
    sql: str,
    oracle: str | None = "same",
    bench: bool = False,
    tags: tuple[str, ...] = (),
    fanout_tables: tuple[str, ...] = (),
) -> None:
    """Register a query written once in dialect-shared SQL.

    The same statement runs through ``spark.sql`` (after registering the
    parquet temp views) and as the DuckDB oracle — Catalyst and DuckDB each
    plan it independently, so this checks semantics, not plans.

    ``fanout_tables`` (r13, guide §2.5): view names whose scan should be
    spread across the executor pool (``catalog.fanout`` — a no-op on real
    multi-file tables) before the statement is analyzed.  The single-row-
    group testdata makes every bare scan ONE task, and a fact-heavy join
    whose dims all broadcast runs its entire probe pipeline on that one
    task (job_29a measured 34.6 s single-task vs 5.2 s fanned at sf0.1 —
    the whole 17-relation clique expansion ran inside the lone lineitem
    scan task).  The override is scoped to THIS statement's analysis: the
    plain view is restored immediately after ``spark.sql`` resolves (an
    analyzed DataFrame keeps its plan), so concurrent shared-SQL entries
    never see the fanned view.
    """
    from qpmodel_spark.catalog import fanout, load, register_views

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        if not fanout_tables:
            return spark.sql(sql)
        for tbl in fanout_tables:
            fanout(load(spark, sf_dir, tbl)).createOrReplaceTempView(tbl)
        try:
            return spark.sql(sql)  # analysis binds the fanned views here
        finally:
            for tbl in fanout_tables:
                load(spark, sf_dir, tbl).createOrReplaceTempView(tbl)

    fn.__doc__ = f"shared-SQL query: {sql.strip()[:120]}"
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name: {name}")
    _REGISTRY[name] = QuerySpec(
        name, fn, sql if oracle == "same" else oracle, fn.__doc__, bench, tags
    )


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    return dict(_REGISTRY)


def get(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]


def queries() -> dict[str, SparkFn]:
    return {n: s.spark_fn for n, s in all_specs().items()}


def oracles() -> dict[str, str]:
    return {n: s.oracle for n, s in all_specs().items() if s.oracle is not None}
