"""Oracle-verified relational operator coverage (rel_* registry entries)."""

from __future__ import annotations

import pytest

from qpmodel_spark import registry
from tests.conftest import assert_matches_oracle

REL = [
    n for n, s in registry.all_specs().items()
    if n.startswith(("rel_", "ds_", "job_")) and s.oracle
]
@pytest.mark.parametrize("name", REL)
def test_relational_matches_oracle(spark, duck, name):
    assert_matches_oracle(spark, duck, registry.get(name))


def test_no_rows_only_relational_entries():
    """Every rel_/ds_/job_ entry carries an oracle.  This replaced the
    parametrized rows-only fallback test, whose parameter set emptied in
    round 6 (the registry's last rows-only entry gained an oracle) and
    surfaced as an unexplained runtime skip in rounds 5-6."""
    no_oracle = [
        n for n, s in registry.all_specs().items()
        if n.startswith(("rel_", "ds_", "job_")) and not s.oracle
    ]
    assert no_oracle == []


def test_scalar_subquery_multirow_errors(spark):
    """Reference: ScalarSubqueryExpr errors when the subquery returns >1 row
    (ExprSubquery.cs:206-240).  Spark enforces the same at runtime."""
    from qpmodel_spark.catalog import register_views
    from tests.conftest import SF_DIR

    register_views(spark, SF_DIR)
    df = spark.sql("SELECT (SELECT o_orderkey FROM orders) AS x")
    with pytest.raises(Exception, match="[Mm]ore than one row"):
        df.collect()


def test_sys_observed_profile_matches_oracle(spark, duck):
    """Observability entry (sys_ prefix — outside the rel_/ds_/job_ sweep):
    df.observe actuals + plan_summary scan count vs the DuckDB-stated data
    properties."""
    assert_matches_oracle(spark, duck, registry.get("sys_observed_profile"))


def test_asof_partitions_unknown_size_uses_session_parallelism(spark, monkeypatch):
    """An input whose footers cannot be read (object-store URI) has an
    unknown row count; the pandas as-of join must then run at the
    session's shuffle partitions, never collapse onto one task."""
    from pyspark.sql import DataFrame

    from qpmodel_spark.queries.asof import _asof_partitions

    monkeypatch.setattr(
        DataFrame, "inputFiles", lambda self: ["s3a://bucket/events.parquet"]
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "24")
    try:
        assert _asof_partitions(spark, spark.range(10)) == 24
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
