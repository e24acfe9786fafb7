"""Operator-coverage queries — the SURVEY.md §2 relational inventory.

Most of these are registered as *dialect-shared SQL*: one ANSI statement that
runs verbatim through ``spark.sql`` (over the registered parquet views) and
as the DuckDB oracle.  Catalyst and DuckDB plan it independently, so a match
checks operator semantics end-to-end.  Where dialects diverge (SRF syntax,
VALUES, JSON access), the Spark and oracle strings are written separately.

Coverage map (reference → here):
- join types {inner,left,right,full,cross,semi,antisemi,theta}
  (LogicJoin JoinType enum, LogicNode.cs:645-657; PhysicHashJoin
  PhysicalNode.cs:802-1065; PhysicNLJoin 601-775) → rel_join_*
- set ops (SetOpTree, stmt.cs:277-449) → rel_union*, rel_intersect*,
  rel_except* (incl. the INTERSECT/EXCEPT ALL the reference lacks)
- subquery expressions (ExprSubquery.cs) → rel_*_subquery, rel_not_in_null
  (PG null semantics, ExprSubquery.cs:279-295), rel_exists_or
  (OR-connected existentials, subquery.cs:101-151)
- aggregation (LogicAgg LogicNode.cs:984-1375, agg funcs ExprFunc.cs:439-767)
  → rel_groupby_*, rel_having, rel_stddev, rel_agg_empty, rel_distinct*
- sort/limit (LogicOrder/LogicLimit) → rel_order_nulls, rel_limit_offset
- scalar exprs (ExprFunc.cs:111-401, 774-887) → rel_case_*, rel_cast,
  rel_string_funcs, rel_date_funcs, rel_coalesce, rel_in_list, rel_like
- SRF/ProjectSet (LogicNode.cs:1777-1815) → rel_explode
- SELECT w/o FROM (LogicResult, LogicNode.cs:1577-1582) → rel_const_row
- INSERT VALUES source (stmtDML.cs:164-243) → rel_values
- TABLESAMPLE (PhysicSampleScan PhysicalNode.cs:1821-1894) → rel_sample_*
- beyond parity: window functions, ROLLUP/CUBE/GROUPING SETS, OFFSET —
  absent in the reference (SURVEY §2.5, §2.4, §2.6), native in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qpmodel_spark.queries._util import o_msum, t
from qpmodel_spark.registry import register, register_sql

# --------------------------------------------------------------------------
# Joins.  Inner/semi/anti at scale shuffle on the key (or broadcast); the
# theta join is a nested-loop (BroadcastNestedLoopJoin) — fine because one
# side is a dim, catastrophic fact×fact; kept dim-sized deliberately.

register_sql(
    "rel_join_inner",
    """
SELECT n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
WHERE r_name LIKE 'A%'
""",
    tags=("join",),
)

register_sql(
    "rel_join_left",
    """
SELECT c_custkey, o_orderkey
FROM customer LEFT JOIN orders
  ON c_custkey = o_custkey AND o_totalprice > 50000.0
WHERE c_custkey < 50
""",
    tags=("join",),
)

# RIGHT/FULL exceed the reference's parser (DataType.cs:605-618 throws
# NotImplemented for them) but its JoinType enum declares them — full parity+.
register_sql(
    "rel_join_right",
    """
SELECT o_orderkey, c_custkey
FROM orders RIGHT JOIN customer ON c_custkey = o_custkey AND o_orderkey < 100
WHERE c_custkey < 50
""",
    tags=("join",),
)

register_sql(
    "rel_join_full",
    """
SELECT a.k AS lk, b.k AS rk
FROM (SELECT c_custkey AS k FROM customer WHERE c_custkey < 20) a
FULL OUTER JOIN (SELECT c_custkey + 10 AS k FROM customer WHERE c_custkey < 20) b
  ON a.k = b.k
""",
    tags=("join",),
)

register_sql(
    "rel_join_cross",
    """
SELECT n_name, r_name FROM nation CROSS JOIN region WHERE n_nationkey < 3
""",
    tags=("join",),
)

register_sql(
    "rel_join_theta",
    """
SELECT s_suppkey, count(*) AS n_bigger
FROM supplier JOIN nation ON s_nationkey < n_nationkey
GROUP BY s_suppkey
""",
    tags=("join", "nlj"),
)

register_sql(
    "rel_join_semi",
    """
SELECT count(*) AS n FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
""",
    tags=("join", "semi"),
)

register_sql(
    "rel_join_anti",
    """
SELECT p_partkey, p_name FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 40)
""",
    tags=("join", "anti"),
)

register_sql(
    "rel_join_self",
    """
SELECT a.o_custkey AS custkey, count(*) AS n_pairs
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
GROUP BY a.o_custkey
HAVING count(*) > 2
""",
    tags=("join", "self"),
)

# --------------------------------------------------------------------------
# Set operations (reference builds them from Append+Agg, stmt.cs:277-449).

register_sql(
    "rel_union_all",
    """
SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000.0
UNION ALL
SELECT s_nationkey AS k FROM supplier
""",
    tags=("setop",),
)

register_sql(
    "rel_union",
    """
SELECT c_nationkey AS k FROM customer
UNION
SELECT s_nationkey AS k FROM supplier
""",
    tags=("setop",),
)

register_sql(
    "rel_intersect",
    """
SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 5000.0
INTERSECT
SELECT s_nationkey AS k FROM supplier
""",
    tags=("setop",),
)

register_sql(
    "rel_except",
    """
SELECT c_custkey AS k FROM customer WHERE c_acctbal > 8000.0
EXCEPT
SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
""",
    tags=("setop",),
)

# INTERSECT ALL / EXCEPT ALL: NotImplemented in the reference (stmt.cs:421-427).
register_sql(
    "rel_intersect_all",
    """
SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 48
INTERSECT ALL
SELECT l_suppkey AS k FROM lineitem WHERE l_discount > 0.08
""",
    tags=("setop",),
)

register_sql(
    "rel_except_all",
    """
SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 48
EXCEPT ALL
SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 49
""",
    tags=("setop",),
)

# --------------------------------------------------------------------------
# Subquery expressions.

register_sql(
    "rel_in_subquery",
    """
SELECT count(*) AS n FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
""",
    tags=("subquery",),
)

# NOT IN with NULLs in the subquery result: PostgreSQL three-valued logic —
# any NULL makes NOT IN never-true (reference: ExprSubquery.cs:279-295,
# InListExpr :336-341).  nullif() plants the NULL.
register_sql(
    "rel_not_in_null",
    """
SELECT count(*) AS n FROM customer
WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders)
""",
    tags=("subquery", "null-semantics"),
)

register_sql(
    "rel_not_in_nonnull",
    """
SELECT count(*) AS n FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01')
""",
    tags=("subquery",),
)

register_sql(
    "rel_scalar_subquery_select",
    """
SELECT n_name,
       (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) AS n_supp
FROM nation
""",
    tags=("subquery", "correlated"),
)

# OR-connected existential subqueries — the reference needed special marker
# machinery (subquery.cs:101-151); Spark ≥3.4 handles natively.
register_sql(
    "rel_exists_or",
    """
SELECT count(*) AS n FROM customer
WHERE c_acctbal < -900.0
   OR EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
""",
    tags=("subquery", "or-exists"),
)

register_sql(
    "rel_in_correlated",
    """
SELECT count(*) AS n FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     WHERE l_shipdate > o_orderdate AND l_quantity > 49)
""",
    tags=("subquery", "correlated"),
)

# --------------------------------------------------------------------------
# Aggregation.

register_sql(
    "rel_groupby_expr",
    """
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
       count(*) AS n,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
FROM orders GROUP BY year(o_orderdate)
""",
    tags=("agg",),
)

register_sql(
    "rel_groupby_ordinal",
    """
SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1
""",
    tags=("agg",),
)

register_sql(
    "rel_having",
    """
SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey HAVING count(*) >= 15
""",
    tags=("agg", "having"),
)

# stddev_samp: Welford accumulation is order-dependent in the last bits;
# quantities are small integers so 4dp rounding is stable.
register_sql(
    "rel_stddev",
    """
SELECT l_returnflag, round(stddev_samp(l_quantity), 4) AS sd,
       round(var_samp(l_quantity), 4) AS var
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "stddev"),
)

register_sql(
    "rel_minmax",
    """
SELECT min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
       min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
FROM lineitem
""",
    tags=("agg",),
)

# Global aggregate over an empty input returns exactly one row with
# count=0 / null sum (reference: PhysicalNode.cs:1079-1104).
register_sql(
    "rel_agg_empty",
    """
SELECT count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS s,
       max(o_orderdate) AS m
FROM orders WHERE o_orderkey < 0
""",
    tags=("agg", "empty"),
)

register_sql(
    "rel_select_distinct",
    """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
""",
    tags=("distinct",),
)

# Beyond reference parity: ROLLUP/CUBE/GROUPING SETS (absent per SURVEY §2.4).
register_sql(
    "rel_rollup",
    """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    tags=("agg", "rollup"),
)

register_sql(
    "rel_cube",
    """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    tags=("agg", "cube"),
)

register_sql(
    "rel_grouping_sets",
    """
SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS yr, count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), ())
""",
    tags=("agg", "grouping-sets"),
)

# try_-prefixed error-safe arithmetic (Spark ANSI-mode companions) vs the
# NULLIF-guard idiom every engine states: identical NULL-on-error results.
register(
    "rel_safe_div",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice / nullif(l_discount, 0.0) AS price_per_disc,
       CAST(l_quantity AS BIGINT) // nullif(CAST(l_linenumber - 1 AS BIGINT), 0) AS qty_div,
       round(l_tax / nullif(l_discount, 0.0), 4) AS tax_ratio
FROM lineitem WHERE l_orderkey < 60
""",
    tags=("expr", "safe-arith"),
)(
    lambda spark, sf_dir: t(spark, sf_dir, "lineitem")
    .where(F.col("l_orderkey") < 60)
    .select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide("l_extendedprice", F.nullif(F.col("l_discount"), F.lit(0.0))).alias(
            "price_per_disc"
        ),
        F.floor(
            F.try_divide(
                F.col("l_quantity").cast("bigint"),
                F.nullif((F.col("l_linenumber") - 1).cast("bigint"), F.lit(0)),
            )
        ).cast("bigint").alias("qty_div"),
        F.round(
            F.try_divide("l_tax", F.nullif(F.col("l_discount"), F.lit(0.0))), 4
        ).alias("tax_ratio"),
    )
)

register_sql(
    "rel_window_extras",
    """
SELECT o_orderkey, o_custkey,
       cume_dist() OVER w AS cd,
       nth_value(o_orderkey, 2) OVER w2 AS second_ok,
       dense_rank() OVER w AS dr
FROM orders
WHERE o_custkey < 20
WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderkey),
       w2 AS (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    tags=("window", "named-window"),
)

register_sql(
    "rel_grouping_id",
    """
SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_yr,
       count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), (o_orderstatus, year(o_orderdate)), ())
""",
    tags=("agg", "grouping-sets", "grouping-id"),
)

# --------------------------------------------------------------------------
# Sort / limit / offset.  Reference defaults to nulls-first
# (PhysicalExec.cs:136-141); we're explicit so both engines agree under LIMIT.

register_sql(
    "rel_order_nulls",
    """
SELECT c_custkey, nullif(c_acctbal, 0.0) AS bal
FROM customer
ORDER BY bal ASC NULLS FIRST, c_custkey
LIMIT 15
""",
    tags=("sort", "null-semantics"),
)

register_sql(
    "rel_limit_offset",
    """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_orderkey LIMIT 10 OFFSET 20
""",
    tags=("limit", "offset"),
)

register_sql(
    "rel_topk",
    """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
""",
    tags=("sort", "topk"),
)

# --------------------------------------------------------------------------
# Scalar expressions / functions (reference library: ExprFunc.cs:111-401).

register_sql(
    "rel_case_searched",
    """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000.0 THEN 'big'
            WHEN o_totalprice > 100000.0 THEN 'mid'
            ELSE 'small' END AS bucket
FROM orders WHERE o_orderkey < 200
""",
    tags=("expr", "case"),
)

register_sql(
    "rel_case_simple",
    """
SELECT o_orderstatus,
       CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'done' ELSE 'part' END AS s,
       count(*) AS n
FROM orders GROUP BY o_orderstatus
""",
    tags=("expr", "case"),
)

register_sql(
    "rel_cast",
    """
SELECT CAST(c_custkey AS STRING) AS skey,
       CAST('1996-03-05' AS DATE) AS d,
       CAST(c_nationkey AS BIGINT) AS bk
FROM customer WHERE c_custkey < 10
""",
    tags=("expr", "cast"),
)

register_sql(
    "rel_in_list",
    """
SELECT count(*) AS n FROM orders
WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM') AND o_orderstatus NOT IN ('P')
""",
    tags=("expr", "in-list"),
)

register_sql(
    "rel_like",
    """
SELECT count(*) AS n_like FROM part WHERE p_name LIKE 'sm%'
""",
    tags=("expr", "like"),
)

register_sql(
    "rel_not_like",
    """
SELECT count(*) AS n FROM part WHERE p_name NOT LIKE '%o%' AND p_name LIKE '_e%'
""",
    tags=("expr", "like"),
)

register_sql(
    "rel_between",
    """
SELECT count(*) AS n FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-06-30'
  AND l_quantity NOT BETWEEN 10 AND 40
""",
    tags=("expr", "between"),
)

# String library: substring (1-based), upper, length, concat ||, repeat, trim.
register_sql(
    "rel_string_funcs",
    """
SELECT p_partkey,
       substring(p_name, 1, 4) AS pre,
       upper(p_brand) AS ub,
       length(p_name) AS ln,
       p_brand || ':' || p_type AS cat,
       repeat('ab', 3) AS rep,
       trim('  x  ') AS tr
FROM part WHERE p_partkey < 10
""",
    tags=("expr", "string"),
)

register_sql(
    "rel_math_funcs",
    """
SELECT l_orderkey, l_linenumber,
       abs(l_extendedprice - 50000.0) AS a,
       round(l_extendedprice / 1000.0, 1) AS r,
       CAST(floor(l_discount * 100) AS BIGINT) AS f,
       CAST(ceil(l_tax * 100) AS BIGINT) AS c,
       mod(l_orderkey, 7) AS m
FROM lineitem WHERE l_orderkey < 40
""",
    tags=("expr", "math"),
)

register_sql(
    "rel_date_funcs",
    """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS y,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(day(o_orderdate) AS INTEGER) AS d,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mstart,
       o_orderdate + INTERVAL 90 DAY AS plus90
FROM orders WHERE o_orderkey < 30
""",
    tags=("expr", "date"),
)

register_sql(
    "rel_coalesce",
    """
SELECT c_custkey,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'N/A') AS seg
FROM customer WHERE c_custkey < 30
""",
    tags=("expr", "coalesce"),
)

# Ternary null logic on OR / CASE (reference hand-implements:
# ExprFunc.cs:1029-1157).
register_sql(
    "rel_null_logic",
    """
SELECT CAST(sum(CASE WHEN c_acctbal > 0.0 OR nullif(1,1) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS or_true,
       CAST(sum(CASE WHEN nullif(1,1) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS null_false,
       count(nullif(c_mktsegment, 'BUILDING')) AS skip_null
FROM customer
""",
    tags=("expr", "null-semantics"),
)

# SELECT without FROM — LogicResult (constant row).
register_sql(
    "rel_const_row",
    """
SELECT 1 AS one, 'x' AS s, CAST(2.5 AS DOUBLE) AS d, CAST('1996-01-01' AS DATE) AS dt,
       1 = 1 AS b
""",
    tags=("const",),
)


# --------------------------------------------------------------------------
# VALUES inline relation (reference: INSERT ... VALUES source).  Dialects
# differ: Spark allows VALUES as a top-level FROM clause with an alias.
@register(
    "rel_values",
    tags=("values",),
    oracle="""
SELECT i, s FROM (VALUES (1, 'a'), (2, 'b'), (3, NULL)) t(i, s) ORDER BY i
""",
)
def rel_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql("SELECT i, s FROM VALUES (1, 'a'), (2, 'b'), (3, CAST(NULL AS STRING)) AS t(i, s) ORDER BY i")


# --------------------------------------------------------------------------
# SRF / ProjectSet — explode (reference: LogicProjectSet, hop()-style SRFs).
@register(
    "rel_explode",
    tags=("srf",),
    oracle="""
SELECT n_nationkey, CAST(i AS INTEGER) AS i
FROM nation, generate_series(1, 3) t(i)
WHERE n_nationkey < 5
""",
)
def rel_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation").where(F.col("n_nationkey") < 5)
    return nation.select(
        "n_nationkey", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("i")
    )


# --------------------------------------------------------------------------
# JSON access over the events.props string column (beyond reference parity —
# qpmodel has no JSON; a training-data pipeline needs it).
@register(
    "rel_json_extract",
    tags=("json",),
    oracle="""
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
""",
)
def rel_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).alias("sum_k")
    )


# --------------------------------------------------------------------------
# Window functions (beyond reference parity — SURVEY §2.5 "absent").
register_sql(
    "rel_window_rownum",
    """
SELECT c_custkey, o_orderkey, rn FROM (
  SELECT c_custkey, o_orderkey,
         row_number() OVER (PARTITION BY c_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM customer JOIN orders ON c_custkey = o_custkey
) x WHERE rn <= 2
""",
    tags=("window",),
)

register_sql(
    "rel_window_agg",
    """
SELECT o_orderkey,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running
FROM orders WHERE o_custkey < 20
""",
    tags=("window",),
)

register_sql(
    "rel_window_rank_lag",
    """
SELECT o_orderkey,
       rank() OVER w AS rk,
       dense_rank() OVER w AS drk,
       lag(o_orderkey, 1) OVER w AS prev_key,
       lead(o_orderkey, 1) OVER w AS next_key
FROM orders
WHERE o_custkey < 10
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    tags=("window",),
)


# --------------------------------------------------------------------------
# Sampling (reference: TABLESAMPLE ROW(n) via reservoir, PhysicalNode.cs:
# 1821-1894).  Deterministic variant = systematic key-mod sample (oracle-
# checkable); true Bernoulli sample = rows-only check (seeded, but engine
# PRNGs differ).
register_sql(
    "rel_sample_systematic",
    """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem WHERE mod(l_orderkey, 97) = 3
""",
    tags=("sample",),
)


# Engine PRNGs differ, so the sampled ROWS can't be oracle-compared — but
# the sample's invariants can (r3 verdict #4: reference reservoir sampling
# is count-exact, PhysicalNode.cs:1821-1894; give the driver something
# stronger than "ran").  Emit a one-row validation summary: deterministic
# values (population, expected draw) compare exactly; the PRNG-dependent
# count is checked against a 3-sigma binomial envelope INSIDE the query and
# surfaces as a boolean the oracle states as TRUE.  A broken sampler (wrong
# rate, duplicated or fabricated rows) flips a cell and the driver flags it.
_BERNOULLI_ORACLE = """
SELECT count(*) AS n_total,
       CAST(count(*) AS DOUBLE) * CAST(0.1 AS DOUBLE) AS expected_k,
       TRUE AS within_3sigma,
       TRUE AS no_duplicates
FROM lineitem
"""


@register("rel_sample_bernoulli", oracle=_BERNOULLI_ORACLE, tags=("sample",))
def rel_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample, validated: count within 3σ of n·p, PK-unique."""
    li = t(spark, sf_dir, "lineitem")
    s = li.sample(fraction=0.1, seed=42)
    tot = li.agg(F.count(F.lit(1)).alias("n_total"))
    # (l_orderkey, l_linenumber, l_partkey, l_suppkey) is the synthetic
    # lineitem's unique key (orderkey+linenumber alone is not, unlike TPC-H)
    samp = s.agg(
        F.count(F.lit(1)).alias("k"),
        F.count_distinct(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
        ).alias("kd"),
    )
    exp_k = F.col("n_total").cast("double") * F.lit(0.1)
    sigma = F.sqrt(F.col("n_total").cast("double") * F.lit(0.1) * F.lit(0.9))
    return tot.crossJoin(samp).select(
        "n_total",
        exp_k.alias("expected_k"),
        (F.abs(F.col("k") - exp_k) <= F.lit(3.0) * sigma).alias("within_3sigma"),
        (F.col("kd") == F.col("k")).alias("no_duplicates"),
    )


# --------------------------------------------------------------------------
# Derived table + CTE chain (reference: FromQueryRef / CteExpr).
register_sql(
    "rel_cte_chain",
    """
WITH big_orders AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 200000.0
), cust_big AS (
  SELECT c_nationkey, count(*) AS n_big
  FROM customer JOIN big_orders ON c_custkey = o_custkey
  GROUP BY c_nationkey
)
SELECT n_name, n_big FROM nation JOIN cust_big ON n_nationkey = c_nationkey
""",
    tags=("cte",),
)

# Shared CTE referenced twice (reference materializes via CteProducer,
# subquery.cs:871-1021; Spark inlines — see api.with_shared_cte for the
# persist()-based materialization helper).
register_sql(
    "rel_cte_shared",
    """
WITH rev_by_supp AS (
  SELECT l_suppkey, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS rev
  FROM lineitem GROUP BY l_suppkey
)
SELECT a.l_suppkey, a.rev,
       CAST(round(CAST((SELECT avg(rev) FROM rev_by_supp) AS DECIMAL(30,6)), 2) AS DOUBLE) AS avg_rev
FROM rev_by_supp a
WHERE a.rev > (SELECT avg(rev) FROM rev_by_supp)
""",
    tags=("cte", "shared"),
)


# --------------------------------------------------------------------------
# PIVOT / UNPIVOT (beyond reference parity).  Spark and DuckDB pivot syntax
# diverge, so the oracle states the equivalent conditional aggregation.
@register(
    "rel_pivot",
    tags=("pivot",),
    oracle="""
SELECT l_returnflag,
       CAST(round(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(30,6)) END), 2) AS DOUBLE) AS qty_O,
       CAST(round(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(30,6)) END), 2) AS DOUBLE) AS qty_F
FROM lineitem GROUP BY l_returnflag
""",
)
def rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum(F.col("l_quantity").cast("decimal(30,6)")), 2).cast("double"))
    )
    return piv.select(
        "l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F")
    )


@register(
    "rel_unpivot",
    tags=("pivot",),
    oracle="""
SELECT o_orderkey, 'total' AS metric, o_totalprice AS val FROM orders WHERE o_orderkey < 50
UNION ALL
SELECT o_orderkey, 'key2x' AS metric, CAST(o_orderkey * 2 AS DOUBLE) AS val FROM orders WHERE o_orderkey < 50
""",
)
def rel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 50)
    wide = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("total"),
        (F.col("o_orderkey") * 2).cast("double").alias("key2x"),
    )
    return wide.selectExpr(
        "o_orderkey", "stack(2, 'total', total, 'key2x', key2x) AS (metric, val)"
    )


# --------------------------------------------------------------------------
# Window frames + ranking variants (shared SQL).
register_sql(
    "rel_window_frames",
    """
SELECT o_orderkey,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS sum3,
       first_value(o_orderkey) OVER w AS first_key,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 4) AS prk
FROM orders
WHERE o_custkey < 15
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
""",
    tags=("window",),
)


# --------------------------------------------------------------------------
# String library, batch 2 (shared SQL).
register_sql(
    "rel_string_funcs2",
    """
SELECT p_partkey,
       lpad(p_brand, 12, '*') AS lp,
       rpad(p_brand, 12, '-') AS rp,
       replace(p_name, ' ', '_') AS rep,
       reverse(p_brand) AS rev,
       instr(p_name, 'e') AS pos_e,
       left(p_name, 3) AS l3,
       right(p_name, 3) AS r3,
       lower(upper(p_name)) AS roundtrip
FROM part WHERE p_partkey < 15
""",
    tags=("expr", "string"),
)


# --------------------------------------------------------------------------
# Exact percentile (interpolating median) — Spark percentile() vs DuckDB
# quantile_cont(), same linear-interpolation definition.
@register(
    "rel_percentile",
    tags=("agg", "percentile"),
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 4) AS p50,
       round(quantile_cont(l_quantity, 0.9), 4) AS p90
FROM lineitem GROUP BY l_returnflag
""",
)
def rel_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90"),
    )


# --------------------------------------------------------------------------
# Date difference — dialect-split (Spark datediff(end,start), DuckDB
# date_diff('day',start,end)).
@register(
    "rel_datediff",
    tags=("expr", "date"),
    oracle="""
SELECT o_orderkey,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since,
       CAST(date_diff('month', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS months_since
FROM orders WHERE o_orderkey < 40
""",
)
def rel_datediff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 40)
    return orders.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("days_since"),
        (
            (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
        ).cast("int").alias("months_since"),
    )


# --------------------------------------------------------------------------
# Approximate aggregates (engine-specific sketches → rows-only check; the
# accuracy bound vs exact is asserted in tests).  Driver-visible oracle
# (r3 verdict #4): the EXACT distinct count is engine-agnostic and compares
# by value; the sketch estimates are checked against relative-error bounds
# inside the query (HLL++ default rsd 0.05 → 3·rsd envelope;
# approx_percentile at default accuracy is near-exact at this scale) and
# surface as booleans the oracle states as TRUE.
_APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS n_exact,
       TRUE AS approx_ok,
       TRUE AS median_ok
FROM lineitem
GROUP BY l_returnflag
"""


@register("rel_approx_distinct", oracle=_APPROX_DISTINCT_ORACLE, tags=("agg", "approx"))
def rel_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) — the 100 TB substitute for exact
    COUNT(DISTINCT) when a 2% error is acceptable (single pass, no shuffle
    of distinct values, mergeable sketch) — validated against the exact
    answers in-query."""
    li = t(spark, sf_dir, "lineitem")
    # count_distinct is computed in its OWN aggregation and joined back on
    # the 3-row group key: mixing a DISTINCT aggregate with the
    # TypedImperative percentile buffers makes Catalyst plan an Expand
    # (input doubled) and fall back to SortAggregate for everything —
    # measured 12.3s combined vs 1.3s + 1.4s split at sf0.1 (r10).  The
    # join is a broadcast on a group-cardinality (3-row) frame.
    cd = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("n_exact")
    )
    g = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("_approx"),
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("_amed"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("_emed"),
    ).join(F.broadcast(cd), "l_returnflag")
    rel_err = F.abs(F.col("_approx") - F.col("n_exact")) / F.col("n_exact")
    med_err = F.abs(F.col("_amed") - F.col("_emed")) / F.col("_emed")
    return g.select(
        "l_returnflag",
        "n_exact",
        (rel_err <= F.lit(0.15)).alias("approx_ok"),
        (med_err <= F.lit(0.05)).alias("median_ok"),
    )


# --------------------------------------------------------------------------
# SQL TABLESAMPLE syntax (reference: TABLESAMPLE ROW(n), PhysicalNode.cs:
# 1821-1894).  Sampled rows are engine-PRNG-specific; the validation-
# summary pattern (see rel_sample_bernoulli) makes the entry oracle-
# checkable anyway.
_TABLESAMPLE_ORACLE = """
SELECT count(*) AS n_total,
       CAST(count(*) AS DOUBLE) * CAST(0.05 AS DOUBLE) AS expected_k,
       TRUE AS within_3sigma,
       TRUE AS no_duplicates
FROM lineitem
"""


@register("rel_tablesample_sql", oracle=_TABLESAMPLE_ORACLE, tags=("sample",))
def rel_tablesample_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLESAMPLE (5 PERCENT) REPEATABLE — validated like Bernoulli."""
    from qpmodel_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
SELECT t.n_total,
       CAST(t.n_total AS DOUBLE) * CAST(0.05 AS DOUBLE) AS expected_k,
       abs(s.k - CAST(t.n_total AS DOUBLE) * CAST(0.05 AS DOUBLE))
         <= 3.0 * sqrt(CAST(t.n_total AS DOUBLE) * 0.05 * 0.95) AS within_3sigma,
       s.kd = s.k AS no_duplicates
FROM (SELECT count(*) AS n_total FROM lineitem) t
CROSS JOIN (
  SELECT count(*) AS k,
         count(DISTINCT l_orderkey, l_linenumber, l_partkey, l_suppkey) AS kd
  FROM lineitem TABLESAMPLE (5 PERCENT) REPEATABLE (42)
) s
"""
    )


# --------------------------------------------------------------------------
# Top-k per group — the canonical OLAP window pattern (shared SQL).
register_sql(
    "rel_topk_per_group",
    """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) ranked
WHERE rn <= 2
""",
    tags=("window", "topk"),
)


# --------------------------------------------------------------------------
# TPC-DS-shaped reports (the reference also targets TPC-DS, ~47 runnable —
# SURVEY §6).  Two signature DS shapes the TPC-H suite doesn't cover:
# year-over-year comparison via window-over-aggregated-CTE, and a
# multi-channel UNION ALL feeding a ROLLUP report.
register_sql(
    "ds_yoy_revenue",
    """
WITH yearly AS (
  SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS yr,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, year(o_orderdate)
)
SELECT n_name, yr, rev,
       lag(rev) OVER (PARTITION BY n_name ORDER BY yr) AS prev_rev,
       round(rev - coalesce(lag(rev) OVER (PARTITION BY n_name ORDER BY yr), 0.0), 2) AS delta
FROM yearly
""",
    tags=("tpcds-shape", "window", "cte"),
)

register_sql(
    "ds_channel_rollup",
    """
SELECT channel, CAST(year(d) AS INTEGER) AS yr, count(*) AS n,
       CAST(round(sum(CAST(amt AS DECIMAL(30,6))), 2) AS DOUBLE) AS total
FROM (
  SELECT 'store' AS channel, o_orderdate AS d, o_totalprice AS amt FROM orders
  UNION ALL
  SELECT 'web' AS channel, l_shipdate AS d, l_extendedprice AS amt FROM lineitem
) u
GROUP BY ROLLUP (channel, year(d))
""",
    tags=("tpcds-shape", "rollup", "union"),
)


# --------------------------------------------------------------------------
# Typed JSON parsing — from_json into a struct (vs the string-path
# get_json_object in rel_json_extract); the schema-on-read pattern for
# semi-structured event payloads.
@register(
    "rel_json_struct",
    tags=("json", "struct"),
    oracle="""
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events WHERE event_id < 100
""",
)
def rel_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = t(spark, sf_dir, "events").where(F.col("event_id") < 100)
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    return ev.select(
        "event_id", F.from_json("props", schema).alias("p")
    ).select("event_id", F.col("p.k").alias("k"))


# --------------------------------------------------------------------------
# Histogram — fixed-width value bucketing (engine-portable floor arithmetic).
register_sql(
    "rel_histogram",
    """
SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
       count(*) AS n,
       CAST(round(min(o_totalprice), 2) AS DOUBLE) AS lo,
       CAST(round(max(o_totalprice), 2) AS DOUBLE) AS hi
FROM orders
GROUP BY 1
""",
    tags=("agg", "histogram"),
)


# Equi-depth histogram — the ANALYZE-artifact form: bucket edges from exact
# interpolated quartiles (Spark percentile() ≡ DuckDB quantile_cont on
# identical parquet doubles → identical edges), rows bucketized against the
# broadcast edge list.  Scale shape: one percentile aggregate (tiny output)
# + a scan with a per-row comparison — never a global sort/ntile.
@register(
    "rel_histogram_equi_depth",
    tags=("agg", "histogram", "equi-depth"),
    oracle="""
WITH e AS (
  SELECT quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.50) AS q2,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders
)
SELECT CASE WHEN o_totalprice < q1 THEN 0
            WHEN o_totalprice < q2 THEN 1
            WHEN o_totalprice < q3 THEN 2
            ELSE 3 END AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(min(o_totalprice), 2) AS DOUBLE) AS lo,
       CAST(round(max(o_totalprice), 2) AS DOUBLE) AS hi
FROM orders CROSS JOIN e
GROUP BY 1
""",
)
def rel_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    edges = orders.agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.50)").alias("q2"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    bucket = (
        F.when(F.col("o_totalprice") < F.col("q1"), 0)
        .when(F.col("o_totalprice") < F.col("q2"), 1)
        .when(F.col("o_totalprice") < F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        orders.crossJoin(F.broadcast(edges))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).cast("double").alias("lo"),
            F.round(F.max("o_totalprice"), 2).cast("double").alias("hi"),
        )
    )


# MAP type surface (SURVEY §1.2 complex types): per-row map construction +
# key lookup + cardinality + missing-key NULL.  Output is extracted scalars
# (the driver canonicalizer cannot hash map cells); DuckDB's extraction
# returns a 1-element LIST, unwrapped with [1].
@register(
    "rel_map_type",
    tags=("types", "map"),
    oracle="""
SELECT o_orderkey,
       (MAP {'status': o_orderstatus, 'priority': o_orderpriority})['status'][1] AS status_v,
       (MAP {'status': o_orderstatus, 'priority': o_orderpriority})['priority'][1] AS prio_v,
       CAST(cardinality(MAP {'status': o_orderstatus, 'priority': o_orderpriority}) AS INTEGER) AS n_keys,
       (MAP {'status': o_orderstatus})['missing'][1] AS absent
FROM orders WHERE o_orderkey < 30
""",
)
def rel_map_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 30)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return orders.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status_v"),
        F.element_at(m, "priority").alias("prio_v"),
        F.size(m).alias("n_keys"),
        F.element_at(
            F.create_map(F.lit("status"), F.col("o_orderstatus")), "missing"
        ).alias("absent"),
    )


# STRUCT type surface (SURVEY §1.2): per-row struct construction + field
# access + nested struct-in-struct.  Scalar field outputs (canonicalizer-
# safe); DuckDB side uses struct_pack / dot access.
@register(
    "rel_struct_type",
    tags=("types", "struct"),
    oracle="""
SELECT o_orderkey,
       struct_pack(st := o_orderstatus, pr := o_totalprice).st AS st,
       CAST(round(struct_pack(st := o_orderstatus, pr := o_totalprice).pr, 2) AS DOUBLE) AS pr,
       struct_pack(outer_v := struct_pack(inner_v := o_orderpriority)).outer_v.inner_v AS nested
FROM orders WHERE o_orderkey < 30
""",
)
def rel_struct_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 30)
    st = F.struct(
        F.col("o_orderstatus").alias("st"), F.col("o_totalprice").alias("pr")
    )
    nested = F.struct(
        F.struct(F.col("o_orderpriority").alias("inner_v")).alias("outer_v")
    )
    return orders.select(
        "o_orderkey",
        st.getField("st").alias("st"),
        F.round(st.getField("pr"), 2).cast("double").alias("pr"),
        nested.getField("outer_v").getField("inner_v").alias("nested"),
    )


# ARRAY function surface: sort/contains/distinct/slice over tokenized text
# (arrays serialized via array_join — canonicalizer-safe).  Dialect split:
# Spark sort_array/array_contains/array_distinct/slice vs DuckDB
# list_sort/list_contains/list_distinct/[i:j] (both 1-based inclusive).
@register(
    "rel_array_funcs",
    tags=("types", "array"),
    oracle="""
SELECT p_partkey,
       array_to_string(list_sort(string_split(p_type, ' ')), ',') AS sorted_words,
       list_contains(string_split(p_type, ' '), 'BRASS') AS has_brass,
       array_to_string(list_sort(list_distinct(string_split(p_type, ' '))), ',') AS uniq_words,
       coalesce(array_to_string(string_split(p_type, ' ')[2:3], ','), '') AS mid_words,
       CAST(len(string_split(p_type, ' ')) AS INTEGER) AS n_words
FROM part WHERE p_partkey < 30
""",
)
def rel_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").where(F.col("p_partkey") < 30)
    ws = F.split("p_type", " ")
    return part.select(
        "p_partkey",
        F.array_join(F.sort_array(ws), ",").alias("sorted_words"),
        F.array_contains(ws, "BRASS").alias("has_brass"),
        F.array_join(F.sort_array(F.array_distinct(ws)), ",").alias("uniq_words"),
        F.array_join(F.slice(ws, 2, 2), ",").alias("mid_words"),
        F.size(ws).alias("n_words"),
    )


# Conditional scalar functions (shared SQL): greatest/least/ifnull/nullif.
register_sql(
    "rel_conditional_funcs",
    """
SELECT o_orderkey,
       greatest(o_totalprice, 100000.0) AS hi,
       least(o_totalprice, 100000.0) AS lo,
       ifnull(nullif(o_orderstatus, 'O'), 'open') AS status_or_open
FROM orders WHERE o_orderkey < 40
""",
    tags=("expr", "conditional"),
)


# LATERAL correlated derived tables (beyond reference grammar; Spark 3.2+).
# The scalar-agg form is the decorrelatable classic; the ORDER BY ... LIMIT
# form is per-group top-k as a join — Catalyst rewrites both to
# aggregates/windows over one shuffle (no per-row subquery execution).
# LEFT JOIN LATERAL (not comma-lateral): for a customer with zero orders a
# scalar-agg lateral is one NULL row in Spark but ZERO rows in DuckDB (its
# decorrelation loses the empty group) — comma-lateral therefore diverges
# by exactly the orderless customers (first seen at sf0.1: 2943 vs 2942).
# The outer lateral states the empty-group row explicitly in both engines.
register_sql(
    "rel_lateral_scalar",
    """
SELECT c_name, round(t.top_price, 2) AS top_price
FROM customer
LEFT JOIN LATERAL (SELECT max(o_totalprice) AS top_price FROM orders
                   WHERE o_custkey = c_custkey) t ON true
WHERE c_mktsegment = 'BUILDING'
""",
    tags=("lateral", "subquery"),
)

register_sql(
    "rel_lateral_topk",
    """
SELECT c_name, t.o_orderkey, round(t.o_totalprice, 2) AS o_totalprice
FROM customer,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c_mktsegment = 'AUTOMOBILE'
""",
    tags=("lateral", "topk-per-group"),
)


# RANGE-mode window frame (value-based bounds; peers enter together) —
# complements the ROWS-mode frames in rel_window_frames.  Decimal-cast
# inside the frame sum keeps the aggregate order-independent, so the
# value hash is stable across engines.
register_sql(
    "rel_window_range_frame",
    """
SELECT o_orderkey,
       CAST(o_custkey AS BIGINT) AS cust,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                  RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum
FROM orders
WHERE o_orderstatus = 'F'
""",
    tags=("window", "range-frame"),
)


# --------------------------------------------------------------------------
# Ordered string/array aggregation (LISTAGG family).  Determinism requires
# an explicit element order — Spark's collect_list order is plan-dependent,
# so the portable form is sort-after-collect vs DuckDB's ORDER BY clause.
@register(
    "rel_string_agg",
    tags=("agg", "string-agg"),
    oracle="""
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       CAST(count(*) AS BIGINT) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def rel_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array output serialized via array_join: the driver's canonicalizer
    # cannot hash raw array cells.
    n, r = t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# Quantified comparisons (ANY/ALL) — SQL-92 surface Spark's parser lacks.
# Rewritten as per-group extrema: x >= ALL S ≡ S empty OR x >= max(S);
# x < ANY S ≡ S non-empty AND x < max(S).  Exact when the compared column
# has no NULLs (true of this data; a NULL in S makes the quantified form
# three-valued where the extrema rewrite stays two-valued — the oracle
# match would catch a violation).
@register(
    "rel_quantified",
    tags=("subquery", "quantified"),
    oracle="""
SELECT c_custkey,
       c_acctbal >= ALL (SELECT s_acctbal FROM supplier
                         WHERE s_nationkey = c_nationkey) AS beats_all,
       c_acctbal <  ANY (SELECT s_acctbal FROM supplier
                         WHERE s_nationkey = c_nationkey) AS below_any
FROM customer
""",
)
def rel_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, supp = t(spark, sf_dir, "customer"), t(spark, sf_dir, "supplier")
    mx = supp.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.max("s_acctbal").alias("mx")
    )
    j = cust.join(F.broadcast(mx), cust.c_nationkey == mx.nk, "left")
    return j.select(
        "c_custkey",
        F.when(F.col("mx").isNull(), F.lit(True))
        .otherwise(F.col("c_acctbal") >= F.col("mx"))
        .alias("beats_all"),
        F.when(F.col("mx").isNull(), F.lit(False))
        .otherwise(F.col("c_acctbal") < F.col("mx"))
        .alias("below_any"),
    )


# --------------------------------------------------------------------------
# Recursive CTE (WITH RECURSIVE — Spark 4 native; absent in the reference's
# grammar).  Linked-list traversal of each customer's orders: the adjacency
# CTE precomputes successor edges, the recursion walks them to a depth of
# orders-per-customer.  Both engines iterate the same set-based step, so
# the shared SQL is its own oracle.  At scale: each iteration is one join
# of the frontier against the (pre-aggregated) adjacency — frontier size
# is bounded by the entity count, not the fact table; unbounded-depth
# graph problems belong to the iterative driver loop in dedup_components
# (localCheckpoint per round), which this complements, not replaces.
register_sql(
    "rel_recursive_cte",
    """
WITH RECURSIVE
adj AS (
  SELECT a.o_custkey AS c, a.o_orderkey AS k, min(b.o_orderkey) AS nk
  FROM orders a JOIN orders b
    ON a.o_custkey = b.o_custkey AND b.o_orderkey > a.o_orderkey
  WHERE a.o_custkey < 20
  GROUP BY 1, 2
),
chain AS (
  SELECT o_custkey AS c, min(o_orderkey) AS k, 1 AS depth
  FROM orders WHERE o_custkey < 20 GROUP BY o_custkey
  UNION ALL
  SELECT adj.c, adj.nk, chain.depth + 1
  FROM chain JOIN adj ON adj.c = chain.c AND adj.k = chain.k
  WHERE chain.depth < 8
)
SELECT c, CAST(max(depth) AS BIGINT) AS walked, CAST(max(k) AS BIGINT) AS last_order
FROM chain GROUP BY c
""",
    tags=("cte", "recursive"),
)

# Bivariate statistics battery (absent in the reference — its agg surface
# stops at stddev_samp, AggFuncs in qpmodel/expr/AggFunc.cs): Pearson
# correlation, least-squares regression, exact median.  Both engines
# implement the same textbook definitions; co-moment accumulation differs
# only in the last float bits, so ratios (corr/slope/intercept) round
# stably at 4/2dp.  median() is exact interpolated percentile_cont(0.5)
# in both dialects.  One group-keyed exchange; Spark plans a partial/final
# two-phase agg for every one of these.
# corr()/regr_slope() are stated as explicit guarded moment formulas, not
# the builtins: on a zero-variance group Spark's ANSI-mode builtins raise
# DIVIDE_BY_ZERO where DuckDB returns NULL (found by the
# test_random_stats_agg_agrees fuzzer under NOT(l_quantity < 50));
# NULLIF-guarded divisions give identical NULL semantics on both engines
# and identical values everywhere else (no NULL pairs in this corpus).
# Sign-indefinite outputs add `+ 0` after round(): a value in (-5e-5, 0)
# rounds to -0.0 in DuckDB but +0.0 in Spark (round's signed-zero
# behavior differs — found by the same fuzzer under NOT(l_linestatus='O'));
# IEEE (-0.0)+0 = +0.0 canonicalizes both engines to the same bits.
register_sql(
    "rel_regression_stats",
    """
SELECT l_returnflag,
       count(*) AS n,
       round(covar_samp(l_extendedprice, l_quantity)
             / NULLIF(stddev_samp(l_extendedprice) * stddev_samp(l_quantity), 0.0),
             4) + 0 AS corr_pq,
       round(covar_pop(l_extendedprice, l_quantity)
             / NULLIF(var_pop(l_quantity), 0.0), 2) + 0 AS slope,
       round(avg(l_extendedprice)
             - covar_pop(l_extendedprice, l_quantity)
               / NULLIF(var_pop(l_quantity), 0.0) * avg(l_quantity), 2) + 0 AS icept,
       round(covar_samp(l_extendedprice, l_quantity)
             / NULLIF(covar_pop(l_extendedprice, l_quantity), 0.0), 6) AS covar_ratio,
       round(median(l_quantity), 1) AS med_qty
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "stats"),
)


# --------------------------------------------------------------------------
# posexplode / UNNEST WITH ORDINALITY — the SRF variant that keeps element
# positions (ProjectSet in the reference emits only values).  The oracle
# states the ordinality by 1-based list indexing, with the per-row series
# bound derived from len(ws) itself (no silent position cap).
register(
    "rel_posexplode",
    oracle="""
SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ws[i] AS w
FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id < 5) d,
     LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
""",
    tags=("srf", "ordinality"),
)(
    lambda spark, sf_dir: t(spark, sf_dir, "documents")
    .where(F.col("doc_id") < 5)
    .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
)


# Calendar parity: the engines number weekdays differently (Spark
# dayofweek: Sunday=1, weekday: Monday=0; DuckDB isodow: Monday=1) and
# format dates with different mini-languages — this entry pins the
# engine-portable mappings an engine user needs for calendar rollups.
register(
    "rel_calendar_funcs",
    oracle="""
SELECT o_orderkey,
       CAST(isodow(o_orderdate) AS INTEGER) AS isodow,
       strftime(o_orderdate, '%Y-%m') AS ym,
       CAST(quarter(o_orderdate) AS INTEGER) AS q,
       CAST(last_day(o_orderdate) AS DATE) AS month_end
FROM orders WHERE o_orderkey < 100
""",
    tags=("scalar", "date"),
)(
    lambda spark, sf_dir: t(spark, sf_dir, "orders")
    .where(F.col("o_orderkey") < 100)
    .select(
        "o_orderkey",
        (F.weekday("o_orderdate") + 1).cast("int").alias("isodow"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.quarter("o_orderdate").cast("int").alias("q"),
        F.last_day("o_orderdate").alias("month_end"),
    )
)

# TRY_CAST parity: ANSI-safe casting (Spark 4 runs ANSI mode by default, so
# plain CAST of malformed input errors; TRY_CAST yields NULL in both
# engines).  Word-derived strings are mostly non-numeric → NULL; the
# numeric round-trip stays exact.
register_sql(
    "rel_try_cast",
    """
SELECT o_orderkey,
       TRY_CAST(o_orderstatus AS INTEGER) AS status_num,
       TRY_CAST(CAST(o_orderkey AS STRING) AS BIGINT) AS key_roundtrip,
       TRY_CAST(substr(CAST(o_totalprice AS STRING), 1, 4) AS DOUBLE) AS price_prefix
FROM orders WHERE o_orderkey < 200
""",
    tags=("cast", "ansi"),
)


# --------------------------------------------------------------------------
# Round-5 SQL-surface batch: the remaining portable syntax forms a reference
# user would expect when migrating hand-written SQL.  All shared-SQL unless
# the dialects genuinely diverge (QUALIFY, DISTINCT ON, xor/shift spelling).

# JOIN ... USING — coalesced key column, single copy in the output (ANSI
# semantics both engines share).  Derived tables rename to the common key;
# the aggregate side collapses before the join so the join input is
# |customers-with-orders|, not |orders|.
register_sql(
    "rel_join_using",
    """
SELECT custkey, c_name, n_orders
FROM (SELECT c_custkey AS custkey, c_name FROM customer) c
JOIN (SELECT o_custkey AS custkey, count(*) AS n_orders
      FROM orders GROUP BY o_custkey) o
USING (custkey)
WHERE custkey < 50
""",
    tags=("join", "using"),
)

# NATURAL JOIN — implicit equi-join over ALL shared column names.  The
# derived tables are projected so the shared-name set is exactly {custkey}
# (the safe way to use NATURAL JOIN; an unprojected natural join is a
# schema-drift hazard in any engine).
register_sql(
    "rel_natural_join",
    """
SELECT custkey, c_name, n_orders
FROM (SELECT c_custkey AS custkey, c_name FROM customer) c
NATURAL JOIN (SELECT o_custkey AS custkey, count(*) AS n_orders
              FROM orders GROUP BY o_custkey) o
WHERE custkey < 50
""",
    tags=("join", "natural"),
)

# GROUP BY ALL / ORDER BY ALL — group by every non-aggregate select item
# (Spark 3.4+/DuckDB shared shorthand).  ORDER BY ALL is stated for syntax
# coverage; the driver compare is order-insensitive anyway.
register_sql(
    "rel_group_by_all",
    f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       {o_msum('o_totalprice')} AS total
FROM orders
GROUP BY ALL
ORDER BY ALL
""",
    tags=("agg", "group-by-all"),
)

# Bitwise expression surface.  & and | are spelled identically; XOR and the
# shifts differ (Spark: ^ / shiftleft / shiftright; DuckDB: xor() / << / >>)
# so the two strings are written separately over identical arithmetic.
register(
    "rel_bitwise_ops",
    oracle="""
SELECT o_orderkey,
       o_orderkey & 255 AS b_and,
       o_orderkey | 4096 AS b_or,
       xor(o_orderkey, 1365) AS b_xor,
       (o_orderkey % 16) << 2 AS shl,
       o_orderkey >> 3 AS shr
FROM orders WHERE o_orderkey < 100
""",
    tags=("scalar", "bitwise"),
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
        or spark.sql(
            """
SELECT o_orderkey,
       o_orderkey & 255 AS b_and,
       o_orderkey | 4096 AS b_or,
       o_orderkey ^ 1365 AS b_xor,
       shiftleft(o_orderkey % 16, 2) AS shl,
       shiftright(o_orderkey, 3) AS shr
FROM orders WHERE o_orderkey < 100
"""
        )
    )
)

# DISTINCT ON (DuckDB/Postgres surface): one representative row per group,
# chosen by the ORDER BY.  Spark has no DISTINCT ON; the engine-portable
# translation is the rn=1 window filter (WindowGroupLimit pushes the limit
# below the shuffle — same plan family as rel_topk_per_group).
register(
    "rel_distinct_on",
    oracle="""
SELECT DISTINCT ON (c_mktsegment) c_mktsegment, c_custkey, c_name, c_acctbal
FROM customer
ORDER BY c_mktsegment, c_acctbal DESC, c_custkey
""",
    tags=("distinct-on", "window"),
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
        or spark.sql(
            """
SELECT c_mktsegment, c_custkey, c_name, c_acctbal
FROM (SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer)
WHERE rn = 1
"""
        )
    )
)

# QUALIFY (DuckDB/Snowflake/BigQuery surface): filter on a window function
# without a derived table.  Spark's parser lacks QUALIFY; the translation is
# the same subquery filter, and the oracle states the QUALIFY form so the
# mapping itself is what gets verified.
register(
    "rel_qualify",
    oracle="""
SELECT l_returnflag, l_orderkey, l_extendedprice
FROM lineitem
QUALIFY row_number() OVER (PARTITION BY l_returnflag
                           ORDER BY l_extendedprice DESC, l_orderkey) <= 2
""",
    tags=("qualify", "window"),
)(
    lambda spark, sf_dir: (
        t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
        or spark.sql(
            """
SELECT l_returnflag, l_orderkey, l_extendedprice
FROM (SELECT l_returnflag, l_orderkey, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice DESC, l_orderkey) AS rn
      FROM lineitem)
WHERE rn <= 2
"""
        )
    )
)
