"""SQL-parser surface queries — shapes that exercise Spark's SQL front end
itself (both run verbatim-ish in DuckDB too):

- WITH RECURSIVE (new in Spark 4): hierarchy walk with a per-level
  accumulator — the iterative-computation dual of operators/dedup.py's
  connected-components loop, expressed declaratively.
- LATERAL correlated subquery: per-outer-row top-k — the subquery form of
  the w_topn_per_user window pattern.

The synthetic schema has no explicit hierarchy, so the recursive query
derives one deterministically: parent(custkey) = custkey // 2 (a binary
tree over real keys, ~14 levels at sf0.1). The recursion computes each
customer's depth and the account-balance sum along its chain to the root —
values only a genuine per-level walk produces.

Scale note: each recursion level is one self-join of the frontier against
the (broadcastable) customer dim; depth is log2(|customer|), so the plan is
O(log n) joins (the distributed connected-components loop takes O(log² n)
rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..tables import load_table
from . import QuerySpec

RECURSIVE_SQL = """
WITH RECURSIVE chain(custkey, node, depth, chain_bal_cents) AS (
  SELECT c_custkey AS custkey, c_custkey AS node, 1 AS depth,
         CAST(round(c_acctbal*100) AS BIGINT) AS chain_bal_cents
  FROM customer
  UNION ALL
  SELECT ch.custkey, c.c_custkey AS node, ch.depth + 1 AS depth,
         ch.chain_bal_cents + CAST(round(c.c_acctbal*100) AS BIGINT)
  FROM chain ch JOIN customer c ON c.c_custkey = ch.node div 2
  WHERE ch.node > 1
)
SELECT custkey, CAST(max(depth) AS BIGINT) AS depth,
       CAST(max(chain_bal_cents) AS BIGINT) AS chain_bal_cents
FROM chain
GROUP BY custkey
"""
# join key: Spark `div` and DuckDB `//` are both floor division on
# integers — plain '/' would be float division on either engine and the
# equality join would silently match nothing.


def q_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive hierarchy walk (WITH RECURSIVE, Spark 4): depth and
    balance sum along each customer's halving chain to the root key."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(RECURSIVE_SQL)


def q_lateral_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: each nation's two richest customers
    (deterministic tie-break by key) — the subquery dual of the
    row_number window pattern."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(LATERAL_SQL_BODY)


LATERAL_SQL_BODY = """
SELECT n.n_nationkey AS nationkey, l.c_custkey, l.bal_cents
FROM nation n,
LATERAL (
  SELECT c_custkey, CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents
  FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY bal_cents DESC, c_custkey ASC
  LIMIT 2
) l
"""

def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube —
    q_rollup/q_cube_grouping cover those): per-priority totals,
    per-status totals, and the grand total in ONE grouped pass.
    Spark expands the sets with a single Expand node feeding one partial
    aggregation — no multi-scan union."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(GROUPING_SETS_SQL)


GROUPING_SETS_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
       CAST(grouping(o_orderstatus) AS BIGINT) AS g_st,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


def ev_variant_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: parse once,
    extract typed fields with variant_get — the columnar-shredded
    replacement for per-access JSON string parsing (ev_json_bucket is the
    string-path dual). Aggregates the extracted value per bucket."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("__v")
    ).select(
        "event_type",
        F.variant_get(F.col("__v"), "$.k", "long").alias("k"),
    )
    return (
        v.groupBy("event_type", (F.col("k") % 10).alias("k_mod"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


VARIANT_ORACLE = """
SELECT event_type, k % 10 AS k_mod, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type, k % 10
"""


RECURSIVE_ORACLE = """
WITH RECURSIVE chain(custkey, node, depth, chain_bal_cents) AS (
  SELECT c_custkey AS custkey, c_custkey AS node, 1 AS depth,
         CAST(round(c_acctbal*100) AS BIGINT) AS chain_bal_cents
  FROM customer
  UNION ALL
  SELECT ch.custkey, c.c_custkey AS node, ch.depth + 1 AS depth,
         ch.chain_bal_cents + CAST(round(c.c_acctbal*100) AS BIGINT)
  FROM chain ch JOIN customer c ON c.c_custkey = ch.node // 2
  WHERE ch.node > 1
)
SELECT custkey, CAST(max(depth) AS BIGINT) AS depth,
       CAST(max(chain_bal_cents) AS BIGINT) AS chain_bal_cents
FROM chain
GROUP BY custkey
"""

LATERAL_ORACLE = LATERAL_SQL_BODY

def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tri-valued-logic corner cases pinned across engines: COUNT(col) vs
    COUNT(*) under NULLs, null-safe equality, NULL-excluding NOT IN, and
    coalesce fallbacks — the semantics a query engine most often gets
    subtly wrong. Derives a column that is NULL for a deterministic slice
    (every 7th customer's nation 'masked')."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(NULL_SEMANTICS_SQL)


NULL_SEMANTICS_SQL = """
WITH c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk,
         c_nationkey
  FROM customer
)
SELECT count(*) AS n_rows,
       count(nk) AS n_nonnull,
       CAST(count(*) - count(nk) AS BIGINT) AS n_null,
       CAST(sum(CASE WHEN nk IS NOT DISTINCT FROM c_nationkey THEN 1 ELSE 0 END)
            AS BIGINT) AS n_nullsafe_eq,
       CAST(sum(CASE WHEN nk NOT IN (0, 1, 2) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_not_in,
       CAST(sum(coalesce(nk, -1)) AS BIGINT) AS sum_coalesced
FROM c
"""


def q_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a SUBQUERY, both without and with a NULL in the value
    set — the null-aware anti-join physical operator plus the classic
    tri-valued trap (one NULL in the set makes NOT IN never true).
    Distinct from q16's NOT IN over a literal list and q_null_semantics'
    row-local logic: this one plans an actual null-aware anti join."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(NULL_AWARE_ANTI_SQL)


NULL_AWARE_ANTI_SQL = """
WITH masked AS (
  -- nation keys divisible by 5 are masked to NULL in the with-null set
  SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_nationkey END AS nk,
         n_nationkey
  FROM nation WHERE n_nationkey < 10
)
SELECT
  (SELECT count(*) FROM customer
   WHERE c_nationkey NOT IN (SELECT n_nationkey FROM masked)) AS n_clean,
  (SELECT count(*) FROM customer
   WHERE c_nationkey NOT IN (SELECT nk FROM masked)) AS n_with_null
"""


PR_SCALE = 1_000_000_000_000  # rank unit: 1e-12 (integer PageRank)


def q_pagerank3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled PageRank iterations over the customer halving tree
    (edge u -> u div 2, out-degree 1), in EXACT integer arithmetic
    (ranks in 1e-12 units, damping 0.85 as *85 div 100) so the result is
    bit-identical across engines — the declarative unrolled form of the
    iterative dual in operators/dedup.connected_components.

    Scale: each iteration is one self-equi-join on the parent key + one
    grouped sum (map-side combinable); iterations unroll into a linear
    plan Catalyst pipelines, no driver loop."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_pagerank_sql("div"))


def _pagerank_sql(fdiv: str) -> str:
    """fdiv: integer floor-division operator — 'div' (Spark) / '//' (DuckDB);
    plain '/' would be float division on either engine."""
    step = f"""
  SELECT n.id,
         ((CAST({PR_SCALE} AS BIGINT) * 15 {fdiv} 100) {fdiv} (SELECT n FROM deg))
         + (85 * coalesce(s.acc, 0) {fdiv} 100) AS r
  FROM nodes n
  LEFT JOIN (
    SELECT u.id {fdiv} 2 AS pid, CAST(sum(u.r) AS BIGINT) AS acc
    FROM {{src}} u WHERE u.id > 1 GROUP BY u.id {fdiv} 2
  ) s ON s.pid = n.id
"""
    return f"""
WITH nodes AS (SELECT c_custkey AS id FROM customer),
deg AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT id, CAST({PR_SCALE} AS BIGINT) {fdiv} (SELECT n FROM deg) AS r
       FROM nodes),
i1 AS ({step.format(src="r0")}),
i2 AS ({step.format(src="i1")}),
i3 AS ({step.format(src="i2")})
SELECT id, CAST(r AS BIGINT) AS rank_e12
FROM i3
ORDER BY rank_e12 DESC, id ASC
LIMIT 20
"""


SPECS = [
    QuerySpec("q_recursive_chain", q_recursive_chain, RECURSIVE_ORACLE,
              "WITH RECURSIVE hierarchy walk (Spark 4 recursive CTE)"),
    QuerySpec("q_lateral_top2", q_lateral_top2, LATERAL_ORACLE,
              "LATERAL correlated top-k subquery"),
    QuerySpec("q_grouping_sets", q_grouping_sets, GROUPING_SETS_SQL,
              "explicit GROUPING SETS, one Expand + one aggregation"),
    QuerySpec("ev_variant_parse", ev_variant_parse, VARIANT_ORACLE,
              "VARIANT semi-structured parse + typed extraction (Spark 4)"),
    QuerySpec("q_null_semantics", q_null_semantics, NULL_SEMANTICS_SQL,
              "tri-valued logic: COUNT(col), null-safe eq, NOT IN, coalesce"),
    QuerySpec("q_pagerank3", q_pagerank3, _pagerank_sql("//"),
              "3 unrolled integer-exact PageRank iterations (halving tree)"),
    QuerySpec("q_null_aware_anti", q_null_aware_anti, NULL_AWARE_ANTI_SQL,
              "null-aware anti join: NOT IN subquery with/without NULL"),
]
