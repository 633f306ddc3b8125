"""SQL surface (SURVEY.md §2C): the engine exposes every operator through
``spark.sql`` over temp views as well as the DataFrame API.

The reference has no SQL; this module proves the §2C contract with queries
written ONCE in the ANSI-common dialect and executed verbatim by BOTH
engines — the Spark side runs ``spark.sql(SQL)``, the DuckDB oracle runs
the character-identical string. Dialect-portable subset: CTEs, joins,
window functions, GROUP BY, CAST/DECIMAL — no engine-specific functions.
"""

from __future__ import annotations

from crocus_spark.io import load
from crocus_spark.queries import register

_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _register_views(spark, sf_dir: str, tables: list[str]) -> None:
    """Temp views over the fixture parquet — the §2C catalog surface.
    View reads keep full pushdown: Catalyst resolves them like any scan."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


_TOPK_SQL = """
    WITH cust_rev AS (
      SELECT c_custkey, c_name, c_nationkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
               AS revenue,
             COUNT(*) AS n_orders
      FROM customer
      JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name, c_nationkey
    ), ranked AS (
      SELECT n_name, c_name, revenue, n_orders,
             ROW_NUMBER() OVER (PARTITION BY n_name
                                ORDER BY revenue DESC, c_name) AS rk
      FROM cust_rev
      JOIN nation ON n_nationkey = c_nationkey
    )
    SELECT n_name, c_name, revenue, n_orders, rk
    FROM ranked
    WHERE rk <= 3
    ORDER BY n_name, rk
"""


@register(
    "sql_topk_customers_per_nation", oracle=_TOPK_SQL, tags=("sql", "headline")
)
def sql_topk_customers_per_nation(spark, sf_dir):
    """§2C proof: top-3 customers by order revenue per nation, written as
    ONE SQL string (CTE → join → decimal-exact agg → window top-k) that
    both Spark SQL and the DuckDB oracle execute verbatim. Catalyst plans
    it like the DataFrame twin: dim join broadcasts, agg runs partial."""
    _register_views(spark, sf_dir, ["customer", "orders", "nation"])
    return spark.sql(_TOPK_SQL)


_SETOP_SQL = """
    WITH big_order_cust AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE CAST(o_totalprice AS DOUBLE) > 200000.0
    ), recent_cust AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_orderstatus = 'O'
    )
    SELECT 'both' AS cohort, COUNT(*) AS n FROM
      (SELECT custkey FROM big_order_cust
       INTERSECT
       SELECT custkey FROM recent_cust) i
    UNION ALL
    SELECT 'big_only' AS cohort, COUNT(*) AS n FROM
      (SELECT custkey FROM big_order_cust
       EXCEPT
       SELECT custkey FROM recent_cust) e
    ORDER BY cohort
"""


@register("sql_setops_cohorts", oracle=_SETOP_SQL, tags=("sql",))
def sql_setops_cohorts(spark, sf_dir):
    """§2C proof for set operations: INTERSECT / EXCEPT / UNION ALL over
    customer cohorts, one dialect-portable string for both engines."""
    _register_views(spark, sf_dir, ["orders"])
    return spark.sql(_SETOP_SQL)


CBO_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
}

_CBO_JOIN_SQL = """
SELECT n.n_name,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(25,6))) AS DOUBLE) AS sum_revenue
FROM {li} l
JOIN {o} o ON l.l_orderkey = o.o_orderkey
JOIN {c} c ON o.o_custkey = c.c_custkey
JOIN {n} n ON c.c_nationkey = n.n_nationkey
WHERE n.n_name IN ('NATION_3', 'NATION_17')
GROUP BY n.n_name
ORDER BY n.n_name
"""


_CBO_STAT_COLS = {
    # Only the columns the reorder decision reads: join keys + the
    # selective filter + aggregated measures. ANALYZE .. FOR COLUMNS is
    # per-column work (distinct counts, min/max, histograms); ALL
    # COLUMNS on the 16-column fact table paid ~3x this for stats no
    # plan consults. Same policy at 100 TB: stats run at ingest, scoped
    # to the keys/filters the workload joins and prunes on.
    "lineitem": "l_orderkey, l_extendedprice, l_discount",
    "orders": "o_orderkey, o_custkey",
    "customer": "c_custkey, c_nationkey",
    "nation": "n_nationkey, n_name",
}


def _cbo_tables(spark, sf_dir):
    """Catalog tables + ANALYZE — the stats CBO reorders from. At
    100 TB, ANALYZE runs at ingest/compaction time, once per table, so
    every subsequent query plans from real cardinalities for free.
    External tables under scratch (DROP + path overwrite) so reruns
    and fresh catalogs over a stale warehouse both work."""
    import os

    from crocus_spark.queries.sources_q import _scratch

    root = _scratch("cbo_tables")
    for t in ("lineitem", "orders", "customer", "nation"):
        spark.sql(f"DROP TABLE IF EXISTS cbo_{t}")
        load(spark, sf_dir, t).write.option(
            "path", os.path.join(root, t)
        ).mode("overwrite").format("parquet").saveAsTable(f"cbo_{t}")
        spark.sql(
            f"ANALYZE TABLE cbo_{t} COMPUTE STATISTICS "
            f"FOR COLUMNS {_CBO_STAT_COLS[t]}"
        )


@register(
    "sql_cbo_join_reorder",
    oracle=_CBO_JOIN_SQL.format(
        li="lineitem", o="orders", c="customer", n="nation"
    ),
    tags=("sql", "cbo"),
)
def sql_cbo_join_reorder(spark, sf_dir):
    """Cost-based join reordering (§4.2): the SQL is WRITTEN in the worst
    order — the two fact tables joined first, the selective nation
    filter last. With ANALYZE'd column stats and CBO on, Catalyst
    reorders to build nation⋈customer first (estimated rowCount rides
    every node; plan-asserted in test_plans) — the difference between
    shuffling the whole fact join and shuffling only matching customers'
    rows at 100 TB. Materialized eagerly under the CBO confs
    (restore-on-exit), which the oracle hash-match proves is
    semantics-neutral."""
    from crocus_spark.session import conf_overrides, materialize

    _cbo_tables(spark, sf_dir)
    sql = _CBO_JOIN_SQL.format(
        li="cbo_lineitem", o="cbo_orders", c="cbo_customer", n="cbo_nation"
    )
    with conf_overrides(spark, CBO_CONFS):
        result = materialize(spark.sql(sql))
    return result.orderBy("n_name")


_RECURSIVE_SQL = """
    WITH RECURSIVE walk (custkey, cur, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer
      UNION ALL
      SELECT custkey, CAST(FLOOR(cur / 10.0) AS BIGINT), depth + 1
      FROM walk WHERE cur >= 10
    )
    SELECT cur AS root_digit, depth, COUNT(*) AS n_customers,
           MIN(custkey) AS min_key, MAX(custkey) AS max_key
    FROM walk
    WHERE cur < 10
    GROUP BY cur, depth
    ORDER BY root_digit, depth
"""


@register("sql_recursive_cte", oracle=_RECURSIVE_SQL, tags=("sql", "recursive"))
def sql_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4's WITH RECURSIVE — the iterate-in-SQL
    primitive hierarchies need: org charts, BOM explosions, graph
    reachability). Every customer key walks its ancestor chain in the
    implicit decimal tree (parent = key/10) until the single-digit root;
    the aggregate fingerprints each (root, depth) cohort. One
    dialect-portable string executed verbatim by both engines. Each
    recursion step is a full DataFrame iteration in Spark — rows retire
    from the loop as they hit the root (WHERE cur >= 10), so the working
    set shrinks every step; depth is bounded by key width (log10), not
    row count, which is what makes recursive plans tractable at 100 TB."""
    _register_views(spark, sf_dir, ["customer"])
    return spark.sql(_RECURSIVE_SQL)


_GROUP_BY_ALL_SQL = """
    SELECT o_orderstatus,
           o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
"""


@register("sql_group_by_all", oracle=_GROUP_BY_ALL_SQL, tags=("sql",))
def sql_group_by_all(spark, sf_dir):
    """GROUP BY ALL / ORDER BY ALL (the analyst-ergonomics dialect both
    Spark 4 and DuckDB converged on): grouping keys inferred as every
    non-aggregate select item, ordering over the full output row. One
    string, both engines, verbatim — the §2C portability contract
    extended to the modern dialect. Catalyst plans it identically to the
    explicit GROUP BY: inference is purely syntactic, so partial
    aggregation and the single exchange survive."""
    _register_views(spark, sf_dir, ["orders"])
    return spark.sql(_GROUP_BY_ALL_SQL)


@register(
    "sql_pipe_syntax",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_quantity > 10
      GROUP BY l_orderkey
    )
    SELECT l_orderkey, n_lines, revenue
    FROM big
    WHERE n_lines >= 5
    ORDER BY revenue DESC, l_orderkey
    LIMIT 25
    """,
    tags=("sql", "pipe"),
)
def sql_pipe_syntax(spark, sf_dir):
    """SQL pipe syntax (Spark 4's ``|>`` operator chaining — SQL in
    dataflow order, the textual twin of the DataFrame API). The pipe
    form parses to the SAME logical plan as the nested-CTE oracle: scan
    with pushed filter → partial agg → HAVING-style filter → top-k, so
    TakeOrderedAndProject still caps the result without a global sort.
    Demonstrates the engine accepts both dialects over one catalog."""
    _register_views(spark, sf_dir, ["lineitem"])
    return spark.sql("""
        FROM lineitem
        |> WHERE l_quantity > 10
        |> AGGREGATE COUNT(*) AS n_lines,
                     CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(25,6))) AS DOUBLE) AS revenue
           GROUP BY l_orderkey
        |> WHERE n_lines >= 5
        |> ORDER BY revenue DESC, l_orderkey
        |> LIMIT 25
        |> SELECT l_orderkey, n_lines, revenue
    """)


_CORRELATED_SQL = """
    SELECT c_custkey, c_name,
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT') AS n_urgent,
           CAST((SELECT MAX(o2.o_totalprice) FROM orders o2
                 WHERE o2.o_custkey = c.c_custkey) AS DOUBLE) AS max_order
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o3
                  WHERE o3.o_custkey = c.c_custkey
                    AND o3.o_totalprice > 400000)
      AND c_custkey NOT IN (SELECT o4.o_custkey FROM orders o4
                            WHERE o4.o_orderstatus = 'F'
                              AND o4.o_totalprice < 1000)
    ORDER BY c_custkey
"""


@register("sql_correlated_subqueries", oracle=_CORRELATED_SQL, tags=("sql",))
def sql_correlated_subqueries(spark, sf_dir):
    """Correlated scalar subqueries + EXISTS + NOT IN, run verbatim
    (§2C): the imperative per-customer lookup loop a scraper would
    write, stated declaratively. Catalyst DECORRELATES every clause —
    the two scalar subqueries become one aggregated left join each, the
    EXISTS a left-semi join, the NOT IN a null-aware left-anti join —
    so the plan is four key-partitioned joins over the orders table,
    not O(customers) point queries: the difference between a plan that
    survives 100 TB and one that re-scans orders per row. NOT IN's
    three-valued NULL semantics are preserved by the null-aware anti
    join, matching DuckDB exactly."""
    _register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_CORRELATED_SQL)


_TPCH_Q3_SQL = """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1998-01-01'
      AND l_shipdate  > DATE '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
"""


@register("sql_tpch_q3", oracle=_TPCH_Q3_SQL, tags=("sql", "tpch"))
def sql_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping priority) adapted to the fixture schema — the
    canonical 3-way join + grouped-revenue + top-k pattern, written once
    in the dialect-portable subset and executed verbatim by both engines
    (the reference's o_shippriority column doesn't exist here, so the
    priority attribute stands in). Revenue aggregates in exact DECIMAL
    (`_det.py` rule) so the DESC order — and therefore the LIMIT 10 cut —
    is never a float race; date and orderkey break remaining ties.

    Spark plan: both filters reach their scans (PushedFilters), the
    customer side reduces before the join, and the top-10 is
    TakeOrderedAndProject — no global sort materializes at any scale."""
    _register_views(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(_TPCH_Q3_SQL)


_TPCH_Q5_SQL = """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(25,6))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND s_nationkey = c_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


@register("sql_tpch_q5", oracle=_TPCH_Q5_SQL, tags=("sql", "tpch"))
def sql_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): the 6-table snowflake join with
    the region filter applied two dims away from the fact — the classic
    join-ordering stress test, verbatim-identical SQL on both engines.
    The local-supplier condition (supplier and customer share a nation)
    rides the supplier join as a second equi-key, not a post-filter.

    Spark plan: region/nation/supplier/customer are all broadcast-sized
    dims here; Catalyst (with CBO stats where ANALYZE ran —
    `sql_cbo_join_reorder`) pushes the ASIA filter through nation to
    prune suppliers BEFORE the fact join, so the big lineitem relation
    shuffles at most once; exact DECIMAL revenue keeps the DESC order
    deterministic with the name tiebreak."""
    _register_views(
        spark,
        sf_dir,
        ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    )
    return spark.sql(_TPCH_Q5_SQL)


def _collapse_runs(expr: str) -> str:
    """Collapse runs of repeated soundex digits with staged replaces —
    both engines' regex engines disagree on backreferences (Spark's Java
    regex has them, DuckDB's RE2 does not), so the collapse unrolls into
    plain replace() calls: each pass halves a run, 5 passes handle any
    token up to 32 letters."""
    out = expr
    for _ in range(5):
        for d in "123456":
            out = f"replace({out}, '{d}{d}', '{d}')"
    return out


_SOUNDEX_SQL = f"""
    WITH tok AS (
      SELECT upper(substr(p_name, 1, instr(p_name || ' ', ' ') - 1)) AS u
      FROM part
    ),
    coded AS (
      SELECT u, substr(u, 1, 1) AS f,
             translate(u, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                          '01230120022455012623010202') AS ds
      FROM tok
    ),
    collapsed AS (
      SELECT u, f, substr(ds, 1, 1) AS fcode,
             replace({_collapse_runs("ds")}, '0', '') AS no0
      FROM coded
    ),
    codes AS (
      SELECT u,
             f || rpad(CASE WHEN fcode = '0' THEN no0
                            ELSE substr(no0, 2) END, 3, '0') AS sdx
      FROM collapsed
    )
    SELECT sdx AS soundex_code,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS n_distinct_tokens,
           MIN(u) AS example
    FROM codes
    GROUP BY sdx
    ORDER BY sdx
"""


@register("sql_soundex_blocking", oracle=_SOUNDEX_SQL, tags=("sql", "text"))
def sql_soundex_blocking(spark, sf_dir):
    """Phonetic blocking for record linkage: a PORTABLE soundex
    (first letter + first three consonant classes, H/W treated as
    vowels — the classic simplification, documented rather than
    engine-built-in so both engines compute the identical code) over the
    first token of part names, reported as block sizes. This is the
    blocking stage a fuzzy-match join (`join_fuzzy_name`) runs inside:
    candidate pairs shrink from n² to sum-of-block².

    Dialect portability is the point: the digit map is one translate(),
    and run-collapse unrolls into staged replace() calls because RE2 (the
    DuckDB regex engine) has no backreferences — the whole query is one
    character-identical SQL string executed verbatim by both engines,
    scan-fused with a block-sized aggregate."""
    _register_views(spark, sf_dir, ["part"])
    return spark.sql(_SOUNDEX_SQL)


_TPCH_Q18_SQL = """
    WITH big_orders AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(25,6))) > 200
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)
             AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big_orders)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
"""


@register("sql_tpch_q18", oracle=_TPCH_Q18_SQL, tags=("sql", "tpch"))
def sql_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    clears a HAVING threshold, re-joined to customers — the canonical
    aggregate-filtered-semi-join pattern (the IN subquery becomes a left
    semi join on the already-aggregated key set). Quantity sums are exact
    DECIMAL on both the filter and output sides so the threshold cut and
    the DESC order never sit on a float boundary; tie order is pinned by
    date then key.

    Spark plan: the HAVING aggregate reduces lineitem to qualifying
    orderkeys BEFORE any join; the semi join then prunes the fact scan,
    and the top-100 is TakeOrderedAndProject. Verbatim-identical SQL on
    both engines."""
    _register_views(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(_TPCH_Q18_SQL)


_TPCH_Q21_SQL = """
    SELECT s_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders    ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""


@register("sql_tpch_q21", oracle=_TPCH_Q21_SQL, tags=("sql", "tpch"))
def sql_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    fixture columns: on finished orders, suppliers whose line was the
    ONLY returned one among a multi-supplier order — the classic
    EXISTS + NOT-EXISTS double-correlated pattern, the hardest of the
    TPC-H decorrelation probes. Catalyst must turn both subqueries into
    a left-semi and a null-safe left-anti join against the SAME fact
    table rather than re-scanning lineitem per row; the top-20 is
    TakeOrderedAndProject with a deterministic name tiebreak.
    Verbatim-identical SQL on both engines."""
    _register_views(spark, sf_dir, ["supplier", "orders", "lineitem"])
    return spark.sql(_TPCH_Q21_SQL)


_TPCH_Q4_SQL = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@register("sql_tpch_q4", oracle=_TPCH_Q4_SQL, tags=("sql", "tpch"))
def sql_tpch_q4(spark, sf_dir):
    """TPC-H Q4 (order priority checking), adapted: orders in one quarter
    with at least one line shipped more than 60 days after ordering (the
    fixture's stand-in for commit-vs-receipt lateness), counted by
    priority. The EXISTS must plan as ONE left-semi join — each order
    counted once no matter how many late lines — with the date filter
    pushed to the orders scan before the join. Verbatim-identical SQL on
    both engines; the correlated date comparison rides the join
    condition, not a post-filter."""
    _register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(_TPCH_Q4_SQL)


_TPCH_Q7_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume_dec) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
             CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(25,6)) AS volume_dec
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= DATE '1996-01-01'
        AND l_shipdate <  DATE '1999-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


@register("sql_tpch_q7", oracle=_TPCH_Q7_SQL, tags=("sql", "tpch"))
def sql_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping) adapted to the fixture nations — the
    canonical SELF-JOINED-DIMENSION pattern: nation joins the fact twice
    under two roles (supplier's n1, customer's n2) with a symmetric
    two-nation predicate, then revenue rolls up by (supp, cust, year).
    Verbatim-identical SQL on both engines; the trade pair is
    NATION_3<->NATION_7 (the fixture's names are synthetic).

    Determinism: the volume terms aggregate in exact DECIMAL(25,6)
    (`_det.py` rule) and EXTRACT(YEAR ...) is cast to BIGINT on both
    sides (DuckDB yields BIGINT, Spark INT — the cast unifies the
    schema). Spark plan at 100 TB: both nation role-copies broadcast
    (25 rows), the symmetric OR-pair predicate prunes each side BEFORE
    the fact joins, the shipdate range reaches the lineitem scan as
    PushedFilters, and the year is computed post-join on the surviving
    sliver — lineitem shuffles once for the orders join, never for the
    dims. The self-joined-dimension shape is why this stresses join
    planning: a naive planner joins nation once and loses the role
    split, or post-filters the pair predicate after a full fact×fact
    blowup."""
    _register_views(
        spark,
        sf_dir,
        ["supplier", "lineitem", "orders", "customer", "nation"],
    )
    return spark.sql(_TPCH_Q7_SQL)


_TPCH_Q6_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                         AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate <  DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


@register("sql_tpch_q6", oracle=_TPCH_Q6_SQL, tags=("sql", "tpch"))
def sql_tpch_q6(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): the pure-scan aggregate —
    no join, one pass, every predicate eligible for pushdown. Verbatim-
    identical SQL on both engines; the product quantizes to
    DECIMAL(25,6) per `_det.py` so the sum is order-free. Spark plan at
    100 TB: all three predicates reach the parquet scan (shipdate and
    quantity as PushedFilters; min/max row-group stats kill whole
    chunks), the aggregate is partial+final with a 1-row exchange —
    this query IS the scan, which is the point: it bounds how fast the
    engine can touch a year of the fact table."""
    _register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_TPCH_Q6_SQL)


_TPCH_Q10_SQL = """
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_return_lines
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1996-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(25,6))) AS DOUBLE) DESC,
             c_custkey
    LIMIT 20
"""


@register("sql_tpch_q10", oracle=_TPCH_Q10_SQL, tags=("sql", "tpch"))
def sql_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned item reporting): which customers returned
    the most revenue in a half-year — three-table fact join + dim
    broadcast, top-20 by a computed aggregate. Verbatim-identical SQL
    on both engines; revenue aggregates in exact decimal and the tie
    on equal revenue breaks on c_custkey so LIMIT 20 is deterministic.
    Spark plan at 100 TB: the orderdate window prunes orders at the
    scan, the pruned orders drive the lineitem join (returnflag pushed
    to lineitem's scan), nation broadcasts, and TakeOrderedAndProject
    keeps only 20 rows per partition before the final merge — no
    global sort of the aggregate ever materializes."""
    _register_views(
        spark, sf_dir, ["customer", "orders", "lineitem", "nation"]
    )
    return spark.sql(_TPCH_Q10_SQL)


_TPCH_Q14_SQL = """
    SELECT CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(25,6))
                   ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(25,6))) AS DOUBLE) * 100.0
           AS DOUBLE) AS promo_revenue_pct,
           CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(25,6))
                   ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
             AS promo_revenue,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(25,6))) AS DOUBLE) AS total_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-03-01'
      AND l_shipdate <  DATE '1996-04-01'
"""


@register("sql_tpch_q14", oracle=_TPCH_Q14_SQL, tags=("sql", "tpch"))
def sql_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect): conditional-aggregate ratio over a
    month of the fact joined to the part dim (the fixture's p_type
    carries a literal 'PROMO' class). Verbatim-identical SQL; both
    numerator and denominator aggregate in exact decimal, the ratio is
    computed in IEEE double FROM those exact decimals (one divide, one
    multiply — bit-identical across engines), and both terms are also
    emitted raw so a ratio bug can't hide. Spark plan at 100 TB: one
    month of lineitem survives the scan filter, part broadcasts, the
    CASE rides the join output — one scan, one broadcast, a 1-row
    result."""
    _register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_TPCH_Q14_SQL)


_TPCH_Q19_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
"""


@register("sql_tpch_q19", oracle=_TPCH_Q19_SQL, tags=("sql", "tpch"))
def sql_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue) — the DISJUNCTIVE-predicate
    stress test: three OR'd (brand, size, quantity) branches that mix
    columns from BOTH join sides. Verbatim-identical SQL on both
    engines. The optimizer work is predicate decomposition: Catalyst
    factors the per-side conjuncts it can — the p_brand IN
    (...)/p_size and l_quantity envelopes — out of the OR and pushes
    them to the part and lineitem scans, so the join sees only
    candidate rows and the full disjunction evaluates residually on
    the join output. At 100 TB that scan-side factoring is the
    difference between joining three brands' slivers and joining the
    whole fact table."""
    _register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_TPCH_Q19_SQL)


_TPCH_Q22_SQL = """
    WITH pos AS (
      SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS cents,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0.0
    ),
    rich AS (
      SELECT c_custkey, c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer, pos
      WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * pos.n > pos.cents
        AND MOD(c_nationkey, 5) IN (0, 2, 3)
    )
    SELECT MOD(c_nationkey, 5) AS cntry_grp,
           COUNT(*) AS n_custs,
           CAST(SUM(bal_cents) AS DOUBLE) / 100.0 AS total_acctbal
    FROM rich
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = rich.c_custkey
        AND o_orderdate >= DATE '1997-01-01'
    )
    GROUP BY MOD(c_nationkey, 5)
    ORDER BY cntry_grp
"""


@register("sql_tpch_q22", oracle=_TPCH_Q22_SQL, tags=("sql", "tpch"))
def sql_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity), adapted to the fixture:
    above-average-balance customers in selected country groups
    (nationkey mod 5 stands in for the phone prefix) with NO order
    since 1997 — scalar-subquery threshold + NOT EXISTS anti-join +
    grouped rollup, the lapsed-customer shape. Verbatim-identical SQL.
    Determinism: the mean-balance comparison is CROSS-MULTIPLIED exact
    integers (balance cents × count > total cents) instead of a
    decimal/double division whose scale rules differ between engines;
    balances convert to cents via one IEEE multiply + half-away round,
    bit-identical in both. Spark plan at 100 TB: the `pos` aggregate is
    a 1-row broadcast, the anti-join keys on o_custkey with the date
    filter pushed to the orders scan, and the final rollup is 5
    groups."""
    _register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_TPCH_Q22_SQL)


_TPCH_Q8_SQL = """
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume_dec
                         ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
                / CAST(SUM(volume_dec) AS DOUBLE) AS DOUBLE) AS mkt_share,
           CAST(SUM(volume_dec) AS DOUBLE) AS total_volume
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(25,6)) AS volume_dec,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE'
        AND p_type = 'STANDARD'
        AND o_orderdate >= DATE '1996-01-01'
        AND o_orderdate <  DATE '1998-01-01'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
"""


@register("sql_tpch_q8", oracle=_TPCH_Q8_SQL, tags=("sql", "tpch"))
def sql_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share) — the widest join in the suite:
    eight relations, nation twice under two roles, region gating the
    CUSTOMER side while the share is computed over the SUPPLIER side.
    Verbatim-identical SQL on both engines; volumes aggregate in exact
    decimal and the share divides the two exact sums in IEEE double.
    Spark plan at 100 TB: region→nation(c) folds to a broadcast filter
    on customer, part's type filter prunes before the fact join,
    supplier and both nation roles broadcast — lineitem is the only
    shuffled relation, and only its two-year, one-type sliver."""
    _register_views(
        spark,
        sf_dir,
        ["part", "lineitem", "orders", "customer",
         "nation", "region", "supplier"],
    )
    return spark.sql(_TPCH_Q8_SQL)


_TPCH_Q13_SQL = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


@register("sql_tpch_q13", oracle=_TPCH_Q13_SQL, tags=("sql", "tpch"))
def sql_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER with a
    predicate ON THE JOIN CONDITION (not a post-filter — customers whose
    every order is urgent must still appear with count 0), then an
    aggregate OF an aggregate. Verbatim-identical SQL; all outputs are
    integers. Spark plan at 100 TB: the priority filter pushes into the
    orders scan because it references only the preserved-side-null
    stream side, the outer join shuffles on custkey, and the second
    aggregate is over at most |distinct counts| rows — the histogram is
    tiny no matter the table."""
    _register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_TPCH_Q13_SQL)


_TPCH_Q15_SQL = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(25,6))) AS total_rev_dec
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate <  DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_rev_dec AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev_dec = (SELECT MAX(total_rev_dec) FROM revenue)
    ORDER BY s_suppkey
"""


@register("sql_tpch_q15", oracle=_TPCH_Q15_SQL, tags=("sql", "tpch"))
def sql_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): a named revenue view consumed twice —
    once joined to supplier, once reduced to a scalar MAX that selects
    the winner(s). Verbatim-identical SQL; the argmax compares EXACT
    decimals (a double argmax can crown different winners per engine on
    last-ulp ties), output casts to double only at the boundary. Spark
    plan at 100 TB: the CTE computes once per consumer from a
    quarter-sliver of the fact (both scans carry the pushed date
    range), the scalar max broadcasts as a 1-row subquery, and supplier
    joins only the max-revenue keys."""
    _register_views(spark, sf_dir, ["lineitem", "supplier"])
    return spark.sql(_TPCH_Q15_SQL)


_TPCH_Q17_SQL = """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6)))
                AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND p_size < 10
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
"""


@register("sql_tpch_q17", oracle=_TPCH_Q17_SQL, tags=("sql", "tpch"))
def sql_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): the CORRELATED
    AGGREGATE subquery — each line compares against one-fifth of ITS
    part's average quantity. Verbatim-identical SQL. Determinism: the
    fixture's quantities are integral doubles, so per-part sums are
    exact in IEEE regardless of order, AVG is one exact-sum divide, and
    0.2*avg is one multiply — bit-identical thresholds in both engines;
    the revenue output aggregates in exact decimal. Spark plan at
    100 TB: Catalyst de-correlates into an aggregate over lineitem
    grouped by partkey joined back on the key — two shuffles on the
    same key, never a per-row subquery execution; the brand/size
    filters prune part before either."""
    _register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_TPCH_Q17_SQL)


_AQP_SAMPLE_SQL = """
    WITH base AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT) AS q,
             md5('aqp:' || CAST(l_orderkey AS STRING) || ':'
                 || CAST(l_linenumber AS STRING)) AS h
      FROM lineitem
    ),
    est AS (
      SELECT l_returnflag,
             COUNT(*) AS n_sample,
             CAST(CAST(SUM(q) AS DOUBLE) / 10000.0 / 0.1 AS DOUBLE)
               AS est_revenue,
             CAST(SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0)))
                  AS DOUBLE) / 1e8 AS sumsq
      FROM base
      WHERE h < '1999999999999999999999999999999a'
      GROUP BY l_returnflag
    ),
    exact AS (
      SELECT l_returnflag,
             CAST(CAST(SUM(q) AS DOUBLE) / 10000.0 AS DOUBLE)
               AS exact_revenue
      FROM base
      GROUP BY l_returnflag
    )
    SELECT est.l_returnflag AS l_returnflag, n_sample, est_revenue,
           CAST(1.96 * SQRT(sumsq * 90.0) AS DOUBLE)
             AS ci95_halfwidth,
           exact_revenue
    FROM est JOIN exact ON est.l_returnflag = exact.l_returnflag
    ORDER BY l_returnflag
"""


@register("sql_aqp_sample_ci", oracle=_AQP_SAMPLE_SQL, tags=("sql", "aqp", "sampling"))
def sql_aqp_sample_ci(spark, sf_dir):
    """Approximate query processing with ERROR BARS: estimate per-flag
    total revenue from a 10% deterministic hash sample (Bernoulli by
    md5 threshold — the hash IS the sample, so the estimate is
    reproducible across engines, runs, and partitionings, and fully
    oracle-checkable where an engine-RNG TABLESAMPLE never is) plus a
    Horvitz-Thompson 95% CI from the sampled second moment. At 100 TB
    the sample predicate rides the scan (a 10x cheaper aggregate with a
    quantified error), which is the dashboards-over-petabytes shape.
    Determinism end-to-end: revenue quantizes to exact ten-thousandths
    (one IEEE multiply + half-away round, bit-identical), sums are
    integer/decimal-exact, and the CI is a fixed chain of IEEE ops over
    those exact sums (sqrt is correctly-rounded everywhere). The query
    also ASSERTS the estimate lands within 6 sigma of the exact total —
    a fixed hash either always passes or a bug broke the estimator."""
    _register_views(spark, sf_dir, ["lineitem"])
    out = spark.sql(_AQP_SAMPLE_SQL)
    # bounded driver-side check: ≤ |distinct returnflag| = 3 rows
    for r in out.collect():
        sigma = r.ci95_halfwidth / 1.96
        assert abs(r.est_revenue - r.exact_revenue) <= 6 * sigma, (
            r.l_returnflag, r.est_revenue, r.exact_revenue, sigma,
        )
    return out
