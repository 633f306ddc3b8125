"""Runtime-filter queries — dynamic partition pruning and runtime
bloom-filter join pruning (SURVEY.md §4.2: scan-reduction Catalyst gives
for free, §2B-ter lakehouse extensions).

These are the two mechanisms that keep a dim-filtered fact join O(matching
data) instead of O(fact table) at 100 TB: the filter on the *dimension*
side is turned into a filter on the *fact scan* at runtime — directory
granularity when the join key is the partition column (DPP), row-group /
row granularity otherwise (bloom). Neither changes semantics, so both
queries oracle-check against the plain-join SQL; the plan shape (the
actual point) is asserted in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crocus_spark.io import load
from crocus_spark.queries import register
from crocus_spark.queries._det import dsum, dsum_sql
from crocus_spark.queries.sources_q import _scratch
from crocus_spark.session import conf_overrides, materialize


@register(
    "join_dpp_prune",
    oracle=f"""
    WITH dim AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
      WHERE EXTRACT(day FROM CAST(ts AS DATE)) % 7 = 0
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           {dsum_sql("e.value", "sum_value")}
    FROM events e JOIN dim ON CAST(e.ts AS DATE) = dim.d
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    tags=("maintenance", "runtime-filter", "dpp"),
)
def join_dpp_prune(spark, sf_dir):
    """Dynamic partition pruning (§4.2): fact events live partitioned by
    snapshot_date; the date dimension carries a selective filter
    (day-of-month % 7 — arbitrary but engine-identical arithmetic). At
    planning time the matching dates are unknown, so static pruning
    can't help; DPP runs the dim side first and injects its dates into
    the fact scan's PartitionFilters (`dynamicpruningexpression` —
    plan-asserted in test_plans), so non-matching partition DIRECTORIES
    are never opened. This is the difference between O(matching days)
    and O(history) for every dim-filtered fact join on a date-partitioned
    100 TB table."""
    path = _scratch("dpp_events")
    ev = load(spark, sf_dir, "events")
    ev.withColumn("snapshot_date", F.to_date("ts")).write.mode(
        "overwrite"
    ).partitionBy("snapshot_date").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        ev.select(F.to_date("ts").alias("d"))
        .distinct()
        .filter(F.dayofmonth("d") % 7 == 0)
    )
    return (
        fact.join(dim, fact.snapshot_date == dim.d)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .orderBy("event_type")
    )


BLOOM_TEST_CONFS = {
    # app side must EXCEED this scan size for injection — the only knob
    # that misrepresents test scale, lifted so the local fixture behaves
    # like the 100 TB table the filter exists for:
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # bloom targets shuffle joins; a broadcast join already ships the
    # keys, so force the join shape the filter is designed around:
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@register(
    "join_runtime_bloom_filter",
    oracle=f"""
    SELECT l.l_returnflag,
           COUNT(*) AS n_items,
           {dsum_sql("l.l_extendedprice", "sum_price")}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    tags=("maintenance", "runtime-filter", "bloom"),
)
def join_runtime_bloom_filter(spark, sf_dir):
    """Runtime bloom-filter join pruning (§4.2): orders filtered to
    urgent joins lineitem on a NON-partition key, so DPP can't apply.
    Spark builds a bloom filter over the surviving order keys and pushes
    `might_contain(xxhash64(l_orderkey))` into the lineitem scan — ~80%
    of fact rows die at the scan instead of crossing the shuffle
    (plan-asserted in test_plans). The result is materialized eagerly
    under the test-scale conf overrides (BLOOM_TEST_CONFS) and the
    session confs restored — semantics are untouched either way, which
    is exactly what the oracle hash-match proves."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", "sum_price"),
        )
    )
    with conf_overrides(spark, BLOOM_TEST_CONFS):
        result = materialize(joined)
    return result.orderBy("l_returnflag")
