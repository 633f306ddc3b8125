"""Distributed global-order primitives — rank, row_number, and cumulative
sums over a total order WITHOUT the single-partition sort that a naive
``Window.orderBy(...)`` (no partitionBy) implies.

The naive form is the canonical 100 TB anti-pattern: Spark warns
``WindowExec: No Partition Defined`` and funnels the whole relation
through one task. Every helper here replaces it with the range-shard +
per-shard-rank + broadcast-offset decomposition already proven in
``operators/corpus.py:assign_global_row_ids`` (r2 verdict asked for it to
be promoted into a shared, key-type-general helper):

1. rows range-shard via ``repartitionByRange`` (sampled boundaries,
   JVM-side binary search; boundary *placement* never affects results —
   only which shard does which slice of the work — so sampled
   boundaries are exactly as correct as exact quantiles);
2. rows equal on the shard key always co-locate (the partitioner is a
   deterministic function of the key), so ties of the order key never
   straddle shards; the sharded relation is materialized once so every
   consumer sees ONE consistent boundary draw;
3. per-shard ranks/cumulatives run as ordinary partitioned windows, in
   parallel;
4. shard totals (≤ n_shards rows — metadata, not data) get prefix sums
   through a trivially small window and broadcast back as offsets.

Three shuffles of which only one moves the data rows (by shard); the
rest are metadata-sized.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crocus_spark.session import materialize


def with_range_shard(
    df: DataFrame, key: str, n_shards: int
) -> DataFrame:
    """Attach ``_shard``: a shard id monotone in ``key``, via Spark's own
    ``repartitionByRange`` (RangePartitioner: reservoir sample →
    boundaries → per-row binary search, all JVM-side and codegen-fast —
    an earlier approx-percentile + array-filter-lambda formulation spent
    seconds per million rows in interpreted higher-order lambdas).
    Equal keys always land in one partition (the partitioner is a
    deterministic function of the key value), and partition index is
    monotone in key order, so ``spark_partition_id()`` IS the shard id.
    Boundary placement only load-balances — it can never change a
    consumer's result, which is what makes the sampled boundaries safe.

    The sharded relation is eagerly materialized: every consumer
    reads ``_shard`` at least twice (shard totals + per-shard ranks), and
    the range partitioner draws a fresh boundary sample per evaluation —
    two lazy evaluations could disagree on shard membership, making
    offsets and ranks inconsistent (observed as off-by-thousands global
    ranks). One materialization freezes the boundaries AND pays the
    upstream computation once."""
    return materialize(
        df.repartitionByRange(n_shards, F.col(key))
        .withColumn("_shard", F.spark_partition_id())
    )


def ranked_global(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "_rn",
    n_shards: int = 32,
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY *order_cols)`` (1-based,
    in ``out_col``) with no single-partition sort. ``order_cols[0]`` may
    be ANY orderable type — sharding is ``repartitionByRange`` (JVM
    RangePartitioner, no percentile sketch involved); the remaining
    columns break ties within shards, where all rows equal on the first
    key co-locate."""
    first = order_cols[0]
    sharded = with_range_shard(df, first, n_shards)
    counts = sharded.groupBy("_shard").agg(F.count(F.lit(1)).alias("_sn"))
    w_off = Window.orderBy("_shard").rowsBetween(
        Window.unboundedPreceding, -1
    )  # ≤ n_shards rows — metadata-sized
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_sn").over(w_off), F.lit(0))
    ).select("_shard", "_off")
    in_shard = Window.partitionBy("_shard").orderBy(*order_cols)
    return (
        sharded.withColumn("_r", F.row_number().over(in_shard))
        .join(F.broadcast(offsets), "_shard")
        .withColumn(out_col, (F.col("_off") + F.col("_r")).cast("long"))
        .drop("_shard", "_r", "_off")
    )


def cumulative_below(
    df: DataFrame,
    value_col: str,
    weight_cols: Sequence[str],
    n_shards: int = 32,
) -> DataFrame:
    """For a DISTINCT-VALUE relation (one row per ``value_col``), attach
    ``_cum_<w>`` = SUM(w) over all rows with STRICTLY SMALLER value, for
    each w in ``weight_cols`` — the building block for empirical CDFs,
    midranks, and rank-sum statistics, none of which need per-row global
    ranks at all: they decompose over the value-frequency relation
    (distinct-values-sized), which this helper cumulates shard-parallel.
    """
    sharded = with_range_shard(df, value_col, n_shards)
    shard_tot = sharded.groupBy("_shard").agg(
        *[F.sum(w).alias(f"_t_{w}") for w in weight_cols]
    )
    w_off = Window.orderBy("_shard").rowsBetween(
        Window.unboundedPreceding, -1
    )  # ≤ n_shards rows — metadata-sized
    offsets = shard_tot.select(
        "_shard",
        *[
            F.coalesce(F.sum(f"_t_{w}").over(w_off), F.lit(0)).alias(
                f"_o_{w}"
            )
            for w in weight_cols
        ],
    )
    in_shard = (
        Window.partitionBy("_shard")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = sharded.join(F.broadcast(offsets), "_shard")
    # integral weights cumulate as exact longs; fractional weights keep
    # their native type (a long cast would silently floor doubles)
    integral = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("byte", "short", "integer", "long")
    }
    for w in weight_cols:
        cum = F.col(f"_o_{w}") + F.coalesce(
            F.sum(w).over(in_shard), F.lit(0)
        )
        out = out.withColumn(
            f"_cum_{w}", cum.cast("long") if w in integral else cum
        )
    return out.drop(
        "_shard", *[f"_o_{w}" for w in weight_cols]
    )


def running_global(
    df: DataFrame,
    order_cols: Sequence[str],
    weight_col: str,
    out_col: str = "_run",
    n_shards: int = 32,
    inclusive: bool = True,
) -> DataFrame:
    """Global running SUM of ``weight_col`` over a total order — the
    cumulative counterpart of ``ranked_global`` (Pareto fronts, CDF-style
    accumulations over per-row relations). ``order_cols[0]`` is the range
    key (descending orders: negate the key); ``inclusive`` picks
    current-row-in or strictly-before semantics. Same three-shuffle
    shard-offset shape; no single-partition sort."""
    sharded = with_range_shard(df, order_cols[0], n_shards)
    shard_tot = sharded.groupBy("_shard").agg(
        F.sum(weight_col).alias("_t")
    )
    w_off = Window.orderBy("_shard").rowsBetween(
        Window.unboundedPreceding, -1
    )  # ≤ n_shards rows — metadata-sized
    offsets = shard_tot.select(
        "_shard",
        F.coalesce(F.sum("_t").over(w_off), F.lit(0)).alias("_o"),
    )
    in_shard = (
        Window.partitionBy("_shard")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    return (
        sharded.join(F.broadcast(offsets), "_shard")
        .withColumn(
            out_col,
            F.col("_o")
            + F.coalesce(F.sum(weight_col).over(in_shard), F.lit(0)),
        )
        .drop("_shard", "_o")
    )


def running_max_global(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "_runmax",
    n_shards: int = 32,
    inclusive: bool = True,
) -> DataFrame:
    """Global running MAX of ``value_col`` over a total order — the
    sweep-line primitive (Pareto/skyline frontiers: "best value among
    all strictly-cheaper rows"). Same shard-offset shape as
    ``running_global``: per-shard running max + a broadcast prefix-max
    of the ≤ n_shards shard maxima. With ``inclusive=False`` the
    globally-first row gets NULL (no strictly-preceding rows), matching
    ``MAX(...) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING TO -1)``;
    ``F.greatest`` skips NULL operands, so shard-local NULLs merge
    correctly with the prefix offset."""
    sharded = with_range_shard(df, order_cols[0], n_shards)
    shard_tot = sharded.groupBy("_shard").agg(
        F.max(value_col).alias("_t")
    )
    w_off = Window.orderBy("_shard").rowsBetween(
        Window.unboundedPreceding, -1
    )  # ≤ n_shards rows — metadata-sized
    offsets = shard_tot.select(
        "_shard", F.max("_t").over(w_off).alias("_o")
    )
    in_shard = (
        Window.partitionBy("_shard")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    return (
        sharded.join(F.broadcast(offsets), "_shard")
        .withColumn(
            out_col,
            F.greatest(F.col("_o"), F.max(value_col).over(in_shard)),
        )
        .drop("_shard", "_o")
    )


def ntile_from_rank(rank_col: str, n_col: str, k: int):
    """SQL-standard ``NTILE(k)`` bucket from a precomputed 1-based global
    rank and total count — the first ``n mod k`` buckets take
    ``n div k + 1`` rows, the rest ``n div k`` (the remainder rule both
    Spark and DuckDB implement). Pair with ``ranked_global`` to compute
    exact NTILEs without a single-partition window; one parsed
    ``F.expr`` keeps plan-build cost flat (one py4j round-trip)."""
    q, r = f"({n_col} div {k})", f"({n_col} % {k})"
    return F.expr(
        f"CASE WHEN {rank_col} <= {r} * ({q} + 1) "
        f"THEN ({rank_col} + {q}) div ({q} + 1) "
        f"ELSE {r} + ({rank_col} - {r} * ({q} + 1) + {q} - 1) div {q} END"
    ).cast("int")
