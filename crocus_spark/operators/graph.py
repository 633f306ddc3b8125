"""Distributed graph primitives over edge-list DataFrames.

The engine's dedup cluster collapse (``minhash_dedup_survivors``) is a
special case of connected components with diameter ~1; this module is the
general operator: min-label propagation with pointer jumping over an
arbitrary edge list, run to a *checked* fixpoint. The reference's implied
workload needs it for cross-provider entity resolution — ETFs linked by
shared ISIN / shared holdings form equivalence classes exactly like
near-dup documents do (SURVEY.md §2B#54/#59).

Scale shape (the Kiveris et al. 2014 "Connected Components in MapReduce"
family): every iteration is two key-partitioned joins + hash aggregates —
no global structure, no driver-side graph. State per node is one (node,
label) row; labels only ever decrease, so each round is monotone and the
fixpoint test (zero changed labels) is a cheap anti-equality count.
Pointer jumping (label := label(label)) halves tree heights each round, so
rounds grow with log(diameter), not diameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from crocus_spark.session import conf_overrides, intermediates, materialize


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    edges_distinct: bool = False,
) -> DataFrame:
    """Label every node with the minimum node id in its connected
    component. Returns (node, component).

    Iterates min-label propagation over the symmetrized edge list plus a
    pointer-jumping contraction, local-checkpointing each round to
    truncate lineage (without it the plan doubles every iteration), until
    no label changes. Labels are bounded below by the true component
    minimum and decrease monotonically, so the checked fixpoint IS the
    exact answer — the iteration cap only guards against degenerate
    inputs, and hitting it raises instead of returning a wrong answer.

    ``edges_distinct=True`` promises the input is already a distinct
    CANONICAL pair list (src < dst, no duplicates — what the dedup verify
    stage and star contraction emit), skipping the symmetrize-then-
    distinct shuffle; propagation is min-idempotent, so a violated
    promise costs only wasted work, never a wrong label.
    """
    with intermediates() as own:
        return _components(own, edges, src, dst, max_iter, edges_distinct)


def _components(own, edges, src, dst, max_iter, edges_distinct):
    """``connected_components``' body; ``own`` holds every round."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).filter(F.col("u") != F.col("v"))
    if not edges_distinct:
        und = und.distinct()
    und = own.persist(und)
    # round 0 for free: initialize every node at its closed-neighborhood
    # minimum (min of itself and its neighbors) — one propagation round
    # folded into the init aggregate, so star/clique-ish graphs start
    # one hop closer to the fixpoint
    labels = own.checkpoint(
        und.groupBy(F.col("u").alias("node"))
        .agg(F.least(F.first("u"), F.min("v")).alias("comp"))
    )
    # Integral ids only: the loop's convergence checksum sums labels
    # cast to decimal(38,0), which is exact for byte/short/int/long but
    # ROUNDS fractional/float ids — a monotone decrease (2.4→1.6) could
    # leave the checksum unchanged and exit before the fixpoint (doubles
    # past 2^53 alias the same way). Non-integral ids take the generic
    # changed-rows path below, which compares labels directly.
    numeric_ids = isinstance(
        labels.schema["comp"].dataType, IntegralType
    )
    if numeric_ids:
        # Fast path (numeric node ids — every in-repo caller), two
        # phases.
        #
        # Phase 1 — STAR CONTRACTION: the init labels already map every
        # node to its closed-neighborhood min l0(u); projecting each
        # edge to (l0(u), l0(v)) and dropping self-loops yields a
        # contracted graph whose components are exactly the images of
        # the original components (l0 stays inside the component, and
        # the component min m has l0(m)=m, so the contracted min IS the
        # original min). Near-dup clique graphs contract to an EMPTY
        # edge set in this one O(E) pass — the label loop then never
        # touches the edge-sized relation at all — and chain-ish graphs
        # shrink ~3× per the same argument as a propagation round plus
        # a jump. Cost: two label joins (node-sized build side, AQE
        # broadcasts) + one distinct, all linear in E.
        lu = labels.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
        lv = labels.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        contracted = own.persist(
            und.join(lu, "u")
            .join(lv, "v")
            .filter(F.col("cu") != F.col("cv"))
            .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
            .distinct()
        )
        # Phase 2 — min-label loop over the CONTRACTED graph only. Fold
        # each node's OWN label into the neighborhood min by appending a
        # self-loop per node, so each round is ONE edge⋈labels join +
        # group-min instead of join + group + a second node-sized
        # labels⋈nbr join. Convergence is checked by an exact decimal
        # label checksum: labels are bounded below and only ever
        # decrease, so Σcomp strictly decreases until — and only until —
        # the fixpoint (decimal(38,0) over long ids is exact, no float
        # drift, no overflow before ~1e19 nodes).
        # Size the loop's shuffles to the MEASURED contracted-graph
        # volume (the count materializes the persisted relation the
        # loop reads anyway): after star contraction the state is often
        # a few thousand rows, and ~4 jobs/round at the session's full
        # width is task-launch-bound (measured 4.6 s → 2.6 s at
        # sf0.01). A billion-edge contracted graph keeps the session
        # width; the conf scope below restores it.
        sess = edges.sparkSession
        base_width = sess.conf.get("spark.sql.shuffle.partitions")
        loop_width = max(
            8, min(int(base_width), contracted.count() // 50000 + 1)
        )
        # the init jobs (clabels, selfed, prev_sum) run inside the scope
        # too, so a failure or interrupt in any loop job restores
        # base_width instead of leaking the narrow setting session-wide
        with conf_overrides(
            sess, {"spark.sql.shuffle.partitions": str(loop_width)}
        ):
            clabels = own.checkpoint(
                contracted.groupBy(F.col("u").alias("node"))
                .agg(F.least(F.first("u"), F.min("v")).alias("comp"))
            )
            seed = clabels
            selfed = own.persist(contracted.unionByName(
                clabels.select(
                    F.col("node").alias("u"), F.col("node").alias("v")
                )
            ))
            prev_sum = clabels.agg(
                F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
            ).first()["s"]
            for _ in range(max_iter):
                stepped = own.persist(
                    selfed.join(
                        clabels.select(
                            F.col("node").alias("v"),
                            F.col("comp").alias("vcomp"),
                        ),
                        "v",
                    )
                    .groupBy(F.col("u").alias("node"))
                    .agg(F.min("vcomp").alias("comp"))
                )
                # single pointer jump: comp → comp(comp). Measured on both
                # fixture graphs (sf0.01/sf0.1): one jump cuts rounds ~2×
                # vs none (6/7 vs 10/13 rounds), while a second or third
                # jump saves at most one round and the deeper self-join DAG
                # inside the checkpoint costs far more than it saves (3
                # hops regressed the sf0.1 graph 5 s → 60 s).
                a, b = stepped.alias("a"), stepped.alias("b")
                jumped = own.checkpoint(
                    a.join(b, F.col("a.comp") == F.col("b.node"), "left")
                    .select(
                        F.col("a.node").alias("node"),
                        F.least(
                            F.col("a.comp"),
                            F.coalesce(F.col("b.comp"), F.col("a.comp")),
                        ).alias("comp"),
                    )
                )
                cur_sum = jumped.agg(
                    F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
                ).first()["s"]
                own.release(stepped)
                if clabels is not seed:  # selfed's lineage reads the seed
                    own.release(clabels)
                clabels = jumped
                if cur_sum == prev_sum:
                    # Map every original node through its contracted rep:
                    # comp(u) = comp2(l0(u)), falling back to l0(u) for
                    # nodes whose rep had no external edge (star collapsed
                    # whole). The rep relation is component-count-sized —
                    # AQE broadcasts it.
                    return materialize(
                        labels.join(
                            clabels.select(
                                F.col("node").alias("comp"),
                                F.col("comp").alias("comp2"),
                            ),
                            "comp",
                            "left",
                        )
                        .select(
                            "node",
                            F.coalesce(F.col("comp2"), F.col("comp")).alias(
                                "comp"
                            ),
                        )
                    )
                prev_sum = cur_sum
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} iterations"
            )
    # Generic path (orderable but non-summable ids, e.g. strings): carry
    # the pre-round label as `old` through the round so convergence is a
    # changed-rows check on the checkpointed output.
    held = labels
    for _ in range(max_iter):
        # closed-neighborhood min: comp'(u) = min(comp(u), min_{v∈N(u)} comp(v))
        nbr = (
            und.join(
                labels.select(
                    F.col("node").alias("v"), F.col("comp").alias("vcomp")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vcomp").alias("nbr_comp"))
        )
        stepped = own.persist(
            labels.join(nbr, labels["node"] == nbr["u"], "left")
            .select(
                labels["node"],
                labels["comp"].alias("old"),
                F.least(
                    labels["comp"], F.coalesce(nbr["nbr_comp"], labels["comp"])
                ).alias("comp"),
            )
        )
        a, b = stepped.alias("a"), stepped.alias("b")
        hop1 = a.join(
            b, F.col("a.comp") == F.col("b.node"), "left"
        ).select(
            F.col("a.node").alias("node"),
            F.col("a.old").alias("old"),
            F.least(
                F.col("a.comp"),
                F.coalesce(F.col("b.comp"), F.col("a.comp")),
            ).alias("comp"),
        )
        jumped = own.checkpoint(hop1.select(
            "node",
            "comp",
            (F.col("comp") != F.col("old")).alias("_chg"),
        ))
        changed = jumped.filter(F.col("_chg")).limit(1).count()
        own.release(stepped)
        own.release(held)
        held, labels = jumped, jumped.drop("_chg")
        if changed == 0:
            return own.keep(jumped).drop("_chg")
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
    max_iter: int = 12,
) -> DataFrame:
    """Maximal k-core: iteratively peel nodes of degree < k until the
    remaining subgraph is stable. Returns (node, core_degree) for the
    surviving nodes — every one has ≥ k neighbors INSIDE the core (the
    self-certifying invariant the tests pin).

    Shape: per round, one semi-join of the edge list against the alive
    set on each endpoint + a degree aggregate — all key-partitioned;
    state is one row per alive node. Peeling is monotone (alive sets
    only shrink), so a checked fixpoint is exact; the cap raises rather
    than returning a partial peel, which keeps the unrolled-rounds
    oracle sound (equality needs convergence ≤ the unroll depth, and
    non-convergence is an ERROR, not a wrong answer)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    with intermediates() as own:
        und = own.persist(
            e.unionByName(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        alive = own.checkpoint(und.select("u").distinct())
        n_alive = alive.count()
        for _ in range(max_iter):
            deg = (
                und.join(alive, "u")
                .join(alive.select(F.col("u").alias("v")), "v")
                .groupBy("u")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
            nxt = own.checkpoint(deg.filter(F.col("deg") >= k).select("u", "deg"))
            n_next = nxt.count()
            if n_next == n_alive:
                return own.keep(nxt).select(
                    F.col("u").alias("node"), F.col("deg").alias("core_degree")
                )
            own.release(alive)
            alive = own.checkpoint(nxt.select("u"))
            own.release(nxt)
            n_alive = n_next
    raise RuntimeError(f"k_core did not converge in {max_iter} iterations")
