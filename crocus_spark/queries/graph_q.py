"""Graph queries over relationship structure latent in the star schema.

The crocus workload is entity resolution in disguise: products linked
across providers by shared identifiers form equivalence classes
(README.md:4 "confront them with eachover"), and funds linked by shared
holdings form overlap clusters (FIXTURES.md B3 ``holding_isin`` exists for
exactly that join). Both are connected components / co-occurrence
problems; here they run on the fixture analog — parts linked by appearing
in the same order.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crocus_spark.io import load, register_views
from crocus_spark.operators import graph as G
from crocus_spark.operators.graph import connected_components
from crocus_spark.queries import _det as DET
from crocus_spark.queries import register
from crocus_spark.session import intermediates, materialize


def _order_part_pairs(spark, sf_dir):
    """One row per (order, unordered part pair): group each order's
    parts into a sorted SET, then fan the (src < dst) pairs out with JVM
    generators (posexplode + slice + explode). One fact shuffle total —
    the equivalent lineitem self-join on l_orderkey exchanges the fact
    table twice and sort-merges it against itself for the same Σ basket²
    fan-out (measured 9.8 s → 6.6 s for the distinct-pair build at
    sf0.1). collect_set dedups repeat lines within the order, so per-pair
    row counts equal co-purchase ORDER counts; callers add .distinct()
    when they want the edge set.

    Both exchanges in this pipeline are EXPLICIT keyed repartitions
    (r5 verdict "what's wrong #1"): under size-based AQE coalescing
    (``parallelismFirst=false`` + 8 MB advisory, session.py) the
    post-groupBy exchange looks tiny to the estimator (one narrow row
    per order) and coalesces to 1-3 partitions — but the
    posexplode+slice generation downstream multiplies rows by Σ basket²,
    invisible to the estimate, so the explosion and every consumer
    aggregate ran ~serially (A/B at sf0.1: warm 1.97-2.21 s coalesced vs
    0.88-1.09 s with both explicit exchanges; the old-conf baseline was
    1.21-1.37 s). ``repartition(n, key)`` has shuffle origin
    REPARTITION_BY_NUM, which AQE never coalesces — plan-gated in
    tests/test_plans.py — and because it hash-partitions on the very
    keys the adjacent aggregates group by, each repartition IS that
    aggregate's exchange (exchange reuse; no extra shuffle is added):
    the first feeds groupBy(l_orderkey), the second feeds every
    caller's groupBy/distinct on (src, dst) — basket counts, triangle
    edges, pagerank's half-edge distinct. The trade is losing map-side
    partial aggregation, which is a no-op here: (order, part) repeats
    within a map partition are rare, and distinct pairs ≈ pair rows
    (measured 1.2 M rows at sf0.1, pair space is quadratic in parts),
    so the shuffle moves the same bytes either way. Width grows with
    the input (max of core count and byte-derived scan splits —
    io.scan_width, pure file metadata: df.rdd.getNumPartitions() cost
    ~0.1-0.5 s of py4j plan conversion per fresh plan), so at 100 TB
    it tracks the scan's tens of thousands of splits rather than
    pinning a fixture-sized constant."""
    from crocus_spark.io import scan_width

    li = load(spark, sf_dir, "lineitem")
    n = scan_width(spark, sf_dir, "lineitem")
    return (
        li.repartition(n, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(F.posexplode("ps").alias("i", "src"), "ps")
        .select(
            "src",
            F.explode(F.slice("ps", F.col("i") + 2, F.size("ps"))).alias(
                "dst"
            ),
        )
        .repartition(n, "src", "dst")
    )


def _copurchase_edges(spark, sf_dir):
    """Star edges per sampled order: min partkey ↔ every other partkey.
    The star (not the clique) keeps edges linear in basket size — the
    clique would be quadratic per order and changes nothing for
    connectivity."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 20 == 0
    )
    stars = li.groupBy("l_orderkey").agg(F.min("l_partkey").alias("root"))
    return (
        li.join(stars, "l_orderkey")
        .filter(F.col("l_partkey") != F.col("root"))
        .select(F.col("root").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
    )


@register(
    "graph_connected_components",
    oracle=f"""
    WITH sampled AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 20 = 0
    ), stars AS (
      SELECT l_orderkey, MIN(l_partkey) AS root FROM sampled
      GROUP BY l_orderkey
    ), edges AS (
      SELECT DISTINCT s.root AS u, l.l_partkey AS v
      FROM stars s JOIN sampled l USING (l_orderkey)
      WHERE l.l_partkey <> s.root
    ), und AS (
      SELECT u, v FROM edges UNION SELECT v, u FROM edges
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT u AS id FROM und
    ), sym AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM und
    ),
    {DET.components_unrolled_sql(12)}
    SELECT id AS node, lbl AS component,
           COUNT(*) OVER (PARTITION BY lbl) AS comp_size
    FROM comp
    ORDER BY node
    """,
    tags=("graph", "components"),
)
def graph_connected_components(spark, sf_dir):
    """Connected components over the co-purchase graph (parts linked by a
    shared order) — the general form of the engine's dedup cluster
    collapse and of cross-provider entity resolution (two catalogs ⋈
    shared ISINs → product equivalence classes, crocus README.md:4). The
    engine runs min-label propagation + pointer jumping to a CHECKED
    fixpoint (operators/graph.py): per round two key-partitioned joins,
    state = one row per node, rounds ~ log(diameter) — no driver-side
    graph, no quadratic pair set. The oracle computes the same components
    by one star-contraction pass + 12 UNROLLED propagate+jump rounds
    over the contracted edge image (``_det.components_unrolled_sql``
    — exact for contracted diameters ≤ 8190, fail-loud beyond); r3's
    recursive closure materialized an O(Σ comp²) reach relation that
    alone cost ~6 min of the sf0.1 sweep. Output: every node with its
    component id
    (min part key in the component) and component size."""
    # star edges are canonical (root = min partkey < dst) and distinct
    # by construction — skip the symmetrize-distinct shuffle
    labels = connected_components(
        _copurchase_edges(spark, sf_dir), edges_distinct=True
    )
    w = Window.partitionBy("component")
    return (
        labels.select("node", F.col("comp").alias("component"))
        .withColumn("comp_size", F.count(F.lit(1)).over(w))
        .orderBy("node")
    )


@register(
    "basket_copurchase_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_orders
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT part_a, part_b, n_orders
    FROM pairs
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 50
    """,
    tags=("graph", "selfjoin", "headline"),
)
def basket_copurchase_pairs(spark, sf_dir):
    """Market-basket co-occurrence: the 50 part pairs most often bought in
    the same order — the fixture analog of 'funds most often holding the
    same security', the overlap question the reference's unparsed holdings
    files exist to answer (FIXTURES.md B3). Classic self-join fan-out:
    per-order distinct part SETS first (dedups repeat lines BEFORE the
    fan-out, not after the explosion), then the (src < dst) pairs fan
    out bucket-locally from each order's sorted set (_order_part_pairs —
    ONE fact shuffle, vs two + a sort-merge for the equivalent
    self-join) producing O(Σ basket²) rows — bounded because baskets are
    small (the per-order line cap), not because the table is. The final
    top-50 is TakeOrderedAndProject with a full (count, a, b) tiebreak,
    never a global sort."""
    pairs = (
        _order_part_pairs(spark, sf_dir)
        .groupBy(
            F.col("src").alias("part_a"),
            F.col("dst").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return pairs.orderBy(
        F.col("n_orders").desc(), "part_a", "part_b"
    ).limit(50)


_TRIANGLE_EDGES_SQL = """
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2
"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH e AS ({_TRIANGLE_EDGES_SQL})
    SELECT COUNT(*) AS n_triangles,
           (SELECT COUNT(*) FROM e) AS n_edges
    FROM e e1
    JOIN e e2 ON e2.p1 = e1.p2
    JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    """,
    tags=("graph", "selfjoin"),
)
def graph_triangle_count(spark, sf_dir):
    """Triangle counting over the co-purchase graph (clustering structure
    of 'parts bought together' — the graph-shaped view of the reference's
    holdings-overlap question). Edges are canonically ordered (p1 < p2)
    and thinned to pairs co-purchased in ≥2 orders, so each triangle is
    counted exactly once via the ordered wedge join: e(a,b) ⋈ e(b,c) ⋈
    e(a,c) with a<b<c. The wedge join is the scale knob — edge count,
    not vertex count, bounds the shuffle, and both joins hash on an edge
    endpoint so AQE can split skewed hub vertices. The edge list is
    reused three times from one cached build (single-fact-shuffle pair
    generation, _order_part_pairs), not recomputed."""
    with intermediates() as own:
        edges = own.persist(
            _order_part_pairs(spark, sf_dir)
            .groupBy(
                F.col("src").alias("p1"),
                F.col("dst").alias("p2"),
            )
            .agg(F.count(F.lit(1)).alias("m"))
            .filter(F.col("m") >= 2)
            .select("p1", "p2")
        )
        e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
        tri = (
            e1.join(e2, F.col("e2.p1") == F.col("e1.p2"))
            .join(
                e3,
                (F.col("e3.p1") == F.col("e1.p1"))
                & (F.col("e3.p2") == F.col("e2.p2")),
            )
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
        n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
        # the 1-row result, materialized so the scope can drop the edges
        return materialize(tri.crossJoin(n_edges))


def _pagerank_oracle(rounds: int) -> str:
    """Unrolled PageRank oracle: one CTE per round, mirroring the engine's
    decimal-quantized contribution sums (each round's recv is an exact
    DECIMAL(25,12) sum of per-edge rank/deg contributions — see _det.py),
    which is exactly what makes an 8-round double-valued fixpoint
    bit-comparable across engines at all."""
    head = """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), half AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), edges AS (
      SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half
    ), deg AS MATERIALIZED (
      SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), nv AS (SELECT COUNT(*) AS n FROM deg
    -- MATERIALIZED: wedges is referenced once per unrolled round, and
    -- DuckDB's default CTE inlining would re-run the co-purchase
    -- self-join behind it 5x
    ), wedges AS MATERIALIZED (
      SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)
    ), r0 AS (
      SELECT src, 1.0 / (SELECT n FROM nv) AS rank FROM deg
    )"""
    rounds_sql = []
    for k in range(1, rounds + 1):
        rounds_sql.append(f""", r{k} AS (
      SELECT v.src,
             0.15 / (SELECT n FROM nv)
               + 0.85 * COALESCE(c.recv, 0.0) AS rank
      FROM deg v LEFT JOIN (
        SELECT w.dst,
               CAST(SUM(CAST(r.rank / w.deg AS DECIMAL(25,12))) AS DOUBLE)
                 AS recv
        FROM wedges w JOIN r{k - 1} r ON w.src = r.src
        GROUP BY w.dst
      ) c ON v.src = c.dst
    )""")
    tail = f"""
    SELECT r.src AS part, round(r.rank, 9) AS rank, d.deg AS deg
    FROM r{rounds} r JOIN deg d USING (src)
    ORDER BY round(r.rank, 9) DESC, part
    LIMIT 20
    """
    return head + "".join(rounds_sql) + tail


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(5),
    tags=("graph", "iterative"),
)
def graph_pagerank(spark, sf_dir):
    """PageRank (5 rounds, d=0.85) over the undirected co-purchase graph —
    'most central part' centrality, the iterative-algorithm complement to
    the connected-components fixpoint. Spark shape: out-degrees computed
    once and joined per round; each round is ONE shuffle (groupBy dst)
    because contributions re-use the edge partitioning; ranks are
    checkpointed every other round so the lineage (and its replay cost)
    stays O(1) instead of O(rounds) — the difference between 5 rounds and
    5! plan nodes at 100 TB. No dangling mass: every vertex of an
    undirected edge list has degree ≥ 1.

    Each round's received mass goes through the DECIMAL quantize-then-sum
    contract (_det.py), so every round's rank vector — and therefore the
    5-round fixpoint — is order-independent and bit-identical to the
    unrolled SQL oracle: an ITERATIVE double-valued algorithm under the
    full hash gate, not a rows-only check."""
    # Clique pairs via ONE fact shuffle (_order_part_pairs); the
    # trailing distinct dedups across orders — same relation as the
    # oracle's DISTINCT self-join.
    with intermediates() as own:
        half = own.persist(_order_part_pairs(spark, sf_dir).distinct())
        edges = half.unionAll(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = own.persist(
            edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        )
        n_v = deg.count()
        # size the loop's partitioning to the MEASURED edge volume (half is
        # already cached by the deg count, so this count is metadata-cheap):
        # a 5-round loop at the session's full width is task-launch-bound
        # when each task holds a few thousand edges (measured 6.4 s → 4.1 s
        # at sf0.01); the session cap still applies as data grows, and on a
        # real cluster the conf itself carries the scale.
        n_shuffle = max(
            8,
            min(
                int(spark.conf.get("spark.sql.shuffle.partitions")),
                (2 * half.count()) // 60000 + 1,
            ),
        )
        # deg is loop-INVARIANT: weight the edge list once (src, dst, deg)
        # instead of re-joining deg inside every round — one join per round
        # saved, and the persisted weighted edges are the only edge-sized
        # state the loop touches. Pinning the persisted copy to hash(src)
        # with the SAME partition count the round agg emits makes every
        # round's rank join exchange-free on BOTH sides: the groupBy("dst")
        # output renamed dst→src keeps its hash(dst)=hash(src) partitioning
        # through the alias, so the only per-round shuffle left is the
        # contribution agg itself.
        wedges = own.persist(
            edges.join(deg, "src")
            .select("src", "dst", "deg")
            .repartition(n_shuffle, "src")
        )
        ranks = deg.select("src", F.lit(1.0 / n_v).alias("rank"))
        for rnd in range(5):
            contribs = (
                wedges.join(ranks, "src")
                .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("dst")
                # decimal quantize-then-sum (_det.py): received mass is exact
                # and order-independent, which is what lets an 8-round double
                # fixpoint carry a bit-exact oracle
                .agg(F.sum(F.col("c").cast("decimal(25,12)")).cast("double").alias("recv"))
            )
            # no node-relation join per round: the edge list is symmetrized
            # and every vertex has degree ≥ 1, so every node appears as a
            # dst and `contribs` already covers the FULL node set — renaming
            # dst→src IS next round's rank vector (one whole node-sized
            # shuffle join per round saved; at 100 TB that join was the
            # second-largest per-round exchange after the contribution agg).
            ranks = contribs.select(
                F.col("dst").alias("src"),
                (F.lit(0.15 / n_v) + 0.85 * F.col("recv")).alias("rank"),
            )
            # truncate lineage every OTHER round: a depth-2 plan replays one
            # extra join on recompute (cheap) while halving the checkpoint
            # materializations — rounds stay O(1) lineage either way.
            if rnd % 2 == 1:
                ranks = own.checkpoint(ranks, eager=False)
        # materialize the top-20 (model-sized): the scope then drops the
        # edge caches and the rank rounds, which nothing returned reads
        return materialize(
            ranks.join(deg, "src")
            .select(
                F.col("src").alias("part"),
                F.round("rank", 9).alias("rank"),
                "deg",
            )
            .orderBy(F.col("rank").desc(), "part")
            .limit(20)
        )


_BFS_SQL = """
    WITH RECURSIVE edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      WHERE a.l_orderkey % 50 = 0
    ),
    walk(node, d) AS (
      SELECT src, 0 FROM edges WHERE src % 97 = 0
      UNION ALL
      SELECT e.dst, w.d + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.d < 3
    )
    SELECT node, MIN(d) AS hops
    FROM walk
    GROUP BY node
    ORDER BY hops, node
"""


@register("graph_bfs_distances", oracle=_BFS_SQL, tags=("graph", "sql", "iterative"))
def graph_bfs_distances(spark, sf_dir):
    """BFS hop distances over the co-purchase graph via RECURSIVE CTE —
    the third iterative-graph primitive beside components (fixpoint) and
    PageRank (power iteration), and the only one both engines can state
    in ONE portable SQL string, which is what makes an ITERATIVE graph
    query hash-checkable. Seeds are parts with key ≤ 10; the walk
    expands frontier-by-frontier with UNION-distinct dedup (bounding
    state at V×depth, never path-enumeration) and a 3-hop cap; min-hop
    per node is the distance. Spark executes each recursion step as a
    DataFrame iteration — the frontier join shuffles on the edge key,
    exactly the components loop's shape, but driven from SQL."""
    register_views(spark, sf_dir)
    return spark.sql(_BFS_SQL)


def _bellman_ford_oracle(rounds: int) -> str:
    """Unrolled weighted-shortest-path oracle (the min-plus sibling of
    _pagerank_oracle): K relaxation rounds over the co-purchase graph
    with edge weight 1/m (m = co-purchase multiplicity). Why the whole
    loop sits under the hash gate with PLAIN doubles: each candidate
    distance is a chain of IEEE adds along one path — identical in both
    engines — and MIN over candidates is exact (no accumulation, unlike
    SUM), so no decimal quantization is even needed."""
    head = """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), half AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS m
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ), wedges AS MATERIALIZED (
      SELECT src, dst, 1.0 / m AS w FROM half WHERE m >= 2
      UNION ALL
      SELECT dst, src, 1.0 / m FROM half WHERE m >= 2
    ), verts AS (
      SELECT DISTINCT src AS v FROM wedges
    ), src0 AS (
      SELECT MIN(v) AS s FROM verts
    ), d0 AS (
      SELECT v, CASE WHEN v = (SELECT s FROM src0)
                     THEN 0.0 ELSE NULL END AS dist
      FROM verts
    )"""
    parts = []
    for k in range(1, rounds + 1):
        # MATERIALIZED: each round references the previous twice, so
        # DuckDB's default CTE inlining re-evaluates the chain 2^k times
        # (17 s of sf0.1 sweep for a 5 s engine query before this pin)
        parts.append(f""", d{k} AS MATERIALIZED (
      SELECT v, MIN(dist) AS dist FROM (
        SELECT v, dist FROM d{k - 1}
        UNION ALL
        SELECT e.dst AS v, d.dist + e.w AS dist
        FROM d{k - 1} d JOIN wedges e ON d.v = e.src
        WHERE d.dist IS NOT NULL
      ) GROUP BY v
    )""")
    tail = f"""
    SELECT v AS part, dist
    FROM d{rounds}
    WHERE dist IS NOT NULL
    ORDER BY dist, part
    LIMIT 100
    """
    return head + "".join(parts) + tail


@register(
    "graph_weighted_shortest_path",
    oracle=_bellman_ford_oracle(4),
    tags=("graph", "iterative"),
)
def graph_weighted_shortest_path(spark, sf_dir):
    """Bellman-Ford weighted shortest paths (4 relaxation rounds) from
    the smallest vertex of the co-purchase graph, edge weight 1/m —
    strongly co-purchased parts are 'closer'. Completes the iterative
    family: PageRank (sum-fixpoint), connected components
    (min-label-fixpoint), BFS (unweighted hops), and now min-PLUS. Spark
    shape: one equi-join + min-agg shuffle per round, frontier rows only
    (dist IS NOT NULL); distances need NO decimal contract because
    min-plus never accumulates across rows — a candidate is one
    add-chain along a path (IEEE-identical in both engines) and MIN is
    exact. localCheckpoint per round keeps lineage O(1)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.distinct()
    a, b = items.alias("a"), items.alias("b")
    half = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= 2)
        .select("src", "dst", (F.lit(1.0) / F.col("m")).alias("w"))
    )
    with intermediates() as own:
        wedges = own.persist(half.unionAll(
            half.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        ))
        verts = wedges.select(F.col("src").alias("v")).distinct()
        s = verts.agg(F.min("v")).first()[0]  # one scalar: the source vertex
        d = verts.select(
            "v",
            F.when(F.col("v") == s, F.lit(0.0)).otherwise(
                F.lit(None).cast("double")
            ).alias("dist"),
        )
        for _ in range(4):
            relaxed = (
                d.filter(F.col("dist").isNotNull())
                .join(wedges, d.v == wedges.src)
                .select(
                    F.col("dst").alias("v"), (F.col("dist") + F.col("w")).alias("dist")
                )
            )
            d = own.checkpoint(
                d.select("v", "dist")
                .unionAll(relaxed)
                .groupBy("v")
                .agg(F.min("dist").alias("dist")),
                eager=False,
            )
        return materialize(
            d.filter(F.col("dist").isNotNull())
            .orderBy("dist", "v")
            .limit(100)
            .select(F.col("v").alias("part"), "dist")
        )


@register(
    "basket_association_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), supp AS (
      SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY l_partkey
    ), tot AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items
    ), pair AS (
      SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
             COUNT(*) AS n_both
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    )
    SELECT antecedent, consequent, n_both,
           sa.n_item AS n_ante, sc.n_item AS n_cons,
           CAST(CAST(n_both AS DOUBLE) / sa.n_item AS FLOAT) AS confidence,
           CAST(CAST(n_both AS DOUBLE) * t.n_orders
                 / (CAST(sa.n_item AS DOUBLE) * sc.n_item) AS FLOAT) AS lift
    FROM pair
    JOIN supp sa ON sa.l_partkey = antecedent
    JOIN supp sc ON sc.l_partkey = consequent
    CROSS JOIN tot t
    ORDER BY lift DESC, confidence DESC, antecedent, consequent
    LIMIT 50
    """,
    tags=("graph", "selfjoin", "analytics"),
)
def basket_association_rules(spark, sf_dir):
    """Association rules (a → b) over the co-purchase baskets: support,
    confidence = P(b|a), lift = P(a,b)/(P(a)·P(b)) — the directional
    step past ``basket_copurchase_pairs`` (pair counting alone can't say
    which item drives the other). This is the 2-itemset core of Apriori;
    min-support 3 prunes the rule set before any ranking.

    Spark shape: distinct items once, then the pair self-join and the
    pair aggregate share one l_orderkey shuffle (bounded by Σ basket²,
    same argument as copurchase); per-item supports are a parts-sized
    relation joined back — Catalyst broadcasts both sides' supports and
    the 1-row total. Top-50 is TakeOrderedAndProject with a full
    deterministic tiebreak, never a global sort. The double division
    happens on exact integer counts, so CAST(… AS FLOAT) is engine-stable."""
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    tot = items.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    a, b = items.alias("a"), items.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("antecedent"),
            F.col("b.l_partkey").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    sa = supp.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_item").alias("n_ante")
    )
    sc = supp.select(
        F.col("l_partkey").alias("consequent"), F.col("n_item").alias("n_cons")
    )
    rules = (
        pair.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_ante",
            "n_cons",
            (
                F.col("n_both").cast("double") / F.col("n_ante")).cast("float").alias("confidence"),
            (
                F.col("n_both").cast("double")
                * F.col("n_orders")
                / (F.col("n_ante").cast("double") * F.col("n_cons"))).cast("float").alias("lift"),
        )
    )
    return rules.orderBy(
        F.col("lift").desc(), F.col("confidence").desc(),
        "antecedent", "consequent",
    ).limit(50)


@register(
    "reco_item2item_cosine",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), freq AS (
      SELECT l_partkey, COUNT(*) AS f FROM items GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS cooc
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ), scored AS (
      SELECT p.part_a, p.part_b, p.cooc,
             CAST(p.cooc AS DOUBLE) / sqrt(CAST(fa.f AS DOUBLE) * fb.f)
               AS cosine
      FROM pairs p
      JOIN freq fa ON fa.l_partkey = p.part_a
      JOIN freq fb ON fb.l_partkey = p.part_b
      WHERE p.cooc >= 2
    )
    SELECT part_a, part_b, cooc, cosine
    FROM scored
    ORDER BY cosine DESC, part_a, part_b
    LIMIT 50
    """,
    tags=("graph", "ml"),
)
def reco_item2item_cosine(spark, sf_dir):
    """Item-to-item collaborative filtering (the Amazon item2item
    formulation): co-occurrence counts normalized to cosine similarity
    cooc/√(f_a·f_b), so prevalence doesn't masquerade as affinity — the
    popularity-corrected twin of basket_copurchase_pairs. A cooc ≥ 2
    support floor drops noise pairs BEFORE the frequency joins.

    Scale: same Σ basket²-bounded self-join as the co-purchase query
    (one l_orderkey shuffle); the item-frequency relation is
    items-sized, broadcast onto the pair aggregate; cosine is exact
    integer counts through one IEEE sqrt+divide; top-50 is
    TakeOrderedAndProject."""
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("cooc"))
        .filter(F.col("cooc") >= 2)
    )
    fa = F.broadcast(freq.select(F.col("l_partkey").alias("part_a"),
                                 F.col("f").alias("fa")))
    fb = F.broadcast(freq.select(F.col("l_partkey").alias("part_b"),
                                 F.col("f").alias("fb")))
    scored = (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .select(
            "part_a",
            "part_b",
            "cooc",
            (
                F.col("cooc").cast("double")
                / F.sqrt(F.col("fa").cast("double") * F.col("fb"))
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), "part_a", "part_b").limit(50)


@register(
    "graph_k_core",
    oracle="""
    WITH sampled AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey % 20 = 0
    ), pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM sampled a JOIN sampled b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), raw_und AS (
      SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ), und AS MATERIALIZED (SELECT DISTINCT u, v FROM raw_und),
    r0 AS MATERIALIZED (SELECT DISTINCT u FROM und), r1 AS MATERIALIZED (SELECT e.u FROM und e JOIN r0 a ON e.u = a.u JOIN r0 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3), r2 AS MATERIALIZED (SELECT e.u FROM und e JOIN r1 a ON e.u = a.u JOIN r1 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3), r3 AS MATERIALIZED (SELECT e.u FROM und e JOIN r2 a ON e.u = a.u JOIN r2 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3), r4 AS MATERIALIZED (SELECT e.u FROM und e JOIN r3 a ON e.u = a.u JOIN r3 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3), r5 AS MATERIALIZED (SELECT e.u FROM und e JOIN r4 a ON e.u = a.u JOIN r4 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3), r6 AS MATERIALIZED (SELECT e.u FROM und e JOIN r5 a ON e.u = a.u JOIN r5 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3), r7 AS MATERIALIZED (SELECT e.u FROM und e JOIN r6 a ON e.u = a.u JOIN r6 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3), r8 AS MATERIALIZED (SELECT e.u FROM und e JOIN r7 a ON e.u = a.u JOIN r7 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3), r9 AS MATERIALIZED (SELECT e.u FROM und e JOIN r8 a ON e.u = a.u JOIN r8 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3), r10 AS MATERIALIZED (SELECT e.u FROM und e JOIN r9 a ON e.u = a.u JOIN r9 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3), r11 AS MATERIALIZED (SELECT e.u FROM und e JOIN r10 a ON e.u = a.u JOIN r10 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3), r12 AS MATERIALIZED (SELECT e.u FROM und e JOIN r11 a ON e.u = a.u JOIN r11 b ON e.v = b.u GROUP BY e.u HAVING COUNT(*) >= 3)
    SELECT e.u AS node, COUNT(*) AS core_degree
    FROM und e
    JOIN r12 a ON e.u = a.u JOIN r12 b ON e.v = b.u
    GROUP BY e.u
    ORDER BY node
""",
    tags=("graph",),
)
def graph_k_core(spark, sf_dir):
    """Maximal 3-core of the co-purchase graph (parts linked when bought
    in the same order, 1-in-20 order sample) — the density filter
    community detection and fraud pipelines run before expensive per-
    community work. The engine peels iteratively to a CHECKED fixpoint
    (operators/graph.py:k_core): per round one alive-set semi-join per
    endpoint + a degree aggregate, state one row per alive node; the
    iteration cap RAISES rather than returning a partial peel. The
    oracle unrolls 12 monotone peel rounds - extra rounds past the
    fixpoint are no-ops, so engine/oracle equality is exact whenever the
    engine converges, and non-convergence is an error, never data luck.
    Output: every core member with its within-core degree."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 20 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    return G.k_core(pairs, k=3).orderBy("node")


@register(
    "graph_link_prediction_jaccard",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey % 10 = 0
    ),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM pairs GROUP BY u),
    two_hop AS (
      SELECT e1.u AS a, e2.v AS c, CAST(COUNT(*) AS BIGINT) AS common
      FROM pairs e1 JOIN pairs e2 ON e1.v = e2.u
      WHERE e1.u < e2.v
      GROUP BY e1.u, e2.v
    ),
    candidates AS (
      SELECT t.a, t.c, t.common
      FROM two_hop t LEFT JOIN pairs p ON t.a = p.u AND t.c = p.v
      WHERE p.u IS NULL AND t.common >= 2
    ),
    scored AS (
      SELECT cd.a, cd.c, cd.common,
             CAST(CAST(cd.common AS DOUBLE)
                   / (da.d + dc.d - cd.common) AS FLOAT) AS jaccard
      FROM candidates cd
      JOIN deg da ON cd.a = da.u
      JOIN deg dc ON cd.c = dc.u
    )
    SELECT a, c, common, jaccard
    FROM scored
    ORDER BY jaccard DESC, a, c
    LIMIT 20
    """,
    tags=("graph", "link-prediction"),
)
def graph_link_prediction_jaccard(spark, sf_dir):
    """Link prediction by neighbor-set Jaccard (Liben-Nowell & Kleinberg,
    CIKM'03): for part pairs NOT yet co-purchased, score the overlap of
    their co-purchase neighborhoods — the "customers also bought"
    candidate generator. Candidates come from the 2-HOP join (pairs with
    >= 2 common neighbors), never from all-pairs; the known-edge
    anti-join removes existing links; degrees join back for the Jaccard
    denominator. All counts are integers; one rounded division; ties
    break on part keys.

    Spark shape: the same Σ basket²-bounded pair relation as
    `basket_copurchase_pairs`, a middle-node equi-join for 2-hops (cost
    Σ deg² — the triangle-counting bound), and TakeOrderedAndProject for
    the top-20."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = pairs.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    e1 = pairs.select(F.col("u").alias("a"), F.col("v").alias("mid"))
    e2 = pairs.select(F.col("u").alias("mid"), F.col("v").alias("c"))
    two_hop = (
        e1.join(e2, "mid")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    candidates = two_hop.join(
        pairs.select(F.col("u").alias("a"), F.col("v").alias("c")),
        ["a", "c"],
        "left_anti",
    ).filter(F.col("common") >= 2)
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    dc = deg.select(F.col("u").alias("c"), F.col("d").alias("dc"))
    return (
        candidates.join(da, "a")
        .join(dc, "c")
        .select(
            "a",
            "c",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("da") + F.col("dc") - F.col("common"))).cast("float").alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "a", "c")
        .limit(20)
    )
