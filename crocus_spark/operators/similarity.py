"""Similarity search over embedding columns — SURVEY.md §2B #55 and the
driver north star: brute-force cosine top-k as the exact baseline, a
random-hyperplane LSH bucketed variant as the scale path, and embedding
cosine near-dup pairs.

Vector math stays in built-in higher-order functions (zip_with/aggregate) —
JVM-side, no UDF serde — except on the hot paths, which run as Arrow
stages (``arrow_udf``, ``mapInArrow``) and move every vector column
through the one codec in ``operators/vectors.py``. The LSH plane matrix
is a seeded literal: tiny, deterministic, broadcast by construction.

Published foundations (public literature): random-hyperplane LSH is
Charikar (STOC'02); multiprobe is Lv et al., "Multi-Probe LSH" (VLDB'07);
the IVF (inverted-file + coarse quantizer, nprobe search) design follows
Jégou et al., "Product Quantization for Nearest Neighbor Search"
(TPAMI'11) §IV-A, flat (unquantized) residuals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from crocus_spark.io import local_df
from crocus_spark.operators import cell_store
from crocus_spark.operators.vectors import codes_column, codes_matrix, column, matrix


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns via
    zip_with + fold — sequential accumulation, deterministic, identical to
    DuckDB's list_cosine_similarity on double-cast inputs."""
    prod = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return prod / (na * nb)


@F.arrow_udf(T.DoubleType())
def cosine_batch(a, b):
    """Arrow-batched cosine, BIT-IDENTICAL to the ``cosine`` fold: the
    accumulation loops over *dimensions* with numpy elementwise float64
    ops, so each row's sum is the same left-to-right IEEE sequence as the
    JVM fold (and DuckDB's sequential loop) while the batch vectorizes
    across rows. This is the pair-scoring hot path: the declarative
    zip_with/aggregate form runs in Spark's interpreted HOF evaluator
    (measured 60s for 2M pairs at sf0.1; this UDF: ~1s). Fixed-dim
    vectors assumed (the embeddings contract)."""
    import numpy as np
    import pyarrow as pa

    A, B = matrix(a, "a"), matrix(b, "b")
    dot = np.zeros(A.shape[0])
    na = np.zeros(A.shape[0])
    nb = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        x, y = A[:, i], B[:, i]
        dot = dot + x * y
        na = na + x * x
        nb = nb + y * y
    return pa.array(dot / (np.sqrt(na) * np.sqrt(nb)))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k (§2B#55 baseline): broadcast the (small) query
    set against the corpus, score every pair, window top-k per query.

    Scale shape: cost is |queries|·|corpus| scored JVM-side with no
    shuffle of the corpus (queries broadcast); the top-k window partitions
    by query. This is the correct exact plan when queries ≪ corpus — the
    common batch-ANN-evaluation layout. For corpus×corpus use the LSH path.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    return _exact_topk(c.crossJoin(F.broadcast(q)), k)


def _cosine_ranked(pairs: DataFrame) -> DataFrame:
    """``pairs`` (query_id, neighbor_id, q_vec, c_vec, …) plus the exact
    ``cos`` (brute-force rounding contract) and its per-query ``rank``
    (cos desc, ties to the lower neighbor id) — the one re-rank every
    serve in this module ends with."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return pairs.withColumn(
        "cos", F.round(cosine_batch(F.col("q_vec"), F.col("c_vec")), 6)
    ).withColumn("rank", F.row_number().over(w))


def _exact_topk(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cos, rank) for the ``k`` best of
    ``pairs`` per query (see ``_cosine_ranked``)."""
    return (
        _cosine_ranked(pairs)
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, table: int, seed: int = 42):
    """Seeded random hyperplane matrix as Python literals (deterministic)."""
    import random

    rnd = random.Random(seed * 1000 + table)
    return [
        [rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k via multiprobe random-hyperplane LSH (§2B#55
    scale path).

    n_tables independent n_planes-bit signatures; a candidate is any corpus
    vector whose bucket is within ``probe_hamming`` bit flips of the
    query's bucket in ≥1 table (multiprobe: the query probes its own bucket
    plus each 1-bit-flipped neighbor — recall of many tables at the storage
    cost of one). Candidates are scored exactly and top-k'd. Equi-join on
    (table, bucket) — the corpus is hash-partitioned by bucket, never
    cross-joined; only query rows are replicated (1 + n_planes per table),
    and queries ≪ corpus. Recall is tunable (property-tested against brute
    force); precision is 1.0 because scoring is exact.

    Defaults are tuned for near-orthogonal embeddings (true-neighbor
    cosine ≈ 0.35 ⇒ per-bit agreement ≈ 0.61): 4 planes × 8 tables ×
    radius-1 probing ⇒ expected recall ≈ 0.99. Denser corpora at scale
    raise n_planes ∝ log(n) to keep buckets bounded.

    At 100 TB: corpus signatures are precomputed once and bucket-bucketed
    at rest; per-query work is |bucket|·n_tables·(1+n_planes) scorings. An
    IVF variant (k-means centroids + nprobe) drops in behind the same
    contract.

    All n_tables signatures come from ONE Arrow-batched matmul per scan
    (vectors × the (n_tables·n_planes, dim) plane matrix) followed by a
    posexplode — one pass over the corpus. The r1 form unioned n_tables
    separate scans, each evaluating n_planes interpreted HOF folds per
    row: 8× the scan work and a 32-fold expression tree (measured 10 s →
    ~3 s at sf0.01 for the same buckets).
    """
    import numpy as np

    planes = np.array(
        [_hyperplanes(dim, n_planes, t, seed) for t in range(n_tables)],
        dtype=np.float64,
    ).reshape(n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.arrow_udf(T.ArrayType(T.LongType()))
    def all_sigs(v):
        V = matrix(v, vec_col)  # (B, dim)
        bits = (V @ planes.T > 0).reshape(len(V), n_tables, n_planes)
        return column((bits * weights).sum(-1).astype(np.int64))  # (B, n_tables)

    def with_buckets(df, prefix, probe):
        base = df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_vec"),
            F.posexplode(all_sigs(F.col(vec_col))).alias("table", "sig"),
        )
        if probe and probe_hamming >= 1:
            bucket = F.explode(
                F.array(
                    F.col("sig"),
                    *[
                        F.col("sig").bitwiseXOR(F.lit(1 << i))
                        for i in range(n_planes)
                    ],
                )
            ).alias("bucket")
        else:
            bucket = F.col("sig").alias("bucket")
        return base.select(
            f"{prefix}_id", f"{prefix}_vec", "table", bucket
        )

    qb = with_buckets(queries, "q", probe=True)
    cb = with_buckets(corpus, "c", probe=False)
    candidates = (
        qb.join(cb, ["table", "bucket"])
        .dropDuplicates(["q_id", "c_id"])
        .select(
            F.col("q_id").alias("query_id"),
            "q_vec",
            F.col("c_id").alias("neighbor_id"),
            "c_vec",
        )
    )
    return _exact_topk(candidates, k)


def _norm_vec(c: Column) -> Column:
    """L2-normalize an array<float> column to array<double> (unit length),
    so cosine reduces to a dot product."""
    n = F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return F.transform(c, lambda x: x.cast("double") / n)


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns (sequential fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@F.arrow_udf(T.DoubleType())
def dot_batch(a, b):
    """Arrow-batched dot product, bit-identical to the ``_dot`` fold: the
    dimension loop keeps each row's left-to-right IEEE accumulation order
    while numpy vectorizes across rows (same rationale as cosine_batch —
    the fold is interpreted per element)."""
    import numpy as np
    import pyarrow as pa

    A, B = matrix(a, "a"), matrix(b, "b")
    dot = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        dot = dot + A[:, i] * B[:, i]
    return pa.array(dot)


def collect_centroid_model(centroids: DataFrame):
    """Collect the fitted (cell, centroid) relation into a dense cell
    list + k×dim float64 matrix. The collect is MODEL-sized (k·dim
    doubles — bytes to kilobytes), the same serving layout FAISS and
    MLlib KMeans use; it is never on a data-sized path."""
    import numpy as np

    t = centroids.toArrow().sort_by("cell")
    cells = t["cell"].to_numpy().astype(np.int32)
    return cells, matrix(t["centroid"], "centroid")


def _centroid_df(spark, cells, mat) -> DataFrame:
    """(cell, centroid) DataFrame rebuilt from the collected model —
    plan-time literal rows, so referencing it never re-runs the fit."""
    import pyarrow as pa

    cells = pa.array(cells, pa.int32())
    return local_df(spark, pa.table({"cell": cells, "centroid": column(mat)}))


def _unit_rows(V):
    """L2-normalize the rows of a float64 batch replaying
    ``_norm_vec``'s fold bit for bit: acc + x·x per dim in index
    order, sqrt, per-component divide."""
    import numpy as np

    acc = np.zeros(V.shape[0])
    for i in range(V.shape[1]):
        x = V[:, i]
        acc = acc + x * x
    return V / np.sqrt(acc)[:, None]


def _nearest_cells(V, cells, mat):
    """Nearest-centroid cell per row of ``V``: each (row, centroid) dot
    accumulates dim by dim in ``dot_batch``'s order, and ``np.argmax``'s
    first-max rule over ascending cell ids is the lowest-cell tie rule."""
    import numpy as np

    D = np.zeros((V.shape[0], mat.shape[0]))
    for i in range(V.shape[1]):
        D = D + V[:, i : i + 1] * mat[None, :, i]
    return cells[np.argmax(D, axis=1)]


def assign_cells_projection(
    vectors: DataFrame, cells, mat, normalize: bool = False
) -> DataFrame:
    """Shuffle-free nearest-centroid assignment: the k×dim model rides
    into a map-side Arrow UDF as a closure (Spark broadcasts the
    serialized task), so assignment is a pure projection — the corpus is
    never shuffled or replicated k× the way the crossJoin+groupBy argmax
    does. At 100 TB this removes a full corpus exchange per assignment,
    the single biggest avoidable cost in IVF indexing.

    ``normalize=True`` L2-normalizes the input vectors INSIDE the Arrow
    batch before the dot loop, replaying ``_norm_vec``'s left-to-right
    IEEE fold (acc + x·x per dim, sqrt, per-component divide)
    bit-for-bit — callers that only need the CELL no longer pay the
    interpreted higher-order ``_norm_vec`` lambda over the whole corpus
    (seconds per million rows; the r4-measured cold-probe wall).

    Tie rule: the dimension loop accumulates each (vector, centroid)
    dot in the same left-to-right IEEE order as ``dot_batch``, and
    ``np.argmax``'s first-max rule over ascending cell ids gives the
    max-dot / lowest-cell tie rule."""
    import numpy as np
    import pyarrow as pa

    @F.arrow_udf(T.IntegerType())
    def best_cell(v):
        V = matrix(v, "v")
        if normalize:
            V = _unit_rows(V)
        return pa.array(_nearest_cells(V, cells, mat).astype(np.int32))

    # asNondeterministic (guide §4.4 pattern): downstream equi-joins on
    # "cell" push an IsNotNull(cell) filter below the projection, and the
    # optimizer then evaluates this UDF TWICE per corpus row (one
    # ArrowEvalPython under the pushed filter, one for the output column
    # — observed in the ann_ivf_topk physical plan). The function is in
    # fact pure, but the deterministic contract is what licenses the
    # duplication; withholding it pins exactly one evaluation. The
    # assignment can never be NULL, so the blocked IsNotNull prune was
    # dead weight anyway.
    best_cell = best_cell.asNondeterministic()

    return vectors.withColumn("cell", best_cell(F.col("v")))


def assign_and_normalize(vectors: DataFrame, cells, mat) -> DataFrame:
    """One Arrow pass emitting (cell, v) where v is the L2-NORMALIZED
    double vector and cell its nearest centroid — the fit-loop
    counterpart of ``assign_cells_projection(normalize=True)`` for
    consumers that need the normalized components THEMSELVES (the
    per-cell decimal mean recompute). Normalization replays
    ``_norm_vec``'s left-to-right fold (acc + x·x per dim, sqrt,
    per-component divide) and the dot loop replays ``dot_batch``'s
    order, so every emitted double is bit-identical to the interpreted
    lambda + projection pair it replaces."""
    import numpy as np
    import pyarrow as pa

    def fn(batches):
        for b in batches:
            V = _unit_rows(matrix(b.column("v"), "v"))
            cell = _nearest_cells(V, cells, mat).astype(np.int32)
            yield pa.RecordBatch.from_pydict({"cell": cell, "v": column(V)})

    return vectors.mapInArrow(fn, "cell int, v array<double>")


def ivf_fit_centroids(
    corpus: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 1,
    dim: int | None = None,
    seed_hash=None,
) -> DataFrame:
    """Deterministic IVF centroid fit (spherical k-means).

    Seeds = the ``n_cells`` corpus vectors with the smallest xxhash64(id)
    — a seedless deterministic pseudo-random sample, stable across
    partitionings. ``seed_hash`` overrides the sampling hash (a Column
    function over the id column): pass ``dedup.portable_hash60`` over a
    string cast when the whole fit must be replayable in an external
    SQL oracle (xxhash64 has no DuckDB twin; the md5-based hash does —
    the ``dq_ann_recall_probe`` monitor uses this). Either way the
    sample is uniform-ish and content-keyed; the hash choice never
    changes the algorithm, only cross-engine replayability.
    Each Lloyd iteration collects the MODEL (k×dim
    doubles — the MLlib-KMeans layout; never data-sized), assigns cells
    as a shuffle-free map-side projection, then recomputes per-cell means
    with the decimal accumulation contract (queries/_det.py) so centroid
    components are bit-identical at any parallelism. Per iteration the
    corpus is read once and shuffled never; the only exchange carries
    cells × dims of aggregate state — model-sized."""
    raw = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    # distributed top-n (TakeOrderedAndProject — per-partition partial
    # top-n, merge of n_cells rows), NOT a global row_number window, which
    # would funnel the whole corpus through one task. Normalization
    # happens AFTER the limit (n_cells rows) — the corpus-wide
    # interpreted _norm_vec lambda was most of the cold fit's wall.
    hash_fn = seed_hash if seed_hash is not None else F.xxhash64
    seeds = raw.orderBy(hash_fn(F.col("id")), F.col("id")).limit(n_cells)
    centroids = (
        # re-key seeds by id order so cell numbering is hash-independent;
        # the window spans only the n_cells seed rows
        seeds.withColumn(
            "cell", (F.row_number().over(Window.orderBy("id")) - 1).cast("int")
        ).select("cell", _norm_vec(F.col("v")).alias("centroid"))
    )
    for _ in range(lloyd_iters):
        # model-sized collect per iteration (MLlib-KMeans-style), so the
        # assignment is a map-side projection, not a corpus shuffle;
        # one Arrow pass emits (cell, normalized v) — numpy replays
        # _norm_vec's fold bit-for-bit (see assign_and_normalize)
        assigned = assign_and_normalize(
            raw, *collect_centroid_model(centroids)
        )
        if dim is not None:
            # dim known up front: ONE aggregation with dim per-component
            # decimal sums (map-side partials, cells × dim state) replaces
            # the posexplode → groupBy(cell, dim) → groupBy(cell) pair —
            # same values (exact decimal sums, same rounding), one shuffle
            # instead of two, and no corpus × dim intermediate relation.
            # Built as ONE parsed SQL string: dim×4 py4j Column calls cost
            # ~0.5 s of driver time per plan build at dim=64.
            comps = ",".join(
                "round(cast(sum(cast(element_at(v, {i}) as decimal(25,12)))"
                " as double) / count(1), 9)".format(i=i + 1)
                for i in range(dim)
            )
            unnormed = assigned.groupBy("cell").agg(
                F.expr(f"array({comps})").alias("mv")
            )
        else:
            means = (
                assigned.select("cell", F.posexplode("v").alias("dim", "x"))
                .groupBy("cell", "dim")
                .agg(
                    F.round(
                        F.sum(F.col("x").cast("decimal(25,12)")).cast("double")
                        / F.count(F.lit(1)),
                        9,
                    ).alias("m")
                )
            )
            unnormed = means.groupBy("cell").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s.m,
                ).alias("mv")
            )
        centroids = unnormed.select(
            "cell", _norm_vec(F.col("mv")).alias("centroid")
        )
    return centroids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 4,
    lloyd_iters: int = 1,
    dim: int | None = None,
    model: tuple | None = None,
) -> DataFrame:
    """Approximate top-k via IVF-Flat (§2B#55, the inverted-file scale
    path complementing ``lsh_bucketed_topk``).

    ``model``: an optional prefitted ``(cells, mat)`` pair from
    ``collect_centroid_model`` — the FAISS serve-from-index shape. When
    given, the (scan-heavy) centroid fit is skipped entirely and the
    call is probe-only; a production deployment fits once and serves
    many, so the headline query memoizes the model per corpus path.

    Index: every corpus vector lands in exactly one cell (nearest
    centroid). Search: each query probes only its ``nprobe`` nearest
    cells; candidates are scored exactly (cosine, same rounding contract
    as brute force) and top-k'd. nprobe = n_cells degrades to exact brute
    force — the property the tests pin.

    Scale shape: the corpus partitions cleanly by cell (at rest:
    ``partitionBy("cell")``, so a probe reads nprobe/n_cells of the
    data); queries replicate nprobe× and equi-join on cell — never an
    unbounded cross join. The centroid relation is cells-sized and
    broadcast everywhere it appears, and assignment is a map-side
    projection against the collected k×dim model (model-sized driver
    state, FAISS-style — n_cells can still grow to √n). Recall is
    tunable with nprobe; precision is 1.0 because re-scoring is exact.
    """
    # materialize the fitted model ONCE as the collected k×dim matrix;
    # the (cells-sized) centroid DataFrame the probe ranking needs is
    # rebuilt from the collected rows, so no downstream reference can
    # re-run the fit lineage and no checkpoint state lingers.
    model = model if model is not None else collect_centroid_model(
        ivf_fit_centroids(corpus, n_cells, id_col, vec_col, lloyd_iters, dim=dim)
    )
    # cell assignment as a projection ON the corpus scan itself — no
    # corpus self-join, no shuffle; the raw vector stays alongside for
    # exact re-scoring. Normalization happens inside the Arrow batch
    # (normalize=True): the corpus-wide interpreted _norm_vec lambda
    # was this probe path's single biggest cost, and its result was
    # immediately dropped.
    c = _ivf_encoded(corpus, model, id_col, vec_col)
    probes = _probes(queries, model, id_col, vec_col, nprobe).select(
        "query_id", "q_vec", "cell"
    )
    # probes is (queries × nprobe) rows — tiny by the module's standing
    # queries ≪ corpus contract. The explicit broadcast keeps the corpus
    # from ever shuffling on cell for this join (and skips AQE's
    # stage-materialization round-trip that reaches the same plan).
    return _exact_topk(c.join(F.broadcast(probes), "cell"), k)


def _ivf_encoded(corpus: DataFrame, model, id_col: str, vec_col: str,
                 attr_cols=()) -> DataFrame:
    """(neighbor_id, c_vec raw, [attrs...,] cell): the IVF store rows —
    cell is the nearest frozen centroid of the normalized vector, one
    map-side Arrow projection (``assign_cells_projection``)."""
    cells, mat = model
    return assign_cells_projection(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            *[F.col(c) for c in attr_cols],
            F.col(vec_col).alias("v"),
        ),
        cells,
        mat,
        normalize=True,
    ).drop("v")


def _probes(queries: DataFrame, model, id_col: str, vec_col: str,
            nprobe: int | None = None) -> DataFrame:
    """(query_id, q_vec, qn, cell, probe_rank, …): every cell of the
    ``(cells, mat)`` model ranked per query by centroid dot, ties to
    the lower cell — the one probe order of ``ivf_topk``, the at-rest
    serves and the filtered serves — or, with ``nprobe``, each query's
    top-``nprobe`` cells. The centroid relation is cells-sized and
    broadcast."""
    centroids = _centroid_df(queries.sparkSession, *model)
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("q_dot"), F.col("cell")
    )
    ranked = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            _norm_vec(F.col(vec_col)).alias("qn"),
        )
        .crossJoin(F.broadcast(centroids))
        .withColumn("q_dot", dot_batch(F.col("qn"), F.col("centroid")))
        .withColumn("probe_rank", F.row_number().over(w_probe))
    )
    if nprobe is None:
        return ranked
    return ranked.filter(F.col("probe_rank") <= nprobe)


def label_centroids(
    corpus: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 9,
) -> DataFrame:
    """(label, centroid array<double>): per-label mean vector, computed
    distributed via posexplode → groupBy(label, dim) → exact decimal mean
    → re-assembled in dim order. The decimal accumulation (same contract
    as queries/_det.py) plus a 9-digit round makes centroid components
    bit-identical across engines and cluster layouts. The shuffle carries
    (labels × dims) cells — model-sized, never data-sized."""
    dims = corpus.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("dim", "x"),
    )
    means = dims.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("x").cast("double").cast("decimal(25,12)")).cast("double")
            / F.count(F.lit(1)),
            round_digits,
        ).alias("m")
    )
    return means.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s.m
        ).alias("centroid")
    )


def centroid_classify(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid classification over the embedding column: assign
    each query the label of the max-cosine per-label mean (Rocchio
    classifier). Centroids are a labels-sized relation — crossJoin +
    broadcast by size; ties break to the lowest label, deterministically.
    At 100 TB only the posexplode mean pass touches the corpus."""
    cents = label_centroids(corpus, label_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "cos", F.round(cosine(F.col("qv"), F.col("centroid")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "cos")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs against a BOUNDED probe set.

    An exact cosine θ-join over dense vectors at a low threshold is
    inherently Ω(n·m): no deterministic blocking prunes dense 64-dim
    pairs without losing recall (LSH/MinHash — registered separately —
    are the approximate at-scale paths for the unbounded case). The exact
    form this operator keeps is therefore the *probe-semijoin* shape: a
    bounded probe relation is broadcast against the corpus, which streams
    through the scorer exactly once — linear in corpus size, the same
    shape as brute-force ANN. ``probe`` MUST be bounded (queries ≪
    corpus, this module's standing contract); passing ``None`` scores
    ``df`` against itself and is test-scale only.

    The corpus side is repartitioned to the session's parallelism: the
    fixture parquet is a single row group (one input split), and without
    the spread all scoring would run in one task (measured 2.5×).

    With a probe set, the probe MATRIX is collected (model-sized by the
    bounded-probe contract — m×d floats, same class as the IVF centroid
    model) and shipped in the UDF closure, so the Arrow boundary carries
    the corpus ONCE plus the scored pairs — NOT both vectors
    materialized per pair, which at m probes multiplies corpus bytes by
    m through the serializer (measured: the pair-row form shipped ~100MB
    for a 1MB corpus at sf0.01 and was this query's entire wall). The
    accumulation loops dimensions in index order with float64
    elementwise ops — the same left-to-right IEEE sequence as
    cosine_batch and DuckDB's loop, so scores are bit-identical."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if probe is None:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = df.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
        ).repartition(par)
        pairs = b.join(F.broadcast(a), F.col("id_a") < F.col("id_b"))
        return (
            pairs.withColumn(
                "cos", F.round(cosine_batch(F.col("va"), F.col("vb")), 6)
            )
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos")
        )

    import numpy as np
    import pyarrow as pa

    probe_t = probe.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).toArrow()  # bounded probe contract: m×d — model-sized
    if not probe_t.num_rows:
        # empty probe set: the scorer would see a (0, 0) probe matrix —
        # return the empty result the old join-based path produced.
        return local_df(df.sparkSession, [], "id_a long, id_b long, cos double")
    p_ids = probe_t["id"].to_numpy().astype(np.int64)
    P = matrix(probe_t["v"], vec_col)

    def score(batches):
        # probe norms in the same dim order as the pair fold
        nb = np.zeros(P.shape[0])
        for i in range(P.shape[1]):
            y = P[:, i]
            nb = nb + y * y
        sq_nb = np.sqrt(nb)
        for b in batches:
            c_ids = b.column("id_b").to_numpy().astype(np.int64)
            C = matrix(b.column("vb"), vec_col)
            dot = np.zeros((C.shape[0], P.shape[0]))
            na = np.zeros(C.shape[0])
            for i in range(C.shape[1]):
                x = C[:, i]
                dot = dot + np.outer(x, P[:, i])
                na = na + x * x
            cos = dot / (np.sqrt(na)[:, None] * sq_nb[None, :])
            keep = p_ids[None, :] < c_ids[:, None]
            ci, pi = np.nonzero(keep)
            yield pa.RecordBatch.from_pydict(
                {"id_a": p_ids[pi], "id_b": c_ids[ci], "cos_raw": cos[ci, pi]}
            )

    corpus = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    ).repartition(par)
    scored = corpus.mapInArrow(
        score, "id_a long, id_b long, cos_raw double"
    )
    return (
        scored.withColumn("cos", F.round(F.col("cos_raw"), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------------


def pq_fit_codebook(
    corpus: DataFrame,
    m: int = 16,
    ksub: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 256,
    iters: int = 5,
):
    """Per-subspace k-means codebook, trained on a deterministic sample.

    PQ codebooks are model-sized (m·ksub·(d/m) floats — KBs) and are
    trained on a bounded sample even in production systems (FAISS trains
    on ~100k vectors regardless of corpus size), so unlike the IVF fit —
    which is fully declarative — this deliberately collects a
    hash-ordered sample (stable across partitionings) and runs seeded
    Lloyd iterations in numpy on the driver. Returns (m, ksub, d/m)
    float64 ndarray; broadcast it to the encode/scan UDFs.
    """
    import numpy as np

    sample = (
        corpus.select(
            F.col(id_col).alias("id"), _norm_vec(F.col(vec_col)).alias("v")
        )
        .orderBy(F.xxhash64(F.col("id")), F.col("id"))
        .limit(sample_n)
    )
    X = matrix(sample.toArrow()["v"], "v")
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    codebook = np.zeros((m, ksub, ds))
    for s in range(m):
        sub = X[:, s * ds : (s + 1) * ds]
        cent = sub[: min(ksub, len(sub))].copy()
        if len(cent) < ksub:  # degenerate tiny corpus: pad by repeat
            cent = np.resize(cent, (ksub, ds))
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(ksub):
                pts = sub[assign == c]
                if len(pts):
                    cent[c] = pts.mean(0)
        codebook[s] = cent
    return codebook


def pq_topk(
    spark,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 16,
    ksub: int = 32,
    refine: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via PQ codes + ADC scan + exact re-rank.

    Encode: each normalized corpus vector compresses to ``m`` one-byte
    codes (nearest per-subspace centroid) — 64 float32 dims become 8
    bytes, a 32× memory cut, which is what lets a 100 TB embedding corpus
    sit scan-resident. Search: per query, an (m × ksub) lookup table of
    subspace dots is built once; the Arrow-batched scan then scores every
    row with m table lookups instead of d multiplies (ADC). The top
    ``refine`` ADC candidates per query are re-scored EXACTLY against the
    raw vectors (same cosine/rounding contract as brute force), so
    precision of returned scores is 1.0 and PQ error only affects which
    candidates reach the re-rank — recall is property-tested and tunable
    via refine/ksub. Queries collect to the driver for LUT construction
    (queries ≪ corpus is this module's standing contract; the corpus
    itself never leaves the executors).
    """
    codebook = pq_fit_codebook(
        corpus, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col
    )
    q_ids, Q = _normed_queries(queries, id_col, vec_col)
    normed = corpus.select(
        F.col(id_col).alias("neighbor_id"), _norm_vec(F.col(vec_col)).alias("v")
    )
    candidates = _adc_candidates(
        spark, normed, q_ids, Q, codebook, refine, encode=True
    )
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    return _rerank(candidates, c_vecs, queries, k, id_col, vec_col)


def _normed_queries(queries: DataFrame, id_col: str, vec_col: str):
    """(query ids, unit-vector matrix) of the bounded query set, in id
    order — collected for LUT construction (queries ≪ corpus)."""
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), _norm_vec(F.col(vec_col)).alias("qn")
        )
        .orderBy("query_id")
        .toArrow()
    )
    return q["query_id"].to_pylist(), matrix(q["qn"], "qn")


def _adc_candidates(spark, scan: DataFrame, q_ids, Q, codebook, refine: int,
                    encode: bool = False, cells_of_q=None) -> DataFrame:
    """(query_id, neighbor_id) of the top ``refine`` ADC scores per
    query — the scan ``pq_topk``, ``pq_topk_at_rest`` and
    ``ivfpq_topk_at_rest`` share. A (q, m, ksub) lookup table of
    subspace dots is built once from the unit query rows ``Q``; the
    Arrow-batched scan then scores every row with m table lookups
    instead of d multiplies. ``scan`` carries neighbor_id plus either
    the stored ``code`` bytes or, with ``encode=True``, the normalized
    vector ``v`` to encode on the fly; with ``cells_of_q`` (query id →
    its probed cells) it also carries ``cell`` and each query scores
    only its own probed cells (a vectorized ``np.isin`` mask)."""
    import numpy as np
    import pyarrow as pa

    m, _ksub, ds = codebook.shape
    lut = np.einsum("qsd,skd->qsk", Q.reshape(len(q_ids), m, ds), codebook)
    bc = spark.sparkContext.broadcast(
        (q_ids, lut, codebook if encode else None, cells_of_q)
    )

    def adc_scan(batches):
        ids, lut_v, cb, cq = bc.value
        rng = np.arange(m)
        for b in batches:
            if cb is not None:
                codes = pq_encode_batch(matrix(b.column("v"), "v"), cb)
            else:
                codes = codes_matrix(b.column("code"), m)
            nid = b.column("neighbor_id").to_numpy().astype(np.int64)
            out_id, out_q, out_adc = [], [], []
            for qi, qid in enumerate(ids):
                if cq is None:
                    sel = slice(None)
                else:
                    sel = np.isin(b.column("cell").to_numpy(), cq.get(qid, []))
                    if not sel.any():
                        continue
                sub = codes[sel]
                out_id.append(nid[sel])
                out_q.append(np.full(sub.shape[0], qid, dtype=np.int64))
                out_adc.append(lut_v[qi][rng, sub].sum(1))
            if not out_id:
                continue
            yield pa.RecordBatch.from_pydict({
                "neighbor_id": np.concatenate(out_id),
                "query_id": np.concatenate(out_q),
                "adc": np.concatenate(out_adc),
            })

    scanned = scan.mapInArrow(
        adc_scan, schema="neighbor_id long, query_id long, adc double"
    )
    w_c = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id")
    )
    return (
        scanned.withColumn("crank", F.row_number().over(w_c))
        .filter(F.col("crank") <= refine)
        .select("query_id", "neighbor_id")
    )


def _rerank(candidates: DataFrame, c_vecs: DataFrame, queries: DataFrame,
            k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact re-rank of ADC candidates: only refine·|queries| rows join
    back to the raw vectors ``c_vecs`` (neighbor_id, c_vec)."""
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    return _exact_topk(
        candidates.join(c_vecs, "neighbor_id").join(
            F.broadcast(q_vecs), "query_id"
        ),
        k,
    )


def ivf_topk_at_rest(
    spark,
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 4,
    dim: int | None = None,
    model: tuple | None = None,
    reuse_store: bool = False,
) -> DataFrame:
    """IVF serving from a CELL-PARTITIONED store — the at-rest layout the
    in-memory ``ivf_topk`` docstring promises, made concrete: the indexed
    corpus is written ``partitionBy("cell")`` and the probe read carries a
    ``cell IN (...)`` predicate, so the scan opens only the probed cells'
    directories (PartitionFilters — asserted in tests/test_plans.py).
    nprobe/n_cells is thus a *bytes-read* fraction, not just a
    candidate-count fraction — the property that makes IVF pay at 100 TB.

    Same centroids, probes, scoring, and tie rules as ``ivf_topk``; the
    two must return identical rows (pinned in tests/test_llm.py). The
    probe rows are collected ONCE — ≤ |queries| × nprobe (query, vector,
    cell) rows, query-sized — because a partition-pruning predicate must
    be a literal at plan time; the same rows become the broadcast side.

    ``model`` is an optional prefitted ``(cells, mat)`` pair (the same
    shape ``ivf_topk`` takes); ``reuse_store=True`` skips the index
    write when the store is already committed (``_SUCCESS`` present) —
    the caller owns invalidation, e.g. by keying ``path`` on a corpus
    content fingerprint. Together they make repeat calls probe-only:
    index build is a one-time cost in production serving.
    """
    import os as _os

    model = model if model is not None else collect_centroid_model(
        ivf_fit_centroids(corpus, n_cells, id_col, vec_col, dim=dim)
    )
    if not (reuse_store and _os.path.exists(_os.path.join(path, "_SUCCESS"))):
        _ivf_build(corpus, path, model, id_col, vec_col)

    # one evaluation of the probe ranking (it runs a dot_batch Python
    # stage) serves both the pruning literal and the broadcast side
    plist = (
        _probes(queries, model, id_col, vec_col, nprobe)
        .select("query_id", "q_vec", "cell")
        .toArrow()
    )
    probe_cells = sorted(set(plist["cell"].to_pylist()))
    probes = local_df(spark, plist)  # the collected types, as they came
    back = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    return _exact_topk(back.join(F.broadcast(probes), "cell"), k)


# ---------------------------------------------------------------------------
# Incremental IVF maintenance (r9): the at-rest cell store follows the
# table. The centroid MODEL is frozen between refits (the production
# IVF pattern: continuous upsert, periodic refit); with a frozen model
# cell assignment is deterministic, so an incrementally maintained
# store equals a same-model rebuild exactly — the testable twin. The
# store protocol itself (layout, model files, merge, emptied cells)
# lives in operators/cell_store.py; the families below supply only
# their fit, encode and model files.
# ---------------------------------------------------------------------------


def _ivf_model_file(cells, mat):
    """``_model.json`` beside an IVF (or IVFPQ) store: the frozen
    centroids every later sync/serve uses."""
    return cell_store.MODEL, {
        "cells": [int(c) for c in cells],
        "mat": [[float(x) for x in row] for row in mat],
    }


def ivf_model_load(path: str):
    import numpy as np

    d = cell_store.load_json(path, cell_store.MODEL)
    return (
        np.array(d["cells"], dtype=np.int32),
        np.array(d["mat"], dtype=np.float64),
    )


def _ivf_build(corpus, path, model, id_col, vec_col, attr_cols=()) -> None:
    """The IVF store build behind ``ivf_build_store``, the inline build
    of ``ivf_topk_at_rest`` and ``ivf_filtered_build`` (which carries
    ``attr_cols`` inline for filtered serving)."""
    cell_store.build(
        _ivf_encoded(corpus, model, id_col, vec_col, attr_cols),
        path,
        [_ivf_model_file(*model)],
    )


def ivf_build_store(
    corpus: DataFrame,
    path: str,
    model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Write the cell-partitioned at-rest index for ``corpus`` under a
    FROZEN model and persist the model beside it — the build half
    ``ivf_topk_at_rest`` runs inline, split out so incremental sync can
    bootstrap once and upsert forever."""
    _ivf_build(corpus, path, model, id_col, vec_col)


def ivf_upsert_store(
    spark,
    upserts: DataFrame,
    delete_ids: DataFrame,
    path: str,
    model=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    attr_cols: list[str] | None = None,
) -> list[int]:
    """Apply UPSERTS (id, vec) and DELETES (id) to a committed IVF cell
    store, rewriting ONLY the affected cells: an upserted vector's cell
    comes from the frozen model (one Arrow projection — no shuffle), a
    deleted id's cell from an id-column semi-join against the store
    (column-pruned scan; a 100 TB deployment bounds it further with an
    id-range/Bloom sidecar per cell — the same planning trick as
    manifest stats). Untouched cell partitions are never rewritten
    (dynamic partition overwrite); cells emptied by deletes drop their
    directory explicitly, since dynamic overwrite leaves absent
    partitions in place. Returns the affected cell ids (bounded
    ≤ n_cells). With the same frozen model, the maintained store equals
    a from-scratch ``ivf_build_store`` of the final corpus — pinned by
    tests and the ``ann_ivf_incremental`` query."""
    model = model if model is not None else ivf_model_load(path)
    encoded = _ivf_encoded(upserts, model, id_col, vec_col, attr_cols or ())
    return cell_store.upsert(spark, encoded, delete_ids, path, id_col)


def ivf_sync_from_tail(
    spark,
    table_root: str,
    index_path: str,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_rewrite: str = "fail",
    seed_hash=None,
) -> None:
    """Keep the IVF cell store current against a snapshot table via its
    change feed — the IVF sibling of ``hnsw_sync_from_tail``: the first
    sync of a fresh index FITS the centroid model from the initial
    snapshot and builds the store (model persisted beside it); every
    later sync reduces the changes since the store's applied version to
    per-key net effects by ``_version`` and upserts under the frozen
    model. ``on_rewrite``: what a source-table compaction/restore does
    to the sync — ``'fail'`` (default) raises, ``'skip'`` skips
    layout-only rewrites (and restores — compaction-only tables),
    ``'rebuild'`` wipes the store and re-fits from the current snapshot;
    see :mod:`crocus_spark.operators._tail_sync`."""
    from crocus_spark.operators._tail_sync import run_tail_sync

    def bootstrap(ups):
        model = collect_centroid_model(
            ivf_fit_centroids(ups, n_cells, id_col, vec_col, seed_hash=seed_hash)
        )
        ivf_build_store(ups, index_path, model, id_col=id_col, vec_col=vec_col)

    run_tail_sync(
        spark, table_root, index_path, bootstrap,
        lambda ups, dels: ivf_upsert_store(
            spark, ups, dels, index_path, id_col=id_col, vec_col=vec_col
        ),
        on_rewrite, cell_store.MODEL, id_col, vec_col,
    )


# ---------------------------------------------------------------------------
# PQ at-rest store with incremental upkeep (r9 verdict task #6)
# ---------------------------------------------------------------------------


def _pq_model_body(codebook) -> dict:
    m, ksub, ds = codebook.shape
    return {
        "m": int(m),
        "ksub": int(ksub),
        "ds": int(ds),
        "codebook": [[[float(x) for x in c] for c in s] for s in codebook],
    }


def _pq_codebook(d):
    import numpy as _np

    cb = _np.array(d["codebook"], dtype=_np.float64)
    assert cb.shape == (d["m"], d["ksub"], d["ds"])
    return cb


def pq_model_load(path: str):
    """Load the frozen codebook ``pq_build_store`` writes beside the
    store as ``_model.json``."""
    return _pq_codebook(cell_store.load_json(path, cell_store.MODEL))


def pq_encode_batch(V, codebook):
    """(B, d) float64 → (B, m) uint8 nearest-subspace-centroid codes —
    the ONE encode path shared by the in-memory scan, the store build
    and the incremental upsert, so same codebook + same vector always
    yields the same code (argmin ties break to the lowest index)."""
    import numpy as _np

    m, ksub, ds = codebook.shape
    sub = V.reshape(V.shape[0], m, ds)
    d2 = ((sub[:, :, None, :] - codebook[None, :, :, :]) ** 2).sum(-1)
    return d2.argmin(-1).astype(_np.uint8)


def _pq_encoded(
    corpus: DataFrame, codebook, id_col: str, vec_col: str,
    n_cells: int = 0, model=None, attr_cols=(),
) -> DataFrame:
    """(neighbor_id, c_vec raw, code binary, [attrs...,] cell) in ONE
    Arrow pass: normalize (the shared dim-ordered fold), PQ-encode the
    normalized vector under the frozen codebook. With an IVF ``model``
    (IVFPQ) the cell is the frozen coarse centroid (argmax dot,
    first-max ties); without one (PQ) it is the deterministic hash
    shard pmod(xxhash64(id), n_cells), the HNSW shard rule: PQ has no
    centroid geometry to partition by, the cells exist so UPKEEP
    rewrites only churn-affected directories. ``attr_cols`` ride
    through untouched — the filtered-serve store shape."""
    spark = corpus.sparkSession
    attrs = list(attr_cols)
    attr_schema = ""
    if attrs:
        sub = corpus.select(*attrs).schema
        attr_schema = "".join(
            f", {f.name} {f.dataType.simpleString()}" for f in sub.fields
        )
    bc = spark.sparkContext.broadcast((model, codebook))

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        model_, cb = bc.value
        for b in batches:
            V = _unit_rows(matrix(b.column("_v"), vec_col))
            out = {
                "neighbor_id": b.column("neighbor_id"),
                "c_vec": b.column("c_vec"),
                "code": codes_column(pq_encode_batch(V, cb)),
            }
            for a in attrs:
                out[a] = b.column(a)
            if model_ is None:
                out["cell"] = b.column("cell")
            else:
                out["cell"] = _nearest_cells(V, *model_).astype(np.int32)
            yield pa.RecordBatch.from_pydict(out)

    # the pass-through columns reach the output batch as they arrive, so
    # the input projection carries the output schema's types
    cols = [
        F.col(id_col).cast("long").alias("neighbor_id"),
        F.col(vec_col).cast("array<float>").alias("c_vec"),
        *[F.col(c) for c in attrs],
        F.col(vec_col).alias("_v"),
    ]
    if model is None:
        cols.append(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_cells))
            .cast("int")
            .alias("cell")
        )
    return corpus.select(*cols).mapInArrow(
        fn,
        "neighbor_id long, c_vec array<float>, code binary"
        + attr_schema + ", cell int",
    )


def pq_build_store(
    corpus: DataFrame,
    path: str,
    codebook,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Write the cell-partitioned PQ code store (codes + raw vectors for
    the exact re-rank) under a FROZEN codebook, model persisted beside
    it — the build half of the maintained index."""
    cell_store.build(
        _pq_encoded(corpus, codebook, id_col, vec_col, n_cells=n_cells),
        path,
        [(cell_store.MODEL, _pq_model_body(codebook))],
    )


def pq_upsert_store(
    spark,
    upserts: DataFrame,
    delete_ids: DataFrame,
    path: str,
    codebook=None,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Apply upserts/deletes to a committed PQ store rewriting ONLY the
    churn-affected cells — the ``ivf_upsert_store`` dynamic-partition-
    overwrite pattern over hash cells: an upserted vector's cell is the
    deterministic id hash (no store read), a deleted id's cell comes
    from a column-pruned semi-join; untouched cell directories keep
    byte-identical files, emptied cells drop explicitly. With the same
    frozen codebook the maintained store EQUALS a from-scratch
    ``pq_build_store`` of the final corpus (same encode path ⇒ same
    codes), pinned by the ``ann_pq_incremental`` query."""
    cb = codebook if codebook is not None else pq_model_load(path)
    encoded = _pq_encoded(upserts, cb, id_col, vec_col, n_cells=n_cells)
    return cell_store.upsert(spark, encoded, delete_ids, path, id_col)


def pq_topk_at_rest(
    spark,
    queries: DataFrame,
    path: str,
    k: int = 5,
    refine: int = 50,
    codebook=None,
) -> DataFrame:
    """Serve approximate top-k from a committed PQ store: the ADC scan
    reads the STORED codes (no re-encode — the 32× memory cut is now
    also a compute cut), top ``refine`` candidates re-rank exactly
    against the stored raw vectors under the brute-force cosine/rounding
    contract. Same LUT/score arithmetic as ``pq_topk``, so two stores
    with identical codes serve identical rows."""
    cb = codebook if codebook is not None else pq_model_load(path)
    q_ids, Q = _normed_queries(queries, "vec_id", "embedding")
    store = spark.read.parquet(path)
    candidates = _adc_candidates(
        spark, store.select("neighbor_id", "code"), q_ids, Q, cb, refine
    )
    return _rerank(
        candidates, store.select("neighbor_id", "c_vec"), queries, k,
        "vec_id", "embedding",
    )


def pq_sync_from_tail(
    spark,
    table_root: str,
    index_path: str,
    m: int = 16,
    ksub: int = 32,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_rewrite: str = "fail",
) -> None:
    """Keep the PQ code store current against a snapshot table via its
    change feed — the PQ sibling of ``ivf_sync_from_tail``: the first
    sync of a fresh index FITS the codebook from the initial snapshot
    (persisted beside the store — frozen thereafter, the FAISS
    train-once cadence); every later sync reduces to per-key net
    effects and re-encodes/rewrites only churn-affected hash cells.
    ``on_rewrite`` as in :mod:`crocus_spark.operators._tail_sync`."""
    from crocus_spark.operators._tail_sync import run_tail_sync

    def bootstrap(ups):
        cb = pq_fit_codebook(ups, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col)
        pq_build_store(
            ups, index_path, cb, n_cells=n_cells, id_col=id_col, vec_col=vec_col
        )

    run_tail_sync(
        spark, table_root, index_path, bootstrap,
        lambda ups, dels: pq_upsert_store(
            spark, ups, dels, index_path, n_cells=n_cells,
            id_col=id_col, vec_col=vec_col,
        ),
        on_rewrite, cell_store.MODEL, id_col, vec_col,
    )


# ---------------------------------------------------------------------------
# IVFPQ: coarse quantizer + PQ codes in one store (Jégou et al. TPAMI'11
# §IV — the FAISS IVFPQ layout). The serve cost model at 100 TB is the
# PRODUCT of the two cuts: a probe opens nprobe/n_cells of the cell
# directories (partition-pruned scan) and reads 8-byte codes instead of
# 256-byte vectors inside them (ADC), with the exact re-rank touching
# only refine·|queries| raw vectors.
# ---------------------------------------------------------------------------


def ivfpq_build_store(
    corpus: DataFrame,
    path: str,
    model,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    attr_cols: list[str] | None = None,
) -> None:
    """Write the IVFPQ store: PQ codes + raw vectors partitioned by the
    frozen coarse cell; both frozen models persisted beside it
    (``_model.json`` = IVF centroids, ``_pq_model.json`` = codebook)."""
    cell_store.build(
        _pq_encoded(
            corpus, codebook, id_col, vec_col, model=model,
            attr_cols=attr_cols or (),
        ),
        path,
        [_ivf_model_file(*model), (cell_store.PQ_MODEL, _pq_model_body(codebook))],
    )


def ivfpq_model_load(path: str):
    """(ivf (cells, mat), pq codebook) frozen beside an IVFPQ store."""
    return ivf_model_load(path), _pq_codebook(
        cell_store.load_json(path, cell_store.PQ_MODEL)
    )


def ivfpq_topk_at_rest(
    spark,
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 4,
    refine: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: str | None = None,
) -> DataFrame:
    """Serve approximate top-k from a committed IVFPQ store: per-query
    nprobe coarse cells (same ranking/ties as ``ivf_topk``), an ADC
    scan over ONLY the probed cells' stored codes (the partition filter
    makes nprobe/n_cells a bytes-read fraction AND each read byte is a
    code, not a float), exact cosine re-rank of the top ``refine``
    candidates against the stored raw vectors."""
    import numpy as np

    model, cb = ivfpq_model_load(path)
    plist = (
        _probes(queries, model, id_col, vec_col, nprobe)
        .select("query_id", "qn", "cell")
        .toArrow()
    )
    qid = plist["query_id"].to_numpy()
    cell = plist["cell"].to_pylist()
    probe_cells = sorted(set(cell))  # pruning literal
    # one unit row per query (a query's nprobe rows share it), id order
    q_ids, first = np.unique(qid, return_index=True)
    q_ids = q_ids.tolist()
    Q = matrix(plist["qn"], "qn")[first]
    # query → probed cells (bounded: ≤ nprobe ints per query), so the
    # scan masks with a vectorized np.isin instead of a per-row Python
    # membership test
    cells_of_q: dict = {}
    for q, c in zip(qid.tolist(), cell):
        cells_of_q.setdefault(q, []).append(c)

    store = spark.read.parquet(path).filter(
        F.col("cell").isin(probe_cells)
    )
    if predicate is not None:
        # filtered serve (r11): the attribute predicate prunes rows
        # BEFORE any ADC work — pushed into the probed cells' parquet
        # scan, so non-matching codes are never read or scored
        store = store.filter(F.expr(predicate))
    candidates = _adc_candidates(
        spark, store.select("neighbor_id", "code", "cell"), q_ids, Q, cb,
        refine, cells_of_q=cells_of_q,
    )
    return _rerank(
        candidates, store.select("neighbor_id", "c_vec"), queries, k,
        id_col, vec_col,
    )


def ivfpq_upsert_store(
    spark,
    upserts: DataFrame,
    delete_ids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Apply upserts/deletes to a committed IVFPQ store under BOTH
    frozen models (coarse centroids + codebook), rewriting only the
    churn-affected coarse cells — the same dynamic-partition-overwrite
    merge as ``pq_upsert_store`` with the cell coming from the frozen
    centroid assignment instead of the id hash."""
    model, cb = ivfpq_model_load(path)
    encoded = _pq_encoded(upserts, cb, id_col, vec_col, model=model)
    return cell_store.upsert(spark, encoded, delete_ids, path, id_col)


def ivfpq_sync_from_tail(
    spark,
    table_root: str,
    index_path: str,
    n_cells: int = 8,
    m: int = 16,
    ksub: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_rewrite: str = "fail",
    seed_hash=None,
) -> None:
    """Keep the composed IVFPQ store current against a snapshot table
    via its change feed: the first sync of a fresh index fits BOTH
    frozen models from the initial snapshot (coarse centroids + PQ
    codebook, persisted beside the store); later syncs re-encode
    per-key net effects and rewrite only churn-affected coarse cells.
    ``on_rewrite`` as in operators/_tail_sync."""
    from crocus_spark.operators._tail_sync import run_tail_sync

    def bootstrap(ups):
        model = collect_centroid_model(
            ivf_fit_centroids(ups, n_cells, id_col, vec_col, seed_hash=seed_hash)
        )
        cb = pq_fit_codebook(ups, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col)
        ivfpq_build_store(
            ups, index_path, model, cb, id_col=id_col, vec_col=vec_col
        )

    run_tail_sync(
        spark, table_root, index_path, bootstrap,
        lambda ups, dels: ivfpq_upsert_store(
            spark, ups, dels, index_path, id_col=id_col, vec_col=vec_col
        ),
        on_rewrite, cell_store.PQ_MODEL, id_col, vec_col,
    )
