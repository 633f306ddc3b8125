"""Deduplication operators for training-data pipelines — SURVEY.md §2B
#53-54 and the driver north star: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup.

Design rules for 100 TB:
- candidate generation NEVER goes O(n²): exact dedup is one hash
  aggregation; near-dup candidates come from LSH band buckets or blocking
  keys; only candidate pairs pay the verification cost.
- all hashes are deterministic engine built-ins (md5 / xxhash64) — results
  are reproducible across runs and cluster layouts.

Published foundations (public literature): prefix/positional filtering is
the AllPairs/PPJoin family (Bayardo et al., "Scaling Up All Pairs
Similarity Search", WWW'07; Xiao et al., "Efficient Similarity Joins for
Near Duplicate Detection", WWW'08); MinHash is Broder, "On the
resemblance and containment of documents" (1997) with the banded-LSH
S-curve from Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets*
ch.3; SimHash is Charikar, "Similarity estimation techniques from
rounding algorithms" (STOC'02) as applied in Manku et al., "Detecting
Near-Duplicates for Web Crawling" (WWW'07).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crocus_spark.session import intermediates, materialize


def normalize_text(c):
    """Canonical text form for hashing: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content hash (§2B#53): md5 of normalized text, keep
    the lowest id per hash (deterministic winner), count what collapsed.
    One hash-shuffle on the digest — the cheapest possible dedup at scale;
    the digest is 128-bit so collisions are ignorable."""
    h = F.md5(normalize_text(F.col(text_col)))
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        df.withColumn("content_hash", h)
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_copies", F.count(F.lit(1)).over(Window.partitionBy("content_hash"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def tokenize_distinct(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, token) pairs with per-doc distinct tokens — the exploded set
    representation used for set-similarity joins."""
    toks = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    return df.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))


def _token_sets(
    df: DataFrame, text_col: str, id_col: str, block_col: str | None
) -> DataFrame:
    """(id, blk, toks_h) with each doc's distinct tokens as xxhash64 ids
    sorted by global rarity (ascending document frequency, ties by hash)
    — a global total order, which is all prefix-filter exactness needs.
    The (hash → df) relation is vocabulary-sized, broadcast onto the
    exploded tokens; hashing happens AT the explode so every shuffle in
    the PPJoin family moves primitive longs, never strings."""
    from crocus_spark.io import spread

    # the normalize+tokenize explode is real per-row compute pipelined
    # straight onto the scan, and this subtree evaluates TWICE (df-count
    # aggregate + the back-join below) — on the single-row-group fixture
    # scans both passes ran in ONE task each (~1.0 s of the ngram query
    # at sf0.1). spread() fans the tokenize out cores-wide; no-op at
    # production split counts (io.spread contract).
    df = spread(df, df.sparkSession, cols=(id_col,), rows_per_task=64)
    base = df.select(
        F.col(id_col).alias("id"),
        *([F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")]),
        F.array_distinct(F.split(normalize_text(F.col(text_col)), " ")).alias(
            "toks_raw"
        ),
    )
    # Tokens become 64-bit xxhash64 ids at the EXPLODE, before any shuffle:
    # the df-count aggregate, the broadcast back-join, and the per-doc
    # array rebuild all move primitive longs instead of strings, and
    # array_intersect in the verifier takes the primitive fast path.
    # Distinct tokens stay distinct under xxhash64 (collisions ~2^-64), so
    # intersection COUNTS are unchanged and the Jaccard oracle still
    # holds; rarity ties break by hash instead of lexicographically —
    # still a global total order, which is all prefix-filter exactness
    # needs.
    exploded = base.select(
        "id", "blk", F.explode("toks_raw").alias("tok")
    ).select("id", "blk", F.xxhash64("tok").alias("h"))
    tok_df = exploded.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        exploded.join(F.broadcast(tok_df), "h")
        .groupBy("id", "blk")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "h"))), lambda s: s.h
            ).alias("toks_h")
        )
    )


def _verify_jaccard(candidates: DataFrame, sets: DataFrame) -> DataFrame:
    """Score candidate (id_a, id_b) pairs exactly: join both token-id
    arrays, intersection via array_intersect over bigint ids (primitive
    fast path — see _token_sets.toks_h) — pair-local work, no
    re-explode.

    The trailing keys-only aggregate is an optimizer BARRIER, not a dedup
    (candidates are already distinct): without it, Catalyst pushes the
    caller's ``jaccard >= t`` filter into the verify join's condition,
    where array_intersect is evaluated a second time per candidate on top
    of the output projection. The aggregate pins the intersection to ONE
    map-side evaluation; it costs no exchange because the broadcast verify
    joins preserve the candidate relation's (id_a, id_b) hash
    partitioning from its distinct."""
    sa = sets.select(F.col("id").alias("id_a"), F.col("toks_h").alias("toks_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("toks_h").alias("toks_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("n_inter"),
            F.size("toks_a").alias("sz_a"),
            F.size("toks_b").alias("sz_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.first("n_inter").alias("n_inter"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (§2B#54, exact path) via
    **prefix filtering** (AllPairs/PPJoin family).

    With tokens in a fixed rarity order, any pair with Jaccard ≥ t must
    share a token among each side's first ``|s| - ceil(t·|s|) + 1`` tokens
    (else |∩| ≤ ceil(t·|s|) - 1 < t·|∪|) — so only prefixes are exploded
    into the candidate self-join, and prefixes hold the *rarest* tokens,
    which is what keeps the join sparse at scale. Two further exact
    pruning rules from the PPJoin family run inside the join condition:

    - length filter: Jaccard ≥ t forces t·|a| ≤ |b| ≤ |a|/t;
    - positional filter: a match at (0-based) prefix positions pa, pb
      bounds the overlap by 1 + min(|a|-pa, |b|-pb) - 1 tokens remaining
      ⇒ require min(|a|-pa, |b|-pb) ≥ ceil(t/(1+t)·(|a|+|b|)), the
      minimum overlap Jaccard ≥ t implies.

    Together they cut candidates ~5× on dup-cluster-heavy corpora before
    any verification runs. Candidates are verified pair-locally with
    array_intersect; the result is exact, never a similarity matrix.

    The token-set relation appears three times in the plan (prefix side +
    both verify sides); it is persist()ed for the duration of the call and
    released after the pair relation is materialized — measured at sf0.1
    this halves the query (4.8-12.4 s recompute-thrice vs 2.1-3.5 s
    cached; eager localCheckpoint sat in between because it pays an extra
    full materialization pass up front). persist (unlike a checkpoint)
    keeps the lineage, so AQE still sees runtime sizes and auto-broadcasts
    the verify joins when the corpus is small. The returned pair relation
    is eagerly checkpointed: it is dup-pairs-sized (tiny next to the
    corpus at any scale), and materializing it is what lets the token
    sets go when the call returns."""
    from crocus_spark.io import _planned_scan_partitions

    with intermediates() as own:
        sets = own.persist(_token_sets(df, text_col, id_col, block_col))
        plen = (
            F.size("toks_h") - F.ceil(F.lit(threshold) * F.size("toks_h")) + F.lit(1)
        ).cast("int")
        prefix = sets.select(
            "id",
            "blk",
            F.size("toks_h").alias("sz"),
            F.posexplode(F.slice("toks_h", 1, plen)).alias("pos", "tok"),
        )
        a, b = prefix.alias("a"), prefix.alias("b")
        min_overlap = F.ceil(
            F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
        )
        overlap_ubound = F.least(
            F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
        )
        candidates = (
            a.join(
                b,
                (F.col("a.tok") == F.col("b.tok"))
                & (F.col("a.blk") == F.col("b.blk"))
                & (F.col("a.id") < F.col("b.id"))
                & (F.col("b.sz") >= F.ceil(F.lit(threshold) * F.col("a.sz")))
                & (F.col("a.sz") >= F.ceil(F.lit(threshold) * F.col("b.sz")))
                & (overlap_ubound >= min_overlap),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        # Explicit-width exchange between candidate generation and the verify
        # joins: AQE sizes post-shuffle partitions by BYTES, and the distinct
        # candidate relation is 16 bytes/row — it coalesces to one partition
        # long before the per-pair array_intersect cost is paid, so the whole
        # verify stage ran as a single 1.5 s task at sf0.1 (the r4 "expansion
        # invisible to the size estimate" class). An explicit-N keyed
        # repartition is exempt from coalescing; width tracks the input scan
        # (spread's metadata rule) so a production-sized candidate set still
        # fans out past the core count, and the verify's trailing
        # (id_a, id_b) aggregate reuses this partitioning — no extra
        # exchange downstream.
        nw = max(
            sets.sparkSession.sparkContext.defaultParallelism,
            _planned_scan_partitions(df, df.sparkSession) or 0,
        )
        candidates = candidates.repartition(nw, "id_a", "id_b")
        return materialize(
            _verify_jaccard(candidates, sets)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "n_inter", "sz_a", "sz_b", "jaccard")
        )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# 31-bit Mersenne prime field: a·x+b stays < 2^62, so the modular hash
# never overflows int64 even under ANSI arithmetic (no try_* weakening).
_MERSENNE = (1 << 31) - 1


def _perm_params(n_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) params for n universal-hash permutations."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE - 1), rnd.randrange(0, _MERSENNE - 1))
        for _ in range(n_perm)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 32,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures over distinct tokens (shingle→minhash step of
    §2B#54). Token base hash is xxhash64 (engine built-in, deterministic);
    each permutation is min((a·x+b) mod M61). Computed as one groupBy with
    n_perm min() aggregates over the exploded token relation — a single
    shuffle, map-side combined."""
    toks = tokenize_distinct(df, text_col, id_col).withColumn(
        "x", F.pmod(F.xxhash64("tok"), F.lit(_MERSENNE))
    )
    # parsed SQL strings, not per-perm Column chains — n_perm× py4j calls
    # cost real driver time per plan build (see the SimHash note above)
    aggs = [
        F.expr(f"min(pmod(x * {va}L + {vb}L, {_MERSENNE}L)) AS h{i}")
        for i, (va, vb) in enumerate(_perm_params(n_perm, seed))
    ]
    return toks.groupBy(F.col("id")).agg(*aggs)


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """(id, band, sig): LSH band-bucket assignment — each doc lands in
    ``bands`` buckets keyed by the xxhash64 of its band's minhash rows."""
    rows_per_band = n_perm // bands
    sig = minhash_signatures(df, text_col, id_col, n_perm, seed)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("sig"))
        )
    return sig.select("id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig")
    )


def minhash_dedup_survivors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
    iterations: int = 3,
) -> DataFrame:
    """Near-dup dedup by cluster collapse (§2B#54, the 100 TB formulation).

    Never enumerates pairs: docs sharing any LSH band bucket are linked;
    min-label propagation over the (id ↔ bucket) bipartite graph assigns
    every doc the smallest id reachable within ``iterations`` hops, which
    for near-dup data (diameter ~1-2: dup clusters share buckets directly)
    is the connected component. Each iteration is two linear hash
    aggregations — cost is O(n·bands) per round, independent of cluster
    shape, where pair enumeration would be quadratic.

    Returns (id, cluster_id, is_survivor): survivor = lowest id in its
    cluster — same winner rule as exact_dedup.

    The bucket relation is eagerly LOCAL-CHECKPOINTED for the loop: each
    iteration references it twice, so without materialization the
    minhash signature aggregation (the expensive part) would be
    recomputed 2·iterations times. A checkpoint (vs the persist() used
    through r11) additionally TRUNCATES the lineage, so each iteration's
    plan is a join over a materialized RDD scan instead of the full
    signature pipeline — the persist version re-analyzed and re-planned
    the whole lineage per round, measured as ~0.9 s of near-empty AQE
    skeleton stages at sf0.1 (1.65 s → 1.30 s checkpointed, identical
    labels). The blocks are loop-state-sized (id, band, sig — a few
    dozen bytes per doc per band; document bodies never enter the loop).
    Trade-off: checkpoint blocks are unrecoverable on executor loss
    (persist kept lineage for recompute) — acceptable for a bounded
    iterative loop, the same call the repo's other iterative operators
    make; the bucket blocks are freed when the call returns. The final
    labels are eagerly local-checkpointed as before, truncating the
    iteration lineage for consumers; the returned relation owns them.
    """
    with intermediates() as own:
        buckets = own.checkpoint(
            minhash_band_buckets(df, text_col, id_col, n_perm, bands, seed)
        )
        labels = buckets.groupBy("id").agg(F.min("id").alias("lbl"))  # lbl = id
        for _ in range(iterations):
            bucket_min = (
                buckets.join(labels, "id")
                .groupBy("band", "sig")
                .agg(F.min("lbl").alias("bucket_lbl"))
            )
            labels = (
                buckets.join(bucket_min, ["band", "sig"])
                .groupBy("id")
                .agg(F.min("bucket_lbl").alias("lbl"))
            )
        labels = materialize(labels)
    return labels.select(
        F.col("id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("id") == F.col("lbl")).alias("is_survivor"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """MinHash LSH near-dup pairs (§2B#54): signature → band → bucket join
    → exact-Jaccard verification of candidates only.

    bands=8 × rows=4 over 32 perms targets the classic S-curve: pairs with
    Jaccard ≥ ~0.5 collide in ≥1 band w.h.p. Candidate generation is an
    equi-join on (band, band-hash) — no cross product anywhere. The final
    exact verification keeps precision at 1.0; recall is probabilistic
    (property-tested against the exact operator).

    Output-size caveat: pair *enumeration* is inherently quadratic in
    near-dup cluster size (a k-doc cluster IS k·(k-1)/2 true pairs). For
    dedup at 100 TB use ``minhash_dedup_survivors`` — cluster-collapse is
    linear in corpus size regardless of cluster shape.
    """
    # persist, not recompute: the self-join would otherwise evaluate the
    # whole tokenize → n_perm-MIN signature pipeline on BOTH sides
    # (Catalyst's exchange reuse does not cover the differently-aliased
    # subtrees here) — the signature relation is corpus-rows × (band,
    # sig) and cheap to hold, the signature computation is the cost.
    # Same for the verify-stage token sets (two aliased sides). Both are
    # released after the dup-pairs-sized output is materialized; persist
    # keeps lineage so AQE still sizes/broadcasts the joins at runtime.
    # Each bucket row carries the doc's distinct-token COUNT so the
    # bucket self-join can apply the PPJoin-style length filter inline:
    # J(A,B) <= min/max, so J >= t forces t·max(|A|,|B|) <= min(|A|,|B|).
    # Lossless for the verified output and pruned BEFORE the candidate
    # distinct and the exact intersections (8.8M -> 3.5M candidates at
    # sf0.1/0.9 — 61% of the verify work gone). The 1e-6 slack covers
    # the verifier's round(j, 6), which can round a just-below-t pair up.
    with intermediates() as own:
        nt = df.select(
            F.col(id_col).alias("id"),
            F.size(
                F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
            ).alias("n"),
        )
        buckets = own.persist(
            minhash_band_buckets(df, text_col, id_col, n_perm, bands, seed)
            .join(nt, "id")
        )
        tl = F.lit(float(verify_threshold) - 1e-6)
        a, b_ = buckets.alias("a"), buckets.alias("b")
        candidates = (
            a.join(
                b_,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.id") < F.col("b.id"))
                & (F.col("a.n") * tl <= F.col("b.n") + F.lit(1e-6))
                & (F.col("b.n") * tl <= F.col("a.n") + F.lit(1e-6)),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        # explicit-width exchange before the verify joins — same AQE
        # bytes-vs-compute rationale as ngram_jaccard_pairs above
        from crocus_spark.io import _planned_scan_partitions

        nw = max(
            df.sparkSession.sparkContext.defaultParallelism,
            _planned_scan_partitions(df, df.sparkSession) or 0,
        )
        candidates = candidates.repartition(nw, "id_a", "id_b")
        sets = own.persist(_token_sets(df, text_col, id_col, block_col=None))
        return materialize(
            _verify_jaccard(candidates, sets)
            .filter(F.col("jaccard") >= verify_threshold)
            .select("id_a", "id_b", "jaccard")
        )


def portable_hash60(c: Column) -> Column:
    """60-bit token hash both engines can compute bit-identically: the
    first 15 hex digits of md5, parsed base-16 (Spark ``conv``; the DuckDB
    oracle expands the same parse as positional nibble arithmetic). 60 bits
    fit a signed BIGINT with headroom, so shifts/masks stay portable."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """SimHash (§2B#54): per-token hash (xxhash64 by default;
    ``portable_hash60`` for the oracle-checked variant), each bit votes ±1,
    sign of the vote sum becomes the output bit. Near-dups land at small
    Hamming distance. Computed as bits× conditional-sum aggregates over the
    token relation — one shuffle."""
    toks = tokenize_distinct(df, text_col, id_col).withColumn(
        "x", hash_fn(F.col("tok"))
    )
    # The ±1 vote sum is 2·ones − n, so "vote > 0" ⟺ "2·ones > n": summing
    # the raw bit ((x >> i) & 1, no CASE) keeps the 64 aggregate expressions
    # tiny — the sign test moves to the post-agg projection where n is a
    # single count column. (Unsigned shift: (1 << 63) isn't a valid long.)
    keep = min(bits, 63)  # top bit of a 64-bit hash left clear: stay positive
    # parsed SQL strings, not per-bit Column objects: bits× py4j calls
    # cost ~0.5 s of driver time per plan build (same lesson as the fused
    # IVF mean, similarity.py)
    ones = [
        F.expr(f"sum(shiftrightunsigned(x, {i}) & 1) AS o{i}")
        for i in range(keep)
    ]
    agg = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *ones)
    sim = " + ".join(
        f"CASE WHEN o{i} * 2 > n THEN {1 << i}L ELSE 0L END"
        for i in range(keep)
    )
    return agg.select("id", F.expr(f"({sim})").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 64,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """SimHash near-dup pairs: block on ``min(bits,63)//bands``-wide bands
    of the simhash (any pair within Hamming ≤ 3 must agree exactly on ≥1
    of the 4 bands — ≤3 differing bits can break at most 3 bands, whether
    banded or spare — pigeonhole), then verify with
    bit_count(xor) ≤ max_hamming.

    Shape: the signature relation feeds ONE (band, piece) shuffle and pairs
    are generated bucket-locally with array lambdas — no self-join, so the
    64-agg signature aggregate is computed once, not once per join side.
    The Hamming verify runs INSIDE the pair-generation lambda, so a bucket
    of B members holds only its verified near-dup pairs, never the B²
    candidate array. Bucket skew: a flood of identical documents collapses
    onto one (band, piece) bucket in ANY banded scheme and its pair OUTPUT
    is quadratic by definition — the 100 TB pipeline runs exact dedup
    (text_exact_dedup) first, after which bucket membership is bounded by
    distinct near-identical signatures."""
    sh = simhash(df, text_col, id_col, bits=bits, hash_fn=hash_fn)
    width = min(bits, 63) // bands  # band width; pigeonhole needs
    # max_hamming < bands, which holds for both the 64-bit (4×15+3 spare)
    # and 60-bit portable (4×15) layouts
    banded = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    for b in range(bands)
                ]
            )
        ).alias("band", "piece"),
    )
    buckets = (
        banded.groupBy("band", "piece")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("id"), F.col("simhash")))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    pair = lambda x, y: F.struct(  # noqa: E731
        x["id"].alias("id_a"),
        y["id"].alias("id_b"),
        F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming"),
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ms"),
                    lambda x, i: F.filter(
                        F.transform(
                            F.slice(
                                F.col("ms"), i + 2, F.size(F.col("ms"))
                            ),
                            lambda y: pair(x, y),
                        ),
                        lambda p: p["hamming"] <= max_hamming,
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.select("p.id_a", "p.id_b", "p.hamming")
        .distinct()  # a pair may collide on more than one band
    )


def duplicated_span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
) -> DataFrame:
    """Exact duplicated-SPAN removal — the substring-level dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL 2022), at token granularity: every ``span_len``-token
    window whose exact content appears in MORE THAN ONE document is
    removed from all of them; surviving tokens reassemble in order.

    Shape (all relational, no UDF):
      1. tokens explode with positions;
      2. each position's forward ``span_len``-gram is hashed via a
         collect_list window over (pos .. pos+L-1) — corpus × L cells,
         the inherent cost of substring-level work;
      3. grams occurring in ≥2 DISTINCT docs form the duplicate set —
         a gram-keyed aggregate (vocabulary-shaped, shrinks fast with L);
      4. a position is covered iff some duplicated gram STARTS within
         the trailing L-1 window — one max() window per doc, no
         range join;
      5. uncovered tokens re-assemble with a sorted collect_list.

    Returns (id, n_tokens, n_removed, cleaned_md5) — the digest stands
    in for the rewritten body so the relation stays narrow; callers
    wanting the text swap the md5 for the concat. At 100 TB every stage
    keys on (doc, pos) or gram hash — nothing is pairwise in documents.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("pos", "tok"),
    )
    w_fwd = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, span_len - 1)
    )
    grams = toks.withColumn(
        "gram",
        F.when(
            F.size(F.collect_list("tok").over(w_fwd)) == span_len,
            F.md5(F.concat_ws(" ", F.collect_list("tok").over(w_fwd))),
        ),
    )
    dup_grams = (
        grams.filter(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gram")
    )
    flagged = grams.join(
        F.broadcast(dup_grams.withColumn("dup", F.lit(1))), "gram", "left"
    ).select(
        "id", "pos", "tok", F.coalesce("dup", F.lit(0)).alias("dup_start")
    )
    w_back = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(-(span_len - 1), Window.currentRow)
    )
    covered = flagged.withColumn(
        "covered", F.max("dup_start").over(w_back)
    )
    return (
        covered.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("covered").alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("covered") == 0,
                                    F.struct("pos", "tok"),
                                )
                            )
                        ),
                        lambda s: s.tok,
                    ),
                )
            ).alias("cleaned_md5"),
        )
    )


def minhash_verified_components(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 48,
    bands: int = 12,
    threshold: float = 0.9,
    seed: int = 42,
) -> DataFrame:
    """Connected components over the VERIFIED near-dup graph: LSH band
    buckets propose candidates, exact Jaccard ≥ ``threshold`` keeps only
    true edges, then min-label propagation collapses each component to
    its lowest id. The middle ground between ``minhash_lsh_pairs`` (pairs
    only, no clusters) and ``minhash_dedup_survivors`` (clusters over the
    unverified bucket graph, where a band collision below the threshold
    can merge two clusters).

    Because verification makes the edge set EXACTLY the Jaccard-threshold
    graph whenever banding recall is 1.0 (measured at every fixture scale
    for 48 perms × 12 bands at 0.9 — see ``dedup_minhash_lsh``), the
    result is deterministic and SQL-expressible: the registered query
    carries a recursive-CTE oracle over the exact pair graph.

    Scale shape: component labeling runs over EDGE-TOUCHED nodes only
    (a dup-pairs-sized relation, tiny next to the corpus); untouched docs
    are their own survivor by a final left join. Labeling delegates to
    ``operators.graph.connected_components`` — min-label propagation with
    pointer jumping to a CHECKED fixpoint, so arbitrary component
    diameters (chained near-dups A~B~C~... where A and C are not
    themselves a pair) are handled exactly, in O(log diameter) rounds of
    O(E) work. Returns (id, cluster_id, is_survivor) for every input
    doc.
    """
    from crocus_spark.operators.graph import connected_components

    edges = minhash_lsh_pairs(
        df, text_col, id_col, n_perm, bands, seed, threshold
    ).select("id_a", "id_b")
    # verify emits distinct canonical pairs (id_a < id_b) — skip the
    # symmetrize-distinct shuffle inside the labeler
    labels = connected_components(
        edges, "id_a", "id_b", edges_distinct=True
    )
    all_ids = df.select(F.col(id_col).alias("id"))
    return (
        # no broadcast hint: the dup-node label relation is corpus-dependent
        # (could be huge at 100 TB) — AQE picks broadcast when it is small
        all_ids.join(
            labels.select(
                F.col("node").alias("id"), F.col("comp").alias("cluster_id")
            ),
            "id",
            "left",
        )
        .select(
            "id",
            F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"),
        )
        .withColumn("is_survivor", F.col("cluster_id") == F.col("id"))
    )
