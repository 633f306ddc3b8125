"""Oracle-differential tests: every registered query with an oracle must
match DuckDB exactly at sf0.001 — the engine-side rehearsal of the driver's
sf0.01 correctness gate."""

from __future__ import annotations

import pytest

from crocus_spark.queries import REGISTRY, queries
from crocus_spark.testing import compare_frames

queries()  # populate REGISTRY

WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle)
ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if not q.oracle)

from tests.conftest import SF_SMOKE  # noqa: E402

# Persistent RDDs a query may still hold after its action, read while its
# result is referenced: a materialization the RETURNED plan reads
# (session.materialize), one reason each. Everything else a query
# materializes is held by a session.intermediates scope and freed before
# it returns. Bounds marked "up to" include materializations only the
# ContextCleaner frees (an operator's result that the query re-checkpoints
# or drops), so a run may measure fewer.
_SHARD = "the range-shard checkpoint of each operators/ranking call it reads"
_PIN = "the codec-stage result pinned before its presentation sort"
_POSTINGS = "the query-term postings behind its df-stats diamond"
HELD: dict[str, tuple[int, str]] = {
    **{n: (1, _SHARD) for n in (
        "analytics_abc_pareto", "analytics_lorenz_deciles",
        "corpus_ccnet_perplexity_buckets", "dq_key_skew_profile",
        "dq_ks_binned", "dq_ks_test", "funnel_latency_quartiles",
        "ml_auc_evaluation", "series_theil_sen_slope",
        "sketch_quantile_hash_sample", "stats_mannwhitney_u",
        "window_range_frame", "window_skyline_frontier",
    )},
    **{n: (2, _SHARD) for n in (
        "stats_kaplan_meier", "stats_quantile_normalize", "stats_spearman_corr",
    )},
    "analytics_rfm_segmentation": (3, _SHARD),
    **{n: (1, _PIN) for n in (
        "multimodal_audio_adpcm_cycle", "multimodal_audio_wav_windows",
        "multimodal_image_resize", "multimodal_pdf_cid_text",
        "multimodal_pdf_text", "multimodal_video_frames",
        "multimodal_video_rle_frames",
    )},
    **{n: (1, _POSTINGS) for n in (
        "search_bm25_topk", "search_hybrid_rrf", "search_inverted_index",
        "search_pdf_corpus",
    )},
    **{n: (1, "its converged labels") for n in (
        "graph_connected_components", "graph_k_core", "dedup_minhash_survivors",
    )},
    **{n: (1, "its model-sized result, materialized so its caches can go") for n in (
        "graph_pagerank", "graph_triangle_count", "graph_weighted_shortest_path",
        "io_csv_permissive_quarantine",
    )},
    **{n: (1, "its result, materialized under a scoped session conf") for n in (
        "join_runtime_bloom_filter", "sql_cbo_join_reorder",
    )},
    **{n: (6, "one 1-row merge artifact per BPE round") for n in (
        "corpus_bpe_merge_training", "corpus_bpe_tokenize_apply",
    )},
    "corpus_dsir_importance": (1, "the hashed-token relation its four consumers read"),
    "dedup_minhash_jaccard_estimate": (1, "the signature relation its three consumers read"),
    "dedup_minhash_lsh": (1, "its verified pair relation"),
    "dedup_ngram_jaccard": (1, "its verified pair relation"),
    "dedup_minhash_verified_clusters": (
        2, "its component labels, plus up to one: the LSH pairs they were built from"),
    "dedup_semantic_semdedup": (1, "the final centroids its last assignment reads"),
    "holdings_overlap_confront": (1, "the brand weights both sides of its self-join read"),
    "ann_filtered_fullprobe": (1, "the single full-probe top-k round its result reads"),
    "ann_ivfpq_filtered_fullprobe": (1, "the single full-depth group its result reads"),
    "ann_hnsw_filtered_topk": (1, "its result, which the in-query asserts read"),
    "ann_filtered_topk": (6, "up to 6: its result and one top-k per widening round (≤ 4), plus the exact serve's one round"),
    "ann_ivfpq_filtered_topk": (6, "up to 6: its result and one top-k per probe-depth group (≤ 4), plus the exact serve's one group"),
    "dq_ann_filtered_recall_probe": (6, "up to 6: its exact serve and that serve's one round, plus one top-k per widening round (≤ 4) of the approximate serve"),
}


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _check_held(spark, name, before):
    held = _persistent_rdds(spark) - before  # new ids; older ones may go
    allowed = HELD.get(name, (0, ""))[0]
    assert len(held) <= allowed, (
        f"{name} holds {len(held)} persistent RDDs after its action "
        f"(allowed {allowed}): hold intermediates in session.intermediates"
    )


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    before = _persistent_rdds(spark)
    df = q.fn(spark, SF_SMOKE)
    ok, report = compare_frames(df, duck, q.oracle)
    assert ok, f"{name}: {report}"
    _check_held(spark, name, before)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    q = REGISTRY[name]
    before = _persistent_rdds(spark)
    df = q.fn(spark, SF_SMOKE)
    n = df.count()
    assert n >= 0
    assert df.schema is not None
    _check_held(spark, name, before)


def test_held_allowlist_is_bounded():
    """Every entry names a registered query and gives its reason; the
    total stays below the 103 RDDs 52 queries held before the
    intermediates scope, and the iterative graph and dedup loops keep
    only their result."""
    assert set(HELD) <= set(REGISTRY)
    assert all(n >= 1 and reason for n, reason in HELD.values())
    assert sum(n for n, _ in HELD.values()) < 103
    for name in [n for n in HELD if n.startswith("graph_")] + [
        "dedup_minhash_survivors"
    ]:
        assert HELD[name][0] <= 1, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_cogrouped_asof_count_action(spark):
    """Regression: under count()-shaped actions the optimizer pruned the
    right cogroup side's un-aliased user_id out of the Arrow payload
    when both sides were carved from ONE shared events scan (shared
    attribute ids) — merge_asof(by=) then blew up in the Python worker.
    compare_frames (toPandas) never exercised that plan shape, so this
    pins the count() path specifically."""
    q = REGISTRY["udf_cogrouped_asof"]
    assert q.fn(spark, SF_SMOKE).count() > 0
