"""Corpus-curation queries — the training-data ordering/packing/filtering
stages (driver north star; generalizes the reference's daily-snapshot
document store, base_scraper.py:72-83, into an LLM corpus pipeline).

Everything here is deterministic integer/hash/regex work, so every query
carries a DuckDB oracle: the shuffle key is md5 (identical in both
engines), packing is integer window arithmetic, filters are ratio
thresholds on exact counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crocus_spark.io import load, spread
from crocus_spark.operators import corpus as C
from crocus_spark.operators import text as X
from crocus_spark.queries import register
from crocus_spark.session import materialize

_EN_MARKER_SQL = r"\b(" + "|".join(X.LANG_MARKERS["en"]) + r")\b"

# quality + dup-3-gram scoring over documents — mirrors
# operators/text.py::quality_score + operators/corpus.py::dup_gram_cols
# expression for expression; shared by the batch pipeline oracle and the
# streaming-curation oracle (streaming_q.py).
_SCORED_SQL = rf"""
  SELECT doc_id, lang, source, text, n_tokens,
         round(least(n_tokens / 100.0, 1.0) * 0.4
               + round(CAST(n_alpha AS DOUBLE) / greatest(n_chars_m, 1), 6) * 0.4
               + least(round(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 6)
                       * 5.0, 1.0) * 0.2
               - round(CAST(n_punct AS DOUBLE) / greatest(n_chars_m, 1), 6) * 0.5,
               6) AS quality,
         CASE WHEN greatest(len(ws) - 2, 0) <= 0 THEN 0.0
              ELSE round(1.0 - len(list_distinct(
                     list_transform(generate_series(1, len(ws) - 2),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
                   / CAST(len(ws) - 2 AS DOUBLE), 6) END AS dup_ratio
  FROM (
    SELECT doc_id, lang, source, text,
           length(text) AS n_chars_m,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(text, '([^\w\s])', 1)) AS n_punct,
           len(regexp_extract_all(text, '([A-Za-z])', 1)) AS n_alpha,
           len(regexp_extract_all(lower(text), '{_EN_MARKER_SQL}', 1)) AS n_stop,
           string_split_regex(lower(trim(text)), '\s+') AS ws
    FROM documents
  )
"""

_NTOK_SQL = r"len(string_split_regex(trim(text), '\s+'))"
_KEYED_SQL = """
  SELECT doc_id, text, source,
         md5('42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
"""
_SHARDED_SQL = f"""
  SELECT *, ascii(substr(shuffle_key, 1, 1)) % 8 AS shard
  FROM ({_KEYED_SQL})
"""


@register(
    "corpus_shuffle_deterministic",
    oracle=f"""
    SELECT doc_id, shuffle_key, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY shuffle_key) AS pos
    FROM ({_SHARDED_SQL})
    ORDER BY shard, pos
    """,
    tags=("corpus", "sampling"),
)
def corpus_shuffle_deterministic(spark, sf_dir):
    """Seeded deterministic corpus shuffle (training-order control): key =
    md5(seed:id), shard = first-nibble mod 8, position = within-shard rank.
    No global sort — each shard orders independently, so epoch shuffling
    parallelizes at any corpus size; a new seed is a new epoch order."""
    docs = load(spark, sf_dir, "documents")
    return (
        C.deterministic_shuffle(docs, "doc_id", seed=42, n_shards=8)
        .select("doc_id", "shuffle_key", "shard", "pos")
        .orderBy("shard", "pos")
    )


@register(
    "corpus_pack_context_windows",
    oracle=f"""
    WITH packed AS (
      SELECT doc_id, shard, {_NTOK_SQL} AS n_tok,
             CAST(COALESCE(SUM({_NTOK_SQL}) OVER (
               PARTITION BY shard ORDER BY shuffle_key
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tokens_before
      FROM ({_SHARDED_SQL})
    )
    SELECT doc_id, shard, n_tok, tokens_before,
           tokens_before // 512 AS window_id,
           tokens_before % 512 AS tok_offset
    FROM packed
    ORDER BY doc_id
    """,
    tags=("corpus", "headline"),
)
def corpus_pack_context_windows(spark, sf_dir):
    """Greedy sequence packing into 512-token context windows (T5-style
    batching): docs in shuffled order laid head-to-tail per shard, each
    assigned the window where its first token lands. Integer running-sum
    window per shard — exact, deterministic, no global state."""
    docs = load(spark, sf_dir, "documents")
    return (
        C.pack_context_windows(
            docs, "text", "doc_id", seed=42, n_shards=8, window_tokens=512
        )
        .select("doc_id", "shard", "n_tok", "tokens_before", "window_id", "tok_offset")
        .orderBy("doc_id")
    )


_GRAMS3_SQL = r"""
  SELECT doc_id, greatest(len(ws) - 2, 0) AS n_grams,
         CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
              ELSE list_transform(generate_series(1, len(ws) - 2),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS grams
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents)
"""


@register(
    "text_repetition_ngrams",
    oracle=f"""
    WITH g AS ({_GRAMS3_SQL}),
    r AS (
      SELECT doc_id, n_grams,
             len(list_distinct(grams)) AS n_distinct_grams,
             CASE WHEN n_grams <= 0 THEN 0.0
                  ELSE round(1.0 - len(list_distinct(grams))
                             / CAST(n_grams AS DOUBLE), 6) END AS dup_ratio
      FROM g
    )
    SELECT doc_id, n_grams, n_distinct_grams, dup_ratio,
           dup_ratio <= 0.5 AS keep
    FROM r
    ORDER BY doc_id
    """,
    tags=("corpus", "text"),
)
def text_repetition_ngrams(spark, sf_dir):
    """Within-doc repetition filter (Gopher-style duplicate 3-gram
    fraction): looping/degenerate text scores near 1 and is dropped. Pure
    per-row expression work — no shuffle."""
    docs = load(spark, sf_dir, "documents")
    return C.repetition_stats(docs, "text", "doc_id", max_dup_ratio=0.5).orderBy(
        "doc_id"
    )


@register(
    "corpus_boilerplate_ngrams",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
      FROM documents
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(ws) < 5 THEN []::VARCHAR[]
                  ELSE list_transform(generate_series(1, len(ws) - 4),
                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              || ' ' || ws[i+3] || ' ' || ws[i+4]) END AS grams
      FROM t
    ), dg AS (
      SELECT doc_id AS id, unnest(list_distinct(grams)) AS gram FROM g
    ), gdf AS (
      SELECT gram, COUNT(*) AS df FROM dg GROUP BY gram
    ), per AS (
      SELECT id, COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN df >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
      FROM dg JOIN gdf USING (gram) GROUP BY id
    )
    SELECT id AS doc_id, n_grams, n_boiler,
           round(n_boiler / CAST(n_grams AS DOUBLE), 6) AS boiler_frac,
           round(n_boiler / CAST(n_grams AS DOUBLE), 6) <= 0.5 AS keep
    FROM per
    ORDER BY doc_id
    """,
    tags=("corpus", "text"),
)
def corpus_boilerplate_ngrams(spark, sf_dir):
    """Cross-doc boilerplate filter (RefinedWeb line-dedup in token space):
    5-grams present in ≥30 docs are boilerplate; each doc reports its
    boilerplate fraction. The gram→df relation is vocabulary-sized and
    broadcast — doc bodies never shuffle."""
    docs = load(spark, sf_dir, "documents")
    return C.boilerplate_ngram_stats(
        docs, "text", "doc_id", n=5, min_df=30, max_boiler_frac=0.5
    ).orderBy("doc_id")


@register(
    "corpus_quota_by_source",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_NTOK_SQL} AS n_tok FROM documents
    ), r AS (
      SELECT doc_id, source, n_tok,
             CAST(SUM(n_tok) OVER (
               PARTITION BY source ORDER BY n_tok DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tok
      FROM t
    )
    SELECT doc_id, source, n_tok, cum_tok
    FROM r WHERE cum_tok <= 3000
    ORDER BY doc_id
    """,
    tags=("corpus", "sampling"),
)
def corpus_quota_by_source(spark, sf_dir):
    """Per-source token quota (data-mixture control): longest-first ranking
    within each source, keep while the running token total fits the 3000
    budget. Windows partition by source — scales with source count, not
    corpus size."""
    docs = load(spark, sf_dir, "documents")
    return C.quota_by_source(
        docs, "text", "doc_id", "source", quota_tokens=3000
    ).orderBy("doc_id")


@register(
    "text_tokenize_ids",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos, unnest(ws) AS tok
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents)
    ), counts AS (
      SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    ), vocab AS (
      SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS token_id
      FROM counts ORDER BY n DESC, tok LIMIT 1000
    )
    SELECT t.doc_id, t.pos, t.tok, COALESCE(v.token_id, 0) AS token_id
    FROM toks t LEFT JOIN vocab v USING (tok)
    ORDER BY doc_id, pos
    """,
    tags=("corpus", "text"),
)
def text_tokenize_ids(spark, sf_dir):
    """Frequency-vocab tokenization to ids (trainer prep): top-1000 vocab
    by corpus frequency (stable tie-break), OOV → 0, exploded
    (doc, pos, tok, id) output. Vocab builds with one combined aggregation
    + distributed TakeOrdered and broadcasts onto the token stream."""
    docs = load(spark, sf_dir, "documents")
    return C.tokenize_to_ids(docs, "text", "doc_id", vocab_size=1000).orderBy(
        "doc_id", "pos"
    )


@register(
    "corpus_curation_pipeline",
    oracle=rf"""
    WITH scored AS ({_SCORED_SQL}), kept AS (
      SELECT * FROM scored WHERE quality >= 0.45 AND dup_ratio <= 0.5
    ), hashed AS (
      SELECT *,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash
      FROM kept
    ), deduped AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
      FROM hashed
    ), survivors AS (
      SELECT *, md5('42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM deduped WHERE rn = 1
    ), sharded AS (
      SELECT *, ascii(substr(shuffle_key, 1, 1)) % 8 AS shard FROM survivors
    ), packed AS (
      SELECT doc_id, lang, source, quality, dup_ratio, n_copies, shard,
             n_tokens AS n_tok,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY shuffle_key
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tokens_before
      FROM sharded
    )
    SELECT doc_id, lang, source, quality, dup_ratio, n_copies, n_tok, shard,
           tokens_before // 512 AS window_id,
           tokens_before % 512 AS tok_offset
    FROM packed
    ORDER BY doc_id
    """,
    tags=("corpus", "flagship", "headline"),
)
def corpus_curation_pipeline(spark, sf_dir):
    """The LLM-pipeline flagship: quality filter → repetition filter →
    exact dedup → deterministic shuffle → context-window packing as ONE
    declarative plan. Filters and scores fuse into the scan (rejected docs
    never leave the mapper), dedup shuffles 16-byte digests, packing
    windows per shard — the full curation pass costs one digest shuffle
    plus one shard-local sort at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    # The scoring stage (quality regexes + the Arrow 3-gram UDF) is the
    # pipeline's dominant per-row cost and the single-row-group fixture
    # file pins it to ONE task (measured 1.56 s of 2.3 s). spread() buys
    # a cores-wide scoring stage for one exchange of the raw rows; at
    # production scale the scan splits past the core count and this is a
    # no-op (io.spread contract).
    docs = spread(docs, spark, cols=("doc_id",), rows_per_task=64)
    return (
        C.curation_pipeline(
            docs, "text", "doc_id",
            min_quality=0.45, max_dup_ratio=0.5,
            seed=42, n_shards=8, window_tokens=512,
        )
        .select(
            "doc_id", "lang", "source", "quality", "dup_ratio", "n_copies",
            "n_tok", "shard", "window_id", "tok_offset",
        )
        .orderBy("doc_id")
    )


@register(
    "scrub_pii_redact",
    oracle=rf"""
    SELECT doc_id,
           len(regexp_extract_all(text, '({C.EMAIL_RE})', 1)) AS n_emails,
           len(regexp_extract_all(text, '({C.DIGITRUN_RE})', 1)) AS n_digit_runs,
           md5(regexp_replace(regexp_replace(text,
                 '{C.EMAIL_RE}', '<EMAIL>', 'g'),
                 '{C.DIGITRUN_RE}', '<NUM>', 'g')) AS redacted_md5
    FROM documents
    ORDER BY doc_id
    """,
    tags=("corpus", "text"),
)
def scrub_pii_redact(spark, sf_dir):
    """PII scrubbing: redact emails and ≥6-digit runs, report match counts
    and the redacted digest. The fixture corpus is PII-free (counts 0,
    digest = original) — redaction behavior on real PII is unit-tested in
    tests/test_corpus.py with synthetic rows. Per-row regex only: no
    shuffle, scrubbed output writes partition-parallel."""
    docs = load(spark, sf_dir, "documents")
    return C.scrub_pii(docs, "text", "doc_id").orderBy("doc_id")


_GRAMS_SQL = """
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           concat_ws(' ', tok,
                     lead(tok, 1) OVER w, lead(tok, 2) OVER w,
                     lead(tok, 3) OVER w, lead(tok, 4) OVER w,
                     lead(tok, 5) OVER w, lead(tok, 6) OVER w,
                     lead(tok, 7) OVER w) AS gram,
           lead(tok, 7) OVER w AS last_tok
    FROM (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(range(1, len(toks) + 1)) AS ord
      FROM (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)),
                                           '\\s+', ' ', 'g'), ' ') AS toks
        FROM documents
      )
    )
    WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
  ) WHERE last_tok IS NOT NULL
"""


@register(
    "corpus_decontaminate",
    oracle=f"""
    WITH grams AS ({_GRAMS_SQL}),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0),
    corpus AS (SELECT doc_id, gram FROM grams WHERE doc_id % 7 <> 0),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY 1),
    hits AS (
      SELECT c.doc_id, COUNT(*) AS n_contaminated
      FROM corpus c JOIN bench b USING (gram)
      GROUP BY 1
    )
    SELECT h.doc_id AS id, p.n_grams, h.n_contaminated,
           round(CAST(h.n_contaminated AS DOUBLE) / p.n_grams, 6)
             AS contamination
    FROM hits h JOIN per_doc p USING (doc_id)
    ORDER BY id
    """,
    tags=("corpus", "decontamination"),
)
def corpus_decontaminate(spark, sf_dir):
    """Train/eval decontamination (pre-training hygiene; Brown et al.
    2020 §4 n-gram eval-overlap): documents sharing any full word 8-gram
    with the benchmark split (doc_id % 7 — the fixture's stand-in for an
    eval set) are flagged with per-doc contamination fractions. Benchmark
    grams BROADCAST (eval sets are MBs against a 100 TB corpus); the
    corpus side is one scan + explode + map-side probe, and the only
    shuffle is the per-doc count."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return C.decontaminate(corpus, bench, "text", "doc_id", n=8).orderBy("id")


@register(
    "corpus_chunk_sliding",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws,
             len(string_split_regex(trim(text), '\s+')) AS n_tok
      FROM documents
    ),
    starts AS (
      SELECT doc_id, ws, n_tok, unnest(range(0, n_tok, 48)) AS start_tok
      FROM base
    )
    SELECT doc_id AS id,
           start_tok // 48 AS chunk_id,
           start_tok,
           least(64, n_tok - start_tok) AS n_chunk_tok,
           md5(array_to_string(
             list_slice(ws, start_tok + 1, start_tok + 64), ' ')) AS chunk_md5
    FROM starts
    ORDER BY id, chunk_id
    """,
    tags=("corpus", "chunking"),
)
def corpus_chunk_sliding(spark, sf_dir):
    """Sliding-window chunking for retrieval/embedding pipelines: 64-token
    windows every 48 tokens (16-token overlap), emitted as digests. Pure
    per-row sequence/slice arithmetic — fuses into the scan, no shuffle;
    the chunk relation is what feeds chunk-level embedding + ANN indexing
    downstream (ann_* queries)."""
    docs = load(spark, sf_dir, "documents")
    return C.chunk_sliding_windows(
        docs, "text", "doc_id", chunk_tokens=64, stride=48
    ).orderBy("id", "chunk_id")


@register(
    "corpus_global_row_ids",
    oracle="""
    SELECT doc_id, source,
           ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS row_id
    FROM documents
    ORDER BY doc_id
    """,
    tags=("corpus", "ids"),
)
def corpus_global_row_ids(spark, sf_dir):
    """Global consecutive sample ids without a global sort: range-shard
    on the key, rank per shard in parallel, add broadcast cumulative
    shard offsets. Equivalent to ROW_NUMBER() OVER (ORDER BY doc_id) —
    which is exactly what the oracle computes — but the single-partition
    sort that window implies never exists in the plan (asserted in
    test_plans)."""
    docs = load(spark, sf_dir, "documents")
    return (
        C.assign_global_row_ids(docs, "doc_id", n_shards=32)
        .select("doc_id", "source", "row_id")
        .orderBy("doc_id")
    )


@register(
    "sample_bottomk_hash",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             md5('42:' || CAST(doc_id AS VARCHAR)) AS hkey,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT lang, doc_id, n_chars, hkey
    FROM keyed WHERE rn <= 10
    ORDER BY lang, hkey, doc_id
    """,
    tags=("corpus", "sampling"),
)
def sample_bottomk_hash(spark, sf_dir):
    """Deterministic bottom-k-by-hash sampling: exactly 10 docs per
    language, chosen by the smallest md5(seed:id) keys — a uniform sample
    that is reproducible across engines, runs, partitionings, AND data
    arrivals (a doc's in/out status never depends on what else is in the
    corpus until the k boundary). This is the coordinated-sampling
    complement to ``sample_stratified_docs``: Bernoulli sampling gives a
    fraction (engine-RNG, rows-only-checkable); bottom-k gives an exact
    per-stratum count and is oracle-exact because the hash IS the sample.
    Spark rewrites rn<=k to a per-partition top-k (WindowGroupLimit): each
    task keeps a k-heap per language, the shuffle carries k·languages
    rows, never the corpus — the 100 TB shape for 'give me exactly N
    examples per source'."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    hkey = F.md5(F.concat(F.lit("42:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("lang").orderBy("hkey", "doc_id")
    return (
        docs.select("doc_id", "lang", "n_chars", hkey.alias("hkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "doc_id", "n_chars", "hkey")
        .orderBy("lang", "hkey", "doc_id")
    )


@register(
    "corpus_mixture_resample",
    oracle="""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tgt AS (
      SELECT lang, n,
             CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15
                  WHEN 'fr' THEN 0.15 WHEN 'es' THEN 0.1
                  WHEN 'zh' THEN 0.1 ELSE 0.0 END AS share
      FROM counts
    ),
    th AS (
      SELECT lang,
             LEAST(1.0, 250.0 * share / n) AS frac,
             lpad(lower(to_hex(CAST(floor(LEAST(1.0, 250.0 * share / n)
                                          * 4294967296.0) AS BIGINT))),
                  8, '0') AS thresh
      FROM tgt
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN th ON d.lang = th.lang
    WHERE th.frac >= 1.0
       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < th.thresh
    ORDER BY d.doc_id
    """,
    tags=("corpus", "sampling", "mixture"),
)
def corpus_mixture_resample(spark, sf_dir):
    """Target-mixture resampling — reshape the corpus toward a target
    LANGUAGE mixture (en .5 / de .15 / fr .15 / es .1 / zh .1 of a
    250-doc budget): per-language acceptance fraction = min(1,
    budget·share / count), applied as a DETERMINISTIC md5-threshold
    draw — a doc is kept iff the first 8 hex chars of md5(doc_id) sort
    below the fraction's hex threshold, so the same doc set is selected
    on any engine, any partitioning, any run (the oracle is exact, not
    statistical). This is the mixture-weighting step every pre-training
    pipeline runs after quotas: quotas CAP heavy sources;
    mixture-resampling HITS a target composition. Scale shape: the
    (lang, count) relation is vocabulary-sized and broadcasts; the draw
    is one stateless scan — no shuffle of document bodies at all."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    share = (
        F.when(F.col("lang") == "en", 0.5)
        .when(F.col("lang") == "de", 0.15)
        .when(F.col("lang") == "fr", 0.15)
        .when(F.col("lang") == "es", 0.1)
        .when(F.col("lang") == "zh", 0.1)
        .otherwise(0.0)
    )
    frac = F.least(F.lit(1.0), F.lit(250.0) * share / F.col("n"))
    th = counts.select(
        "lang",
        frac.alias("frac"),
        F.lpad(
            F.lower(
                F.hex(
                    F.floor(frac * F.lit(4294967296.0)).cast("long")
                )
            ),
            8,
            "0",
        ).alias("thresh"),
    )
    return (
        docs.join(F.broadcast(th), "lang")
        .filter(
            (F.col("frac") >= 1.0)
            | (
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
                < F.col("thresh")
            )
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "corpus_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             ln((CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) + 1.0)
                / 4294967296.0) / n_chars AS es_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT 100
    """,
    tags=("corpus", "sampling", "weighted"),
)
def corpus_weighted_sample(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis 2006):
    each doc draws a deterministic uniform u from a Knuth multiplicative
    hash of its id and gets key u^(1/w) (equivalently ln(u)/w, monotone);
    the global top-k by key is an exact weighted sample — here weighted
    by length (n_chars), the 'sample long documents preferentially' knob
    quality-weighted curation uses. One stateless scan + a
    TakeOrderedAndProject top-k: no shuffle of the corpus, no RNG state,
    and the same 100 docs are selected on any engine, partitioning, or
    rerun — which is what makes a SAMPLING operator oracle-checkable at
    all."""
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        (
            F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(4294967296))
        ).cast("double")
        + 1.0
    ) / 4294967296.0
    keyed = docs.select(
        "doc_id", "lang", "n_chars", (F.log(u) / F.col("n_chars")).alias("es_key")
    )
    return (
        keyed.orderBy(F.col("es_key").desc(), "doc_id")
        .limit(100)
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "corpus_train_test_split",
    oracle="""
    WITH split AS (
      SELECT source, lang, n_chars,
             CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
                       <= 'c'
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    SELECT source, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM split
    GROUP BY source, split
    ORDER BY source, split
    """,
    tags=("corpus", "llm"),
)
def corpus_train_test_split(spark, sf_dir):
    """Deterministic train/test split for a training corpus: membership is
    a pure function of doc_id — first hex nibble of md5('split:'||id),
    '0'..'c' → train (13/16 ≈ 81%), 'd'..'f' → test — so the split is
    reproducible across engines, runs, and cluster sizes with NO stored
    assignment table, and any join against either half is a filter, not
    a lookup. (The seeded-md5 trick is the same portable-hash pattern as
    corpus_shuffle_deterministic; Spark's xxhash64 and DuckDB's hash()
    disagree, md5 doesn't.) The query itself audits the split: per
    source × split doc counts and char volumes — one hash aggregate over
    the scan, no shuffle beyond the group-by, trivially 100 TB-safe."""
    docs = load(spark, sf_dir, "documents")
    split = docs.select(
        "source",
        "n_chars",
        F.when(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1, 1,
            ) <= "c",
            "train",
        ).otherwise("test").alias("split"),
    )
    return (
        split.groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("source", "split")
    )


def _bpe_oracle(rounds: int) -> str:
    """Unrolled BPE-style merge-training oracle. Each round: count
    adjacent token pairs corpus-wide (integer counts), pick the argmax
    with a total-order tie-break, splice that pair everywhere via plain
    string replace. Replace-all semantics (left-to-right, resume after
    the replacement) are identical in Spark and DuckDB, so the merge
    table — the trained artifact — is hash-comparable. Boundary-sharing
    occurrences (x a b a b → the second 'a b' lost its leading space to
    the first splice) defer to a later round in BOTH engines — a
    documented, portable quirk of the space-delimited splice, not a
    divergence."""
    head = """
    WITH d0 AS (
      SELECT doc_id, ' ' || text || ' ' AS s
      FROM documents WHERE length(text) > 0
    )"""
    parts = []
    for r in range(1, rounds + 1):
        parts.append(f""", t{r} AS (
      SELECT doc_id, string_split(trim(s), ' ') AS l FROM d{r - 1}
    ), p{r} AS (
      SELECT pr[1] AS a, pr[2] AS b, COUNT(*) AS cnt
      FROM (
        SELECT unnest(list_zip(list_slice(l, 1, len(l) - 1),
                               list_slice(l, 2, len(l)))) AS pr
        FROM t{r} WHERE len(l) > 1
      )
      GROUP BY pr[1], pr[2]
    ), m{r} AS (
      SELECT {r} AS merge_round, a, b, cnt
      FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
    ), d{r} AS (
      SELECT d.doc_id,
             replace(d.s, ' ' || m.a || ' ' || m.b || ' ',
                     ' ' || m.a || '+' || m.b || ' ') AS s
      FROM d{r - 1} d CROSS JOIN m{r} m
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, rounds + 1))
    tail = f"""
    SELECT merge_round, a, b, cnt FROM ({union}) ORDER BY merge_round
    """
    return head + "".join(parts) + tail


@register(
    "corpus_bpe_merge_training",
    oracle=_bpe_oracle(6),
    tags=("corpus", "text", "iterative"),
)
def corpus_bpe_merge_training(spark, sf_dir):
    """BPE-style subword merge TRAINING over the corpus (the tokenizer-
    fitting stage of a training-data pipeline, word-level formulation):
    6 rounds of count-adjacent-pairs → argmax (total-order tie-break) →
    splice-everywhere, returning the learned merge table. Spark shape
    per round: one map-side-combined pair count (the only corpus-sized
    aggregate), a 1-row argmax broadcast back for the splice — the
    corpus never shuffles for the merge itself, and the loop is pure
    dataflow (no driver-side vocabulary). Joins the engine's unrolled
    hash-gated loop family (PageRank, k-means, Bellman-Ford, PCA);
    replace-all splice semantics are engine-portable (documented
    boundary-sharing quirk defers equally in both engines)."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.concat(F.lit(" "), "text", F.lit(" ")).alias("s"))
    )
    history = None
    for r in range(1, 7):
        toks = docs.select(
            "doc_id", F.split(F.trim("s"), " ").alias("l")
        ).filter(F.size("l") > 1)
        pairs = (
            toks.select(
                F.explode(
                    F.arrays_zip(
                        F.slice("l", 1, F.size("l") - 1),
                        F.slice("l", 2, F.size("l") - 1),
                    )
                ).alias("pr")
            )
            .select(F.col("pr.0").alias("a"), F.col("pr.1").alias("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        top1 = materialize(  # 1 row — the round's artifact
            pairs.orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .select(F.lit(r).alias("merge_round"), "a", "b", "cnt")
        )
        history = top1 if history is None else history.unionAll(top1)
        docs = docs.crossJoin(F.broadcast(top1)).select(
            "doc_id",
            F.replace(
                F.col("s"),
                F.concat(F.lit(" "), "a", F.lit(" "), "b", F.lit(" ")),
                F.concat(F.lit(" "), "a", F.lit("+"), "b", F.lit(" ")),
            ).alias("s"),
        )
    return history.orderBy("merge_round")


def _bpe_apply_oracle(rounds: int) -> str:
    """Same unrolled merge chain as _bpe_oracle, but the tail TOKENIZES
    with the learned merges and returns the top-20 subword counts — the
    apply step that turns the trained artifact into corpus statistics."""
    base = _bpe_oracle(rounds)
    head_and_parts = base[: base.rindex("\n    SELECT merge_round")]
    tail = f"""
    SELECT tok, COUNT(*) AS n
    FROM (
      SELECT unnest(string_split(trim(s), ' ')) AS tok FROM d{rounds}
    )
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """
    return head_and_parts + tail


@register(
    "corpus_bpe_tokenize_apply",
    oracle=_bpe_apply_oracle(6),
    tags=("corpus", "text", "iterative"),
)
def corpus_bpe_tokenize_apply(spark, sf_dir):
    """APPLY the learned BPE merges (corpus_bpe_merge_training's 6-round
    chain) and count the resulting subword vocabulary — top-20 tokens
    after merging, merged units spelled a+b. Training and application in
    one lazy plan: at 100 TB the merge table is 6 rows broadcast through
    6 splice projections fused into the final scan; the only shuffles
    are the per-round pair counts and the final vocab aggregate."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.concat(F.lit(" "), "text", F.lit(" ")).alias("s"))
    )
    for _ in range(6):
        toks = docs.select(
            "doc_id", F.split(F.trim("s"), " ").alias("l")
        ).filter(F.size("l") > 1)
        pairs = (
            toks.select(
                F.explode(
                    F.arrays_zip(
                        F.slice("l", 1, F.size("l") - 1),
                        F.slice("l", 2, F.size("l") - 1),
                    )
                ).alias("pr")
            )
            .select(F.col("pr.0").alias("a"), F.col("pr.1").alias("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        top1 = materialize(
            pairs.orderBy(F.col("cnt").desc(), "a", "b").limit(1)
        )
        docs = docs.crossJoin(F.broadcast(top1)).select(
            "doc_id",
            F.replace(
                F.col("s"),
                F.concat(F.lit(" "), "a", F.lit(" "), "b", F.lit(" ")),
                F.concat(F.lit(" "), "a", F.lit("+"), "b", F.lit(" ")),
            ).alias("s"),
        )
    return (
        docs.select(F.explode(F.split(F.trim("s"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
    )


@register(
    "corpus_training_shards",
    oracle=f"""
    WITH packed AS (
      SELECT doc_id, shard, {_NTOK_SQL} AS n_tok,
             CAST(COALESCE(SUM({_NTOK_SQL}) OVER (
               PARTITION BY shard ORDER BY shuffle_key
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tokens_before
      FROM ({_SHARDED_SQL})
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(MAX(tokens_before // 512) + 1 AS BIGINT) AS n_windows,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
    FROM packed
    GROUP BY shard
    ORDER BY shard
    """,
    tags=("corpus", "io"),
)
def corpus_training_shards(spark, sf_dir):
    """Training-shard writer + manifest — the LAST step of the curation
    pipeline: the packed corpus lands ``partitionBy(shard)`` (one
    directory per trainer data-parallel rank) and the manifest the
    training launcher consumes (docs / tokens / windows / id checksum per
    shard) is computed FROM THE WRITTEN STORE, so the query proves the
    sink round-trips losslessly against a pure-SQL derivation from the
    source table.

    Scale: the write is the seeded-shuffle exchange the pipeline already
    paid (shard = hash nibble); the manifest is a shards-sized aggregate
    over the read-back. Epoch re-shards = new seed, same plan."""
    import os
    import tempfile

    docs = load(spark, sf_dir, "documents")
    packed = C.pack_context_windows(
        docs, "text", "doc_id", seed=42, n_shards=8, window_tokens=512
    ).select("doc_id", "shard", "n_tok", "window_id")
    path = os.path.join(
        tempfile.gettempdir(),
        "crocus_spark_io",
        "train_shards_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    packed.write.mode("overwrite").partitionBy("shard").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            (F.max("window_id") + 1).cast("long").alias("n_windows"),
            F.sum("doc_id").cast("long").alias("doc_id_sum"),
        )
        .select(
            F.col("shard").cast("int").alias("shard"),
            "n_docs",
            "n_tokens",
            "n_windows",
            "doc_id_sum",
        )
        .orderBy("shard")
    )


def _sc_flag_sql(b: str) -> str:
    """DuckDB twin of the span-selection hash decision."""
    from crocus_spark.queries.llm import _hash60_sql

    key = (
        "'sc:' || CAST(doc_id AS VARCHAR) || ':' || CAST(" + b + " AS VARCHAR)"
    )
    return "(" + _hash60_sql(key) + ") % 2 = 0"


@register(
    "corpus_span_corruption",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          ' ') AS ws
      FROM documents
    ),
    base AS (
      SELECT doc_id, ws, len(ws) AS n,
             list_filter(range(0, (len(ws) + 6) // 7),
                         b -> ({_sc_flag_sql("b")}) AND 7 * b + 4 <= len(ws))
               AS mblocks
      FROM d
    ),
    built AS (
      SELECT doc_id, n,
             len(mblocks) AS n_spans,
             list_filter(list_transform(range(1, n + 1), i ->
               CASE
                 WHEN ((i - 1) % 7) = 3
                      AND list_position(mblocks, (i - 1) // 7) > 0
                 THEN '<extra_id_'
                      || CAST(list_position(mblocks, (i - 1) // 7) - 1
                              AS VARCHAR) || '>'
                 WHEN ((i - 1) % 7) = 4
                      AND list_position(mblocks, (i - 1) // 7) > 0
                 THEN NULL
                 ELSE ws[i]
               END), x -> x IS NOT NULL) AS input_toks,
             list_transform(range(1, len(mblocks) + 1), k ->
               '<extra_id_' || CAST(k - 1 AS VARCHAR) || '> '
               || ws[7 * mblocks[k] + 4]
               || CASE WHEN 7 * mblocks[k] + 5 <= n
                       THEN ' ' || ws[7 * mblocks[k] + 5] ELSE '' END)
               AS target_toks
      FROM base
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n - len(input_toks) + n_spans AS BIGINT) AS n_masked,
           md5(COALESCE(array_to_string(input_toks, ' '), '')) AS input_md5,
           md5(COALESCE(array_to_string(target_toks, ' '), '')) AS target_md5
    FROM built
    ORDER BY doc_id
    """,
    tags=("corpus", "pretraining"),
)
def corpus_span_corruption(spark, sf_dir):
    """T5-style span corruption (Raffel et al., JMLR 2020 §3.1.4): ~14% of
    tokens are masked in length-2 spans, each span replaced by ONE
    ``<extra_id_k>`` sentinel in the input while the target concatenates
    sentinels with the dropped tokens — the text-to-text denoising pair a
    pretraining pipeline emits per document. Span placement is a
    hash-per-block decision on a stride-7 grid, so spans NEVER overlap by
    construction and both engines pick byte-identical spans (sequential
    sampling, the paper's method, is not order-free; the grid is the
    deterministic equivalent at the same corruption rate).

    Spark shape: everything is ARRAY-level on the token vector — block
    flags, sentinel ordinals (position in the masked-block list), input
    reconstruction, target assembly — fused into the scan with zero
    shuffles before the per-doc digest output; rows carry md5s, not
    bodies (the `corpus_chunk_sliding` discipline)."""
    from crocus_spark.operators import dedup as D
    from crocus_spark.operators.dedup import normalize_text

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("ws")
    )
    n = F.size("ws")
    flag = lambda b: (  # noqa: E731
        D.portable_hash60(
            F.concat(
                F.lit("sc:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                b.cast("string"),
            )
        )
        % 2
        == 0
    )
    mblocks = F.filter(
        F.sequence(F.lit(0), ((n + 6) / 7).cast("int") - 1),
        lambda b: flag(b) & (7 * b + 4 <= n),
    )
    base = docs.select(
        "doc_id",
        "ws",
        n.alias("n"),
        F.when(n >= 7, mblocks)
        .otherwise(
            F.filter(
                F.sequence(F.lit(0), F.lit(0)),
                lambda b: flag(b) & (7 * b + 4 <= n),
            )
        )
        .alias("mblocks"),
    )
    def tok_case(i):
        b = F.floor((i - 1) / 7).cast("int")
        pib = (i - 1) % 7
        p = F.array_position(F.col("mblocks"), b)
        return (
            F.when(
                (pib == 3) & (p > 0),
                F.concat(
                    F.lit("<extra_id_"),
                    (p - 1).cast("string"),
                    F.lit(">"),
                ),
            )
            .when((pib == 4) & (p > 0), F.lit(None).cast("string"))
            .otherwise(F.element_at("ws", i.cast("int")))
        )

    seq_1n = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    input_toks = F.filter(
        F.transform(seq_1n, tok_case), lambda x: x.isNotNull()
    )

    def target_tok(k):
        b = F.element_at("mblocks", k.cast("int"))
        return F.concat(
            F.lit("<extra_id_"),
            (k - 1).cast("string"),
            F.lit("> "),
            F.element_at("ws", (7 * b + 4).cast("int")),
            F.when(
                7 * b + 5 <= F.col("n"),
                F.concat(
                    F.lit(" "),
                    F.element_at("ws", (7 * b + 5).cast("int")),
                ),
            ).otherwise(F.lit("")),
        )

    n_spans = F.size("mblocks")
    target_toks = F.transform(
        F.when(n_spans >= 1, F.sequence(F.lit(1), n_spans)).otherwise(
            F.array().cast("array<int>")
        ),
        target_tok,
    )
    built = base.select(
        "doc_id",
        F.col("n"),
        n_spans.alias("n_spans"),
        input_toks.alias("input_toks"),
        target_toks.alias("target_toks"),
    )
    return built.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("n_spans").cast("long").alias("n_spans"),
        (F.col("n") - F.size("input_toks") + F.col("n_spans"))
        .cast("long")
        .alias("n_masked"),
        F.md5(F.concat_ws(" ", "input_toks")).alias("input_md5"),
        F.md5(F.concat_ws(" ", "target_toks")).alias("target_md5"),
    ).orderBy("doc_id")


@register(
    "corpus_ccnet_perplexity_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), freq AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), total AS (
      SELECT COUNT(*) AS n_total FROM toks
    ), per_doc AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens, SUM(f.c) AS sum_freq
      FROM toks t JOIN freq f ON t.tok = f.tok
      GROUP BY t.doc_id
    ), scored AS (
      SELECT doc_id, n_tokens,
             CAST(sum_freq AS DOUBLE) / (n_tokens * n_total) AS mean_prob,
             NTILE(3) OVER (
               ORDER BY CAST(sum_freq AS DOUBLE) / (n_tokens * n_total)
                          DESC,
                        doc_id) AS b
      FROM per_doc, total
    )
    SELECT CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(ROUND(mean_prob * 1e12) AS BIGINT)) AS DOUBLE)
             / 1e12 / COUNT(*) AS avg_mean_prob
    FROM scored GROUP BY b ORDER BY bucket
    """,
    tags=("corpus", "quality"),
)
def corpus_ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet-style quality terciles (Wenzek et al., LREC 2020): documents
    split into HEAD / MIDDLE / TAIL by their language-model score — the
    bucketing the CCNet pipeline uses to keep head data, sample middle,
    and drop tail. The score is the exact-rational unigram mean
    probability (`text_unigram_prob_score`); the tercile cut is NTILE
    over the deterministic (score DESC, doc_id) order, and per-bucket
    mean scores quantize to scaled BIGINT before summing (float sums
    never free-run). Per bucket: doc and token counts — the mixture
    weights a curation recipe consumes.

    Spark shape: the two unigram scans, then the tercile assignment with
    NO global NTILE window: an exact global rank from the shard-offset
    helper (``operators/ranking.ranked_global`` — range-shard,
    per-shard row_numbers, broadcast offsets) feeds the SQL-standard
    NTILE formula in pure integer arithmetic (first n mod k buckets get
    ⌈n/k⌉ rows), and a 3-cell roll-up. The oracle keeps the textbook
    NTILE window."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_total = toks.count()  # one scalar, not a data-sized collect
    per_doc = (
        toks.join(F.broadcast(freq), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("sum_freq"),
        )
    )
    mean_prob = F.col("sum_freq").cast("double") / (
        F.col("n_tokens") * F.lit(n_total)
    )
    from crocus_spark.operators import ranking as R

    base = per_doc.select(
        "doc_id",
        "n_tokens",
        mean_prob.alias("mean_prob"),
        (-mean_prob).alias("_neg"),
    )
    rn = R.ranked_global(
        base, ["_neg", "doc_id"], out_col="rn", n_shards=16
    ).drop("_neg")
    tot = per_doc.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # SQL-standard NTILE(3) from the exact rank, integer arithmetic:
    # q = n div 3, r = n mod 3; buckets 1..r take q+1 rows, the rest q
    scored = rn.crossJoin(F.broadcast(tot)).withColumn(
        "b",
        F.expr(
            "CASE WHEN rn <= (n % 3) * ((n div 3) + 1) "
            "THEN (rn + (n div 3)) div ((n div 3) + 1) "
            "ELSE (n % 3) + (rn - (n % 3) * ((n div 3) + 1) "
            "      + (n div 3) - 1) div (n div 3) END"
        ).cast("int"),
    )
    return (
        scored.groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            (
                F.sum(
                    F.round(F.col("mean_prob") * 1e12).cast("long")
                ).cast("double")
                / 1e12
                / F.count(F.lit(1))
            ).alias("avg_mean_prob"),
        )
        .select(
            F.when(F.col("b") == 1, "head")
            .when(F.col("b") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "n_tokens",
            "avg_mean_prob",
        )
        .orderBy("bucket")
    )
