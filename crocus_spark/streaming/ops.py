"""Structured Streaming operators — SURVEY.md §2B rows 45-52.

The reference's streaming analog is the daily snapshot cadence
(``base_scraper.py:78``: a new ``{date}/{provider}/`` folder per run) — i.e.
file-arrival micro-batches. The engine generalizes that to Structured
Streaming over the events fixture: event-time windows, watermarked late-data
handling, sessionization, streaming dedup, stateful per-key processing, and
stream-static enrichment joins.

Every bounded stream in the package — the registry's streaming queries
and the foreachBatch maintainers below — runs through one
:func:`drain`. It starts the query into a memory,
``foreachBatch`` or format sink, waits for it (availableNow to
completion, or a polled row target for ``SimpleDataSourceStreamReader``
sources), retries only the worker-spawn failure class, stops the query
and raises on a failure or a missed deadline, and releases what it
created: a memory sink's temp view and, unless the caller keeps its own
checkpoint for a restart, the checkpoint. availableNow replays make a
stream's result comparable to batch SQL (SURVEY §5.2.4); the same
pipelines attach unchanged to a live file/Kafka source at scale.
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crocus_spark.session import conf_overrides

EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _stage_stream_dir(sf_dir: str, table: str) -> str:
    """The file stream source requires a DIRECTORY of arriving files; the
    fixtures are single read-only files. Stage a per-sf directory of
    symlinks under the system temp dir (simulating the reference's
    `{base}/{date}/{provider}/` arrival folder, base_scraper.py:72-83)."""
    src = os.path.realpath(f"{sf_dir}/{table}.parquet")
    stage = os.path.join(
        tempfile.gettempdir(),
        "crocus_stream",
        os.path.basename(os.path.normpath(sf_dir)),
        table,
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return stage


# Streaming queries over Python Data Sources spawn a "simple" (non-daemon)
# Python worker at query INIT (PythonStreamingSourceRunner / the streaming
# sink's commit runner). The JVM waits a HARD-CODED 10 s for that worker to
# connect back (PythonWorkerFactory.createSimpleWorker: Selector.select(10000L)
# — not configurable) and the Python side waits 15 s ($SPARK_AUTH_SOCKET_TIMEOUT
# default); under severe host oversubscription (measured: effective
# parallelism of 3 of 32 cores during a concurrent pytest+sweep on the
# shared sandbox) fork+exec+import can exceed that window and the query
# dies with one of the messages below BEFORE processing any batch. That is
# a transient infrastructure failure, not a data error, and the standard
# production response is to restart the stream from its checkpoint.
_TRANSIENT_SPAWN_MARKERS = (
    "Python worker failed to connect back",
    "Timed out while waiting for the Python worker",
    "CANNOT_OPEN_SOCKET",
)


def is_transient_worker_spawn(exc: BaseException) -> bool:
    """True when a (streaming) query died because the Python worker did
    not SPAWN within Spark's fixed connect-back window — always at query
    init, before batch 0, so nothing has been committed."""
    msg = str(exc)
    return any(m in msg for m in _TRANSIENT_SPAWN_MARKERS)


def retry_transient_stream(attempt, attempts: int = 3):
    """Run ``attempt()`` — which must build, start and drain ONE fresh
    streaming query (fresh memory-sink name; checkpoint may and should be
    reused) — retrying only the worker-spawn failure class above.

    Safety: the spawn failure happens while the micro-batch stream is
    being CONSTRUCTED, so no batch has run; for checkpointed queries a
    retry resumes exactly where the checkpoint says (the same restart a
    production supervisor performs), and for availableNow memory-sink
    drains each attempt recomputes into a fresh sink table. Anything
    outside this failure class — data errors, analysis errors, the CDC
    rewrite markers — propagates unchanged on the first throw."""
    for i in range(attempts):
        try:
            return attempt()
        except Exception as e:  # noqa: BLE001 — filtered by marker below
            if i == attempts - 1 or not is_transient_worker_spawn(e):
                raise


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events parquet (file-source micro-batches —
    the engine's stand-in for the reference's daily snapshot arrivals).
    ts is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false); read as
    session-tz TIMESTAMP (see session.py inferTimestampNTZ pin)."""
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(_stage_stream_dir(sf_dir, "events"))
    )


DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the documents parquet — the corpus-arrival
    stream (crawl batches landing as files). Same file-source micro-batch
    mechanics as the events stream."""
    return spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(
        _stage_stream_dir(sf_dir, "documents")
    )


# A drain that has not finished by then is stopped and fails: this bounds
# a hung or starved query, it is no performance budget (the slowest
# streaming query at sf0.1, stream_session_expiry_tws, takes ~50 s on a
# 4-core host).
_DEADLINE_S = 600.0


def drain(
    df: DataFrame,
    sink="memory",
    output_mode: str = "append",
    checkpoint: str | None = None,
    state_provider: str | None = None,
    until_rows: int | None = None,
    options: dict | None = None,
) -> DataFrame | None:
    """Run the bounded stream ``df`` to its end and release what the run
    created. Every bounded stream in the package goes through here.

    ``sink`` is ``"memory"``, a ``foreachBatch`` function or a format
    name (written with ``options``). A memory drain returns the sink
    contents as a batch DataFrame; the sink's temp view is dropped
    before it returns (the frame holds the sink itself, so it still
    collects), and with no ``checkpoint`` Spark's temporary checkpoint
    is used, which the stop deletes. Drains whose restart must resume
    (foreachBatch state roots, the snapshot sink's ledger) pass their own ``checkpoint``; it is kept.

    Waiting: availableNow to completion, or — with ``until_rows`` — a
    processingTime query polled until the memory sink holds that many
    rows. The poll is for ``SimpleDataSourceStreamReader`` sources,
    which under availableNow stop after ONE ``read()`` step. A failed
    query, or one still short of its end after ``_DEADLINE_S``, is
    stopped and raises; no partial sink is ever returned.

    Memory drains run with ``spark.sql.shuffle.partitions`` at 8 and
    the optional ``state_provider`` as the state store, both restored
    afterwards: stateful operators pin their state-store count to that
    conf at first start and cannot use AQE, so the session's
    batch-tuned 32 means 32 stores × per-batch commit fsyncs for a
    fixture-sized stream (measured 2-3× the query's wall). foreachBatch
    and format drains keep the session's conf: their per-batch
    functions run batch plans under it.

    Each start goes through :func:`retry_transient_stream`: a memory
    drain retries into a fresh sink, a checkpointed one resumes (which
    replays no batch twice: every in-repo ``foreachBatch`` function
    commits with ``replace=True`` keyed on batch_id, and the snapshot
    sink's txn ledger skips a committed batch)."""
    spark = df.sparkSession
    memory = sink == "memory"

    def attempt():
        name = f"drain_{uuid.uuid4().hex[:12]}"
        w = df.writeStream.outputMode(output_mode).queryName(name)
        if callable(sink):
            w = w.foreachBatch(sink)
        else:
            w = w.format(sink).options(**(options or {}))
        if checkpoint is not None:
            w = w.option("checkpointLocation", checkpoint)
        if until_rows is None:
            w = w.trigger(availableNow=True)
        else:
            w = w.trigger(processingTime="250 milliseconds")
        q = w.start()
        try:
            if until_rows is None:
                done = q.awaitTermination(_DEADLINE_S)
            else:
                deadline = time.monotonic() + _DEADLINE_S
                done = False
                while not done and time.monotonic() < deadline:
                    time.sleep(0.25)
                    exc = q.exception()
                    if exc is not None:
                        raise exc
                    done = spark.table(name).count() >= until_rows
            if not done:
                raise TimeoutError(
                    f"stream drain {name} did not finish in {_DEADLINE_S:g} s"
                )
            return spark.table(name) if memory else None
        finally:
            q.stop()
            if memory:
                spark.catalog.dropTempView(name)

    if not memory:
        return retry_transient_stream(attempt)
    with conf_overrides(
        spark,
        {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.streaming.stateStore.providerClass": state_provider
            or None,
        },
    ):
        return retry_transient_stream(attempt)


def tumbling_window_agg(events: DataFrame, window: str = "6 hours") -> DataFrame:
    """Tumbling event-time window aggregation (§2B#45)."""
    return (
        events.groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
        )
    )


def sliding_window_agg(
    events: DataFrame, window: str = "12 hours", slide: str = "6 hours"
) -> DataFrame:
    """Sliding event-time window aggregation (§2B#46): each event counted in
    window/slide overlapping windows."""
    return (
        events.groupBy(F.window("ts", window, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def session_window_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Session windows per user (§2B#47): dynamic windows that extend while
    events arrive within ``gap`` of the last one. State per open session;
    the watermark bounds how long sessions stay open — without it, state
    grows forever on an unbounded stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful per-key processing via applyInPandasWithState
    (§2B#50): a running (count, total-cents) per user — the 'running
    portfolio state' shape from SURVEY §2B. State is a pair of ints; money
    is accumulated in integer cents so totals are exact and order-free.

    Arrow-batched: each micro-batch delivers the user's rows as pandas
    frames; state round-trips between batches. At scale state lives in the
    state store (RocksDB on executors), partitioned by key — no driver
    involvement."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    def fn(key, pdf_iter, state):
        count, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            count += len(pdf)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        state.update((count, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [count],
                "total_cents": [cents],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, total_cents long",
        stateStructType="count long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_attribution(
    events: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream inner join (beyond §2B#51's stream-static): attribute
    each purchase to the user's clicks in the preceding
    ``attribution_window``.

    Both sides are watermarked and the join condition time-bounds the two
    event-time columns — that pair of constraints is what lets Spark
    expire join state: a click older than watermark + window can never
    match a future purchase and is dropped from the state store. Without
    the time bound, stream-stream state grows forever; this is THE
    unbounded-stream design rule at scale."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {attribution_window}")
        )
    )
    # left_outer: a click with no purchase in its window emits a null
    # purchase row — but only once the watermark has passed click_ts +
    # attribution_window (before that a match could still arrive). The
    # emission horizon is therefore part of the operator's SEMANTICS on
    # a finite replay: clicks younger than final_watermark - window stay
    # unreported. Same state-expiry bound as inner.
    # coalesce covers full_outer's purchase-only rows (c_user null);
    # for inner/left_outer c_user is never null, so this is identical
    return clicks.join(purchases, cond, join_type).select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup by event_id within the watermark horizon (§2B#49).
    dropDuplicatesWithinWatermark keeps state only for the watermark window —
    bounded memory on an unbounded stream, vs dropDuplicates' forever-state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def foreach_batch_apply_cdc(
    feed: DataFrame, derived_root: str
) -> DataFrame:
    """Consume a typed CDC feed (the ``crocus_snapshot_tail`` schema:
    data columns + ``_op``/``_version``) and MAINTAIN a derived
    per-user aggregate store from it — the downstream half of the CDC
    loop, Delta CDF → materialized aggregate. Per micro-batch, the
    three op kinds become algebra:

    - ``insert`` rows ADD their (count, decimal-sum) partials;
    - ``delete`` rows (full pre-images, from positional-delete commits)
      SUBTRACT theirs — pre-images are what make subtraction possible
      without rescanning the source;
    - ``delete_key`` tombstones ANTI-JOIN their users out entirely.

    The result commits as snapshot version ``batch_id`` with
    ``replace=True`` — the same exactly-once-per-batch recipe as
    :func:`foreach_batch_merge_totals`, so a checkpoint replay
    atomically supersedes its own earlier commit. Per-batch work is
    feed-delta + keyspace sized, never source-history sized: the
    maintained aggregate tracks a 100 TB table at the cost of its
    churn."""
    from crocus_spark.operators.maintenance import (
        commit_snapshot,
        list_snapshot_versions,
        read_snapshot,
    )

    spark = feed.sparkSession

    def apply_batch(batch_df, batch_id):
        # Per-key OP ORDER inside the batch is resolved by _version
        # FIRST: availableNow can collapse the whole log into one batch
        # (custom Python stream sources fall back to single-batch
        # execution), so a key tombstoned at version t and re-inserted
        # at t' > t arrives together — the tombstone clears everything
        # through t (prior state AND this batch's older rows), while
        # rows newer than t survive it. Applying the anti-join to the
        # final merge without this would wrongly erase the re-insert
        # (r8 ADVICE: the "order/batching-insensitive" claim failed
        # delete-then-reinsert).
        tomb = (
            batch_df.filter(F.col("_op") == "delete_key")
            .groupBy("user_id")
            .agg(F.max("_version").alias("_tomb_v"))
        )
        rows = (
            batch_df.filter(F.col("_op") != "delete_key")
            .join(tomb, "user_id", "left")
            .filter(
                F.col("_tomb_v").isNull()
                | (F.col("_version") > F.col("_tomb_v"))
            )
        )
        dec = F.sum(F.col("value").cast("decimal(25,6)"))
        ins = (
            rows.filter(F.col("_op") == "insert")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dec.alias("value_dec"),
            )
        )
        rm = (
            rows.filter(F.col("_op") == "delete")
            .groupBy("user_id")
            .agg(
                (-F.count(F.lit(1))).alias("n_events"),
                (-dec).alias("value_dec"),
            )
        )
        partial = ins.unionByName(rm)
        prior = [
            v for v in list_snapshot_versions(derived_root) if v < batch_id
        ]
        if prior:
            # prior state predates every tombstone in this batch, so a
            # tombstoned user's accumulated totals clear entirely; the
            # surviving post-tombstone partials then re-add on top
            state = read_snapshot(spark, derived_root, prior[-1]).join(
                tomb, "user_id", "left_anti"
            )
            partial = state.unionByName(partial)
        merged = partial.groupBy("user_id").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_dec").alias("value_dec"),
        ).filter(F.col("n_events") > 0)
        commit_snapshot(
            merged, derived_root, version=batch_id, replace=True
        )

    drain(feed, apply_batch, checkpoint=os.path.join(derived_root, "_checkpoint"))
    return read_snapshot(spark, derived_root)


def foreach_batch_merge_totals(
    events: DataFrame, state_root: str
) -> DataFrame:
    """Streaming upsert via ``foreachBatch``: each micro-batch's partial
    aggregates MERGE into a versioned parquet state table, and the final
    state equals the batch groupBy over all data ever seen.

    State is kept as ALGEBRAIC partials (count + decimal sum) in the
    manifest-logged snapshot store (operators/maintenance): each batch
    PINS the latest committed manifest below its batch_id, merges, and
    commits the result as version ``batch_id`` — data into a fresh
    immutable directory, then ONE atomic manifest swap. Exactly-once
    per batch via the checkpoint's batch_id: a replayed batch commits
    with ``replace=True``, atomically superseding its own earlier
    manifest while readers pinned to any committed version keep
    reading intact files (the r5 store's directory listing had no such
    commit point — a reader could list a half-written version). State
    shuffled per batch is keyspace-sized, not history-sized."""
    from crocus_spark.operators.maintenance import (
        commit_snapshot,
        list_snapshot_versions,
        read_snapshot,
    )

    spark = events.sparkSession

    def merge_batch(batch_df, batch_id):
        partial = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("value_dec"),
        )
        prior = [
            v for v in list_snapshot_versions(state_root) if v < batch_id
        ]
        if prior:
            state = read_snapshot(spark, state_root, prior[-1])
            merged = (
                state.unionByName(partial)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("value_dec").alias("value_dec"),
                )
            )
        else:
            merged = partial
        commit_snapshot(
            merged, state_root, version=batch_id, replace=True
        )

    drain(events, merge_batch, checkpoint=os.path.join(state_root, "_checkpoint"))
    return read_snapshot(spark, state_root)


def stateful_user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-key running totals via transformWithStateInPandas — the
    Spark-4 stateful API succeeding applyInPandasWithState (same §2B#50
    semantics as ``stateful_user_totals``, kept as a twin so both API
    generations stay covered): explicit typed ValueState on a
    StatefulProcessor, Arrow-batched rows per key per micro-batch, state
    in the executor state stores partitioned by key. Integer-cent
    accumulation keeps totals exact and order-free.

    Registered as the ``stream_stateful_tws`` driver query as of r11:
    the protobuf runtime the state protocol needs resolves through
    crocus_spark/_protobuf_compat.py (vendored-copy alias — this
    container ships no google.protobuf), and the multi-column-family
    state the API requires runs on the RocksDB provider. Requires both;
    ``stateful_user_totals`` (applyInPandasWithState) remains the
    runtime-independent twin."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (  # noqa: PLC0415
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [StructField("count", LongType()), StructField("cents", LongType())]
    )

    class TotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                count, cents = self._state.get()
            else:
                count, cents = 0, 0
            for pdf in rows:
                count += len(pdf)
                cents += int(
                    pdf["value"].mul(100).round().astype("int64").sum()
                )
            self._state.update((count, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [count],
                    "total_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TotalsProcessor(),
        outputStructType="user_id long, n_events long, total_cents long",
        outputMode="Update",
        timeMode="None",
    )


def session_expiry_tws(
    events: DataFrame,
    gap_min: int = 30,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Timer-driven per-key SESSIONIZATION on transformWithStateInPandas
    (r11 — the r10 verdict's task #5 shape: timers + typed state on the
    Spark-4 arbitrary-state API): each user's events maintain an open
    session in a ValueState plus data-closed sessions in a ListState,
    and EVENT-TIME TIMERS drive emission — a session row is produced
    only when the watermark passes its last event + gap, which is
    exactly the append-mode rule the built-in ``session_window`` (and
    the batch gaps-and-islands oracle) encodes. Sessions still open at
    end-of-stream are withheld.

    Timer mechanics: every batch (re)registers an expiry timer at each
    stored session's ``last + gap``; when one fires, ALL sessions whose
    expiry the current watermark has passed emit and leave the state
    (extra stale timers for since-extended sessions fire harmlessly —
    eligibility is checked against the live watermark, so an extended
    session simply isn't due yet). State per key is O(open + pending
    sessions), never O(events). Requires the RocksDB state store
    (multi-column-family) and a protobuf runtime for the state
    protocol (see crocus_spark/_protobuf_compat.py)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (  # noqa: PLC0415
        LongType,
        StructField,
        StructType,
    )

    gap_us = gap_min * 60_000_000  # state keeps MICROSECONDS (full
    # fixture precision; timers register in ms — their native unit)
    sess_schema = StructType(
        [
            StructField("start", LongType()),
            StructField("last", LongType()),
            StructField("n", LongType()),
        ]
    )

    def _emit_df(key, sessions):
        return pd.DataFrame(
            {
                "user_id": [key[0]] * len(sessions),
                "session_start": [
                    pd.Timestamp(s[0], unit="us") for s in sessions
                ],
                "n_events": [s[2] for s in sessions],
            }
        )

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._open = handle.getValueState("open_session", sess_schema)
            self._pending = handle.getListState("pending", sess_schema)
            self._handle = handle

        def handleInputRows(self, key, rows, timerValues):
            ts = []
            for pdf in rows:
                ts.extend(
                    int(x) for x in
                    pdf["ts"].astype("datetime64[us]").astype("int64")
                )
            ts.sort()  # a drain batch can carry a key's whole history
            cur = self._open.get() if self._open.exists() else None
            pend = [tuple(s) for s in self._pending.get()]
            for t in ts:
                if cur is None:
                    cur = (t, t, 1)
                elif t - cur[1] <= gap_us:
                    cur = (min(cur[0], t), max(cur[1], t), cur[2] + 1)
                else:
                    pend.append(cur)  # closed by data; emits on timer
                    cur = (t, t, 1)
            self._open.update(cur)
            self._pending.clear()
            if pend:
                self._pending.appendList(pend)
            for s in pend + [cur]:
                self._handle.registerTimer((s[1] + gap_us) // 1000)
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            wm_us = timerValues.getCurrentWatermarkInMs() * 1000
            due, keep = [], []
            for s in (tuple(x) for x in self._pending.get()):
                (due if s[1] + gap_us <= wm_us else keep).append(s)
            self._pending.clear()
            if keep:
                self._pending.appendList(keep)
            if self._open.exists():
                cur = tuple(self._open.get())
                if cur[1] + gap_us <= wm_us:
                    due.append(cur)
                    self._open.clear()
            if due:
                due.sort()
                yield _emit_df(key, due)

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(),
            outputStructType=(
                "user_id long, session_start timestamp, n_events long"
            ),
            outputMode="Append",
            timeMode="EventTime",
        )
    )


def stateful_type_counts_tws(
    events: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """Per-(user, event_type) running counts on a transformWithState
    MAPSTATE (r11 — the composite-state member beside the ValueState
    totals and the timer sessions): one map per user keyed by event
    type, each input batch merging its per-type counts, the full map
    emitted per batch in update mode.

    ``ttl_ms`` sets the state TTL (processing-time expiry — Spark 4's
    state-bound knob): entries untouched for longer than the TTL
    vanish, which is what bounds state on an unbounded keyspace in
    production; it requires (and this operator switches to) the
    ProcessingTime time mode. MEASURED CAVEAT (r11): with the TTL
    enabled, an availableNow drain of the sf0.001 events fixture went
    from 9 s to >9 minutes in this environment — the per-update TTL
    secondary-index maintenance multiplies Python<->JVM state RPCs
    (each a pure-Python protobuf round-trip here). The parameter is
    wired and correct but default-off; treat it as
    cluster-environment-dependent and bench before enabling."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeCountsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "by_type", "t string", "n long", ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timerValues):
            merged: dict[str, int] = {}
            for pdf in rows:
                for t, n in pdf["event_type"].value_counts().items():
                    merged[str(t)] = merged.get(str(t), 0) + int(n)
            for t, n in merged.items():
                prev = (
                    self._counts.getValue((t,))
                    if self._counts.containsKey((t,))
                    else None
                )
                base = int(prev[0]) if prev is not None else 0
                self._counts.updateValue((t,), (base + n,))
            out = sorted(
                (str(k[0]), int(v[0])) for k, v in self._counts.iterator()
            )
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out),
                    "event_type": [t for t, _n in out],
                    "n": [n for _t, n in out],
                }
            )

        def close(self) -> None:
            pass

    # TTL state requires the ProcessingTime time mode
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TypeCountsProcessor(),
        outputStructType="user_id long, event_type string, n long",
        outputMode="Update",
        timeMode="ProcessingTime" if ttl_ms is not None else "None",
    )


def stage_stream_with_flush_sentinel(
    spark: SparkSession, sf_dir: str, table: str = "events"
) -> str:
    """Stage a stream directory = fixture file + one FLUSH SENTINEL file
    (a click and a purchase for the reserved user_id -1, timestamped 10
    days past the fixture's max event time).

    Why: outer stream-stream join results for a left row emit only once
    the watermark passes its join window, and the watermark only advances
    from rows that REACH the watermark operator. On a finite replay the
    youngest unmatched rows would stay unreported. The sentinel pair (one
    row per join SIDE — a row filtered out before ``withWatermark`` moves
    no watermark) drives both watermarks past every real window, so the
    final result equals the batch outer join exactly. This is the
    file-stream analog of closing a Kafka topic with an end-of-day marker
    message — the production pattern for deterministic daily cutoffs
    (the reference's scrape-day boundary)."""
    import glob
    import shutil

    src = os.path.realpath(f"{sf_dir}/{table}.parquet")
    stage = os.path.join(
        tempfile.gettempdir(),
        "crocus_stream",
        os.path.basename(os.path.normpath(sf_dir)),
        f"{table}_flush",
    )
    done = os.path.join(stage, "_SENTINEL_DONE")
    if os.path.exists(done):
        return stage
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    os.symlink(src, os.path.join(stage, f"{table}.parquet"))
    maxts = spark.read.parquet(src).agg(F.max("ts")).first()[0]  # one scalar
    sent = spark.createDataFrame(
        [
            (-1, maxts, -1, "click", 0.0, "{}"),
            (-2, maxts, -1, "purchase", 0.0, "{}"),
        ],
        schema=EVENTS_STREAM_SCHEMA,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 240 HOURS"))
    tmp = os.path.join(stage, "_sentinel_build")
    sent.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(stage, f"zz_{table}_sentinel.parquet"))
    shutil.rmtree(tmp)
    open(done, "w").close()
    return stage


def foreach_batch_apply_cdc_groups(
    feed: DataFrame,
    src_root: str,
    derived_root: str,
    group_col: str = "user_id",
) -> DataFrame:
    """Maintain a NON-distributive per-group aggregate (min/max) from a
    CDC feed by GROUP-PRUNED RECOMPUTE — the materialized-view
    maintenance shape additive algebra can't cover: you cannot subtract
    a deleted row from a MAX. Instead, each batch derives its DIRTY
    GROUP set from the feed rows' group column and recomputes ONLY
    those groups against the source table pinned at the batch's newest
    version; every other group's state carries over untouched. Cost per
    batch: churn-sized feed scan + a source scan semi-joined down to
    dirty groups (partition/stats-pruned on a group-clustered store) —
    never a full recompute.

    This is exactly what the tail's ``eq_pre_images`` option exists
    for: an equality delete keyed on a NON-group column (here:
    event_type) arrives as key-only tombstones with the group column
    NULL — the dirty set would be unknowable and this function raises;
    with pre-images every deleted row carries its group, so the dirty
    set is exact. Exactly-once via version=batch_id replace commits, as
    the other foreachBatch consumers."""
    from crocus_spark.operators.maintenance import (
        commit_snapshot,
        list_snapshot_versions,
        read_snapshot,
    )

    spark = feed.sparkSession

    def apply_batch(batch_df, batch_id):
        blind = batch_df.filter(
            (F.col("_op") == "delete_key") & F.col(group_col).isNull()
        )
        if blind.limit(1).count() > 0:
            raise ValueError(
                "key-only tombstone without the group column: this "
                "consumer needs option(eq_pre_images=true) on the tail "
                f"(group_col={group_col!r} was NULL on a delete_key row)"
            )
        max_v = batch_df.agg(F.max("_version")).collect()[0][0]
        if max_v is None:
            return  # empty micro-batch (a no-change drain): nothing dirty
        dirty = (
            batch_df.select(group_col)
            .where(F.col(group_col).isNotNull())
            .distinct()
        )
        fresh = (
            read_snapshot(spark, src_root, int(max_v))
            .join(dirty, group_col, "left_semi")
            .groupBy(group_col)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.max("value").alias("max_value"),
                F.min("value").alias("min_value"),
            )
        )
        prior = [
            v for v in list_snapshot_versions(derived_root) if v < batch_id
        ]
        if prior:
            carried = read_snapshot(spark, derived_root, prior[-1]).join(
                dirty, group_col, "left_anti"
            )
            fresh = carried.unionByName(fresh)
        commit_snapshot(
            fresh, derived_root, version=batch_id, replace=True
        )

    drain(feed, apply_batch, checkpoint=os.path.join(derived_root, "_checkpoint"))
    return read_snapshot(spark, derived_root)
