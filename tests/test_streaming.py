"""Streaming semantics tests that the oracle harness can't express:
watermark late-data drop and duplicate collapse across micro-batches
(SURVEY §5.2.4). Built on synthetic two-file streams so batch order and
lateness are controlled."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _write_batches(spark, tmpdir, batches, schema):
    """One parquet file per batch; maxFilesPerTrigger=1 replays them in
    lexicographic order as separate micro-batches."""
    src = os.path.join(tmpdir, "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"b{i}"))
    return [os.path.join(src, f"b{i}") for i in range(len(batches))]


def _run_two_phase(spark, paths, schema, build, output_mode):
    """Start a file stream over a dir, add files one batch at a time via
    availableNow replays sharing one checkpoint — deterministic multi-batch
    execution with watermark carry-over between batches."""
    import shutil

    stream_dir = os.path.dirname(paths[0]) + "_stream"
    os.makedirs(stream_dir, exist_ok=True)
    ckpt = stream_dir + "_ckpt"
    collected: list = []

    # memory sink can't recover from a checkpoint; foreachBatch can — it
    # collects each micro-batch into the driver-side list (test scale only)
    def sink(batch_df, _epoch):
        collected.extend(batch_df.collect())

    for i, p in enumerate(paths):
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(p, f), os.path.join(stream_dir, f"{i}_{f}"))
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
            stream_dir
        )
        q = (
            build(src)
            .writeStream.outputMode(output_mode)
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return collected


SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving in batch 2 whose event time is far behind the
    watermark established by batch 1 must be dropped from an append-mode
    windowed aggregate (§2B#48)."""
    batch1 = [
        (1, "2024-01-01 10:00:00", 1, 1.0),
        (2, "2024-01-01 10:05:00", 1, 1.0),
        (3, "2024-01-01 23:00:00", 2, 1.0),  # advances watermark to 22:00
    ]
    batch2 = [
        (4, "2024-01-01 10:07:00", 1, 1.0),  # late: window 10:00 < watermark
        (5, "2024-01-01 23:30:00", 2, 1.0),  # on time
    ]

    def to_rows(b):
        return [
            (i, __import__("datetime").datetime.fromisoformat(t), u, v)
            for i, t, u, v in b
        ]

    paths = _write_batches(
        spark, str(tmp_path), [to_rows(batch1), to_rows(batch2)], SCHEMA
    )

    def build(src):
        return (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "10 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    out = _run_two_phase(spark, paths, SCHEMA, build, "append")
    emitted = {
        (r["window"].start.strftime("%H:%M"), r["n"]) for r in out
    }
    # the 10:00 window was emitted when the watermark passed it in batch 1
    # with TWO rows; the late row #4 must not re-open or re-emit it
    assert ("10:00", 2) in emitted
    assert ("10:00", 3) not in emitted


def test_streaming_dedup_collapses_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps exactly one copy of an event_id
    duplicated within the watermark horizon, across micro-batches (§2B#49)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    batch1 = [(1, t0, 1, 1.0), (2, t0 + dt.timedelta(minutes=1), 1, 2.0)]
    batch2 = [
        (1, t0 + dt.timedelta(minutes=2), 1, 1.0),  # dup id within horizon
        (3, t0 + dt.timedelta(minutes=3), 2, 3.0),
    ]
    paths = _write_batches(spark, str(tmp_path), [batch1, batch2], SCHEMA)

    def build(src):
        return src.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )

    out = _run_two_phase(spark, paths, SCHEMA, build, "append")
    ids = sorted(r["event_id"] for r in out)
    assert ids == [1, 2, 3]


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState carries state between micro-batches: final
    emission per key equals the totals over ALL batches (§2B#50)."""
    import datetime as dt

    from crocus_spark.streaming.ops import stateful_user_totals

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    batch1 = [(1, t0, 7, 1.50), (2, t0, 7, 2.25)]
    batch2 = [(3, t0 + dt.timedelta(minutes=5), 7, 0.25)]
    paths = _write_batches(spark, str(tmp_path), [batch1, batch2], SCHEMA)

    def build(src):
        return stateful_user_totals(src)

    out = _run_two_phase(spark, paths, SCHEMA, build, "update")
    final = max(
        (r for r in out if r["user_id"] == 7), key=lambda r: r["n_events"]
    )
    assert final["n_events"] == 3
    assert final["total_cents"] == 400


def test_streaming_partitioned_parquet_sink(spark, tmp_path):
    """Streaming sink half of the reference's snapshot store
    (base_scraper.py:72-83 layout, §2B#52): writeStream to parquet
    partitioned by provider, availableNow, exactly-once via checkpoint.
    Re-running against the same checkpoint must not duplicate rows; the
    sink directory must carry the Hive partition layout so downstream
    reads prune."""
    import os

    schema = "isin string, provider string, price double"
    rows = [
        ("IE00B5BMR087", "ishares", 632.42),
        ("IE00BK5BQT80", "vanguard", 144.12),
        ("IE00B3RBWM25", "vanguard", 5.66),
    ]
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(src_dir)
    out = str(tmp_path / "snapshots")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.schema(schema)
            .parquet(src_dir)
            .writeStream.format("parquet")
            .partitionBy("provider")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    run()  # replay same checkpoint: no new data -> no duplicates

    assert sorted(
        d for d in os.listdir(out) if d.startswith("provider=")
    ) == ["provider=ishares", "provider=vanguard"]
    back = spark.read.parquet(out)
    assert back.count() == 3
    got = {(r.isin, r.provider, r.price) for r in back.collect()}
    assert got == set(rows)


def test_stream_curation_matches_batch(spark):
    """The streaming curation filter must equal the identical batch filter
    — stateless scorers can't drift between micro-batch and batch plans."""
    from pyspark.sql import functions as F

    from crocus_spark.io import load
    from crocus_spark.operators import corpus as C
    from crocus_spark.operators import text as X
    from crocus_spark.queries import REGISTRY, queries

    queries()
    got = (
        REGISTRY["stream_corpus_curation"]
        .fn(spark, SF_SMOKE)
        .select("doc_id", "quality", "dup_ratio")
        .collect()
    )
    batch = (
        C.dup_gram_cols(X.quality_score(load(spark, SF_SMOKE, "documents")), "text")
        .filter((F.col("quality") >= 0.45) & (F.col("dup_ratio") <= 0.5))
        .select("doc_id", "quality", "dup_ratio")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_foreachbatch_merge_across_batches(spark, tmp_path):
    """The merge must be correct ACROSS micro-batches, not just within
    one: split events into 3 arrival files, force maxFilesPerTrigger=1
    (3 separate merges), and the final state must still equal the batch
    group-by. Also: every batch leaves a committed version (snapshot
    history through the manifest log)."""
    from crocus_spark.io import load
    from crocus_spark.streaming.ops import (
        EVENTS_STREAM_SCHEMA,
        foreach_batch_merge_totals,
    )

    ev = load(spark, SF_SMOKE, "events")
    arrivals = str(tmp_path / "arrivals")
    # 3 arrival files, same timestamp schema as the stream source
    ev.repartition(3).write.mode("overwrite").parquet(arrivals)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
    )
    state_root = str(tmp_path / "state")
    final = foreach_batch_merge_totals(stream, state_root)

    expected = sorted(
        map(
            tuple,
            ev.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(25,6)")).alias("value_dec"),
            )
            .collect(),
        )
    )
    got = sorted(map(tuple, final.collect()))
    assert got == expected
    from crocus_spark.operators.maintenance import list_snapshot_versions

    assert len(list_snapshot_versions(state_root)) >= 3, "one version per batch"


def test_protobuf_compat_shim(spark):
    """The vendored-runtime alias makes google.protobuf importable in
    this container (transformWithState's state protocol needs it) and
    is idempotent; the generated state-protocol module round-trips a
    message under it."""
    from crocus_spark._protobuf_compat import ensure_protobuf

    assert ensure_protobuf() is True
    assert ensure_protobuf() is True  # idempotent
    import google.protobuf  # noqa: F401
    from pyspark.sql.streaming.proto import StateMessage_pb2 as M

    m = M.StateRequest()
    assert M.StateRequest.FromString(m.SerializeToString()) == m


def test_tws_session_expiry_withholds_open_tail(spark, tmp_path):
    """Timer-emission rule: a session whose (last event + gap) the
    final watermark never passes stays IN STATE — withheld, exactly
    like the built-in session_window in append mode. Crafted stream:
    user 7's first session (2 events) closes 40min before max ts and
    emits; its second session is the stream tail and must NOT emit."""
    import datetime

    from crocus_spark.streaming.ops import drain, session_expiry_tws

    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        (1, at(0), 7, "click", 1.0, "{}"),
        (2, at(10), 7, "click", 1.0, "{}"),
        (3, at(80), 7, "purchase", 2.0, "{}"),  # new session; stream tail
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
    )
    out = drain(
        session_expiry_tws(stream), output_mode="append",
        state_provider=(
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider"
        ),
    )
    got = [
        (r.user_id, r.session_start, r.n_events) for r in out.collect()
    ]
    # final watermark = 80min - 10min = 70min; session1 last+30 = 40min
    # emits, session2 last+30 = 110min is withheld
    assert got == [(7, at(0), 2)]


def test_retry_transient_stream_semantics():
    """The worker-spawn retry (streaming.ops.retry_transient_stream)
    retries EXACTLY the transient spawn-failure class — the hard-coded
    10 s JVM connect-back window / 15 s Python-side auth timeout lapsing
    under host oversubscription — and nothing else: data errors, CDC
    rewrite markers and assertion failures propagate on first throw, so
    the retry can never mask a real failure."""
    from crocus_spark.streaming.ops import (
        is_transient_worker_spawn,
        retry_transient_stream,
    )

    # the three observed spellings of the spawn failure (JVM accept
    # timeout, streaming-runner wrap, Python-side connect timeout)
    for msg in (
        "Python worker failed to connect back.",
        "java.net.SocketTimeoutException: Timed out while waiting for "
        "the Python worker to connect back",
        "[CANNOT_OPEN_SOCKET] Can not open socket: [\"tried to connect "
        "to ('127.0.0.1', 34173), but an error occurred: timed out\"].",
    ):
        assert is_transient_worker_spawn(RuntimeError(msg))
        calls = []

        def flaky(m=msg):
            calls.append(1)
            if len(calls) < 2:
                raise RuntimeError(m)
            return "drained"

        assert retry_transient_stream(flaky) == "drained"
        assert len(calls) == 2

    # non-transient failures propagate unretried
    for exc in (
        ValueError("source table vX cannot represent a rewrite"),
        AssertionError("expected incremental batches, saw set()"),
        RuntimeError("[STREAM_FAILED] division by zero"),
    ):
        assert not is_transient_worker_spawn(exc)
        n = []

        def hard(e=exc):
            n.append(1)
            raise e

        try:
            retry_transient_stream(hard)
            raise SystemExit("should have raised")
        except type(exc):
            assert len(n) == 1

    # attempts are bounded: a persistent spawn failure still surfaces
    m = []

    def always():
        m.append(1)
        raise RuntimeError("Python worker failed to connect back.")

    try:
        retry_transient_stream(always, attempts=3)
        raise SystemExit("should have raised")
    except RuntimeError:
        assert len(m) == 3
