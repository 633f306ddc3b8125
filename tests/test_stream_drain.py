"""streaming.ops.drain releases what a bounded stream creates, and fails
a stream that misses its deadline instead of returning a partial sink.

The leak check runs registry queries twice each in one session and, after
every run, compares the session's footprint with the one before the first
run: catalog tables (a memory sink registers a temp view per query),
entries directly under TMPDIR (checkpoint directories), and active
streams."""

from __future__ import annotations

import os
import tempfile

import pytest

from tests.conftest import SF_SMOKE

# One query per drain kind: stateful memory, poll, foreachBatch, CDC
# memory, format sink.
FAST = (
    "stream_tumbling_window",
    "stream_python_datasource",
    "stream_foreachbatch_merge",
    "stream_cdc_windowed_totals",
    "stream_snapshot_sink",
)

# TMPDIR entries a streaming query may add. Each is a fixed root that the
# next call reuses (and empties where it must), so none grows with calls.
TMP_ALLOWED = {
    # read_events_stream / read_documents_stream: per-sf symlink staging
    # directories of the file stream sources
    "crocus_stream",
    # stream_foreachbatch_merge: its foreachBatch state root, which keeps
    # its checkpoint because a restart resumes from it
    "crocus_stream_state",
    # queries.sources_q._scratch: the CDC source stores, the foreachBatch
    # derived stores, the avro landing dir and the snapshot sink's store
    # and ledger checkpoint
    "crocus_spark_io",
}
# Name prefixes of native libraries the JVM unpacks into TMPDIR the first
# time it uses a codec or state store: once per process, not per call.
TMP_ALLOWED_PREFIXES = ("liblz4-java-", "snappy-", "librocksdbjni")


def _footprint(spark):
    tables = {t.name for t in spark.catalog.listTables()}
    return tables, set(os.listdir(tempfile.gettempdir()))


def _run_twice_and_check(spark, names):
    from crocus_spark.queries import queries

    fns = queries()
    tables0, tmp0 = _footprint(spark)
    for name in names:
        for run in (1, 2):
            fns[name](spark, SF_SMOKE).collect()
            tables, tmp = _footprint(spark)
            where = f"{name} run {run}"
            assert tables == tables0, f"{where}: tables {tables ^ tables0}"
            left = {
                e
                for e in tmp - tmp0 - TMP_ALLOWED
                if not e.startswith(TMP_ALLOWED_PREFIXES)
            }
            assert not left, f"{where}: TMPDIR gained {sorted(left)}"
            assert spark.streams.active == [], f"{where}: stream left active"


def test_drains_release_sink_tables_and_checkpoints(spark):
    _run_twice_and_check(spark, FAST)


@pytest.mark.slow
def test_every_streaming_query_releases_what_it_creates(spark):
    from crocus_spark.queries import REGISTRY, queries

    queries()  # loads every query module into REGISTRY
    names = sorted(k for k, q in REGISTRY.items() if "streaming" in q.tags)
    _run_twice_and_check(spark, names)


def test_poll_drain_past_deadline_raises_and_stops(spark, monkeypatch):
    from crocus_spark.sources import register_catalog_stream_source
    from crocus_spark.streaming import ops

    register_catalog_stream_source(spark)
    monkeypatch.setattr(ops, "_DEADLINE_S", 1.0)
    feed = (
        spark.readStream.format("crocus_catalog_stream")
        .option("n_days", 1)
        .load()
    )
    tables0, _ = _footprint(spark)
    with pytest.raises(TimeoutError):
        ops.drain(feed, until_rows=10**6)  # the source holds 40 rows
    assert spark.streams.active == []
    assert _footprint(spark)[0] == tables0
