"""CDC tail over the manifest log (sources/snapshot_stream.py): feed
contents per commit kind, exactly-once resume from the checkpointed
version offset, and rewrite refusal."""

from __future__ import annotations

import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from crocus_spark.operators.maintenance import (
    commit_append,
    commit_equality_deletes,
    commit_positional_deletes,
    commit_snapshot,
    compact_snapshot,
    list_snapshot_versions,
    read_manifest,
    read_snapshot_with_positions,
)
from crocus_spark.sources import register_snapshot_tail_source


def _drain(spark, root: str, ckpt: str, **options) -> str:
    """One availableNow drain into a fresh memory table; returns its
    name. Reusing ``ckpt`` resumes from the committed version offset.
    Worker-spawn timeouts (init-time, offsets still empty) retry like
    the engine's own drains do — see streaming.ops.retry_transient_stream."""
    from crocus_spark.streaming.ops import retry_transient_stream

    def attempt() -> str:
        name = f"cdc_{uuid.uuid4().hex[:8]}"
        q = (
            spark.readStream.format("crocus_snapshot_tail")
            .option("path", root)
            .options(**options)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return name

    return retry_transient_stream(attempt)


def _store(spark, tmp_path):
    root = str(tmp_path / "store")
    base = spark.range(0, 300).selectExpr(
        "id AS k", "id % 7 AS g", "CAST(id * 0.5 AS double) AS v"
    ).coalesce(2)
    commit_snapshot(base, root)  # v0
    inc = spark.range(300, 400).selectExpr(
        "id AS k", "id % 7 AS g", "CAST(id * 0.5 AS double) AS v"
    ).coalesce(1)
    commit_append(inc, root)  # v1
    return root


def test_feed_emits_each_commits_delta(spark, tmp_path):
    register_snapshot_tail_source(spark)
    root = _store(spark, tmp_path)
    commit_equality_deletes(
        spark.createDataFrame([(3,)], "g long"), root, ["g"]
    )  # v2
    live = read_snapshot_with_positions(spark, root)
    commit_positional_deletes(
        live.filter(F.col("k") % 50 == 1).select("_file", "_pos"), root
    )  # v3
    name = _drain(spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"))
    feed = spark.table(name)
    by = {
        (r["_op"], r["_version"]): r["n"]
        for r in feed.groupBy("_op", "_version")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by[("insert", 0)] == 300
    assert by[("insert", 1)] == 100
    assert by[("delete_key", 2)] == 1
    # pre-images: live k%50==1 rows, cohort g==3 already erased
    expected_pre = sorted(
        k for k in range(400) if k % 50 == 1 and k % 7 != 3
    )
    got_pre = sorted(
        r.k for r in feed.filter("_op = 'delete'").collect()
    )
    assert got_pre == expected_pre
    # key tombstone: key column set, all non-key columns NULL
    row = feed.filter("_op = 'delete_key'").collect()[0]
    assert row.g == 3 and row.k is None and row.v is None


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """A restarted drain with the SAME checkpoint must emit only
    commits newer than the consumed offset — no replay of already-
    delivered inserts (the property that lets a downstream MERGE apply
    the feed idempotently). Uses a parquet sink: the memory sink
    cannot recover from a checkpoint, a file sink is the recovery
    path."""
    register_snapshot_tail_source(spark)
    root = _store(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "feed_out")

    def drain():
        from crocus_spark.streaming.ops import retry_transient_stream

        def attempt():
            q = (
                spark.readStream.format("crocus_snapshot_tail")
                .option("path", root)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        retry_transient_stream(attempt)
        return spark.read.parquet(out)

    assert drain().count() == 400  # v0 + v1 inserts
    # nothing new: a resumed drain appends zero rows
    assert drain().count() == 400
    # two more commits land; the next drain emits exactly their delta
    commit_append(
        spark.range(400, 430).selectExpr(
            "id AS k", "id % 7 AS g", "CAST(id * 0.5 AS double) AS v"
        ).coalesce(1),
        root,
    )
    commit_equality_deletes(
        spark.createDataFrame([(5,)], "g long"), root, ["g"]
    )
    feed = drain()
    assert feed.count() == 431
    got = {
        (r["_op"], r["_version"]): r["n"]
        for r in feed.filter("_version >= 2")
        .groupBy("_op", "_version")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {("insert", 2): 30, ("delete_key", 3): 1}


def test_rewrite_refused_unless_skipped(spark, tmp_path):
    """A commit that changes the primary data_dir (compaction, full
    re-commit) cannot be represented as a delta: the tail fails loudly
    by default and skips it only under the explicit option — Delta's
    skipChangeCommits semantics."""
    register_snapshot_tail_source(spark)
    root = _store(spark, tmp_path)
    compact_snapshot(spark, root, target_file_bytes=1 << 20)  # v2 rewrite
    with pytest.raises(Exception, match="rewrote the table"):
        _drain(spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"))
    name = _drain(
        spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"),
        skip_rewrites="true",
    )
    feed = spark.table(name)
    assert feed.count() == 400  # v0+v1 inserts; the rewrite contributed 0
    assert feed.filter("_version = 2").count() == 0


def test_versions_per_batch_rate_limits_steady_state(spark, tmp_path):
    """versions_per_batch (Delta's maxFilesPerTrigger analog) bounds
    how far latestOffset advances per batch once the reader has
    anchored — and a FRESH reader's first offset is deliberately
    unbounded, because an offset below the engine's checkpoint would
    move the stream backwards and re-emit versions."""
    from pyspark.sql import types as T

    from crocus_spark.sources.snapshot_stream import _SnapshotTailReader

    root = _store(spark, tmp_path)  # v0, v1
    schema = T.StructType.fromJson(read_manifest(root, 1)["schema"])
    schema = T.StructType(
        list(schema.fields)
        + [
            T.StructField("_op", T.StringType(), False),
            T.StructField("_version", T.LongType(), False),
        ]
    )
    r = _SnapshotTailReader(
        {"path": root, "versions_per_batch": "2"}, schema
    )
    # first call: unbounded catch-up (anchor unknown before this)
    assert r.latestOffset() == {"v": 2}
    # four more commits land while the stream runs
    for lo in (400, 500, 600, 700):
        commit_append(
            spark.range(lo, lo + 10).selectExpr(
                "id AS k", "id % 7 AS g", "CAST(id * 0.5 AS double) AS v"
            ).coalesce(1),
            root,
        )
    # steady state: ≤ 2 versions per batch, monotone, catches up
    assert r.latestOffset() == {"v": 4}
    parts = r.partitions({"v": 2}, {"v": 4})
    assert {p.version for p in parts} == {2, 3}
    assert r.latestOffset() == {"v": 6}
    assert r.latestOffset() == {"v": 6}  # no new commits: no progress
    # a restarted reader (fresh instance) jumps straight to the head
    r2 = _SnapshotTailReader(
        {"path": root, "versions_per_batch": "2"}, schema
    )
    assert r2.latestOffset() == {"v": 6}


def test_resume_past_expired_history_fails_loudly(spark, tmp_path):
    """A checkpointed stream whose offset points past EXPIRED history
    must raise, not silently re-emit the surviving snapshot as inserts
    (which would double-count every row downstream — Delta fails loudly
    in the same situation). A FRESH checkpoint on an expired store is
    fine: the surviving snapshot genuinely is its initial load."""
    from crocus_spark.operators.maintenance import expire_snapshots

    register_snapshot_tail_source(spark)
    root = _store(spark, tmp_path)  # v0, v1
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "feed_out")

    def drain():
        from crocus_spark.streaming.ops import retry_transient_stream

        def attempt():
            q = (
                spark.readStream.format("crocus_snapshot_tail")
                .option("path", root)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        retry_transient_stream(attempt)

    drain()  # consumed through v1
    for lo in (400, 500, 600):
        commit_append(
            spark.range(lo, lo + 10).selectExpr(
                "id AS k", "id % 7 AS g", "CAST(id * 0.5 AS double) AS v"
            ).coalesce(1),
            root,
        )  # v2..v4
    expire_snapshots(root, keep_last=1)  # only v4 survives
    with pytest.raises(Exception, match="history expired"):
        drain()
    # a FRESH consumer takes the survivor as its initial snapshot
    name = _drain(spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"))
    feed = spark.table(name)
    assert feed.count() == 430  # v4's full logical state as inserts
    assert feed.select("_op").distinct().collect()[0][0] == "insert"


def test_delete_commits_record_and_feed_reads_deltas(spark, tmp_path):
    """Delete commits record this commit's DELTA dir alongside the
    cumulative set; the tail plans from the delta (O(churn) per commit)
    and a re-delete of already-dead keys emits nothing."""
    register_snapshot_tail_source(spark)
    root = _store(spark, tmp_path)
    commit_equality_deletes(
        spark.createDataFrame([(3,), (5,)], "g long"), root, ["g"]
    )  # v2: two new keys
    commit_equality_deletes(
        spark.createDataFrame([(5,), (6,)], "g long"), root, ["g"]
    )  # v3: one genuinely new key (5 already dead)
    m2, m3 = read_manifest(root, 2), read_manifest(root, 3)
    assert m2["deletes"]["delta_dir"] and m3["deletes"]["delta_dir"]
    assert m2["deletes"]["delta_dir"] != m3["deletes"]["delta_dir"]
    import pyarrow.parquet as pq
    import os as _os

    assert sorted(
        pq.read_table(
            _os.path.join(root, m3["deletes"]["delta_dir"])
        )["g"].to_pylist()
    ) == [6]
    name = _drain(spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"))
    feed = spark.table(name)
    got = {
        (r["_version"], r["g"])
        for r in feed.filter("_op = 'delete_key'").collect()
    }
    assert got == {(2, 3), (2, 5), (3, 6)}
    # positional deltas too
    live = read_snapshot_with_positions(spark, root)
    commit_positional_deletes(
        live.filter(F.col("k") % 100 == 1).select("_file", "_pos"), root
    )  # v4
    commit_positional_deletes(
        live.filter(F.col("k") % 100 <= 1).select("_file", "_pos"), root
    )  # v5: re-deletes the %100==1 rows plus the new %100==0 rows
    m5 = read_manifest(root, 5)
    assert m5["pos_deletes"]["delta_dir"]
    name2 = _drain(spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"))
    pre = spark.table(name2).filter("_op = 'delete'")
    by_v = {
        r["_version"]: r["n"]
        for r in pre.groupBy("_version")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    live_ks = {
        r.k for r in spark.table(name2).filter("_op='delete'").collect()
    }
    # v4: k%100==1 minus eq-deleted cohorts; v5: only the k%100==0 rows
    exp4 = [k for k in range(400) if k % 100 == 1 and k % 7 not in (3, 5, 6)]
    exp5 = [k for k in range(400) if k % 100 == 0 and k % 7 not in (3, 5, 6)]
    assert by_v == {4: len(exp4), 5: len(exp5)}
    assert live_ks == set(exp4) | set(exp5)


def test_eq_pre_images_emits_dying_rows_stats_pruned(spark, tmp_path):
    """option(eq_pre_images=true): equality-delete commits emit full
    pre-images of the dying rows (manifest-stats-pruned file joins)
    instead of key-only tombstones; rows already positionally deleted
    at an earlier version died THEN and are excluded."""
    from crocus_spark.operators.maintenance import commit_snapshot

    register_snapshot_tail_source(spark)
    root = str(tmp_path / "pstore")
    base = spark.range(0, 1000).selectExpr(
        "id AS k", "id % 10 AS g", "CAST(id * 0.5 AS double) AS v"
    ).repartitionByRange(4, "k").sortWithinPartitions("k")
    commit_snapshot(base, root, stats_columns=["k", "g"])  # v0
    live = read_snapshot_with_positions(spark, root)
    commit_positional_deletes(
        live.filter(F.col("k").isin(17, 27)).select("_file", "_pos"), root
    )  # v1: k=17, 27 die positionally (both g==7)
    commit_equality_deletes(
        spark.createDataFrame([(7,)], "g long"), root, ["g"]
    )  # v2: the rest of cohort g==7 dies
    name = _drain(
        spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"),
        eq_pre_images="true",
    )
    feed = spark.table(name)
    # full pre-images at v2: every g==7 row except the two that died at v1
    v2 = feed.filter("_op = 'delete' AND _version = 2")
    exp = sorted(k for k in range(1000) if k % 10 == 7 and k not in (17, 27))
    assert sorted(r.k for r in v2.collect()) == exp
    # every pre-image carries its full row, not a sparse tombstone
    assert v2.filter("v IS NULL OR g IS NULL").count() == 0
    assert feed.filter("_op = 'delete_key'").count() == 0


def test_eq_pre_image_planning_prunes_files_by_stats(spark, tmp_path):
    """Structural: with k-stats committed and a delete keyed on a narrow
    k range, pre-image planning touches only the overlapping files."""
    from pyspark.sql import types as T

    from crocus_spark.operators.maintenance import commit_snapshot
    from crocus_spark.sources.snapshot_stream import (
        _EqPreImagePartition,
        _SnapshotTailReader,
    )

    root = str(tmp_path / "prune_store")
    base = spark.range(0, 1000).selectExpr(
        "id AS k", "id % 10 AS g", "CAST(id * 0.5 AS double) AS v"
    ).repartitionByRange(8, "k").sortWithinPartitions("k")
    commit_snapshot(base, root, stats_columns=["k"])  # v0: 8 k-ranged files
    commit_equality_deletes(
        spark.createDataFrame([(3,), (4,)], "k long"), root, ["k"]
    )  # v1: two adjacent keys — both land in the first k-range file
    schema = T.StructType.fromJson(read_manifest(root, 1)["schema"])
    schema = T.StructType(
        list(schema.fields)
        + [
            T.StructField("_op", T.StringType(), False),
            T.StructField("_version", T.LongType(), False),
        ]
    )
    r = _SnapshotTailReader(
        {"path": root, "eq_pre_images": "true"}, schema
    )
    parts = [
        p
        for p in r.partitions({"v": 1}, {"v": 2})
        if isinstance(p, _EqPreImagePartition)
    ]
    n_files = read_manifest(root, 1)["n_files"]
    assert n_files >= 8
    assert 1 <= len(parts) <= 2  # not the whole table


def test_apply_cdc_delete_then_reinsert_survives_one_batch(spark, tmp_path):
    """availableNow can collapse the whole log into ONE batch (custom
    Python stream sources fall back to single-batch execution), so a
    user erased at version t and re-inserted at t' > t arrives
    together. The tombstone must clear only state THROUGH t — the
    re-insert survives (r8 ADVICE: the batch-insensitivity claim failed
    delete-then-reinsert)."""
    from crocus_spark.operators.maintenance import commit_snapshot
    from crocus_spark.streaming.ops import foreach_batch_apply_cdc

    register_snapshot_tail_source(spark)
    src = str(tmp_path / "src")
    derived = str(tmp_path / "derived")
    base = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0)], "user_id long, value double"
    )
    commit_snapshot(base.coalesce(1), src)  # v0
    commit_equality_deletes(
        spark.createDataFrame([(1,)], "user_id long"), src, ["user_id"]
    )  # v1: user 1 erased
    commit_append(
        spark.createDataFrame(
            [(1, 100.0)], "user_id long, value double"
        ).coalesce(1),
        src,
    )  # v2: user 1 re-inserted AFTER the tombstone
    feed = (
        spark.readStream.format("crocus_snapshot_tail")
        .option("path", src)
        .load()
    )
    state = foreach_batch_apply_cdc(feed, derived)
    got = {
        r.user_id: (r.n_events, float(r.value_dec))
        for r in state.collect()
    }
    assert got == {1: (1, 100.0), 2: (1, 5.0)}


def test_starting_version_and_timestamp_cut_the_feed(spark, tmp_path):
    """Delta's startingVersion/startingTimestamp: the consumer skips
    the initial load and takes changes from the cut on; the timestamp
    form resolves against the manifests' monotone committed_at_ms."""
    register_snapshot_tail_source(spark)
    root = _store(spark, tmp_path)  # v0 (300), v1 (+100)
    commit_append(
        spark.range(400, 430).selectExpr(
            "id AS k", "id % 7 AS g", "CAST(id * 0.5 AS double) AS v"
        ).coalesce(1),
        root,
    )  # v2
    name = _drain(
        spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"),
        starting_version="1",
    )
    feed = spark.table(name)
    assert feed.filter("_version = 0").count() == 0
    assert feed.filter("_version = 1").count() == 100
    assert feed.filter("_version = 2").count() == 30
    t2 = read_manifest(root, 2)["committed_at_ms"]
    name2 = _drain(
        spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"),
        starting_timestamp=str(t2),
    )
    feed2 = spark.table(name2)
    assert feed2.count() == 30 and feed2.filter("_version = 2").count() == 30
    # both at once is a config error, raised at stream start
    with pytest.raises(Exception, match="not both"):
        _drain(
            spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"),
            starting_version="1", starting_timestamp=str(t2),
        )


def test_restore_refused_as_delta_and_shrink_guard(spark, tmp_path):
    """A RESTORE can un-delete rows — the tail refuses it by default
    (skippable like a rewrite); a manifest whose cumulative delete set
    vanished WITHOUT the restore marker also fails loudly."""
    import json as _json
    import os as _os

    from crocus_spark.operators.maintenance import (
        _manifest_file,
        restore_snapshot,
    )

    register_snapshot_tail_source(spark)
    root = _store(spark, tmp_path)  # v0, v1
    commit_equality_deletes(
        spark.createDataFrame([(3,)], "g long"), root, ["g"]
    )  # v2
    restore_snapshot(root, 1)  # v3: un-deletes cohort g=3
    with pytest.raises(Exception, match="restore"):
        _drain(spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"))
    name = _drain(
        spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"),
        skip_rewrites="true",
    )
    assert spark.table(name).filter("_version = 3").count() == 0
    # strip the restore marker but keep the shrunken delete set: the
    # un-delete is now unmarked — the shrink guard must fire
    mf = _manifest_file(root, 3)
    m = _json.load(open(mf))
    del m["restored_from"]
    with open(mf, "w") as f:
        _json.dump(m, f)
    with pytest.raises(Exception, match="shrank|dropped"):
        _drain(spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"))
    _os.unlink(mf)  # leave the store consistent for teardown


def test_group_recompute_consumer_requires_preimages(spark, tmp_path):
    """foreach_batch_apply_cdc_groups maintains a per-group MAX by
    group-pruned recompute; fed key-only tombstones whose delete key is
    NOT the group column it must fail loudly — the dirty-group set
    would be unknowable — and with eq_pre_images it must converge to
    the truth."""
    from crocus_spark.operators.maintenance import commit_snapshot
    from crocus_spark.streaming.ops import foreach_batch_apply_cdc_groups

    register_snapshot_tail_source(spark)
    src = str(tmp_path / "src")
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 99.0, "b"), (2, 5.0, "a"), (2, 7.0, "b")],
        "user_id long, value double, tag string",
    )
    commit_snapshot(base.coalesce(1), src)  # v0
    commit_equality_deletes(
        spark.createDataFrame([("b",)], "tag string"), src, ["tag"]
    )  # v1: keyed on tag, NOT user_id
    feed_blind = (
        spark.readStream.format("crocus_snapshot_tail")
        .option("path", src)
        .load()
    )
    with pytest.raises(Exception, match="eq_pre_images"):
        foreach_batch_apply_cdc_groups(
            feed_blind, src, str(tmp_path / "d1")
        )
    feed = (
        spark.readStream.format("crocus_snapshot_tail")
        .option("path", src)
        .option("eq_pre_images", "true")
        .load()
    )
    state = foreach_batch_apply_cdc_groups(feed, src, str(tmp_path / "d2"))
    got = {
        r.user_id: (r.n_events, r.max_value, r.min_value)
        for r in state.collect()
    }
    # tag='b' rows died: user 1 max falls from 99 to 10
    assert got == {1: (1, 10.0, 10.0), 2: (1, 5.0, 5.0)}


def test_tail_reads_mixed_schema_history_with_typed_nulls(spark, tmp_path):
    """Additive schema evolution across the feed's history: files
    committed BEFORE a nullable column existed emit typed NULLs for it
    (the stream schema is the latest committed writer schema, pinned at
    stream start — Delta pins its stream schema the same way)."""
    from crocus_spark.operators.maintenance import commit_snapshot

    register_snapshot_tail_source(spark)
    root = str(tmp_path / "store")
    old = spark.range(0, 50).selectExpr("id AS k", "id % 7 AS g")
    commit_snapshot(old.coalesce(1), root)  # v0: no 'note' column
    widened = spark.range(50, 80).selectExpr(
        "id AS k", "id % 7 AS g", "nullif(concat('n', id), '') AS note"
    )
    commit_append(widened.coalesce(1), root)  # v1: adds nullable note
    name = _drain(spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"))
    feed = spark.table(name)
    assert feed.count() == 80
    assert "note" in feed.columns
    assert feed.filter("_version = 0 AND note IS NOT NULL").count() == 0
    assert feed.filter("_version = 1 AND note IS NULL").count() == 0
    assert feed.filter("note = 'n51'").count() == 1


def test_explicit_start_at_expiry_boundary(spark, tmp_path):
    """A CONFIGURED start (starting_version) that lands exactly on the
    oldest surviving version is NOT a resume — nothing was consumed —
    so the default failure must say so (r9 advice: the old message
    claimed the stream 'had already consumed' versions it never saw),
    and option expired_start=snapshot lets the consumer take that
    version as its initial snapshot (full table as inserts) and read
    deltas from there."""
    from crocus_spark.operators.maintenance import expire_snapshots

    register_snapshot_tail_source(spark)
    root = _store(spark, tmp_path)  # v0: 300, v1: +100
    for lo in (400, 410, 420):
        commit_append(
            spark.range(lo, lo + 10).selectExpr(
                "id AS k", "id % 7 AS g", "CAST(id * 0.5 AS double) AS v"
            ).coalesce(1),
            root,
        )  # v2..v4
    expire_snapshots(root, keep_last=2)  # v3, v4 survive
    oldest = list_snapshot_versions(root)[0]
    assert oldest == 3
    # default: fail — and with the configured-start wording, not the
    # checkpointed-resume one
    with pytest.raises(Exception, match="configured start"):
        _drain(
            spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"),
            starting_version=str(oldest),
        )
    # opt-in: the boundary version becomes the initial snapshot
    name = _drain(
        spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"),
        starting_version=str(oldest), expired_start="snapshot",
    )
    feed = spark.table(name)
    by = {
        (r["_op"], r["_version"]): r["n"]
        for r in feed.groupBy("_op", "_version")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # v3 = full logical state (300+100+10+10 rows), v4 = its delta only
    assert by == {("insert", 3): 420, ("insert", 4): 10}
    # starting ABOVE the boundary still works as a plain changes-only cut
    name2 = _drain(
        spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"),
        starting_version=str(oldest + 1),
    )
    assert spark.table(name2).count() == 10


def test_eq_preimage_large_delta_ships_pointer_not_keys(spark, tmp_path):
    """Above _INLINE_KEYS_MAX delta keys, pre-image partitions carry a
    store-relative pointer to the commit's delta parquet instead of
    inlining the key list into every overlapping file's partition
    (planning/pickling O(files + keys), not O(files x keys) — r9
    advice); the emitted pre-images are identical either way."""
    from pyspark.sql import types as T

    from crocus_spark.operators.maintenance import commit_snapshot
    from crocus_spark.sources.snapshot_stream import (
        _EqPreImagePartition,
        _SnapshotTailReader,
    )

    register_snapshot_tail_source(spark)
    root = str(tmp_path / "bigdelta")
    base = spark.range(0, 2000).selectExpr(
        "id AS k", "id % 10 AS g", "CAST(id * 0.5 AS double) AS v"
    ).repartitionByRange(4, "k").sortWithinPartitions("k")
    commit_snapshot(base, root, stats_columns=["k"])  # v0: 4 k-ranged files
    dying = spark.range(0, 600).selectExpr("id AS k")  # 600 keys > 256
    commit_equality_deletes(dying, root, ["k"])  # v1
    m1 = read_manifest(root, 1)
    schema = T.StructType.fromJson(m1["schema"])
    schema = T.StructType(
        list(schema.fields)
        + [
            T.StructField("_op", T.StringType(), False),
            T.StructField("_version", T.LongType(), False),
        ]
    )
    r = _SnapshotTailReader({"path": root, "eq_pre_images": "true"}, schema)
    parts = [
        p
        for p in r.partitions({"v": 1}, {"v": 2})
        if isinstance(p, _EqPreImagePartition)
    ]
    assert parts, "expected pre-image partitions"
    for p in parts:
        assert p.keys == []  # nothing inlined
        assert p.keys_dir == m1["deletes"]["delta_dir"]
    # stats pruning still happened driver-side (k<600 misses the top files)
    assert len(parts) < m1["n_files"]
    # end-to-end: pre-images are exactly the 600 dying rows, full-width
    name = _drain(
        spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"),
        eq_pre_images="true",
    )
    pre = spark.table(name).filter("_op = 'delete'")
    assert pre.count() == 600
    assert pre.filter("v IS NULL OR g IS NULL").count() == 0
    assert sorted(x.k for x in pre.select("k").collect()) == list(range(600))


def test_feed_schema_evolution_fails_then_restart_resumes(spark, tmp_path):
    """Mid-stream ADDITIVE schema evolution (r9 verdict "What's
    missing" #2): the running tail pinned its schema at start, so a
    version committed with a NEW column fails the stream loudly with
    the restart instruction (Delta-parity: silent null-dropping is the
    one forbidden outcome); a RESTARTED consumer on the SAME checkpoint
    pins the evolved schema and resumes from the committed offset,
    emitting the new column (typed NULLs for pre-evolution versions it
    still has to read)."""
    from crocus_spark.sources.snapshot_stream import (
        _SnapshotTailReader,
    )
    from pyspark.sql import types as T

    import time as _time

    register_snapshot_tail_source(spark)
    root = _store(spark, tmp_path)  # v0, v1 (k, g, v)
    ckpt = str(tmp_path / "ckpt")
    rows: list[dict] = []

    def collect(batch_df, _bid):
        rows.extend(r.asDict() for r in batch_df.collect())

    # a RUNNING stream (processingTime trigger), pinned at the v1 schema;
    # the initial spawn retries on init-time worker timeouts (rows reset
    # per attempt — a spawn failure means no batch ever ran)
    from crocus_spark.streaming.ops import retry_transient_stream

    def attempt():
        rows.clear()
        q = (
            spark.readStream.format("crocus_snapshot_tail")
            .option("path", root)
            .load()
            .writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        deadline = _time.monotonic() + 120
        while len(rows) < 400 and _time.monotonic() < deadline:
            exc = q.exception()
            if exc is not None:
                raise exc
            _time.sleep(0.2)
        return q

    q = retry_transient_stream(attempt)
    assert len(rows) == 400  # v0 + v1 consumed by the live stream
    # v2 adds a nullable column while the stream is up — the pin
    # cannot carry it; the stream must die with the restart instruction
    widened = spark.range(400, 420).selectExpr(
        "id AS k", "id % 7 AS g", "CAST(id * 0.5 AS double) AS v",
        "nullif(concat('n', id), '') AS note",
    )
    commit_append(widened.coalesce(1), root)  # v2
    with pytest.raises(Exception, match="schema evolved"):
        q.awaitTermination(120)
    assert len(rows) == 400  # nothing from v2 leaked through the pin
    # restart: a fresh load() pins the evolved schema; same checkpoint
    def attempt2():
        q2 = (
            spark.readStream.format("crocus_snapshot_tail")
            .option("path", root)
            .load()
            .writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(180)

    retry_transient_stream(attempt2)
    new = rows[400:]
    assert len(new) == 20  # only v2's delta — the offset survived
    assert all(r["note"] == f"n{r['k']}" for r in new)
    # structural: on_schema_change=ignore plans without raising and the
    # pinned (pre-evolution) reader sees only its own columns
    old_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("g", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("_op", T.StringType(), False),
            T.StructField("_version", T.LongType(), False),
        ]
    )
    strict = _SnapshotTailReader({"path": root}, old_schema)
    with pytest.raises(RuntimeError, match="schema evolved"):
        strict.partitions({"v": 2}, {"v": 3})
    loose = _SnapshotTailReader(
        {"path": root, "on_schema_change": "ignore"}, old_schema
    )
    assert loose.partitions({"v": 2}, {"v": 3})
    with pytest.raises(ValueError, match="on_schema_change"):
        _SnapshotTailReader(
            {"path": root, "on_schema_change": "explode"}, old_schema
        )


def test_timestamp_start_at_expiry_boundary_uses_recorded_cfg(spark, tmp_path):
    """r10 ADVICE #3 regression: a TIMESTAMP-configured start whose
    originally-resolved version is itself expired before the first
    batch plans must still classify as a CONFIGURED start — the
    resolved version is recorded in the initial offset (``cfg``), not
    re-resolved against the post-expiry log (where the timestamp now
    lands on a later survivor and the start would be misclassified as
    a checkpointed resume, raising the data-loss error in exactly the
    boundary scenario expired_start=snapshot exists for). A start
    offset WITHOUT cfg (a genuine resume) still fails as data loss."""
    from pyspark.sql import types as T

    from crocus_spark.operators.maintenance import expire_snapshots
    from crocus_spark.sources.snapshot_stream import _SnapshotTailReader

    register_snapshot_tail_source(spark)
    root = _store(spark, tmp_path)  # v0: 300, v1: +100
    for lo in (400, 410, 420):
        commit_append(
            spark.range(lo, lo + 10).selectExpr(
                "id AS k", "id % 7 AS g", "CAST(id * 0.5 AS double) AS v"
            ).coalesce(1),
            root,
        )  # v2..v4
    t1 = read_manifest(root, 1)["committed_at_ms"]
    m = read_manifest(root, 4)
    schema = T.StructType.fromJson(m["schema"])
    schema = T.StructType(
        list(schema.fields)
        + [
            T.StructField("_op", T.StringType(), False),
            T.StructField("_version", T.LongType(), False),
        ]
    )
    r = _SnapshotTailReader(
        {"path": root, "starting_timestamp": str(t1),
         "expired_start": "snapshot"},
        schema,
    )
    start = r.initialOffset()
    assert start == {"v": 1, "cfg": 1}
    # history expires AFTER the stream resolved its start: v1 itself is
    # gone, v3/v4 survive
    expire_snapshots(root, keep_last=2)
    # configured start honored: the oldest survivor becomes the initial
    # snapshot instead of raising the checkpointed-resume error
    parts = r.partitions(start, {"v": 5})
    assert parts, "expected initial-snapshot partitions"
    # same offsets WITHOUT cfg = a checkpointed resume past expiry:
    # consumed deltas are missing -> always data loss
    r2 = _SnapshotTailReader(
        {"path": root, "starting_timestamp": str(t1),
         "expired_start": "snapshot"},
        schema,
    )
    with pytest.raises(RuntimeError, match="already consumed"):
        r2.partitions({"v": 1}, {"v": 5})


def test_batch_changes_equal_the_stream_drain(spark, tmp_path):
    """The index syncs' batch read of the change feed and a stream
    drain of the same table return the same rows (as multisets): one
    planner behind both, over a history with an initial snapshot,
    appends, an equality delete, a positional delete and an additive
    schema change — from version 0 and from a mid-history start."""
    from collections import Counter

    from crocus_spark.sources.snapshot_stream import _read_changes

    register_snapshot_tail_source(spark)
    root = _store(spark, tmp_path)  # v0: 300 rows, v1: +100
    commit_equality_deletes(
        spark.createDataFrame([(3,)], "g long"), root, ["g"]
    )  # v2
    live = read_snapshot_with_positions(spark, root)
    commit_positional_deletes(
        live.filter(F.col("k") % 50 == 1).select("_file", "_pos"), root
    )  # v3
    widened = spark.range(400, 420).selectExpr(
        "id AS k", "id % 7 AS g", "CAST(id * 0.5 AS double) AS v",
        "nullif(concat('n', id), '') AS note",
    )
    commit_append(widened.coalesce(1), root)  # v4

    def rows(df):
        cols = ["k", "g", "v", "note", "_op", "_version"]
        return Counter(tuple(r) for r in df.select(*cols).collect())

    for start in (0, 2):
        batch, end = _read_changes(spark, root, start)
        assert end == 5
        name = _drain(
            spark, root, tempfile.mkdtemp(prefix="cdc_ckpt_"),
            starting_version=str(start),
        )
        want = rows(spark.table(name))
        assert rows(batch) == want
        assert {op for _k, _g, _v, _n, op, _ver in want} == (
            {"insert", "delete", "delete_key"}
        )
    assert _read_changes(spark, root, 5) == (None, 5)
