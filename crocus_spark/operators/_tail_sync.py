"""Shared drain loop for index-maintenance CDC consumers (HNSW/IVF/PQ).

Every maintained at-rest index follows the same shape: read the source
table's ``crocus_snapshot_tail`` change feed, reduce each micro-batch to
per-key net effects, apply them to the store, checkpoint beside the
store. The one failure mode they also share is a REWRITE on the source
table (compaction, restore): the CDC source refuses to represent it as
a delta and the stream dies — permanently, because the checkpointed
offset sits just below the rewrite version, so every later drain hits
the same wall (round-9 advice). ``run_tail_sync`` owns that policy:

- ``on_rewrite='fail'`` (default): surface the source's error — the
  operator decides what to do. Recovery is wiping ``index_path`` and
  ``index_path + '_ckpt'`` and re-draining (a full O(corpus) rebuild).
- ``on_rewrite='skip'``: pass ``skip_rewrites=true`` to the source.
  CORRECT for layout-only rewrites (compaction / Z-order: the logical
  rows are unchanged, so the index needs nothing) but it also skips
  RESTOREs, which DO change logical content — use only on tables whose
  maintenance is compaction-only, as with Delta ``skipChangeCommits``.
- ``on_rewrite='rebuild'``: on a rewrite error, delete the store and
  its checkpoint, bootstrap the store from a BATCH read of the current
  snapshot (re-draining the tail from version 0 would just hit the same
  rewrite again), then tail changes from the next version on. Always
  correct — a restore's post-restore state is exactly the current
  snapshot — at the cost of a full rebuild; the right policy for
  tables that RESTORE.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from crocus_spark.operators.cell_store import release


def net_effects(batch_df, id_col: str, vec_col: str):
    """Per-key NET effect of one CDC micro-batch — the latest
    (_op, vec) by ``_version`` per id (an insert after a tombstone
    survives; anything before one is absorbed) — materialized ONCE via
    an eager ``localCheckpoint``. The batch relation is backed by the
    Python tail source, so every downstream action would otherwise
    re-read the whole feed and re-run this aggregate: the bootstrap
    consumes it two-to-three times (model fit(s) + store build) and the
    upsert paths three-to-four (cell discovery, semi-join, merge write).
    The checkpoint is batch-sized (per-key net effects), paid once, and
    the caller releases it (``cell_store.release``) when the batch is
    applied."""
    return (
        batch_df.groupBy(id_col)
        .agg(F.max_by(F.struct("_op", vec_col), "_version").alias("s"))
        .localCheckpoint(eager=True)
    )


_REWRITE_MARKERS = (
    "cannot represent a rewrite",
    "cannot represent a restore",
    "is a restore of version",
)


def run_tail_sync(
    spark,
    table_root: str,
    index_path: str,
    bootstrap,
    upsert,
    on_rewrite: str,
    marker: str,
    id_col: str,
    vec_col: str,
) -> None:
    """Drain ``table_root``'s CDC tail into the store at ``index_path``
    with the checkpoint at ``index_path + '_ckpt'`` (NOT inside the
    store — the bootstrap overwrite would destroy an in-store
    checkpoint), applying the ``on_rewrite`` policy above. Each
    micro-batch reduces to per-key net effects; until the store's
    ``marker`` file (the last file its build writes) exists the batch's
    inserts go to ``bootstrap(ups)``, which fits the model and builds the
    store, and afterwards to ``upsert(ups, dels)``. The batch's
    checkpoint is released once it is applied, so a long-running sync
    holds no per-batch blocks."""
    from crocus_spark.sources import register_snapshot_tail_source
    from crocus_spark.streaming.ops import drain

    def apply_fn(batch_df, _batch_id):
        last = net_effects(batch_df, id_col, vec_col)
        try:
            ups = last.filter(F.col("s._op") == "insert").select(
                F.col(id_col), F.col(f"s.{vec_col}").alias(vec_col)
            )
            if os.path.exists(os.path.join(index_path, marker)):
                upsert(ups, last.filter(F.col("s._op") != "insert").select(id_col))
            else:
                bootstrap(ups)
        finally:
            release(last)

    if on_rewrite not in ("fail", "skip", "rebuild"):
        raise ValueError(
            f"on_rewrite must be 'fail', 'skip' or 'rebuild', got {on_rewrite!r}"
        )
    register_snapshot_tail_source(spark)

    def tail(skip: bool, starting_version: int | None = None) -> None:
        # the rewrite/restore markers dispatched on below are no worker-
        # spawn failure, so drain's retry lets them through on first
        # throw; a retried spawn failure resumes from the checkpoint
        reader = spark.readStream.format("crocus_snapshot_tail").option(
            "path", table_root
        )
        if skip:
            reader = reader.option("skip_rewrites", "true")
        if starting_version is not None:
            reader = reader.option("starting_version", str(starting_version))
        drain(reader.load(), apply_fn, checkpoint=index_path + "_ckpt")

    try:
        tail(on_rewrite == "skip")
    except Exception as e:
        msg = str(e)
        if on_rewrite != "rebuild" or not any(
            m in msg for m in _REWRITE_MARKERS
        ):
            raise
        # The table was compacted/restored under the index: the delta
        # stream past that version is unrecoverable, and re-draining
        # from version 0 would hit the same rewrite. Rebuild: wipe the
        # store + checkpoint, feed the CURRENT snapshot to apply_fn as
        # one synthetic insert batch (its bootstrap path runs because
        # the store is gone), then tail changes from the next version —
        # the pinned batch read and the starting_version cut leave no
        # gap and no overlap.
        from crocus_spark.operators.maintenance import (
            list_snapshot_versions,
            read_snapshot,
        )

        latest = list_snapshot_versions(table_root)[-1]
        shutil.rmtree(index_path, ignore_errors=True)
        shutil.rmtree(index_path + "_ckpt", ignore_errors=True)
        snapshot = (
            read_snapshot(spark, table_root, latest)
            .withColumn("_op", F.lit("insert"))
            .withColumn("_version", F.lit(latest).cast("long"))
        )
        apply_fn(snapshot, -1)
        tail(False, starting_version=latest + 1)
