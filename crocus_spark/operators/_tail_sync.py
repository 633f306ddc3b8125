"""Shared change-feed sync for the maintained ANN indexes (HNSW/IVF/PQ).

Every maintained at-rest index follows the same shape: read the source
table's changes since the version the store last applied, reduce them
to per-key net effects, apply them to the store, then record the next
version to apply. The changes are ONE bounded batch read of the
manifest log (``sources.snapshot_stream._read_changes``), planned by
the same planner as the ``crocus_snapshot_tail`` stream — same version
range, same refusals, same ``_op``/``_version`` rows — but run as
parquet scans and a local relation: a sync starts no streaming query
and no Python source process.

Applied version. The store keeps it in ``_applied.json``
(``{"next_version": N}``), written last through
``cell_store.save_json``. A missing record means version 0: the first
surviving snapshot is the index's initial load. The record lives inside
the store, so a bootstrap or rebuild overwrite deletes it with the
store it described.

Crash safety. Re-applying a range is idempotent: under a frozen model
the merge keeps the store equal to a same-model build of the final
corpus (the merge invariant in ``cell_store``), and a range's net
effect on a key already at that state changes nothing. A crash between
the store write and the record therefore only costs a replay of the
range on the next sync.

The one failure mode the families also share is a REWRITE on the
source table (compaction, restore): the feed refuses to represent it as
a delta, and because the record sits just below the rewrite version,
every later sync hits the same wall (round-9 advice). ``run_tail_sync``
owns that policy:

- ``on_rewrite='fail'`` (default): surface the planner's error — the
  operator decides what to do. Recovery is wiping ``index_path`` and
  syncing again (a full O(corpus) rebuild).
- ``on_rewrite='skip'``: plan with ``skip_rewrites``. CORRECT for
  layout-only rewrites (compaction / Z-order: the logical rows are
  unchanged, so the index needs nothing) but it also skips RESTOREs,
  which DO change logical content — use only on tables whose
  maintenance is compaction-only, as with Delta ``skipChangeCommits``.
- ``on_rewrite='rebuild'``: on a rewrite error, delete the store,
  bootstrap it from a BATCH read of the current snapshot (re-reading
  the feed from version 0 would just hit the same rewrite again), then
  record the next version. Always correct — a restore's post-restore
  state is exactly the current snapshot — at the cost of a full
  rebuild; the right policy for tables that RESTORE.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from crocus_spark.operators import cell_store
from crocus_spark.session import intermediates

_APPLIED = "_applied.json"


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
    """Apply ``table_root``'s changes since the store's applied version
    to the store at ``index_path``, under the ``on_rewrite`` policy
    above. The changes reduce to per-key net effects; until the store's
    ``marker`` file (the last file its build writes) exists their
    inserts go to ``bootstrap(ups)``, which fits the model and builds
    the store, and afterwards to ``upsert(ups, dels)``. The net effects'
    checkpoint is released once they are applied, so a long-running
    sync holds no per-batch blocks."""
    from crocus_spark.sources.snapshot_stream import _read_changes

    if on_rewrite not in ("fail", "skip", "rebuild"):
        raise ValueError(
            f"on_rewrite must be 'fail', 'skip' or 'rebuild', got {on_rewrite!r}"
        )

    def apply(changes) -> None:
        # per-key NET effect: the latest (_op, vec) by _version per id (an
        # insert after a tombstone survives; anything before one is
        # absorbed), materialized ONCE — the bootstrap reads it two to
        # three times (model fit(s) + store build), the upsert three to
        # four (cell discovery, semi-join, merge write). Batch-sized, and
        # freed once the batch is applied.
        with intermediates() as own:
            last = own.checkpoint(changes.groupBy(id_col).agg(
                F.max_by(F.struct("_op", vec_col), "_version").alias("s")
            ))
            ups = last.filter(F.col("s._op") == "insert").select(
                F.col(id_col), F.col(f"s.{vec_col}").alias(vec_col)
            )
            if os.path.exists(os.path.join(index_path, marker)):
                upsert(ups, last.filter(F.col("s._op") != "insert").select(id_col))
            else:
                bootstrap(ups)

    def record(next_version: int) -> None:
        cell_store.save_json(index_path, _APPLIED, {"next_version": next_version})

    try:
        start = cell_store.load_json(index_path, _APPLIED)["next_version"]
    except FileNotFoundError:
        start = 0
    try:
        changes, end = _read_changes(
            spark, table_root, start, skip_rewrites=on_rewrite == "skip"
        )
    except RuntimeError as e:
        if on_rewrite != "rebuild" or not any(
            m in str(e) for m in _REWRITE_MARKERS
        ):
            raise
        # The table was compacted/restored under the index: the delta
        # feed past that version is unrecoverable, and re-reading from
        # version 0 would hit the same rewrite. Rebuild: wipe the store
        # (its record with it), feed the CURRENT snapshot to apply as
        # one synthetic insert batch (its bootstrap path runs because
        # the store is gone), then record the next version — the
        # pinned batch read and that cut leave no gap and no overlap.
        from crocus_spark.operators.maintenance import (
            list_snapshot_versions,
            read_snapshot,
        )

        latest = list_snapshot_versions(table_root)[-1]
        shutil.rmtree(index_path, ignore_errors=True)
        apply(
            read_snapshot(spark, table_root, latest)
            .withColumn("_op", F.lit("insert"))
            .withColumn("_version", F.lit(latest).cast("long"))
        )
        record(latest + 1)
        return
    if changes is not None:
        apply(changes)
    # no store yet (nothing planned on a fresh index): nothing applied,
    # so nothing to record
    if os.path.exists(os.path.join(index_path, marker)):
        record(end)
