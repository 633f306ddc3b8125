"""Cell store — the one storage protocol behind the maintained IVF, PQ,
IVFPQ and HNSW indexes (operators/similarity.py, operators/hnsw.py).

Layout. An index at ``path`` is a parquet directory partitioned by one
integer column, the *cell*: ``cell=N/`` directories for IVF, PQ and
IVFPQ, ``shard=N/`` for HNSW. Every row carries the vector id, the raw
vector (exact re-rank needs it) and whatever the family encodes beside
it (PQ codes, filterable attribute columns). The frozen model sits
beside the partitions, never inside them:

- ``_model.json``: the IVF centroids ``{"cells", "mat"}``, or the PQ
  codebook ``{"m", "ksub", "ds", "codebook"}``;
- ``_pq_model.json``: IVFPQ's codebook (its ``_model.json`` holds the
  coarse centroids);
- ``_graphs/shard-NNNNN.json`` plus ``_graphs/_SUCCESS``: HNSW's
  per-shard graphs.

Every model file is written to a temporary name and renamed into place
(:func:`save_json`), so a reader sees the old file or the new one.

The families differ only in code handed to this module: a *fit*
(centroids, codebook, both, or none), an *encode* (corpus → stored
columns plus cell), a *locate* (where an id's current row lives), and
for HNSW a hook that rebuilds the graphs of rewritten shards.

Merge invariant. Under a frozen model the encode is a pure function of
(id, vector), so :func:`upsert` keeps the store equal to a same-model
:func:`build` of the final corpus: the affected cells are the new cells
of the upserts plus the current cells of every touched id (an update
may move an id to another cell, and its old cell must lose the row);
only those cells are read, anti-joined against the touched ids, unioned
with the encoded upserts and rewritten by dynamic partition overwrite.
Untouched cells keep their files byte for byte.

Emptied-cell rule. Dynamic overwrite replaces only the partitions
present in its output, so a cell whose every row was deleted would
survive with stale rows; :func:`upsert` removes its directory itself.

The sync that feeds :func:`upsert` from a snapshot table's change feed
is :func:`crocus_spark.operators._tail_sync.run_tail_sync`: one batch
read of the changes since the store's applied version, recorded last
in the store's ``_applied.json`` through :func:`save_json`. Because a
replay of an applied range leaves the store unchanged (the merge
invariant above), a crash before that record only costs a replay.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crocus_spark.session import intermediates

MODEL = "_model.json"
PQ_MODEL = "_pq_model.json"
GRAPHS = "_graphs"


def save_json(dirpath: str, name: str, body) -> None:
    """Write ``body`` as ``dirpath/name`` atomically (tmp + rename);
    floats round-trip exactly through JSON's shortest repr."""
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(body, f)
    os.replace(tmp, os.path.join(dirpath, name))


def load_json(dirpath: str, name: str):
    with open(os.path.join(dirpath, name)) as f:
        return json.load(f)


def build(encoded: DataFrame, path: str, models=(), part: str = "cell") -> None:
    """Write ``encoded`` (stored columns plus ``part``) as a fresh store
    at ``path``, then each ``(name, body)`` of ``models`` beside it."""
    encoded.write.mode("overwrite").partitionBy(part).parquet(path)
    for name, body in models:
        save_json(path, name, body)


def upsert(
    spark,
    encoded: DataFrame,
    delete_ids: DataFrame,
    path: str,
    id_col: str,
    key: str = "neighbor_id",
    part: str = "cell",
    locate=None,
    rewritten=None,
) -> list[int]:
    """Apply encoded upserts (the store's columns, ``key`` the id) and
    DELETES (``id_col``) to the store at ``path``, rewriting only the
    affected cells. ``locate(touched)`` maps the touched ids (a ``key``
    relation) to their current ``part`` values; the default reads them
    off the store with a column-pruned semi-join, which a family whose
    cell is a pure function of the id replaces with that function.
    ``rewritten(survivors, emptied)`` runs after the write. Returns the
    affected cells (bounded by the cell count)."""
    # churn-sized; materialized once — it feeds cell discovery, the
    # merge anti-join probe and the union, and the encode would
    # otherwise re-run per action
    with intermediates() as own:
        up = own.checkpoint(encoded)
        dels = delete_ids.select(F.col(id_col).alias(key)).distinct()
        # the store holds what this encode writes under the same frozen
        # model: read it with that schema, not with an inference job
        back = spark.read.schema(up.schema).parquet(path)
        touched = dels.unionByName(up.select(key)).distinct()
        if locate is None:
            current = back.join(touched, key, "left_semi").select(part)
        else:
            current = locate(touched)
        # both cell sets ride ONE union-distinct job (≤ 2 × cells rows)
        affected = sorted(
            int(r[part])
            for r in up.select(part).unionByName(current).distinct().collect()
        )
        if not affected:
            return []
        keep = up.columns
        merged = (
            back.filter(F.col(part).isin(affected))
            .join(up.select(key), key, "left_anti")
            .join(dels, key, "left_anti")
            .select(*keep)
            .unionByName(up.select(*keep))
        )
        counts = {
            int(r[part]): r["n"]
            for r in merged.groupBy(part)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # ≤ cells rows — bounded
        }
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part)
            .parquet(path)
        )
        emptied = [c for c in affected if counts.get(c, 0) == 0]
        for c in emptied:
            shutil.rmtree(os.path.join(path, f"{part}={c}"), ignore_errors=True)
        if rewritten is not None:
            rewritten([c for c in affected if c not in emptied], emptied)
        return affected
