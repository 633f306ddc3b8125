"""Distributed linear algebra over embedding columns — the Gram /
second-moment matrix, the building block of PCA, whitening, and linear
probing over a corpus of vectors.

Scale shape: the corpus is touched ONCE by a ``mapInArrow`` pass that
reads each batch's vectors as one matrix (``operators/vectors.py``) and
accumulates a d×d partial X^T X per batch (numpy matmul — the only
O(n·d²) arithmetic, fully vectorized); each partial then explodes into
(i, j, value) cells and a groupBy(i, j) sums partials across batches.
Everything that shuffles is d² cells per batch — MODEL-sized, never
corpus-sized — so a 100 TB embedding table reduces through the same plan
as the 500-row fixture. No driver-side collection anywhere.

Determinism: within a batch numpy accumulates in a fixed order; across
batches the partial sums are cast to decimal before the global sum, so
the reduce is exact and partition-count-independent given fixed batch
contents. Outputs round to 6, orders of magnitude above any remaining
within-batch ulp drift.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crocus_spark.operators.vectors import matrix

PARTIAL_SCHEMA = "i INT, j INT, sxx DOUBLE, n BIGINT"


def gram_cells(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(i, j, sxx, n) partial cells of X^T X per Arrow batch (i ≤ j —
    the matrix is symmetric, so only the upper triangle materializes)."""
    import numpy as np
    import pyarrow as pa

    def partials(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            V = matrix(batch.column(0), vec_col)
            G = V.T @ V  # (d, d)
            iu, ju = np.triu_indices(G.shape[0])
            yield pa.RecordBatch.from_pydict(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "sxx": G[iu, ju],
                    "n": np.full(len(iu), V.shape[0], dtype=np.int64),
                }
            )

    return df.select(vec_col).mapInArrow(partials, PARTIAL_SCHEMA)


def second_moment_matrix(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(i, j, moment) upper-triangle entries of E[x_i · x_j] — the
    n-normalized Gram matrix. One corpus pass; one model-sized shuffle."""
    cells = gram_cells(df, vec_col)
    return cells.groupBy("i", "j").agg(
        (
            F.sum(F.col("sxx").cast("decimal(30,9)")).cast("double")
            / F.sum("n")
        ).alias("moment")
    )
