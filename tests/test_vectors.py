"""The vector codec (crocus_spark/operators/vectors.py): every vector
column that crosses the Arrow/Python boundary goes through it, so its
edge cases are pinned here without a Spark session."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from crocus_spark.operators.vectors import (
    codes_column,
    codes_matrix,
    column,
    matrix,
)


def _vecs(n=5, d=4, dtype=pa.float32()):
    rng = np.random.default_rng(7)
    rows = rng.standard_normal((n, d)).astype(np.float32).tolist()
    return pa.array(rows, type=pa.list_(dtype)), np.array(rows, dtype=np.float64)


def test_sliced_array_honours_its_offset():
    """A slice with a non-zero offset yields ITS rows: ``.values`` would
    return the parent's components from row 0."""
    arr, ref = _vecs()
    part = arr.slice(2, 2)
    assert part.offset == 2
    assert np.array_equal(matrix(part), ref[2:4])


def test_chunked_array():
    arr, ref = _vecs()
    chunked = pa.chunked_array([arr.slice(0, 1), arr.slice(1, 3), arr.slice(4)])
    assert np.array_equal(matrix(chunked), ref)


def test_empty_batch_is_a_zero_row_matrix():
    arr, _ = _vecs()
    assert matrix(arr.slice(0, 0)).shape == (0, 0)
    assert matrix(pa.chunked_array([], type=arr.type)).shape == (0, 0)
    assert len(column(np.zeros((0, 0)))) == 0


@pytest.mark.parametrize(
    "bad, what",
    [
        (pa.array([[1.0, 2.0], [3.0]]), "ragged"),
        (pa.array([[1.0, 2.0], None]), "null row"),
        (pa.array([[1.0, None], [3.0, 4.0]]), "null component"),
    ],
)
def test_malformed_rows_raise_naming_the_column(bad, what):
    with pytest.raises(ValueError, match=f"'emb'.*{what}"):
        matrix(bad, "emb")


def test_float32_widens_bit_for_bit():
    """The float32 → float64 cast is exact: each component equals
    ``np.float64`` of the float32 value, the bits the per-row Python
    floats of the old conversion carried."""
    arr, _ = _vecs(n=64, d=16)
    got = matrix(arr)
    want = np.float64(arr.flatten().to_numpy()).reshape(64, 16)
    assert got.dtype == np.float64
    assert got.tobytes() == want.tobytes()
    assert got.flags.c_contiguous and got.flags.writeable


def test_column_round_trips():
    arr, ref = _vecs()
    back = column(matrix(arr))
    assert back.type == pa.list_(pa.float64())
    assert np.array_equal(matrix(back), ref)
    ints = np.arange(12, dtype=np.int64).reshape(3, 4)
    col = column(ints)
    assert col.type == pa.list_(pa.int64())
    assert col.to_pylist() == ints.tolist()
    assert np.array_equal(matrix(col, dtype="int64"), ints)


def test_pq_codes_round_trip():
    codes = np.random.default_rng(3).integers(0, 256, (6, 8)).astype(np.uint8)
    col = codes_column(codes)
    assert col.type == pa.binary()
    assert col.to_pylist() == [bytes(r) for r in codes]
    assert np.array_equal(codes_matrix(col, 8), codes)
    assert np.array_equal(codes_matrix(col.slice(2, 3), 8), codes[2:5])
    chunked = pa.chunked_array([col.slice(0, 4), col.slice(4)])
    assert np.array_equal(codes_matrix(chunked, 8), codes)
    assert codes_matrix(col.slice(0, 0), 8).shape == (0, 8)
    with pytest.raises(ValueError, match="'code'"):
        codes_matrix(pa.array([b"abc"]), 8)
