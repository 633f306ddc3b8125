"""The one codec for vector columns crossing the Arrow/Python boundary.

Every Python stage over an embedding column (the ANN stages in
``similarity.py`` and ``hnsw.py``, ``linalg.gram_cells``, the k-means
round in ``queries/llm.py``) and every driver-side ``toArrow()`` of a
vector relation converts through here: one whole-batch copy per
column, never one Python object per row. The float32 → float64 widening
is exact, so the arithmetic downstream sees the same bits as before.
numpy and pyarrow are imported inside the functions.
"""

from __future__ import annotations


def matrix(arr, name: str = "vector", dtype: str = "float64"):
    """(rows, d) ``dtype`` matrix (fresh, C-ordered) of the list array
    ``arr``: an Array, a slice or a ChunkedArray. ``flatten()`` honours
    a slice's offset, ``.values`` would not. Empty gives (0, 0); a null
    row or component or a ragged row raises ``ValueError`` naming
    ``name``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if arr.null_count:
        raise ValueError(f"vector column {name!r}: {arr.null_count} null row(s)")
    lens = pc.list_value_length(arr).to_numpy()
    d = int(lens[0]) if n else 0
    if (lens != d).any():
        raise ValueError(f"vector column {name!r}: ragged rows ({lens.min()}..{lens.max()})")
    flat = arr.flatten()
    if flat.null_count:
        raise ValueError(f"vector column {name!r}: {flat.null_count} null component(s)")
    return flat.to_numpy(zero_copy_only=False).astype(dtype).reshape(n, d)


def column(mat):
    """Arrow ``list`` array of the rows of matrix ``mat``: float64 gives
    ``array<double>``, int64 ``array<long>``."""
    import numpy as np
    import pyarrow as pa

    mat = np.ascontiguousarray(mat)
    n, d = mat.shape
    offsets = np.arange(n + 1, dtype=np.int32) * d
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(mat.reshape(-1)))


def codes_column(codes):
    """Arrow ``binary`` array of a (rows, m) uint8 PQ code matrix, one
    m-byte value per row, built from the matrix buffer."""
    import numpy as np
    import pyarrow as pa

    codes = np.ascontiguousarray(codes, dtype=np.uint8)
    n, m = codes.shape
    fixed = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(m), n, [None, pa.py_buffer(codes)]
    )
    return fixed.cast(pa.binary())


def codes_matrix(arr, m: int, name: str = "code"):
    """(rows, m) uint8 matrix of the PQ ``binary`` array ``arr``; a null
    row or a value not ``m`` bytes long raises ``ValueError``."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError(f"code column {name!r}: {arr.null_count} null row(s)")
    try:
        fixed = arr.cast(pa.binary(m))
    except pa.ArrowInvalid as e:
        raise ValueError(f"code column {name!r}: a value is not {m} bytes") from e
    n = len(fixed)
    if not n:
        return np.zeros((0, m), dtype=np.uint8)
    buf = np.frombuffer(fixed.buffers()[1], dtype=np.uint8)
    return buf[fixed.offset * m : (fixed.offset + n) * m].reshape(n, m).copy()
