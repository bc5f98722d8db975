"""One Arrow-vectorized map primitive for every kernel that crosses the
JVM↔Python boundary — the Spark face of the reference's block executor
(``RSGISCalcImage::calcImage``, src/img/RSGISCalcImage.cpp:149-230),
which hands each per-pixel callback a decoded block and writes its
outputs back, so no operator re-implements the block loop.

:func:`arrow_map` owns the boundary half of every map: batch iteration,
the empty-batch skip, column extraction (numeric → numpy, binary →
zero-copy ``codecs.arrow_binary_views``, everything else → Python
lists) and typed output assembly. Operators supply only the body: a
function from a dict of input columns to a dict of output columns.

Binary output columns are summed with int64 offsets and split across
several record batches wherever one batch would carry more than
:data:`MAX_BATCH_BINARY_BYTES` in a column — Spark's ``binary`` type has
int32 offsets, and a silent wrap past 2 GiB corrupts every later payload.
"""

from __future__ import annotations

import numpy as np

from rsgislib_spark.kernels import codecs

#: Ceiling on the payload bytes of one binary column in one output record
#: batch (int32 offsets). Read on the driver when the plan is built, so a
#: test may patch it down to force splits.
MAX_BATCH_BINARY_BYTES = 2**31 - 1


def arrow_map(df, fn, schema: str, whole_partition: bool = False):
    """``df.mapInArrow`` with the boundary code factored out.

    ``fn(cols) -> dict | None`` receives one dict of input columns per
    non-empty Arrow batch — or, with ``whole_partition=True``, one dict
    for the whole partition (its batches concatenated), so per-task work
    such as a zone-partial aggregate or a partition-wide batch sequence
    runs once per task. It returns output columns keyed by the names of
    the DDL ``schema`` (numpy arrays or lists; binary values as
    contiguous bytes-like objects), or None to emit nothing."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)  # one DDL parse, shared with Spark
    out_schema = to_arrow_schema(struct)
    ceiling = MAX_BATCH_BINARY_BYTES

    def _run(it):
        parts = (batch_columns(b) for b in it if b.num_rows)
        if whole_partition:
            whole = concat_columns(list(parts))
            parts = [] if whole is None else [whole]
        for cols in parts:
            out = fn(cols)
            if out is not None:
                yield from record_batches(out, out_schema, ceiling)

    return df.mapInArrow(_run, schema=struct)


def batch_columns(batch) -> dict:
    """Input columns of one record batch by name."""
    import pyarrow as pa

    out = {}
    for name, arr in zip(batch.schema.names, batch.columns):
        t = arr.type
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            out[name] = codecs.arrow_binary_views(arr)
        elif pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_boolean(t):
            out[name] = arr.to_numpy(zero_copy_only=False)
        else:
            out[name] = arr.to_pylist()
    return out


def concat_columns(parts: list) -> dict | None:
    """One column dict from several — binary views stay views, so a
    partition's payloads are never copied into one buffer."""
    if len(parts) <= 1:
        return parts[0] if parts else None
    return {
        k: np.concatenate([p[k] for p in parts])
        if isinstance(v, np.ndarray)
        else [x for p in parts for x in p[k]]
        for k, v in parts[0].items()
    }


def record_batches(out: dict, schema, ceiling: int = MAX_BATCH_BINARY_BYTES):
    """Typed record batches for one output column dict, split so no
    binary column of a batch carries more than ``ceiling`` bytes."""
    import pyarrow as pa

    n = len(out[schema.names[0]])
    if not n:
        return
    sizes = {
        f.name: np.fromiter((memoryview(v).nbytes for v in out[f.name]), np.int64, n)
        for f in schema
        if pa.types.is_binary(f.type)
    }
    for lo, hi in _row_slices(list(sizes.values()), n, ceiling):
        whole = lo == 0 and hi == n
        arrays = []
        for f in schema:
            v = out[f.name] if whole else out[f.name][lo:hi]
            if f.name in sizes:
                arrays.append(_binary_array(v, sizes[f.name][lo:hi]))
            else:
                arrays.append(pa.array(v, type=f.type))
        yield pa.RecordBatch.from_arrays(arrays, schema=schema)


def _row_slices(sizes: list, n: int, ceiling: int):
    """Greedy [lo, hi) row ranges whose per-column byte sums stay within
    ``ceiling``; a single row larger than it travels alone."""
    cums = [np.concatenate(([0], np.cumsum(s))) for s in sizes]
    lo = 0
    while lo < n:
        hi = min((int(np.searchsorted(c, c[lo] + ceiling, "right")) - 1 for c in cums),
                 default=n)
        hi = max(hi, lo + 1)
        yield lo, hi
        lo = hi


def _binary_array(values, sizes: np.ndarray):
    import pyarrow as pa

    offsets = np.zeros(len(sizes) + 1, np.int64)
    np.cumsum(sizes, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"a single binary value of {int(offsets[-1])} bytes does not fit "
            "Spark's binary type (int32 offsets)"
        )
    return pa.BinaryArray.from_buffers(
        pa.binary(), len(sizes),
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(b"".join(values))],
    )
