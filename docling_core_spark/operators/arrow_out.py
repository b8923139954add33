"""Arrow output batches for ``mapInArrow`` functions, built from buffers.

pyarrow's ``pa.array``, ``RecordBatch.from_pylist``, ``pa.scalar`` and
``pa.table`` ask its lazy pandas shim whether their input is array-like, and
the shim imports pandas: ~45 MB of every Python worker's peak RSS, although
no operator here uses pandas.  ``Array.from_buffers`` and
``RecordBatch.from_arrays`` do not, so a worker that builds its output here
never loads pandas.

``capped_batches`` also bounds the output side of the boundary: it closes a
batch once the UTF-8 bytes of its strings reach the session's
``spark.sql.execution.arrow.maxBytesPerBatch``, the bound Spark already
keeps on the input side.
"""

from __future__ import annotations

from array import array
from itertools import accumulate, chain
from typing import Callable, Iterable, Iterator, Optional

import pyarrow as pa

_INT_CODES = {pa.int32(): "i", pa.int64(): "q"}  # array typecodes of 4 and 8 bytes


def max_bytes_per_batch(spark) -> int:
    """The session's Arrow batch cap in bytes (read on the driver)."""
    conf = spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch")
    return spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)


def _validity(values: list) -> pa.Buffer:
    bits = bytearray(b"\xff" * ((len(values) + 7) // 8))
    for i, v in enumerate(values):
        if v is None:
            bits[i >> 3] ^= 1 << (i & 7)
    return pa.py_buffer(bits)


def _offsets(lengths: Iterable[int]) -> pa.Buffer:
    # int32 offsets: raises OverflowError past 2 GiB instead of wrapping
    return pa.py_buffer(array("i", chain((0,), accumulate(lengths))))


def column(arrow_type: pa.DataType, values: list) -> pa.Array:
    """``pa.array(values, type=arrow_type)`` for string, int32, int64 and
    list/struct nestings of them, without importing pandas."""
    n = len(values)
    nulls = values.count(None)
    validity = _validity(values) if nulls else None
    if pa.types.is_string(arrow_type):
        enc = [b"" if v is None else v.encode() for v in values]
        buffers = [validity, _offsets(map(len, enc)), pa.py_buffer(b"".join(enc))]
        return pa.Array.from_buffers(arrow_type, n, buffers, nulls)
    if arrow_type in _INT_CODES:
        data = array(_INT_CODES[arrow_type], [0 if v is None else v for v in values])
        return pa.Array.from_buffers(arrow_type, n, [validity, pa.py_buffer(data)], nulls)
    if pa.types.is_list(arrow_type):
        child = column(arrow_type.value_type, [x for v in values if v is not None for x in v])
        offsets = _offsets(0 if v is None else len(v) for v in values)
        return pa.Array.from_buffers(arrow_type, n, [validity, offsets], nulls, children=[child])
    if pa.types.is_struct(arrow_type):
        children = [
            column(f.type, [None if v is None else v[f.name] for v in values])
            for f in arrow_type
        ]
        return pa.Array.from_buffers(arrow_type, n, [validity], nulls, children=children)
    raise TypeError(f"no buffer builder for Arrow type {arrow_type}")


def record_batch(schema: pa.Schema, rows: list[dict]) -> pa.RecordBatch:
    """The batch ``pa.RecordBatch.from_pylist(rows, schema)`` would build."""
    return pa.RecordBatch.from_arrays(
        [column(f.type, [r[f.name] for r in rows]) for f in schema], schema=schema
    )


def _string_bytes(arrow_type: pa.DataType) -> Optional[Callable[[object], int]]:
    """A function giving the UTF-8 bytes of the strings in one value of
    ``arrow_type``; None for a type that holds no strings."""
    if pa.types.is_string(arrow_type):
        return lambda v: 0 if v is None else len(v) if v.isascii() else len(v.encode())
    if pa.types.is_list(arrow_type):
        inner = _string_bytes(arrow_type.value_type)
        if inner is None:
            return None
        return lambda v: 0 if v is None else sum(map(inner, v))
    if pa.types.is_struct(arrow_type):
        parts = [(f.name, s) for f in arrow_type if (s := _string_bytes(f.type))]
        if not parts:
            return None
        return lambda v: 0 if v is None else sum(s(v[name]) for name, s in parts)
    return None


def capped_batches(
    schema: pa.Schema, rows: Iterable[dict], max_bytes: int
) -> Iterator[pa.RecordBatch]:
    """``rows`` in order as one or more batches.  A batch is closed once the
    UTF-8 bytes of its strings reach ``max_bytes``; a row is never split.
    Empty ``rows`` give one empty batch."""
    size_of = _string_bytes(pa.struct(list(schema))) or (lambda row: 0)
    buf: list[dict] = []
    size = 0
    yielded = False
    for row in rows:
        buf.append(row)
        size += size_of(row)
        if size >= max_bytes:
            yield record_batch(schema, buf)
            buf, size, yielded = [], 0, True
    if buf or not yielded:
        yield record_batch(schema, buf)
