"""Arrow columns from Python lists, built from buffers.

Every Arrow UDF in the package (``mapInArrow`` / ``applyInArrow``) builds
its output batches here. The arrays are assembled with
``pa.*Array.from_buffers`` over numpy and ``pa.py_buffer`` buffers, and
are equal to what ``pa.array(values, type=…)`` returns for the same list.

Why not ``pa.array``: in pyarrow 16 its first call in a process asks
whether the input is array-like, and that check imports pandas. A Python
worker that only ever calls this module never loads pandas (about 30 MB
and 0.2 s of import per worker; PERF.md §31). ``tests/test_arrowcols.py``
keeps the package on this module.

Values are the list's Python values: ``None`` is null, strings are
``str``, integers ``int`` (or numpy integers), list cells are sequences
(or numpy arrays) of non-null numbers.
"""

from __future__ import annotations

import itertools
import operator

import numpy as np
import pyarrow as pa

#: The largest byte (or child) offset a 32-bit-offset Arrow array holds.
#: A batch whose string column would pass it is cut into several batches
#: by :func:`string_batches`.
MAX_OFFSET = 2**31 - 1

_INT32_MIN, _INT32_MAX = -2**31, 2**31 - 1


class OffsetOverflow(ValueError):
    """A column's data does not fit under :data:`MAX_OFFSET`."""


def _present(values: list) -> bytes:
    """Byte i is 1 when ``values[i]`` is not None, else 0."""
    return bytes(map(operator.is_not, values, itertools.repeat(None)))


def _bitmap(mask: np.ndarray) -> pa.Buffer:
    """Arrow validity bitmap of a bool mask."""
    return pa.py_buffer(np.packbits(mask, bitorder="little"))


def _cumulative(lengths) -> np.ndarray:
    """int64 offsets (0, then the running sum of ``lengths``)."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return offsets


def _int32_offsets(offsets: np.ndarray) -> pa.Buffer:
    """``offsets`` rebased to 0 as an int32 buffer; summed in int64 first,
    so an overflow is seen rather than wrapped."""
    if offsets[-1] - offsets[0] > MAX_OFFSET:
        raise OffsetOverflow(
            f"{int(offsets[-1] - offsets[0])} offsets exceed the 32-bit "
            f"limit {MAX_OFFSET}")
    return pa.py_buffer((offsets - offsets[0]).astype(np.int32))


def _utf8(values: list) -> tuple:
    """(UTF-8 bytes of ``values`` joined, int64 byte length of each).

    The data is one join and one encode. When it has one byte per
    character (an ASCII column) the byte lengths are the character
    lengths; otherwise each value is encoded again for its length. On an
    ASCII column this is about twice as fast as encoding each value, and
    on a column with non-ASCII values about 16% slower (PERF.md §31)."""
    joined = "".join(values)
    data = joined.encode()
    lengths = (map(len, values) if len(data) == len(joined)
               else map(len, map(str.encode, values)))
    return data, np.fromiter(lengths, dtype=np.int64, count=len(values))


def _string_column(values: list) -> tuple:
    """(UTF-8 data, int64 offsets, non-null mask or None) of ``values``."""
    try:
        data, lengths = _utf8(values)
        mask = None
    except TypeError:               # a None among the values
        # a null takes no bytes: the other values are encoded, and their
        # lengths scattered into place
        present = _present(values)
        data, present_lengths = _utf8(list(itertools.compress(values,
                                                              present)))
        mask = np.frombuffer(present, dtype=bool)
        lengths = np.zeros(len(values), dtype=np.int64)
        lengths[mask] = present_lengths
    return data, _cumulative(lengths), mask


def _string_rows(column: tuple, start: int, stop: int) -> pa.StringArray:
    """Rows ``start:stop`` of a :func:`_string_column` as a string array
    (the data buffer is a view, not a copy)."""
    data, offsets, mask = column
    validity, n_null = None, 0
    if mask is not None:
        rows = mask[start:stop]
        validity = _bitmap(rows)
        n_null = len(rows) - int(np.count_nonzero(rows))
    return pa.StringArray.from_buffers(
        stop - start, _int32_offsets(offsets[start:stop + 1]),
        pa.py_buffer(memoryview(data)[offsets[start]:offsets[stop]]),
        validity, n_null)


def strings(values: list) -> pa.StringArray:
    """``pa.array(values, type=pa.string())``, built from buffers."""
    return _string_rows(_string_column(values), 0, len(values))


def _numbers(values: list, dtype) -> tuple:
    """(numpy array of ``values`` with nulls as 0, validity, null count)."""
    try:
        return np.array(values, dtype=dtype), None, 0
    except TypeError:               # a None among the values
        data = np.array([0 if v is None else v for v in values], dtype=dtype)
        return (data, _bitmap(np.frombuffer(_present(values), dtype=bool)),
                values.count(None))


def int64s(values: list) -> pa.Int64Array:
    """``pa.array(values, type=pa.int64())``, built from buffers."""
    data, validity, n_null = _numbers(values, np.int64)
    return pa.Array.from_buffers(pa.int64(), len(data),
                                 [validity, pa.py_buffer(data)], n_null)


def int32s(values: list) -> pa.Int32Array:
    """``pa.array(values, type=pa.int32())``, built from buffers; a value
    outside int32 raises ``OverflowError``, as ``pa.array`` raises."""
    data, validity, n_null = _numbers(values, np.int64)
    if len(data) and (data.min() < _INT32_MIN or data.max() > _INT32_MAX):
        raise OverflowError("value out of int32 range")
    return pa.Array.from_buffers(pa.int32(), len(data),
                                 [validity, pa.py_buffer(data.astype(np.int32))],
                                 n_null)


_LIST_CHILD = {pa.int64(): np.int64, pa.float64(): np.float64}


def lists(values: list, value_type: pa.DataType) -> pa.ListArray:
    """``pa.array(values, type=pa.list_(value_type))`` for ``value_type``
    int64 or float64, built from buffers. Cells are sequences or numpy
    arrays of numbers; a cell is never None and holds no None."""
    lengths = np.fromiter(map(len, values), dtype=np.int64,
                          count=len(values))
    child = np.fromiter(itertools.chain.from_iterable(values),
                        dtype=_LIST_CHILD[value_type],
                        count=int(lengths.sum()))
    children = pa.Array.from_buffers(value_type, len(child),
                                     [None, pa.py_buffer(child)])
    return pa.Array.from_buffers(pa.list_(value_type), len(values),
                                 [None, _int32_offsets(_cumulative(lengths))],
                                 children=[children])


def string_batches(columns: list, names: list):
    """Yield the string ``columns`` (equal-length lists) as one
    RecordBatch; when a column's bytes pass :data:`MAX_OFFSET`, as
    several consecutive batches of its rows instead, each cut before the
    row that would pass it. Every column is encoded once, and each batch's
    data is a view of it; a single value past the limit raises
    :class:`OffsetOverflow`."""
    built = [_string_column(c) for c in columns]
    n = len(columns[0])
    start = 0
    while True:
        # the last row end within MAX_OFFSET bytes of start, in every column
        stop = min(int(np.searchsorted(offsets, offsets[start] + MAX_OFFSET,
                                       side="right")) - 1
                   for _, offsets, _ in built)
        if stop == start < n:
            raise OffsetOverflow(f"row {start} alone passes {MAX_OFFSET} "
                                 f"bytes")
        yield pa.RecordBatch.from_arrays(
            [_string_rows(c, start, stop) for c in built], names=names)
        if stop == n:
            return
        start = stop
