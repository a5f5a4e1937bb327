"""Arrow arrays built from numpy buffers and UTF-8 bytes, for the
kernel's two emits (core/arrow_out.py and operators/extract.py's text
kernel).

pyarrow imports pandas on the first `pa.array` call (it probes every
input for pandas types), ~30 MB of RSS in each Python worker; these
builders call `Array.from_buffers` and `StringArray.from_buffers` only.
The module leaves out `pyarrow.compute` (~5.6 MB) for the text kernel.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_ARROW_OF = {np.dtype(bool): pa.bool_(), np.dtype(np.int32): pa.int32(),
             np.dtype(np.int64): pa.int64(), np.dtype(np.float64): pa.float64()}


def _bitmap(valid) -> "pa.Buffer | None":
    return (None if valid is None
            else pa.py_buffer(np.packbits(valid, bitorder="little")))


def from_numpy(values: np.ndarray, valid=None) -> pa.Array:
    """A bool, int32, int64 or float64 array over the numpy array's
    buffer, null where the bool mask `valid` is False. The dtype is the
    caller's: numpy wraps an int past int32 where pa.array raised, so
    payload values headed for int32 columns are range-checked at decode
    (core/payload.py:_int32)."""
    a = np.ascontiguousarray(values)
    data = np.packbits(a, bitorder="little") if a.dtype == bool else a
    return pa.Array.from_buffers(_ARROW_OF[a.dtype], len(a),
                                 [_bitmap(valid), pa.py_buffer(data)])


def string_array(strs) -> pa.StringArray:
    """`pa.array(strs, pa.string())` for a sequence of str or None (null),
    built from its UTF-8 bytes and offsets."""
    valid = None
    if None in strs:
        valid = np.fromiter((s is not None for s in strs), bool, len(strs))
        strs = ["" if s is None else s for s in strs]
    enc = list(map(str.encode, strs))  # UTF-8, strict
    offs = np.zeros(len(enc) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, enc), np.int64, len(enc)), out=offs[1:])
    if offs[-1] > np.iinfo(np.int32).max:
        raise OverflowError(f"{offs[-1]} bytes exceed one Arrow string array")
    return pa.StringArray.from_buffers(
        len(enc), pa.py_buffer(offs.astype(np.int32)),
        pa.py_buffer(b"".join(enc)), _bitmap(valid))
