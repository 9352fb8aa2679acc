"""Posting-block codec: delta + LEB128 varint over Arrow binary columns.

The reference delegates posting compression to Lucene's codec and adds
its own files on top (reference codec/BlackLab40PostingsWriter.java:57,
doc/index-formats/integrated.md:17-103). We implement the classic
delta+varint scheme ourselves, one column at a time: the encoder turns
a whole segment's values into one binary column of per-block payloads,
and the decoder turns a whole binary column back into flat values plus
per-row value offsets, both as numpy array programs with no Python call
per value or per block (the encode loop below is over *byte positions
within a varint*, max 10 iterations, each fully vectorized).

Layout per posting block (one row = up to `block_size` docs of one
(segment, term) posting list):
- doc_ids:   varint(delta(doc_ids)), the delta chain restarting at the
  block's first doc (stored absolute)
- freqs:     varint(tf per doc), same order
- dls:       varint(doc length per doc), same order
- positions: varint of per-doc delta-encoded token positions,
  concatenated in doc order, the chain restarting at each doc's first
  position; per-doc boundaries come from freqs
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_U64 = np.uint64
_SEVEN = _U64(7)


def delta_encode(sorted_vals: np.ndarray, run_starts: np.ndarray) -> np.ndarray:
    """Deltas of ``sorted_vals`` with the chain restarting at each index
    of ``run_starts`` (the first value of each run stays absolute)."""
    v = np.asarray(sorted_vals, dtype=np.int64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    rs = np.asarray(run_starts, dtype=np.int64)
    out[rs] = v[rs]
    return out


def varint_encode(values: np.ndarray, group_lens: np.ndarray) -> pa.BinaryArray:
    """LEB128-encode non-negative ``values`` into a BinaryArray with one
    row per group of ``group_lens`` values (a group may be empty), built
    zero-copy from (offsets, data) buffers."""
    gl = np.asarray(group_lens, dtype=np.int64)
    v = np.ascontiguousarray(values, dtype=_U64)
    # bytes needed per value: ceil(bitlength/7), min 1
    nbytes = np.ones(v.size, dtype=np.int64)
    x = v >> _SEVEN
    while x.any():
        nbytes += (x > 0).astype(np.int64)
        x >>= _SEVEN
    ends = np.cumsum(nbytes)
    total = int(ends[-1]) if v.size else 0
    if total > np.iinfo(np.int32).max:
        raise ValueError(
            f"varint stream of {total} bytes exceeds BinaryArray's int32 "
            f"offsets; split the segment"
        )
    out = np.zeros(total, dtype=np.uint8)
    starts = ends - nbytes
    cur = v.copy()
    for b in range(int(nbytes.max(initial=0))):  # byte slots, not values
        mask = nbytes > b
        byte = (cur[mask] & _U64(0x7F)).astype(np.uint8)
        more = (nbytes[mask] > (b + 1)).astype(np.uint8) << 7
        out[starts[mask] + b] = byte | more
        cur >>= _SEVEN
    # a group ends at the byte end of its last value; an empty group
    # (leading, inner or trailing, several in a row) ends where the
    # previous one did
    byte_bounds = np.concatenate([[0], ends])[np.concatenate([[0], np.cumsum(gl)])]
    return pa.BinaryArray.from_buffers(
        pa.binary(), gl.size,
        [None, pa.py_buffer(byte_bounds.astype(np.int32)), pa.py_buffer(out)],
    )


def varint_decode(column, delta=None) -> tuple[np.ndarray, np.ndarray]:
    """Decode a whole binary column of varint payloads in one pass over
    its offset and data buffers.

    ``column`` is a (Large)BinaryArray, possibly sliced, or a
    ChunkedArray of them. Returns ``(values, offsets)``: the int64
    values of every row concatenated, and row i's values at
    ``values[offsets[i]:offsets[i + 1]]``. ``delta`` undoes a delta
    chain with a segmented cumsum: None keeps the values as stored,
    ``"row"`` restarts the chain at each row (doc_ids), and an int
    array of run lengths summing to the value count restarts it at each
    run (positions, whose runs are the docs' freqs)."""
    if isinstance(column, pa.ChunkedArray):
        column = column.combine_chunks()
    n_rows = len(column)
    bufs = column.buffers()
    offs = np.zeros(1, dtype=np.int64)
    if n_rows:
        off_type = np.int64 if pa.types.is_large_binary(column.type) else np.int32
        offs = np.frombuffer(bufs[1], dtype=off_type,
                             count=column.offset + n_rows + 1)[column.offset:]
        offs = offs.astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None
            else np.zeros(0, dtype=np.uint8))
    raw = data[offs[0]: offs[-1]]
    # every value ends at a byte without the continuation bit
    last = raw < 0x80
    ends = np.flatnonzero(last)
    n_vals_before = np.concatenate([[0], np.cumsum(last)])
    row_offs = n_vals_before[offs - offs[0]]
    if ends.size == 0:
        return np.zeros(0, dtype=np.int64), row_offs
    starts = np.concatenate([[0], ends[:-1] + 1])
    shift = (np.arange(raw.size) - np.repeat(starts, ends - starts + 1)) * 7
    vals = np.add.reduceat(
        (raw & 0x7F).astype(_U64) << shift.astype(_U64), starts
    ).astype(np.int64)
    if delta is None:
        return vals, row_offs
    runs = np.diff(row_offs) if isinstance(delta, str) else np.asarray(delta, np.int64)
    csum = np.cumsum(vals)
    run_base = np.concatenate([[0], csum])[np.cumsum(runs) - runs]
    return csum - np.repeat(run_base, runs), row_offs
