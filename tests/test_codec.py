import numpy as np
import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from blacklab_spark.index import codec


def _leb128(vals) -> bytes:
    """Pure-Python LEB128: the reference the vectorized codec must match."""
    bs = bytearray()
    for v in vals:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            bs.append(b | (0x80 if v else 0))
            if not v:
                break
    return bytes(bs)


def _encode(vals, lens) -> pa.BinaryArray:
    arr = np.array(vals, dtype=np.int64)
    return codec.varint_encode(arr, np.array(lens, dtype=np.int64))


@given(st.lists(st.integers(0, 2**50), max_size=500))
@settings(max_examples=100, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    got, offs = codec.varint_decode(_encode(vals, [len(vals)]))
    assert np.array_equal(got, arr) and list(offs) == [0, len(vals)]


@given(st.sets(st.integers(0, 2**31), min_size=1, max_size=300))
@settings(max_examples=100, deadline=None)
def test_doc_ids_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.int64)
    col = _encode(codec.delta_encode(arr, [0]), [arr.size])
    assert np.array_equal(codec.varint_decode(col, "row")[0], arr)


@given(
    st.lists(
        st.sets(st.integers(0, 511), min_size=1, max_size=20), min_size=1, max_size=40
    )
)
@settings(max_examples=100, deadline=None)
def test_positions_roundtrip(doc_positions):
    freqs = np.array([len(p) for p in doc_positions], dtype=np.int64)
    flat = np.concatenate([np.sort(np.array(list(p))) for p in doc_positions])
    starts = np.cumsum(freqs) - freqs
    col = _encode(codec.delta_encode(flat, starts), [flat.size])
    assert np.array_equal(codec.varint_decode(col, freqs)[0], flat)


def _block_layout():
    """Rows of non-negative ints, empty rows included, plus where to
    slice the column and where to cut it into chunks."""
    rows = st.lists(st.lists(st.integers(0, 2**56), max_size=12), max_size=30)
    return rows.flatmap(lambda rs: st.tuples(
        st.just(rs),
        st.integers(0, len(rs)),   # slice start
        st.integers(0, len(rs)),   # slice length (clipped)
        st.lists(st.integers(0, len(rs)), max_size=3),  # chunk cuts
    ))


@given(_block_layout())
@example(([[], [], [], [200, 201], [202, 203], [204], [205, 206, 207, 208], [],
           [209, 210, 211, 212]], 0, 9, []))
@settings(max_examples=200, deadline=None)
def test_column_decode_matches_reference(layout):
    """The encoder's rows equal per-row pure-Python LEB128, and the
    column decoder reads any binary column of such rows back — leading,
    inner and trailing empty rows, a sliced array (offset != 0) and a
    column of several chunks — with both delta modes."""
    rows, s0, n, cuts = layout
    flat = [v for r in rows for v in r]
    enc = _encode(flat, [len(r) for r in rows])
    assert enc.to_pylist() == [_leb128(r) for r in rows]

    col = pa.array([_leb128(r) for r in rows], pa.binary()).slice(s0, n)
    part = rows[s0:s0 + n]
    bounds = [0, *sorted(c for c in cuts if c <= len(part)), len(part)]
    chunked = pa.chunked_array(
        [col.slice(a, b - a) for a, b in zip(bounds, bounds[1:])], pa.binary()
    )
    want = np.array([v for r in part for v in r], dtype=np.int64)
    want_offs = np.cumsum([0] + [len(r) for r in part])
    for c in (col, chunked):
        vals, offs = codec.varint_decode(c)
        assert np.array_equal(vals, want) and np.array_equal(offs, want_offs)
        by_row, _ = codec.varint_decode(c, "row")
        assert np.array_equal(
            by_row, np.concatenate([np.cumsum(r, dtype=np.int64) for r in part] or [[]])
        )
        runs = [len(r) for r in part]
        assert np.array_equal(codec.varint_decode(c, runs)[0], by_row)


def test_empty():
    assert len(_encode([], [])) == 0
    assert _encode([], [0, 0]).to_pylist() == [b"", b""]
    vals, offs = codec.varint_decode(pa.array([], pa.binary()))
    assert vals.size == 0 and list(offs) == [0]
    vals, offs = codec.varint_decode(pa.chunked_array([], pa.binary()))
    assert vals.size == 0 and list(offs) == [0]
    assert codec.delta_encode(np.array([]), np.array([])).size == 0


def test_compression_is_real():
    # dense doc ids should cost ~1 byte each after delta
    ids = np.arange(10_000, 20_000, dtype=np.int64)
    col = _encode(codec.delta_encode(ids, [0]), [ids.size])
    assert col.nbytes < 1.2 * len(ids)
