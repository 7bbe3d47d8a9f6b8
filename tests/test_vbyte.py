import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from veloci_spark.vbyte import (
    delta_decode,
    delta_encode,
    pack_postings,
    unpack_postings,
    vbyte_decode,
    vbyte_encode,
)


def test_empty():
    assert vbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert vbyte_decode(b"").size == 0


def test_known_values():
    assert vbyte_encode([0]) == b"\x00"
    assert vbyte_encode([1]) == b"\x01"
    assert vbyte_encode([127]) == b"\x7f"
    assert vbyte_encode([128]) == b"\x80\x01"
    assert vbyte_encode([300]) == b"\xac\x02"


@given(st.lists(st.integers(0, 2**32 - 1), max_size=200))
@settings(max_examples=200)
def test_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (vbyte_decode(vbyte_encode(arr)) == arr).all()


@given(st.lists(st.integers(0, 2**31 - 1), min_size=1, max_size=200, unique=True))
@settings(max_examples=100)
def test_postings_roundtrip(ids):
    docs = np.array(sorted(ids), dtype=np.uint64)
    scores = (docs % 397 + 1).astype(np.uint32)
    db, sb = pack_postings(docs, scores)
    d2, s2 = unpack_postings(db, sb)
    assert (d2 == docs.astype(np.int64)).all()
    assert (s2 == scores).all()


def test_delta():
    ids = np.array([5, 6, 100, 1000], dtype=np.uint64)
    d = delta_encode(ids)
    assert list(d) == [5, 1, 94, 900]
    assert (delta_decode(d) == ids).all()


@given(st.lists(st.lists(st.integers(0, 2**20 - 1), min_size=0, max_size=40),
                min_size=1, max_size=30))
@settings(max_examples=150)
def test_pack_ids_grouped_byte_identical(groups):
    """The batched encoder (r5: one vectorized pass + per-group byte
    slicing) is byte-identical to calling pack_ids per group — groups are
    independent delta streams, so cross-group boundaries must not leak."""
    from veloci_spark.vbyte import pack_ids, pack_ids_grouped, unpack_ids

    groups = [np.array(sorted(set(g)), dtype=np.int64) for g in groups]
    flat = (np.concatenate(groups) if any(len(g) for g in groups)
            else np.empty(0, dtype=np.int64))
    lens = np.array([len(g) for g in groups], dtype=np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    got = pack_ids_grouped(flat, starts, ends)
    want = [pack_ids(g) for g in groups]
    assert got == want
    for blob, g in zip(got, groups):
        assert (unpack_ids(blob) == g).all()


def test_vbyte_encode_grouped_matches_per_group():
    from veloci_spark.vbyte import vbyte_encode_grouped

    rng = np.random.RandomState(3)
    vals = rng.randint(0, 2**34, size=500).astype(np.uint64)
    starts = np.array([0, 100, 101, 400], dtype=np.int64)
    ends = np.array([100, 101, 400, 500], dtype=np.int64)
    got = vbyte_encode_grouped(vals, starts, ends)
    assert got == [vbyte_encode(vals[s:e]) for s, e in zip(starts, ends)]


_GROUPS = st.lists(st.one_of(st.none(),
                             st.lists(st.integers(0, 2**32 - 1), max_size=12)),
                   max_size=20)


@given(groups=_GROUPS, ids=st.booleans(), large=st.booleans(),
       start=st.integers(0, 3), n_chunks=st.integers(1, 3))
@settings(max_examples=300, deadline=None)
def test_decode_grouped_matches_per_row(groups, ids, large, start, n_chunks):
    """One grouped decode of a binary column equals the per-row decode
    (vbyte_decode, or unpack_ids of delta-packed rows): empty groups and
    null rows give no values, on binary and large_binary, on a slice with
    a non-zero Arrow offset and on a ChunkedArray of several chunks."""
    import pyarrow as pa

    from veloci_spark.vbyte import (pack_ids, unpack_ids, unpack_ids_grouped,
                                    vbyte_decode_grouped)

    if ids:
        groups = [None if g is None else sorted(set(g)) for g in groups]
        blobs = [None if g is None else pack_ids(np.array(g, np.uint64))
                 for g in groups]
    else:
        blobs = [None if g is None else vbyte_encode(np.array(g, np.uint64))
                 for g in groups]
    typ = pa.large_binary() if large else pa.binary()
    arr = pa.array([b"\x81\x01"] * start + blobs, typ).slice(start)
    cuts = sorted({0, len(blobs), *(len(blobs) * i // n_chunks
                                    for i in range(1, n_chunks))})
    col = pa.chunked_array([arr.slice(a, b - a)
                            for a, b in zip(cuts, cuts[1:])] or [arr], typ)
    for got in (arr, col):
        vals, offs = (unpack_ids_grouped if ids else vbyte_decode_grouped)(got)
        assert len(offs) == len(blobs) + 1 and offs[0] == 0
        for i, blob in enumerate(blobs):
            row = vals[offs[i]:offs[i + 1]]
            if blob is None:
                assert len(row) == 0
            elif ids:
                assert row.dtype == np.int64
                assert (row == unpack_ids(blob)).all()
            else:
                assert (row == vbyte_decode(blob)).all()


@given(groups=st.lists(st.lists(st.integers(0, 2**31 - 1), min_size=1,
                                max_size=30, unique=True), max_size=10))
@settings(max_examples=100, deadline=None)
def test_grouped_postings_match_unpack_postings(groups):
    """A posting column's grouped ids and scores equal unpack_postings per
    row."""
    import pyarrow as pa

    from veloci_spark.vbyte import unpack_ids_grouped, vbyte_decode_grouped

    packed = [pack_postings(np.array(sorted(g), np.uint64),
                            np.array(g, np.uint64) % 397 + 1) for g in groups]
    ids, ioffs = unpack_ids_grouped(pa.array([d for d, _s in packed],
                                             pa.binary()))
    scores, soffs = vbyte_decode_grouped(pa.array([s for _d, s in packed],
                                                  pa.binary()))
    assert (ioffs == soffs).all()
    for i, (d, s) in enumerate(packed):
        want_ids, want_scores = unpack_postings(d, s)
        assert (ids[ioffs[i]:ioffs[i + 1]] == want_ids).all()
        assert (scores[soffs[i]:soffs[i + 1]] == want_scores).all()
