"""Delta + VByte (LEB128) posting compression — vectorized numpy codecs.

The reference stores each token's (anchor_id, score) block delta-encoded on
anchor_id and VInt-compressed
(/root/reference/src/indices/persistence_score/token_to_anchor_score_vint.rs:62-73);
this is our from-scratch equivalent: doc ids are delta-encoded then
LEB128-varint packed; scores are LEB128 packed directly. Both encode and
decode are O(5) vectorized numpy passes (one per possible byte of a u32) —
no per-value Python.

The query kernel decodes a whole Arrow column of packed rows at once
(:func:`vbyte_decode_grouped`, the inverse of
:func:`vbyte_encode_grouped`): one pass over the column's data buffer
gives every row's values and per-row value offsets, so a kernel call over
any number of posting rows (a ``mapInArrow`` batch, or the local tier's
rows) pays one decode, not one per row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_THRESH = [1 << 7, 1 << 14, 1 << 21, 1 << 28]


def vbyte_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint array (values must fit in u32)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    if int(v.max()) >= (1 << 35):
        # the codec emits at most 5 LEB128 bytes (35 bits); callers keep
        # values bounded (doc ids are segment-relative, scores are u32) —
        # fail loudly instead of silently truncating
        raise OverflowError(f"vbyte_encode: value {int(v.max())} exceeds 35 bits")
    nb = np.ones(v.size, dtype=np.int64)
    for t in _THRESH:
        nb += v >= t
    starts = np.empty(v.size, dtype=np.int64)
    starts[0] = 0
    np.cumsum(nb[:-1], out=starts[1:])
    total = int(starts[-1] + nb[-1])
    out = np.empty(total, dtype=np.uint8)
    for k in range(5):
        mask = nb > k
        if not mask.any():
            break
        byte = (v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nb[mask] - 1 > k).astype(np.uint8) << 7
        out[starts[mask] + k] = byte.astype(np.uint8) | cont
    return out.tobytes()


def vbyte_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array."""
    arr = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else np.asarray(buf, dtype=np.uint8)
    return _leb128(arr)[0]


def _leb128(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """A uint8 LEB128 stream → (uint64 values, position of each value's
    last byte)."""
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    ends = np.flatnonzero((arr & 0x80) == 0)
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for k in range(int(lens.max())):
        mask = lens > k
        vals[mask] |= (arr[starts[mask] + k] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * k)
    return vals, ends


def binary_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """The bytes of a ``binary`` / ``large_binary`` Arrow array or
    ChunkedArray and its per-row byte offsets (int64, one more than rows):
    row i is ``data[offsets[i]:offsets[i + 1]]``, a null row is empty.
    Zero-copy for one chunk without nulls."""
    if isinstance(arr, pa.ChunkedArray):
        parts = [binary_buffers(c) for c in arr.chunks]
        if len(parts) == 1:
            return parts[0]
        base = np.cumsum([0] + [len(d) for d, _o in parts])
        return (np.concatenate([d for d, _o in parts]
                               or [np.empty(0, np.uint8)]),
                np.concatenate([[0]] + [o[1:] + b
                                        for (_d, o), b in zip(parts, base)]))
    if arr.null_count:
        arr = arr.fill_null(pa.scalar(b"", arr.type))
    _valid, offsets, data = arr.buffers()
    otype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(offsets, otype, len(arr) + 1,
                         arr.offset * otype().itemsize).astype(np.int64)
    data = (np.frombuffer(data, np.uint8) if data is not None
            else np.empty(0, np.uint8))
    return data[offs[0]:offs[-1]], offs - offs[0]


def vbyte_decode_grouped(arr) -> tuple[np.ndarray, np.ndarray]:
    """Decode every row of a binary Arrow array (or ChunkedArray) of LEB128
    groups in ONE vectorized pass — the inverse of
    :func:`vbyte_encode_grouped`. Returns (uint64 values of all rows,
    per-row value offsets, int64, one more than rows): row i's values are
    ``values[offsets[i]:offsets[i + 1]]``, equal to ``vbyte_decode`` of
    its bytes. Null and empty rows decode to no values. A group ends on a
    byte without the continuation bit, so a row's values are exactly the
    values whose last byte lies in it."""
    data, offs = binary_buffers(arr)
    vals, ends = _leb128(data)
    return vals, np.searchsorted(ends, offs, "left").astype(np.int64)


def unpack_ids_grouped(arr) -> tuple[np.ndarray, np.ndarray]:
    """:func:`unpack_ids` of every row of a binary Arrow array in one
    pass: (int64 ids of all rows, each row delta-decoded on its own, and
    the per-row offsets of :func:`vbyte_decode_grouped`)."""
    vals, offs = vbyte_decode_grouped(arr)
    run = np.zeros(len(vals) + 1, dtype=np.uint64)
    np.cumsum(vals, out=run[1:])
    # each row's running sum restarts at its first value (u64 wraps
    # alike on both sides of the subtraction)
    ids = run[1:] - np.repeat(run[offs[:-1]], np.diff(offs))
    return ids.astype(np.int64), offs


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Ascending ids → first value + successive deltas (u64)."""
    ids = np.asarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return ids
    out = np.empty_like(ids)
    out[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(deltas, dtype=np.uint64), dtype=np.uint64)


def pack_postings(doc_ids: np.ndarray, scores: np.ndarray) -> tuple[bytes, bytes]:
    """(sorted doc ids, u32 scores) → (packed docs, packed scores)."""
    return vbyte_encode(delta_encode(doc_ids)), vbyte_encode(scores)


def unpack_postings(docs_bin: bytes, scores_bin: bytes) -> tuple[np.ndarray, np.ndarray]:
    docs = delta_decode(vbyte_decode(docs_bin))
    scores = vbyte_decode(scores_bin).astype(np.uint32)
    return docs.astype(np.int64), scores


def pack_ids(sorted_ids: np.ndarray) -> bytes:
    """Ids-only posting (phrase doc lists): delta + VByte."""
    return vbyte_encode(delta_encode(sorted_ids))


def vbyte_encode_grouped(values: np.ndarray, starts: np.ndarray,
                         ends: np.ndarray) -> list[bytes]:
    """LEB128-encode a batch of concatenated value groups in ONE vectorized
    pass, returning each group's bytes. Byte-identical to
    ``[vbyte_encode(values[s:e]) for s, e in zip(starts, ends)]`` — the
    LEB128 stream has no header, so a group's encoding is exactly its
    slice of the batch encoding. Exists because a per-group encode loop is
    O(groups) Python calls: packing tens of millions of tiny (pair,
    segment) groups per build dominated the phrase stage (measured 1097 s
    of a 1408 s 1M-doc 2-core build, r5)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return [b""] * len(starts)
    if int(v.max()) >= (1 << 35):
        raise OverflowError(f"vbyte_encode: value {int(v.max())} exceeds 35 bits")
    nb = np.ones(v.size, dtype=np.int64)
    for t in _THRESH:
        nb += v >= t
    offs = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nb, out=offs[1:])
    out = np.empty(int(offs[-1]), dtype=np.uint8)
    val_starts = offs[:-1]
    for k in range(5):
        mask = nb > k
        if not mask.any():
            break
        byte = (v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nb[mask] - 1 > k).astype(np.uint8) << 7
        out[val_starts[mask] + k] = byte.astype(np.uint8) | cont
    mv = memoryview(out.tobytes())
    return [bytes(mv[offs[s]:offs[e]]) for s, e in zip(starts, ends)]


def pack_ids_grouped(sorted_ids: np.ndarray, starts: np.ndarray,
                     ends: np.ndarray) -> list[bytes]:
    """Per-group :func:`pack_ids` over concatenated groups of ascending ids
    (each group sorted; ids need not be related across groups), fully
    vectorized. Byte-identical to
    ``[pack_ids(sorted_ids[s:e]) for s, e in zip(starts, ends)]``."""
    ids = np.asarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return [b""] * len(starts)
    deltas = np.empty_like(ids)
    deltas[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=deltas[1:])
    # cross-group positions may wrap (next group can start below the
    # previous group's last id) — overwritten with the group-first value
    # before any encode looks at them. An empty group's start == its end
    # and may sit at ids.size: nothing to fix up, its slice is empty.
    s = np.asarray(starts, dtype=np.int64)
    s = s[s < ids.size]
    deltas[s] = ids[s]
    return vbyte_encode_grouped(deltas, starts, ends)


def unpack_ids(ids_bin: bytes) -> np.ndarray:
    return delta_decode(vbyte_decode(ids_bin)).astype(np.int64)
