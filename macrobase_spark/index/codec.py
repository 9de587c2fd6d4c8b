"""Posting-list compression: delta + varint (LEB128), vectorized in numpy.

Encoders/decoders operate on whole arrays inside Arrow batches (pandas UDFs)
— never per-row Python. Postings are (sorted docID deltas, tf) streams:
docIDs are strictly increasing per term, so deltas are ≥1 (first value
stored raw); tfs are ≥1. Layout per posting list:

    varint(n) ‖ varint-deltas(doc_ids) ‖ varint(tfs)

This matches the classic inverted-index layout (cf. Lucene's packed postings)
and costs ~1-2 bytes/posting on Zipfian data vs 16 raw.
"""

from __future__ import annotations

import numpy as np


def varint_encode_offsets(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array; returns (byte buffer, offsets) where
    offsets[i] is the byte position of value i (offsets[n] = total bytes).
    Fully vectorized — one pass per byte position over the whole array, so
    encoding a million values costs the same few numpy ops as a hundred."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp = tmp >> np.uint64(7)
    nbytes = np.maximum(nbits, 1)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    max_len = int(nbytes.max())
    shifted = v.copy()
    for b in range(max_len):
        active = nbytes > b
        pos = offsets[:-1][active] + b
        byte = (shifted[active] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[active] - 1) > b
        out[pos] = byte | (cont.astype(np.uint8) << 7)
        shifted = shifted >> np.uint64(7)
    return out, offsets


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (see varint_encode_offsets)."""
    buf, _ = varint_encode_offsets(values)
    return buf.tobytes()


def _join_run_streams(counts: np.ndarray,
                      streams: list[tuple[np.ndarray, np.ndarray, np.ndarray]]
                      ) -> list[bytes]:
    """Per run i: varint(counts[i]) ‖ each stream's values [s[i], e[i]).
    Each (values, s, e) stream is varint-encoded in ONE whole-array pass;
    the per-run blobs are then assembled by byte-offset slicing."""
    hdr_buf, hdr_off = varint_encode_offsets(
        np.asarray(counts, dtype=np.uint64))
    parts = [(hdr_buf.tobytes(), hdr_off[:-1].tolist(), hdr_off[1:].tolist())]
    for values, s, e in streams:
        buf, off = varint_encode_offsets(values)
        parts.append((buf.tobytes(), off[s].tolist(), off[e].tolist()))
    return [b"".join(seg) for seg in zip(*(
        [b[i:j] for i, j in zip(s, e)] for b, s, e in parts))]


def _run_deltas(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Gaps between consecutive values; the first value of each run (the
    `starts` indices) is stored raw."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    d = v.copy()
    d[1:] = v[1:] - v[:-1]
    d[starts] = v[starts]
    return d


def encode_run_batch(ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                     starts: np.ndarray, ends: np.ndarray) -> list[bytes]:
    """Encode MANY posting runs at once (runs are [starts[i], ends[i])
    slices of the flat arrays, each sorted by id). One whole-array varint
    pass per stream, then per-run blobs assembled by byte-offset slicing —
    identical layout to delta_varint_encode(ids, tfs) + varint_encode(dls).
    This removes the per-term numpy-call overhead of encoding 50k tiny
    posting lists individually."""
    return _join_run_streams(ends - starts, [
        (_run_deltas(ids, starts), starts, ends),
        (np.asarray(tfs, dtype=np.uint64), starts, ends),
        (np.asarray(dls, dtype=np.uint64), starts, ends)])


def encode_positional_batch(ids: np.ndarray, tfs: np.ndarray,
                            dls: np.ndarray, flat_pos: np.ndarray,
                            starts: np.ndarray, ends: np.ndarray
                            ) -> list[bytes]:
    """encode_positional for MANY runs at once: runs are [starts[i],
    ends[i]) slices of the flat doc arrays (each sorted by id); doc j owns
    tfs[j] consecutive values of `flat_pos` (absolute positions, ascending
    within the doc). Byte-identical to encode_positional per run."""
    t = np.asarray(tfs, dtype=np.uint64)
    pstart = np.concatenate(([0], np.cumsum(t, dtype=np.int64)))
    return _join_run_streams(ends - starts, [
        (_run_deltas(ids, starts), starts, ends),
        (t, starts, ends),
        (np.asarray(dls, dtype=np.uint64), starts, ends),
        (_run_deltas(flat_pos, pstart[:-1][t > 0]),
         pstart[starts], pstart[ends])])


def varint_decode(buf: bytes | np.ndarray, count: int | None = None,
                  offset: int = 0) -> tuple[np.ndarray, int]:
    """Decode `count` varints (or all) from buf starting at offset.
    Returns (values uint64, next_offset). Vectorized: find value boundaries
    from continuation bits, then horner-accumulate 7-bit groups."""
    raw = np.frombuffer(buf, dtype=np.uint8)[offset:]
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64), offset
    is_last = (raw & 0x80) == 0
    ends = np.flatnonzero(is_last)
    if count is not None:
        ends = ends[:count]
    if len(ends) == 0:
        return np.empty(0, dtype=np.uint64), offset
    starts = np.concatenate(([0], ends[:-1] + 1))
    values = np.zeros(len(ends), dtype=np.uint64)
    width = ends - starts + 1
    for b in range(int(width.max())):
        active = width > b
        byte = raw[starts[active] + b].astype(np.uint64)
        values[active] |= (byte & np.uint64(0x7F)) << np.uint64(7 * b)
    consumed = int(ends[-1]) + 1 if len(ends) else 0
    return values, offset + consumed


def delta_varint_encode(doc_ids: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode one posting list: sorted doc_ids (delta-coded) + tfs."""
    d = np.asarray(doc_ids, dtype=np.uint64)
    t = np.asarray(tfs, dtype=np.uint64)
    assert d.shape == t.shape
    if d.size == 0:
        return varint_encode(np.array([0], dtype=np.uint64))
    deltas = np.empty_like(d)
    deltas[0] = d[0]
    deltas[1:] = d[1:] - d[:-1]
    header = varint_encode(np.array([d.size], dtype=np.uint64))
    return header + varint_encode(deltas) + varint_encode(t)


def delta_varint_decode(buf: bytes, return_offset: bool = False):
    """Decode one posting list → (doc_ids uint64 sorted, tfs uint64)[,
    next_offset]. return_offset exposes where the main stream ends so
    callers with trailing streams (the per-posting dl stream) can continue
    decoding WITHOUT re-scanning the header/deltas/tfs a second time —
    the query hot path decodes each blob exactly once."""
    n_arr, off = varint_decode(buf, count=1)
    n = int(n_arr[0])
    if n == 0:
        empty = np.empty(0, dtype=np.uint64)
        return (empty, empty, off) if return_offset else (empty, empty)
    deltas, off = varint_decode(buf, count=n, offset=off)
    tfs, off = varint_decode(buf, count=n, offset=off)
    ids = np.cumsum(deltas, dtype=np.uint64)
    return (ids, tfs, off) if return_offset else (ids, tfs)


def _blob_values(buf, offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode every varint of many concatenated blobs in one pass. `buf`
    holds the blobs back to back, blob i at bytes [offsets[i],
    offsets[i+1]). A blob is a whole number of varints, so the
    concatenation is itself a varint stream. Returns (values, vo): blob
    i's values are values[vo[i]:vo[i+1]]."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    values, _ = varint_decode(raw)
    n_ends = np.concatenate(
        ([0], np.cumsum((raw & 0x80) == 0, dtype=np.int64)))
    return values, n_ends[np.asarray(offsets, dtype=np.int64)]


def _restart_cumsum(deltas: np.ndarray, seg_starts: np.ndarray,
                    seg_lens: np.ndarray) -> np.ndarray:
    """Prefix sums that restart at each segment (whose first delta is a
    raw value): one global cumsum minus each segment's running base.
    uint64 wrap-around keeps the subtraction exact."""
    csum = np.cumsum(deltas, dtype=np.uint64)
    live = seg_lens > 0
    base = np.zeros(len(seg_lens), dtype=np.uint64)
    base[live] = csum[seg_starts[live]] - deltas[seg_starts[live]]
    return csum - np.repeat(base, seg_lens)


def _decode_run_streams(values: np.ndarray, vo: np.ndarray):
    """Gather the id/tf/dl streams of every blob (layout varint(n) ‖ n id
    deltas ‖ n tfs ‖ n dls ‖ …) → (ids, tfs, dls, counts): flat in blob
    order, blob i owning counts[i] consecutive postings."""
    counts = values[vo[:-1]].astype(np.int64)
    first = np.concatenate(([0], np.cumsum(counts)))
    idx = (np.repeat(vo[:-1] + 1 - first[:-1], counts)
           + np.arange(first[-1], dtype=np.int64))
    step = np.repeat(counts, counts)
    ids = _restart_cumsum(values[idx], first[:-1], counts)
    return ids, values[idx + step], values[idx + 2 * step], counts


def decode_run_batch(buf, offsets: np.ndarray):
    """Decode MANY `delta_varint_encode(ids, tfs) + varint_encode(dls)`
    blobs at once (see _blob_values for the buf/offsets layout) →
    (ids, tfs, dls, counts): flat uint64 arrays in blob order, blob i
    owning counts[i] consecutive postings. No per-blob Python."""
    return _decode_run_streams(*_blob_values(buf, offsets))


def merge_posting_blobs(blobs: list[bytes]) -> bytes:
    """Merge several posting-list blobs for the same term (disjoint or
    interleaved doc ranges, e.g. salted partials) into one sorted blob."""
    ids, tfs = [], []
    for b in blobs:
        i, t = delta_varint_decode(b)
        ids.append(i)
        tfs.append(t)
    all_ids = np.concatenate(ids)
    all_tfs = np.concatenate(tfs)
    order = np.argsort(all_ids, kind="stable")
    return delta_varint_encode(all_ids[order], all_tfs[order])


# --------------------------------------------------------------- positions

def encode_positional(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                      flat_pos: np.ndarray) -> bytes:
    """Encode one SELF-CONTAINED positional posting list:

        varint(n) ‖ id-deltas ‖ tfs ‖ dls ‖ flat position deltas

    `flat_pos` holds each doc's term positions concatenated in doc order
    (doc i owns tfs[i] of them, ascending); within a doc the first position
    is stored raw and the rest delta-coded. Self-contained (doc ids travel
    inside), so positional rows merge independently of the main posting
    blobs — the positional layer can never drift out of alignment."""
    d = np.asarray(doc_ids, dtype=np.uint64)
    t = np.asarray(tfs, dtype=np.uint64)
    l = np.asarray(dls, dtype=np.uint64)
    p = np.asarray(flat_pos, dtype=np.uint64)
    if d.size == 0:
        return varint_encode(np.array([0], dtype=np.uint64))
    starts = np.concatenate(([0], np.cumsum(t)))[:-1].astype(np.int64)
    deltas = p.copy()
    deltas[1:] = p[1:] - p[:-1]
    deltas[starts] = p[starts]  # first position of each doc stored raw
    return (delta_varint_encode(d, t) + varint_encode(l)
            + varint_encode(deltas))


def decode_positional(buf: bytes) -> tuple[np.ndarray, np.ndarray,
                                           np.ndarray, np.ndarray]:
    """Decode encode_positional → (doc_ids, tfs, dls, flat positions);
    flat positions are ABSOLUTE (per-doc delta decoding applied)."""
    ids, tfs, off = delta_varint_decode(buf, return_offset=True)
    n = len(ids)
    if n == 0:
        e = np.empty(0, dtype=np.uint64)
        return e, e, e, e
    dls, off = varint_decode(buf, count=n, offset=off)
    total = int(tfs.sum())
    deltas, _ = varint_decode(buf, count=total, offset=off)
    # each doc's first position is stored raw, so its segment restarts there
    t = tfs.astype(np.int64)
    flat = _restart_cumsum(deltas, np.concatenate(([0], np.cumsum(t)))[:-1], t)
    return ids, tfs, dls, flat


def merge_positional_blobs(blobs: list[bytes]) -> bytes:
    """Merge positional blobs of one term (disjoint doc sets from salted
    partials / segments) into one doc-sorted blob."""
    parts = [decode_positional(b) for b in blobs]
    ids = np.concatenate([p[0] for p in parts])
    tfs = np.concatenate([p[1] for p in parts])
    dls = np.concatenate([p[2] for p in parts])
    order = np.argsort(ids, kind="stable")
    # reorder the flat position stream doc-wise
    flat_all = np.concatenate([p[3] for p in parts]) if parts else \
        np.empty(0, dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(tfs)))[:-1].astype(np.int64)
    segs = [flat_all[starts[i]:starts[i] + int(tfs[i])] for i in order]
    flat = (np.concatenate(segs) if segs else np.empty(0, dtype=np.uint64))
    return encode_positional(ids[order], tfs[order], dls[order], flat)


def decode_positional_batch(buf, offsets: np.ndarray):
    """decode_positional for MANY blobs at once (buf/offsets as in
    decode_run_batch) → (ids, tfs, dls, flat_pos, counts): flat arrays in
    blob order; doc j owns tfs[j] consecutive ABSOLUTE positions."""
    values, vo = _blob_values(buf, offsets)
    ids, tfs, dls, counts = _decode_run_streams(values, vo)
    p0 = vo[:-1] + 1 + 3 * counts  # first position delta of each blob
    ptot = vo[1:] - p0
    pfirst = np.concatenate(([0], np.cumsum(ptot)))
    deltas = values[np.repeat(p0 - pfirst[:-1], ptot)
                    + np.arange(pfirst[-1], dtype=np.int64)]
    t = tfs.astype(np.int64)
    flat = _restart_cumsum(deltas, np.concatenate(([0], np.cumsum(t)))[:-1], t)
    return ids, tfs, dls, flat, counts
