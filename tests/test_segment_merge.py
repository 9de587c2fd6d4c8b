"""JVM-free tests of the segment-merge kernels (build phase 2 and
compact_index): the vectorized mapInArrow kernels must emit exactly what a
per-term reference merge emits — decode each blob, stable argsort by doc
id, purge tombstoned ids, re-encode — byte for byte, across Arrow batch
boundaries (the carry path), fully purged terms and empty batches."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pytest

from macrobase_spark.index.build import (BLOCK_SIZE, _impact,
                                         _merge_pos_segments, _merge_segments)
from macrobase_spark.index.codec import (decode_positional,
                                         delta_varint_decode,
                                         delta_varint_encode,
                                         encode_positional, varint_decode,
                                         varint_encode)

AVGDL = 37.5


def _segments(seed: int, n_terms: int = 40):
    """Term-sorted (term, ids, tfs, dls, positions) segment rows: every
    term owns 1-4 segments over disjoint doc ids (as base + update
    segments or salted partials do), some lists span several blocks."""
    rng = np.random.default_rng(seed)
    rows = []
    for t in range(n_terms):
        term = f"t{t:03d}"
        n = int(rng.choice([1, 3, 20, 200, 400]))
        ids = rng.choice(50_000, n, replace=False).astype(np.uint64)
        k = int(rng.integers(1, min(4, n) + 1))
        for part in np.array_split(rng.permutation(ids), k):
            part = np.sort(part)
            tfs = rng.integers(1, 5, len(part)).astype(np.uint64)
            dls = (tfs + rng.integers(0, 80, len(part))).astype(np.uint64)
            pos = np.concatenate([np.sort(rng.choice(int(d), int(f),
                                                     replace=False))
                                  for f, d in zip(tfs, dls)]).astype(np.uint64)
            rows.append((term, part, tfs, dls, pos))
    return rows


def _batches(rows, blob_of, cuts):
    """Term-sorted (term, blob) rows split into Arrow batches at `cuts`
    (row indices); a repeated cut yields an empty batch."""
    terms = [r[0] for r in rows]
    blobs = [blob_of(r) for r in rows]
    edges = [0, *cuts, len(rows)]
    return [pa.RecordBatch.from_arrays(
        [pa.array(terms[a:b], pa.string()), pa.array(blobs[a:b], pa.binary())],
        names=["term", "blob"]) for a, b in zip(edges[:-1], edges[1:])]


def _postings_blob(r):
    _, ids, tfs, dls, _ = r
    return delta_varint_encode(ids, tfs) + varint_encode(dls)


def _positional_blob(r):
    _, ids, tfs, dls, pos = r
    return encode_positional(ids, tfs, dls, pos)


def _by_term(rows):
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r[0], []).append(r)
    return out


def _ref_postings(rows, drop):
    """Per-term reference: decode, stable argsort, purge, re-encode."""
    out = {}
    for term, segs in _by_term(rows).items():
        parts = []
        for r in segs:
            blob = _postings_blob(r)
            ids, tfs, off = delta_varint_decode(blob, return_offset=True)
            parts.append((ids, tfs, varint_decode(blob, len(ids), off)[0]))
        ids, tfs, dls = (np.concatenate([p[i] for p in parts])
                         for i in range(3))
        order = np.argsort(ids, kind="stable")
        ids, tfs, dls = ids[order], tfs[order], dls[order]
        keep = ~np.isin(ids.astype(np.int64), drop)
        ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        if not len(ids):
            continue
        impact = _impact(tfs, dls, AVGDL)
        blob = delta_varint_encode(ids, tfs) + varint_encode(dls)
        out[term] = {
            "df": len(ids), "cf": int(tfs.sum()), "fan_in": len(segs),
            "max_impact": float(impact.max()),
            "block_max": [float(impact[i:i + BLOCK_SIZE].max())
                          for i in range(0, len(impact), BLOCK_SIZE)],
            "blob_len": len(blob), "blob": blob, "final": True}
    return out


def _ref_positions(rows, drop):
    out = {}
    for term, segs in _by_term(rows).items():
        parts = [decode_positional(_positional_blob(r)) for r in segs]
        ids, tfs, dls = (np.concatenate([p[i] for p in parts])
                         for i in range(3))
        flat = np.concatenate([p[3] for p in parts])
        starts = np.concatenate(([0], np.cumsum(tfs)))[:-1].astype(np.int64)
        dead = set(drop.tolist())
        order = [i for i in np.argsort(ids, kind="stable") if ids[i] not in dead]
        if not order:
            continue
        flat = np.concatenate([flat[starts[i]:starts[i] + int(tfs[i])]
                               for i in order])
        blob = encode_positional(ids[order], tfs[order], dls[order], flat)
        out[term] = {"df": len(order), "blob_len": len(blob), "blob": blob,
                     "final": True}
    return out


def _run(kernel, batches):
    out = {}
    for rb in kernel(iter(batches)):
        for row in rb.to_pylist():
            assert row["term"] not in out, "a term was emitted twice"
            out[row.pop("term")] = row
    return out


def _drop_all_of(rows, term, extra):
    """Tombstones covering every posting of `term`, plus `extra` ids."""
    ids = np.concatenate([r[1] for r in rows if r[0] == term])
    return np.unique(np.concatenate([ids, extra]).astype(np.int64))


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_segment_merge_matches_per_term_reference(seed):
    rows = _segments(seed)
    rng = np.random.default_rng(100 + seed)
    # cuts inside term runs (carry path) and one repeated cut (empty batch)
    cuts = sorted(rng.choice(np.arange(1, len(rows)), 6, replace=False))
    cuts = [*cuts[:3], cuts[3], *cuts[3:]]
    all_ids = np.concatenate([r[1] for r in rows])
    drop = _drop_all_of(rows, "t005", rng.choice(all_ids, 50, replace=False))
    assert len(_batches(rows, _postings_blob, cuts)[4]) == 0
    for bc in (None, SimpleNamespace(value=drop)):
        d = np.empty(0, np.int64) if bc is None else drop
        got = _run(_merge_segments(AVGDL, bc),
                   _batches(rows, _postings_blob, cuts))
        want = _ref_postings(rows, d)
        assert got == want
        assert ("t005" in got) == (bc is None)  # fully purged term leaves
        assert max(r["fan_in"] for r in got.values()) > 1
        got_pos = _run(_merge_pos_segments(bc),
                       _batches(rows, _positional_blob, cuts))
        assert got_pos == _ref_positions(rows, d)


def test_segment_merge_one_batch_per_row_and_empty_input():
    """Every batch holds one row, so every multi-segment term is carried;
    a stream of only empty batches, or a batch whose every posting is
    purged, emits nothing."""
    rows = _segments(7, n_terms=12)
    cuts = list(range(1, len(rows)))
    empty = np.empty(0, np.int64)
    assert (_run(_merge_segments(AVGDL), _batches(rows, _postings_blob, cuts))
            == _ref_postings(rows, empty))
    assert (_run(_merge_pos_segments(), _batches(rows, _positional_blob, cuts))
            == _ref_positions(rows, empty))
    assert _run(_merge_segments(AVGDL), _batches([], _postings_blob, [])) == {}
    everything = SimpleNamespace(value=np.unique(np.concatenate(
        [r[1] for r in rows]).astype(np.int64)))
    assert _run(_merge_segments(AVGDL, everything),
                _batches(rows, _postings_blob, [])) == {}
    assert _run(_merge_pos_segments(everything),
                _batches(rows, _positional_blob, [])) == {}
