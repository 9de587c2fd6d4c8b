"""JVM-free kernel tier: `index.codec` on seeded in-memory posting lists.

The lists have Zipf-distributed lengths over a fixed doc-id space, like the
term lists of a transcript corpus. Each kernel runs a few times and reports
its median rate in millions of postings per second.
"""

from __future__ import annotations

import time

import numpy as np

from harness import median

N_LISTS = 1000
N_DOCS = 400_000
MAX_LEN = 20_000
REPEATS = 3


def _lists(seed: int):
    """Sorted unique doc ids, tfs and dls per list, concatenated, with run
    starts/ends."""
    rng = np.random.default_rng(seed)
    lens = np.minimum(rng.zipf(1.3, N_LISTS), MAX_LEN)
    ids, starts = [], []
    pos = 0
    for n in lens:
        run = np.unique(rng.integers(0, N_DOCS, size=int(n)))
        starts.append(pos)
        ids.append(run)
        pos += run.size
    ids = np.concatenate(ids).astype(np.uint64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.append(starts[1:], pos)
    tfs = rng.geometric(0.6, pos).astype(np.uint64)
    dls = rng.integers(5, 200, pos).astype(np.uint64)
    return ids, tfs, dls, starts, ends


def _median_of(fn):
    times = []
    out = None
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return out, median(times)


def run_codec(rec, seed: int) -> dict:
    """Returns per-layer metrics; spans go to `rec`."""
    from macrobase_spark.index.codec import (decode_positional,
                                             encode_positional,
                                             encode_run_batch, varint_decode)

    ids, tfs, dls, starts, ends = _lists(seed)
    n = int(ids.size)
    out = {}
    with rec.span("codec.encode_run_batch"):
        blobs, s = _median_of(lambda: encode_run_batch(ids, tfs, dls, starts, ends))
    out["codec.encode_run_batch.mpostings_per_s"] = n / s / 1e6
    out["codec.bytes_per_posting"] = sum(len(b) for b in blobs) / n

    def decode_all():
        total = 0
        for b in blobs:
            cnt, off = varint_decode(b, count=1)
            vals, _ = varint_decode(b, count=3 * int(cnt[0]), offset=off)
            total += vals.size // 3
        return total

    with rec.span("codec.varint_decode"):
        decoded, s = _median_of(decode_all)
    if decoded != n:
        raise AssertionError(f"varint_decode returned {decoded} of {n} postings")
    out["codec.varint_decode.mpostings_per_s"] = n / s / 1e6

    # in-doc positions: per-posting runs of strictly increasing offsets
    rng = np.random.default_rng(seed + 1)
    tf64 = tfs.astype(np.int64)
    gaps = rng.geometric(0.3, int(tf64.sum())).astype(np.uint64)
    csum = np.cumsum(gaps)
    first = np.cumsum(tf64) - tf64
    flat = csum - np.repeat(csum[first] - gaps[first], tf64) - 1
    pos_start = np.append(first, flat.size)
    pos_blobs = [encode_positional(ids[a:b], tfs[a:b], dls[a:b],
                                   flat[pos_start[a]:pos_start[b]])
                 for a, b in zip(starts, ends)]

    def decode_pos():
        return sum(decode_positional(b)[0].size for b in pos_blobs)

    with rec.span("codec.decode_positional"):
        decoded, s = _median_of(decode_pos)
    if decoded != n:
        raise AssertionError(
            f"decode_positional returned {decoded} of {n} postings")
    out["codec.decode_positional.mpostings_per_s"] = n / s / 1e6
    return out
