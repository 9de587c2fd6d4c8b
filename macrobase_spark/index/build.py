"""Inverted-index build: transcripts → compressed posting lists + doc stats.

Pipeline (all lazy DataFrame stages; Python only inside Arrow batches):

  transcripts (conv_id, turn_idx, role, text, tool, ts)
    → fused Arrow pass: terms+tfs+doc_len+anomaly   (tokenize.py)
    → docs table + global stats (N, avgdl)
    → MAP-SIDE COMBINE (r6, tokenize.partial_postings): one row per
      (term, salt) per Arrow batch, doc-sorted ids/tfs/dls packed as list
      columns — the (term, salt) shuffle ships ~vocabulary-count packed
      rows instead of one row per posting
    → hot-term detection (sampled approx df counts → broadcast set)
    → PHASE 1: shuffle+sort on (term, salt)   salt = doc_id % S for hot
        terms else 0; mapInArrow merges each run's partials (one lexsort
        restores global doc order) → posting blob (delta+varint); cold
        terms finalize here
    → PHASE 2: hot terms' salted partials shuffle on term into the
        segment-merge mapInArrow kernel (_merge_segments, shared with
        compact_index): per Arrow batch of terms, one vectorized decode of
        every partial blob, one lexsort, one re-encode → final blob
        + df/cf stats + block-max impact metadata (BM25 upper bounds)
    → write parquet range-partitioned & sorted by term (row-group pruning
      for term-lookup queries), partitioned by bucket for resumability.

Skew story: a hot term ("the" — in ~90% of turns) would send its entire
posting list to ONE reducer in a naive groupBy(term). Salting splits it into
S shards built in parallel; phase 2 merges S pre-compressed blobs (decode +
merge-sort + re-encode of numpy arrays — cheap relative to shuffle). Cold
terms take salt=0 and pass through phase 2 untouched. This mirrors the
two-phase parallel aggregation the reference uses for itemset counting
(per-thread FastFixedHashTable then merge, lib/.../aplinear/
APrioriLinear.java:113-338) — re-expressed as Spark shuffle stages.

Resumability: terms are bucketed by hash into `num_buckets`; buckets are
processed in `num_groups` independent jobs, each committing its buckets'
parquet partitions plus a manifest line (lineage + metrics: terms, postings,
bytes, merge fan-in) per bucket. A restarted build skips buckets already in
the manifest. Granularity = num_groups re-scans of the input (configurable;
1 = single pass, no mid-build resume).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from macrobase_spark.index.codec import delta_varint_decode

# In-process mutation registry: update_index / compact_index register the
# index dir they are mutating for the duration of the mutation. Crash
# recovery (recover_update_inflight / restore_compact_backup) must NOT treat
# a same-pid journal as a dead owner while the mutation is live on another
# thread of this process (query-server usage) — rolling back a running
# update deletes files it is still appending to. A same-pid journal with NO
# live registration is a previous failed call in this process and recovers
# normally.
_ACTIVE_MUTATIONS: set[str] = set()
_ACTIVE_MUTATIONS_LOCK = threading.Lock()


def _mutation_begin(out_dir: str) -> str:
    key = os.path.abspath(out_dir)
    with _ACTIVE_MUTATIONS_LOCK:
        if key in _ACTIVE_MUTATIONS:
            raise RuntimeError(
                f"concurrent in-process index mutation on {out_dir!r}: "
                "another update/compact is live on this index in this "
                "process — serialize mutations per index")
        _ACTIVE_MUTATIONS.add(key)
    return key


def _mutation_end(key: str) -> None:
    with _ACTIVE_MUTATIONS_LOCK:
        _ACTIVE_MUTATIONS.discard(key)


def _mutation_live_in_process(out_dir: str) -> bool:
    with _ACTIVE_MUTATIONS_LOCK:
        return os.path.abspath(out_dir) in _ACTIVE_MUTATIONS

K1 = 1.2
B = 0.75
BLOCK_SIZE = 128

_POSTINGS_SCHEMA = (
    "term string, df long, cf long, fan_in int, max_impact double, "
    "block_max array<double>, blob_len long, blob binary"
)
# phase-1 output: `final` rows are complete posting lists (cold terms, one
# shard); non-final rows are salted partials awaiting the phase-2 merge.
_ENC_SCHEMA = _POSTINGS_SCHEMA + ", final boolean"

# positional layer (opt-in, build_index(positions=True)): a SEPARATE
# self-contained artifact under <out_dir>/positions — same (term, salt)
# salted two-phase shuffle, but each blob carries its own doc ids
# (codec.encode_positional), so the layer never needs byte-level alignment
# with the main posting blobs and the main build path stays untouched.
_POS_SCHEMA = "term string, df long, blob_len long, blob binary"
_POS_ENC_SCHEMA = _POS_SCHEMA + ", final boolean"


def _impact(tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tfs.astype(np.float64)
    return tf / (tf + K1 * (1.0 - B + B * dls.astype(np.float64) / avgdl))


def _run_starts_arrow(tbl) -> np.ndarray:
    """Run boundaries on the run key — (term, salt), or term alone when the
    table has no salt column — over a single-chunk Arrow table: adjacent-
    element comparison in pyarrow C++ (no string boxing)."""
    import pyarrow.compute as pc

    terms = tbl.column("term").chunk(0)
    n = len(terms)
    if n <= 1:
        return np.zeros(1, dtype=np.int64)
    change = pc.not_equal(terms.slice(1), terms.slice(0, n - 1)).to_numpy(
        zero_copy_only=False)
    if "salt" in tbl.column_names:
        salts = tbl.column("salt").chunk(0).to_numpy(zero_copy_only=False)
        change = change | (salts[1:] != salts[:-1])
    return np.concatenate(([0], np.flatnonzero(change) + 1)).astype(np.int64)


def _map_runs(encode_slice):
    """The carry-across-batches loop every run kernel shares, as a
    mapInArrow function over partitions sorted by the run key. Runs never
    span partitions (the shuffle key contains the run key); a run spanning
    Arrow batches is held back and joined with the next batch.
    `encode_slice(tbl, starts, ends)` turns the complete runs [starts[i],
    ends[i]) of a single-chunk table into one output batch, or None when
    nothing survives."""
    import pyarrow as pa

    def fn(batches):
        carry = None  # pa.Table holding the last (possibly incomplete) run
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None:
                tbl = pa.concat_tables([carry, tbl])
            tbl = tbl.combine_chunks()
            if tbl.num_rows == 0:
                carry = None
                continue
            starts = _run_starts_arrow(tbl)
            if len(starts) == 1:
                carry = tbl
                continue
            carry = tbl.slice(int(starts[-1]))
            out = encode_slice(tbl, starts[:-1], starts[1:])
            if out is not None:
                yield out
        if carry is not None and carry.num_rows:
            starts = _run_starts_arrow(carry)
            ends = np.concatenate((starts[1:], [carry.num_rows]))
            out = encode_slice(carry, starts, ends)
            if out is not None:
                yield out

    return fn


def _final_mask(run_terms, hot_terms: set[str] | None) -> np.ndarray:
    """Which runs are complete posting lists: every run not of a hot term
    (an empty set finalizes everything); None marks every run a mergeable
    partial (update path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if hot_terms:
        return pc.invert(pc.is_in(
            run_terms, value_set=pa.array(sorted(hot_terms), type=pa.string()))
        ).to_numpy(zero_copy_only=False)
    return np.full(len(run_terms), hot_terms is not None)


def _encode_runs_flat(run_terms, ids: np.ndarray, tfs: np.ndarray,
                      dls: np.ndarray, starts: np.ndarray, ends: np.ndarray,
                      hot_terms: set[str] | None, avgdl: float,
                      fan_in: np.ndarray | None = None):
    """Shared vectorized encode core: flat doc-sorted posting arrays +
    [starts, ends) run boundaries → one _ENC_SCHEMA Arrow batch. Whole-
    array varint streams (codec.encode_run_batch), reduceat per-run and
    per-block maxima, Arrow-native output assembly — no Python loop over
    runs. `ids/tfs/dls` must be sliced to exactly ends[-1] values and
    ascending in doc_id within each run; runs must be non-empty. `fan_in`
    is the number of input rows each run merged (default 1)."""
    import pyarrow as pa

    from macrobase_spark.index.codec import encode_run_batch

    blobs = encode_run_batch(ids, tfs, dls, starts, ends)
    dfs = (ends - starts).astype(np.int64)
    csum = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))))
    cfs = csum[ends] - csum[starts]
    impact_all = _impact(tfs, dls, avgdl)
    final = _final_mask(run_terms, hot_terms)

    # per-run max impact: every run start is a reduceat boundary, so each
    # segment is exactly one run
    per_run_max = np.maximum.reduceat(impact_all, starts)
    max_impact = np.where(final, per_run_max, 0.0)

    # block maxima for ALL runs in one reduceat (block boundaries inside
    # each run every BLOCK_SIZE rows; run starts are boundaries too, so no
    # segment crosses a run); non-final runs contribute 0-length lists
    nb = ((dfs + BLOCK_SIZE - 1) // BLOCK_SIZE).astype(np.int64)
    run_of_block = np.repeat(np.arange(len(starts)), nb)
    first_block = np.concatenate(([0], np.cumsum(nb)))[:-1]
    block_in_run = (np.arange(int(nb.sum()), dtype=np.int64)
                    - first_block[run_of_block])
    bnds = starts[run_of_block] + BLOCK_SIZE * block_in_run
    bm_flat = np.maximum.reduceat(impact_all, bnds)
    lengths = np.where(final, nb, 0)
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    block_max = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(bm_flat[final[run_of_block]], type=pa.float64()))

    return pa.RecordBatch.from_arrays(
        [run_terms,
         pa.array(dfs, type=pa.int64()),
         pa.array(cfs, type=pa.int64()),
         pa.array(np.ones(len(starts), np.int32) if fan_in is None else fan_in,
                  type=pa.int32()),
         pa.array(max_impact, type=pa.float64()),
         block_max,
         pa.array([len(b) for b in blobs], type=pa.int64()),
         pa.array(blobs, type=pa.binary()),
         pa.array(final)],
        names=["term", "df", "cf", "fan_in", "max_impact", "block_max",
               "blob_len", "blob", "final"])


def _sorted_live_runs(run_of: np.ndarray, ids: np.ndarray, n_runs: int,
                      drop: np.ndarray | None):
    """Restore doc order inside each run with ONE lexsort over the whole
    batch (run_of is nondecreasing, so run order is kept), optionally
    purge tombstoned `drop` ids, and locate the runs that still hold
    postings. Returns (order, live, starts, ends): gather the flat arrays
    by `order`; live run i spans [starts[i], ends[i]) of the result."""
    order = np.lexsort((ids, run_of))
    if drop is not None:
        order = order[~np.isin(ids[order].astype(np.int64), drop)]
    counts = np.bincount(run_of[order], minlength=n_runs)
    live = np.flatnonzero(counts)
    ends = np.cumsum(counts[live])
    return order, live, ends - counts[live], ends


def _merge_encode_runs(run_terms, run_of, ids, tfs, dls, hot_terms, avgdl,
                       drop=None, fan_in=None):
    """Postings merge core: per-run doc sort (+ optional purge, dropping
    runs left empty — a fully purged term leaves the dictionary) → the
    shared flat encode. None when no run survives."""
    import pyarrow as pa

    order, live, starts, ends = _sorted_live_runs(run_of, ids,
                                                  len(run_terms), drop)
    if not len(live):
        return None
    return _encode_runs_flat(
        run_terms.take(pa.array(live)),
        ids[order].astype(np.uint64), tfs[order].astype(np.uint64),
        dls[order].astype(np.uint64), starts, ends, hot_terms, avgdl,
        None if fan_in is None else fan_in[live])


def _merge_encode_pos_runs(run_terms, run_of, ids, tfs, dls, pos,
                           hot_terms, drop=None):
    """Positional merge core: the same per-run doc sort (+ purge) as
    _merge_encode_runs; each doc's position segment follows it through a
    vectorized gather, and every surviving run encodes into one self-
    contained positional blob (codec.encode_positional_batch) → one
    _POS_ENC_SCHEMA batch, or None when no run survives."""
    import pyarrow as pa

    from macrobase_spark.index.codec import encode_positional_batch

    order, live, starts, ends = _sorted_live_runs(run_of, ids,
                                                  len(run_terms), drop)
    if not len(live):
        return None
    tfs = tfs.astype(np.int64)
    seg_starts = np.concatenate(([0], np.cumsum(tfs)))[:-1]
    tfs_s = tfs[order]
    new_starts = np.concatenate(([0], np.cumsum(tfs_s)))
    pos_s = pos[np.repeat(seg_starts[order] - new_starts[:-1], tfs_s)
                + np.arange(new_starts[-1], dtype=np.int64)]
    blobs = encode_positional_batch(ids[order], tfs_s, dls[order], pos_s,
                                    starts, ends)
    terms = run_terms.take(pa.array(live))
    return pa.RecordBatch.from_arrays(
        [terms,
         pa.array(ends - starts, type=pa.int64()),
         pa.array([len(b) for b in blobs], type=pa.int64()),
         pa.array(blobs, type=pa.binary()),
         pa.array(_final_mask(terms, hot_terms))],
        names=["term", "df", "blob_len", "blob", "final"])


def _encode_tbl_slice(tbl, starts: np.ndarray, ends: np.ndarray,
                      hot_terms: set[str] | None, avgdl: float):
    """Encode all (term, salt) runs of an exploded-row Arrow table slice
    (one row per posting, pre-sorted by (term, salt, doc_id))."""
    import pyarrow as pa

    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    n = int(ends[-1])
    ids_all = tbl.column("doc_id").chunk(0).to_numpy(
        zero_copy_only=False)[:n].astype(np.uint64)
    tfs_all = tbl.column("tf").chunk(0).to_numpy(
        zero_copy_only=False)[:n].astype(np.uint64)
    dls_all = tbl.column("dl").chunk(0).to_numpy(
        zero_copy_only=False)[:n].astype(np.uint64)
    run_terms = tbl.column("term").chunk(0).take(pa.array(starts))
    return _encode_runs_flat(run_terms, ids_all, tfs_all, dls_all,
                             starts, ends, hot_terms, avgdl)


def _encode_sorted_runs(hot_terms: set[str] | None, avgdl: float):
    """Phase 1 kernel as a mapInArrow over partitions pre-sorted by
    (term, salt, doc_id): encode each (term, salt) run with numpy slices —
    no per-group applyInPandas dispatch, and (r6, guide §4.2) no pandas
    boundary: the posting rows' term strings are never boxed into Python
    objects (the pandas path paid one PyObject per posting row — the
    dominant cost of the encode stage at 22M rows), run detection /
    aggregates / block maxima are single pyarrow-C++/numpy calls, and the
    output is assembled as Arrow arrays directly. Cold terms (single
    shard) are finalized here, skipping phase 2."""
    return _map_runs(lambda tbl, starts, ends: _encode_tbl_slice(
        tbl, starts, ends, hot_terms, avgdl))


def _list_runs(tbl, starts: np.ndarray, ends: np.ndarray):
    """Run layout of a partial-row slice whose list columns flatten to one
    value per posting: (run_terms, run_of_value, n), where the runs
    [starts, ends) own the first n flattened values, in run order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    row_lens = pc.list_value_length(tbl.column("ids").chunk(0)).to_numpy(
        zero_copy_only=False).astype(np.int64)
    row_flat = np.concatenate(([0], np.cumsum(row_lens)))
    run_of = np.repeat(np.arange(len(starts)),
                       row_flat[ends] - row_flat[starts])
    run_terms = tbl.column("term").chunk(0).take(pa.array(starts))
    return run_terms, run_of, int(row_flat[ends[-1]])


def _merge_partial_runs(hot_terms: set[str] | None, avgdl: float):
    """Phase 1 kernel over MAP-SIDE-COMBINED partial rows (one row per
    (term, salt) per upstream Arrow batch, carrying doc-sorted ids/tfs/dls
    LIST columns — tokenize.partial_postings), pre-sorted by (term, salt):
    concatenate each run's list segments (zero-copy child-array slices),
    one lexsort restores global doc order per run (partials from different
    map tasks interleave doc ranges; ids are unique per run because a doc
    lives in exactly one upstream batch), then the shared flat encode core
    emits final/partial blobs — bit-identical to the exploded-row path."""

    def encode_slice(tbl, starts, ends):
        run_terms, run_of, n = _list_runs(tbl, starts, ends)
        ids, tfs, dls = (tbl.column(c).chunk(0).flatten().to_numpy(
            zero_copy_only=False)[:n] for c in ("ids", "tfs", "dls"))
        return _merge_encode_runs(run_terms, run_of, ids, tfs, dls,
                                  hot_terms, avgdl)

    return _map_runs(encode_slice)


def _decode_partial(blob: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    from macrobase_spark.index.codec import varint_decode

    # single pass: the main decode reports where it stopped, and the dls
    # stream is read from there (the old re-scan decoded the header/deltas/
    # tfs twice on every blob of every query — r4 review)
    ids, tfs, off = delta_varint_decode(blob, return_offset=True)
    dls, _ = varint_decode(blob, count=len(ids), offset=off)
    return ids, tfs, dls


def _encode_pos_runs(hot_terms: set[str]):
    """Phase 1 of the positional layer: encode each (term, salt) run of
    (doc_id, tf, dl, pos) rows — pre-sorted by the shuffle — into one
    self-contained positional blob. Cold terms finalize here; hot terms'
    salted partials merge in phase 2. Carry logic mirrors
    _encode_sorted_runs (runs never span partitions; runs spanning Arrow
    batches are held back)."""
    from macrobase_spark.index.codec import encode_positional

    def encode_slice(pdf: pd.DataFrame, starts, ends) -> list[dict]:
        terms = pdf["term"].to_numpy(object)
        ids = pdf["doc_id"].to_numpy(np.int64).astype(np.uint64)
        tfs = pdf["tf"].to_numpy(np.int64).astype(np.uint64)
        dls = pdf["dl"].to_numpy(np.int64).astype(np.uint64)
        pos = pdf["pos"].to_numpy(object)
        rows = []
        for s, e in zip(starts, ends):
            flat = (np.concatenate(
                [np.asarray(x, dtype=np.uint64) for x in pos[s:e]])
                if e > s else np.empty(0, dtype=np.uint64))
            blob = encode_positional(ids[s:e], tfs[s:e], dls[s:e], flat)
            t = terms[s]
            rows.append(dict(term=t, df=int(e - s), blob_len=len(blob),
                             blob=blob, final=t not in hot_terms))
        return rows

    def fn(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            terms = pdf["term"].to_numpy(object)
            salts = pdf["salt"].to_numpy(np.int64)
            change = np.flatnonzero(
                (terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])) + 1
            starts = np.concatenate(([0], change))
            if len(starts) == 1:
                carry = pdf
                continue
            carry = pdf.iloc[starts[-1]:].reset_index(drop=True)
            rows = encode_slice(pdf, starts[:-1], starts[1:])
            if rows:
                yield pd.DataFrame(rows)
        if carry is not None and len(carry):
            terms = carry["term"].to_numpy(object)
            salts = carry["salt"].to_numpy(np.int64)
            change = np.flatnonzero(
                (terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((starts[1:], [len(carry)]))
            rows = encode_slice(carry, starts, ends)
            if rows:
                yield pd.DataFrame(rows)

    return fn


def _merge_partial_pos_runs(hot_terms: set[str]):
    """Phase 1 of the positional layer over MAP-SIDE-COMBINED partial rows
    (tokenize.partial_positional_postings), pre-sorted by (term, salt):
    per run, entries re-sort by doc id (one lexsort; position segments
    follow their entry via a vectorized gather) and each run encodes into
    one self-contained positional blob — byte-identical to the
    exploded-row path's output."""

    def encode_slice(tbl, starts, ends):
        run_terms, run_of, n = _list_runs(tbl, starts, ends)
        ids, tfs, dls = (tbl.column(c).chunk(0).flatten().to_numpy(
            zero_copy_only=False)[:n] for c in ("ids", "tfs", "dls"))
        pos = tbl.column("pos").chunk(0).flatten().to_numpy(
            zero_copy_only=False)
        return _merge_encode_pos_runs(run_terms, run_of, ids, tfs, dls, pos,
                                      hot_terms)

    return _map_runs(encode_slice)


def _blob_column(tbl, n: int):
    """The first n blobs of a binary column as (concatenated bytes, byte
    offsets) — zero-copy views of the Arrow buffers, ready for the codec's
    batch decoders."""
    import pyarrow as pa

    col = tbl.column("blob").chunk(0).slice(0, n)
    odt = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    _, off_buf, data = col.buffers()
    offs = np.frombuffer(off_buf, dtype=odt)[
        col.offset:col.offset + n + 1].astype(np.int64)
    buf = (np.frombuffer(data, dtype=np.uint8) if data is not None
           else np.empty(0, dtype=np.uint8))
    return buf[offs[0]:offs[-1]], offs - offs[0]


def _segment_kernel(decode, merge):
    """Segment-merge kernel over (term, blob) rows pre-sorted by term: per
    Arrow batch of term runs, every segment blob decodes in ONE vectorized
    pass, then `merge(run_terms, run_of, *decoded, rows_per_run)` sorts,
    purges and re-encodes all runs at once — no per-term dispatch."""
    import pyarrow as pa

    def encode_slice(tbl, starts, ends):
        *cols, counts = decode(*_blob_column(tbl, int(ends[-1])))
        rows = ends - starts
        run_of = np.repeat(np.repeat(np.arange(len(starts)), rows), counts)
        run_terms = tbl.column("term").chunk(0).take(pa.array(starts))
        return merge(run_terms, run_of, *cols, rows)

    return _map_runs(encode_slice)


def _merge_segments(avgdl: float, drop_bc=None):
    """Merge each term's posting rows — a hot term's salted partials (build
    phase 2) or its base + update segments (compaction) — into one posting
    list, with fan_in = the number of rows merged. Byte-identical to a
    per-term decode → stable argsort → delta_varint_encode +
    varint_encode, with stats and block maxima under `avgdl`.

    drop_bc (a Spark broadcast of a SORTED int64 numpy array of tombstoned
    doc_ids) additionally purges those docs during the merge — the
    compaction-time physical delete. A term whose postings all vanish
    emits no row (the term leaves the dictionary)."""
    from macrobase_spark.index.codec import decode_run_batch

    return _segment_kernel(
        decode_run_batch,
        lambda terms, run_of, ids, tfs, dls, rows: _merge_encode_runs(
            terms, run_of, ids, tfs, dls, set(), avgdl,
            None if drop_bc is None else drop_bc.value, rows))


def _merge_pos_segments(drop_bc=None):
    """The positional layer's _merge_segments: one doc-sorted self-
    contained blob per term; drop_bc purges as there."""
    from macrobase_spark.index.codec import decode_positional_batch

    return _segment_kernel(
        decode_positional_batch,
        lambda terms, run_of, ids, tfs, dls, pos, rows: _merge_encode_pos_runs(
            terms, run_of, ids, tfs, dls, pos, set(),
            None if drop_bc is None else drop_bc.value))


def _merged_terms(rows: DataFrame, kernel, schema: str) -> DataFrame:
    """Run a segment-merge kernel: co-locate each term's rows (only term
    and blob travel through the shuffle), sort partitions by term, merge.
    The partition count is explicit because AQE would coalesce a small
    merge shuffle onto a single task."""
    n = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (rows.select("term", "blob").repartition(n, "term")
            .sortWithinPartitions("term")
            .mapInArrow(kernel, schema=schema).drop("final"))


def detect_hot_terms(src: DataFrame, sample_frac: float, threshold: int,
                     doc_id_col: str = "doc_id", text_col: str = "text",
                     stopwords: frozenset | None = None) -> list[str]:
    """Approximate hot-term (heavy-hitter) detection via DOCUMENT sampling —
    the AmortizedMaintenanceCounter role (legacy/.../count/
    AmortizedMaintenanceCounter.java:35-110) re-expressed as a sampled count.
    Sampling happens BEFORE tokenization, so the pre-pass touches only
    sample_frac of the text."""
    from macrobase_spark.index.tokenize import exploded_postings

    sampled = src.sample(fraction=min(1.0, sample_frac), seed=1)
    hot = (
        exploded_postings(sampled, doc_id_col, text_col, stopwords=stopwords)
        .groupBy("term")
        .count()
        .filter(F.col("count") >= max(1.0, threshold * sample_frac))
        .select("term")
        .collect()
    )
    return [r["term"] for r in hot]


def suggest_stopwords(
    df: DataFrame,
    df_frac_threshold: float = 0.4,
    sample_frac: float = 0.05,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    max_terms: int = 64,
) -> list[str]:
    """Suggest an index-time stoplist from a document sample: terms whose
    document frequency exceeds `df_frac_threshold` of the sampled docs —
    the corpus-specific analogue of a hand-curated stopword list (in
    transcript corpora the role/tool boilerplate tokens, not English
    function words). Feed the result to build_index(stopwords=...).

    Same sampled pre-pass shape as detect_hot_terms: tokenization touches
    only sample_frac of the text; the count is per-document (exploded
    relation is one row per (doc, term)). Returns at most max_terms,
    most-frequent first (ties by term) — deterministic for a fixed input."""
    from macrobase_spark.index.tokenize import exploded_postings

    sampled = df.select(doc_id_col, text_col).sample(
        fraction=min(1.0, sample_frac), seed=1)
    n = sampled.count()
    if n == 0:
        return []
    rows = (exploded_postings(sampled, doc_id_col, text_col)
            .groupBy("term").count()
            .filter(F.col("count") >= df_frac_threshold * n)
            .orderBy(F.col("count").desc(), F.col("term"))
            .limit(max_terms)
            .collect())
    return [r["term"] for r in rows]


def build_index(
    df: DataFrame,
    out_dir: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 16,
    num_groups: int = 1,
    salt_partitions: int = 8,
    hot_df_threshold: int = 50_000,
    hot_sample_frac: float = 0.02,
    resume: bool = True,
    positions: bool = False,
    stopwords: list[str] | None = None,
) -> dict:
    """Build the index at `out_dir`; returns the build report (metrics).

    `df` must contain doc_id (stable, partition-independent) and text.

    positions=True additionally builds the positional layer
    (<out_dir>/positions: per-term self-contained blobs of doc ids, tfs,
    dls, and in-doc token positions) enabling exact phrase/proximity
    queries via bm25_phrase_topk. Opt-in: positions roughly double the
    encode shuffle volume (one varint per token occurrence — the classic
    positional-index cost). update_index appends positional segment rows
    for the delta and compact_index merges them, so the layer follows the
    same LSM lifecycle as the main postings.

    `stopwords` is the index-time analyzer stoplist (Lucene StopFilter):
    matching tokens are dropped BEFORE every stat — they get no postings
    (the hottest lists simply don't exist, the biggest skew lever at
    corpus scale), and doc lengths / tf / df / rep_ratio count survivors
    only. The list is persisted in stats.json; update_index and the
    query paths read it from there so the analyzer can never diverge
    between build, maintenance, and querying. In the positional layer,
    removed tokens leave position GAPS (surviving tokens keep original
    in-document positions), so a phrase spanning a stopword matches
    within its original span budget (sloppy-phrase gap treatment — see
    bm25_phrase_topk).
    """
    spark = df.sparkSession
    stop = frozenset(w.lower() for w in (stopwords or [])) or None
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "manifest.jsonl")
    done: dict[int, dict] = {}
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("op") in ("update", "compact"):
                    # an update/compact record marks maintenance, NOT a
                    # completed build bucket: resuming a full rebuild over
                    # an incrementally-updated index would silently index
                    # nothing and desync segmented_buckets (r4 review) —
                    # that operation needs overwrite semantics.
                    raise ValueError(
                        f"index at {out_dir!r} has incremental updates "
                        "(update/compact manifest records); a full rebuild "
                        "over it must pass resume=False, or keep evolving "
                        "it with update_index/compact_index")
                if rec.get("status") == "done":
                    done[rec["bucket"]] = rec
    elif os.path.exists(manifest_path):
        # overwrite build: drop the old manifest so its update/compact
        # records can't poison a FUTURE resume over the rebuilt index
        os.remove(manifest_path)

    stats_probe = os.path.join(out_dir, "stats.json")
    if resume and os.path.exists(stats_probe):
        with open(stats_probe) as f:
            _prev_stop = set(json.load(f).get("stopwords", []))
        if _prev_stop != set(stop or ()):
            raise ValueError(
                f"index at {out_dir!r} was built with stopwords "
                f"{sorted(_prev_stop)!r} but this build passes "
                f"{sorted(stop or ())!r} — resuming would mix analyzers; "
                "pass resume=False to rebuild")

    t0 = time.time()
    phases: dict[str, float] = {}
    from macrobase_spark.index.tokenize import turn_features

    # transcript metadata (input_hint columns) rides into the docs table so
    # queries can push doc-level predicates (bm25_topk doc_filter — e.g.
    # role = 'assistant') into top-k without touching the source table
    meta_cols = [c for c in ("conv_id", "turn_idx", "role", "tool", "ts")
                 if c in df.columns]
    src = df.select(doc_id_col, *meta_cols, text_col)
    # parallelism floor: small inputs (few parquet files / coalesced splits)
    # must still fan out across all cores for the Arrow passes — at 100 TB
    # the file count dominates and this is a no-op
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if src.rdd.getNumPartitions() < n_shuffle:
        src = src.repartition(n_shuffle)
    docs_path = os.path.join(out_dir, "docs.parquet")
    # the docs table is committed by a CONCURRENT thread well after
    # stats.json lands, so resume must check the docs write's own commit
    # marker (_SUCCESS) — stats.json alone would skip the docs write after
    # a crash mid-build and leave the index without its docs table
    docs_done = (resume
                 and os.path.exists(os.path.join(out_dir, "stats.json"))
                 and os.path.exists(os.path.join(docs_path, "_SUCCESS")))

    # hot-term detection is independent of the docs pipeline → run it as a
    # concurrent Spark job from a helper thread (the local/cluster scheduler
    # interleaves both), hiding its latency behind the docs pass
    import threading

    hot_result: dict = {}

    def _hot():
        try:
            hot_result["terms"] = detect_hot_terms(
                src, hot_sample_frac, hot_df_threshold, doc_id_col,
                text_col, stopwords=stop)
        except Exception as exc:  # surfaced after join
            hot_result["error"] = exc

    hot_thread = threading.Thread(target=_hot, daemon=True)
    hot_thread.start()

    docs_thread: "threading.Thread | None" = None
    docs_result: dict = {}
    if not docs_done:
        from pyspark import StorageLevel

        # ONE Arrow pass over text → cached narrow features; ONE aggregate
        # job computes count/avgdl AND the robust normalization stats: the
        # scale estimate is IQR/2 = (q75−q25)/2, numerically the same robust
        # σ-fraction as the MAD (both = 0.6745·σ under normality) but
        # available from the same quantile sketch as the median — so the
        # old dependent second pass (median first, then median of |x−med|)
        # disappears.
        feats = (turn_features(src, text_col, stopwords=stop).drop(text_col)
                 .persist(StorageLevel.MEMORY_AND_DISK))
        ll = "log1p(cast(doc_len as double))"
        _tp = time.time()
        row = feats.agg(
            F.count("*").alias("n"),
            F.sum("doc_len").alias("sum_dl"),
            F.expr(f"percentile_approx({ll}, array(0.25, 0.5, 0.75))").alias("qs"),
        ).collect()[0]
        phases["feats_stats_agg"] = round(time.time() - _tp, 3)
        n_docs, sum_dl = int(row["n"]), int(row["sum_dl"])
        avgdl = sum_dl / n_docs  # exact int sum / int count — matches the
        # oracle's sum(len)/n bit-for-bit AND survives O(1) incremental
        # updates (update_index adds the delta's integer sum)
        q25, med, q75 = [float(v) for v in row["qs"]]
        mad = (q75 - q25) / 2.0 or 1e-9
        z = F.abs(F.log1p(F.col("doc_len").cast("double")) - F.lit(med)) / F.lit(
            mad * 1.4826)

        # the docs write needs only the cached feats + the stats just
        # computed — it is independent of the postings pipeline, so it runs
        # as a CONCURRENT Spark job behind the encode shuffle (same pattern
        # as hot-term detection), shaving one serial job off the build
        def _write_docs():
            try:
                (feats.withColumn(
                    "anomaly", F.greatest(F.col("rep_ratio"), F.tanh(z / 6.0)))
                    .select(doc_id_col, *meta_cols, "doc_len", "rep_ratio",
                            "anomaly")
                    .write.mode("overwrite").parquet(docs_path))
                feats.unpersist()
            except Exception as exc:  # surfaced after join
                docs_result["error"] = exc

        docs_thread = threading.Thread(target=_write_docs, daemon=True)
        docs_thread.start()
    else:
        stats_row = spark.read.parquet(docs_path).agg(
            F.count("*").alias("n"), F.sum("doc_len").alias("sum_dl"),
        ).collect()[0]
        n_docs, sum_dl = int(stats_row["n"]), int(stats_row["sum_dl"])
        avgdl = sum_dl / n_docs
        med = mad = None  # resume path: docs already written
        if os.path.exists(os.path.join(out_dir, "stats.json")):
            with open(os.path.join(out_dir, "stats.json")) as f:
                _old = json.load(f)
            med, mad = _old.get("len_med"), _old.get("len_mad")
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump({"n_docs": n_docs, "avgdl": avgdl, "sum_dl": sum_dl,
                   "len_med": med, "len_mad": mad, "k1": K1, "b": B,
                   "block_size": BLOCK_SIZE, "num_buckets": num_buckets,
                   "version": 1, "salt_partitions": salt_partitions,
                   "stopwords": sorted(stop or ()),
                   "segmented_buckets": []}, f)

    _tp = time.time()
    hot_thread.join()
    phases["hot_join_wait"] = round(time.time() - _tp, 3)
    if "error" in hot_result:
        raise hot_result["error"]
    hot_set = set(hot_result["terms"])
    # single fused Arrow pass text → MAP-SIDE-COMBINED partial rows (one
    # per (term, salt) per batch, posting arrays packed as list columns —
    # tokenize.partial_postings, guide §2.3): the encode shuffle ships
    # ~vocabulary-count rows instead of one row per posting. Persisted
    # only when multiple groups would otherwise re-tokenize.
    from macrobase_spark.index.tokenize import partial_postings

    partials = partial_postings(
        src, doc_id_col, text_col, hot_terms=hot_set,
        salt_partitions=salt_partitions, stopwords=stop,
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int"))
    if num_groups > 1:
        partials = partials.persist()
    # persist the hot-term set: the incremental-update path salts its
    # encoding shuffle with it (same skew story as the fresh build)
    stats_path = os.path.join(out_dir, "stats.json")
    with open(stats_path) as f:
        _stats = json.load(f)
    _stats["hot_terms"] = sorted(hot_set)
    with open(stats_path, "w") as f:
        json.dump(_stats, f)

    groups: list[list[int]] = [
        [b for b in range(num_buckets) if b % num_groups == g] for g in range(num_groups)
    ]
    postings_root = os.path.join(out_dir, "postings")
    report_buckets = dict(done)
    for g, buckets in enumerate(groups):
        todo = [b for b in buckets if b not in done]
        if not todo:
            continue
        part = partials.filter(F.col("bucket").isin(todo)).drop("bucket")
        # phase 1: shuffle the packed partial rows on (term, salt), sort
        # runs, merge+encode in-place; cold terms finalize here (fan_in 1),
        # hot partials go to phase 2. The salt was computed inside the
        # map-side combine (doc_id % S for hot terms), so the skew story is
        # unchanged while the shuffle carries ~30x fewer rows.
        # PERSISTED: the finals and hot-merge branches below would otherwise
        # each recompute the whole tokenize→shuffle→sort→encode subtree
        # (Catalyst does not reuse the exchange across the union's branches
        # — verified in the executed plan), doubling the dominant phase.
        # The encoded relation is tiny (delta+varint blobs, ~1-2% of the
        # exploded postings), so caching it is effectively free.
        from pyspark import StorageLevel

        encoded = (
            part.repartition(n_shuffle, "term", "salt")
            .sortWithinPartitions("term", "salt")
            .mapInArrow(_merge_partial_runs(hot_set, avgdl),
                        schema=_ENC_SCHEMA)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        finals = encoded.filter(F.col("final")).drop("final")
        # phase 2: hot terms' salted partials merge to one row per term
        merged_hot = _merged_terms(encoded.filter(~F.col("final")),
                                   _merge_segments(avgdl), _ENC_SCHEMA)
        merged = (
            finals.unionByName(merged_hot)
            .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int"))
            .repartition("bucket")
            .sortWithinPartitions("term")
        )
        _tp = time.time()
        merged.write.mode("overwrite").partitionBy("bucket").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(postings_root)
        phases["encode_write"] = phases.get("encode_write", 0.0) + round(
            time.time() - _tp, 3)
        encoded.unpersist()
        # per-bucket lineage + metrics from the committed files: blob sizes
        # were recorded at encode time (blob_len), so this read-back touches
        # only tiny metadata columns — the blob bytes never re-load
        _tp = time.time()
        stats = (
            spark.read.parquet(postings_root)
            .filter(F.col("bucket").isin(todo))
            .groupBy("bucket")
            .agg(
                F.count("*").alias("terms"),
                F.sum("df").alias("postings"),
                F.sum("blob_len").alias("bytes"),
                F.max("fan_in").alias("max_fan_in"),
            )
            .collect()
        )
        phases["stats_readback"] = phases.get("stats_readback", 0.0) + round(
            time.time() - _tp, 3)
        with open(manifest_path, "a") as f:
            for r in stats:
                rec = {
                    "bucket": int(r["bucket"]), "status": "done", "group": g,
                    "terms": int(r["terms"]), "postings": int(r["postings"]),
                    "bytes": int(r["bytes"]), "max_fan_in": int(r["max_fan_in"]),
                    "ts": time.time(), "version": 1,
                }
                report_buckets[rec["bucket"]] = rec
                f.write(json.dumps(rec) + "\n")

    if positions:
        from pyspark import StorageLevel

        pos_root = os.path.join(out_dir, "positions")
        if not (resume and os.path.exists(os.path.join(pos_root, "_SUCCESS"))):
            _tp = time.time()
            # map-side combine (r6): packed (term, salt) partial rows with
            # entry lists + flat positions — same ~30x shuffle-row
            # reduction as the main layer; the merge kernel re-sorts
            # entries per run by doc id and emits byte-identical blobs
            from macrobase_spark.index.tokenize import partial_positional_postings

            pos_part = partial_positional_postings(
                src, doc_id_col, text_col, hot_terms=hot_set,
                salt_partitions=salt_partitions, stopwords=stop)
            pos_enc = (
                pos_part.repartition(n_shuffle, "term", "salt")
                .sortWithinPartitions("term", "salt")
                .mapInArrow(_merge_partial_pos_runs(hot_set),
                            schema=_POS_ENC_SCHEMA)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            pos_finals = pos_enc.filter(F.col("final")).drop("final")
            pos_hot = _merged_terms(pos_enc.filter(~F.col("final")),
                                    _merge_pos_segments(), _POS_ENC_SCHEMA)
            (pos_finals.unionByName(pos_hot)
             .withColumn("bucket", F.pmod(F.xxhash64("term"),
                                          F.lit(num_buckets)).cast("int"))
             .repartition("bucket")
             .sortWithinPartitions("term")
             .write.mode("overwrite").partitionBy("bucket").parquet(pos_root))
            pos_enc.unpersist()
            phases["positions"] = round(time.time() - _tp, 3)
        # stamp AFTER the positional write commits: a crash in between
        # leaves has_positions unset and phrase queries refuse cleanly
        with open(os.path.join(out_dir, "stats.json")) as f:
            _s = json.load(f)
        _s["has_positions"] = True
        with open(os.path.join(out_dir, "stats.json"), "w") as f:
            json.dump(_s, f)

    if docs_thread is not None:
        _tp = time.time()
        docs_thread.join()
        phases["docs_join_wait"] = round(time.time() - _tp, 3)
        if "error" in docs_result:
            raise docs_result["error"]
    if num_groups > 1:
        partials.unpersist()
    invalidate_index_cache(out_dir)
    elapsed = time.time() - t0
    return {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "hot_terms": sorted(hot_set),
        "buckets": len(report_buckets),
        "postings": sum(r.get("postings", 0) for r in report_buckets.values()),
        "bytes": sum(r.get("bytes", 0) for r in report_buckets.values()),
        "elapsed_sec": elapsed,
        "turns_per_sec": n_docs / elapsed if elapsed > 0 else None,
        "phases": phases,
    }


def _list_dir(path: str) -> list[str] | None:
    """Immediate entries of a directory (None if absent). One level is
    enough: Spark writes parquet part files flat inside docs.parquet/ and
    inside each postings/bucket=N/ dir."""
    if not os.path.isdir(path):
        return None
    return sorted(os.listdir(path))


def take_index_snapshot(out_dir: str) -> dict:
    """Record the pre-mutation state of every index artifact update_index /
    build_index touches."""
    stats_path = os.path.join(out_dir, "stats.json")
    stats_bytes = None
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            stats_bytes = f.read()
    manifest_path = os.path.join(out_dir, "manifest.jsonl")
    manifest_len = (os.path.getsize(manifest_path)
                    if os.path.exists(manifest_path) else 0)
    def bucket_listing(root: str) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        if os.path.isdir(root):
            for entry in sorted(os.listdir(root)):
                sub = os.path.join(root, entry)
                if os.path.isdir(sub):
                    out[entry] = sorted(os.listdir(sub))
        return out

    postings_root = os.path.join(out_dir, "postings")
    positions_root = os.path.join(out_dir, "positions")
    return {
        "stats": stats_bytes,
        "manifest_len": manifest_len,
        "docs": _list_dir(os.path.join(out_dir, "docs.parquet")),
        "postings_root_exists": os.path.isdir(postings_root),
        "buckets": bucket_listing(postings_root),
        "positions_root_exists": os.path.isdir(positions_root),
        "pos_buckets": bucket_listing(positions_root),
    }


def rollback_index_snapshot(out_dir: str, snap: dict) -> None:
    """Undo a partial (or complete-but-uncommitted) epoch apply: delete
    files the failed attempt created, restore stats.json, truncate the
    manifest. After this the index is byte-identical in content listing to
    the pre-epoch state, so re-applying the same batch is safe."""
    # stats.json
    stats_path = os.path.join(out_dir, "stats.json")
    if snap["stats"] is None:
        if os.path.exists(stats_path):
            os.remove(stats_path)
    else:
        tmp = stats_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(snap["stats"])
        os.replace(tmp, stats_path)
    # manifest: lines appended by the failed attempt would re-stamp bucket
    # versions — truncate back to the recorded length
    manifest_path = os.path.join(out_dir, "manifest.jsonl")
    if os.path.exists(manifest_path):
        if snap["manifest_len"] == 0:
            os.remove(manifest_path)
        else:
            with open(manifest_path, "r+") as f:
                f.truncate(snap["manifest_len"])
    # docs.parquet: drop appended part files (or the whole dir on a failed
    # fresh build)
    docs_path = os.path.join(out_dir, "docs.parquet")
    if snap["docs"] is None:
        if os.path.isdir(docs_path):
            shutil.rmtree(docs_path)
    elif os.path.isdir(docs_path):
        keep = set(snap["docs"])
        for entry in os.listdir(docs_path):
            if entry not in keep:
                full = os.path.join(docs_path, entry)
                (shutil.rmtree if os.path.isdir(full) else os.remove)(full)
    # postings / positions: drop new bucket dirs and new files inside
    # existing buckets (same file-set pruning for both bucketed layers)
    def prune_bucketed(root: str, root_existed: bool,
                       keep_buckets: dict[str, list[str]]) -> None:
        if not root_existed:
            if os.path.isdir(root):
                shutil.rmtree(root)
            return
        if not os.path.isdir(root):
            return
        for entry in os.listdir(root):
            sub = os.path.join(root, entry)
            if not os.path.isdir(sub):
                continue
            if entry not in keep_buckets:
                shutil.rmtree(sub)
                continue
            keep = set(keep_buckets[entry])
            for fname in os.listdir(sub):
                if fname not in keep:
                    full = os.path.join(sub, fname)
                    (shutil.rmtree if os.path.isdir(full)
                     else os.remove)(full)

    prune_bucketed(os.path.join(out_dir, "postings"),
                   snap["postings_root_exists"], snap["buckets"])
    # journals written before the positional layer existed lack these keys:
    # default to "leave the positions dir alone" (it cannot have been
    # touched by the journaled mutation either)
    if "positions_root_exists" in snap:
        prune_bucketed(os.path.join(out_dir, "positions"),
                       snap["positions_root_exists"], snap["pos_buckets"])



_UPDATE_INFLIGHT = "_update_inflight.json"
_TOMBSTONES = "tombstones"


def has_tombstones(out_dir: str) -> bool:
    """True iff the index carries pending (un-purged) tombstones. Driver-
    side directory probe — consulted by every query to decide whether the
    tombstone anti-join and the pruning gate apply."""
    p = os.path.join(out_dir, _TOMBSTONES)
    return os.path.isdir(p) and any(
        not f.startswith(("_", ".")) for f in os.listdir(p))


def tombstone_ids(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The pending tombstoned doc_ids as a DataFrame (may contain
    duplicates — fine for anti-join consumers), or None if none pending."""
    if not has_tombstones(out_dir):
        return None
    return spark.read.parquet(
        os.path.join(out_dir, _TOMBSTONES)).select("doc_id")


def delete_docs(spark: SparkSession, out_dir: str, doc_ids) -> dict:
    """Tombstone-delete documents from a persisted index — the deferred
    (Lucene-style) delete completing the LSM lifecycle:

    - the effect on queries is IMMEDIATE: bm25_topk / bm25_topk_batch /
      bm25_phrase_topk anti-join pending tombstones out of the result set
      (block pruning is disabled while tombstones are pending, exactness
      over speed — a delete can promote docs from pruned blocks);
    - corpus statistics (n_docs, avgdl, per-term df/idf) keep counting
      tombstoned docs until `compact_index` physically purges them —
      Lucene's documented docFreq-includes-deleted semantics;
    - `compact_index` performs the physical purge: every bucket's blobs
      are rewritten without the tombstoned postings, the docs table is
      filtered, global stats recompute, and the tombstones clear;
    - deletes are idempotent set semantics; deleting an id absent from
      the corpus is a harmless no-op;
    - re-ingesting a tombstoned id via update_index is REFUSED until a
      compaction has purged it (the old postings would resurrect).

    `doc_ids` is a list of ints or a single-column DataFrame. The write
    is a parquet append into `<out_dir>/tombstones/` (committed via
    Spark's atomic job commit), serialized against concurrent in-process
    mutations like every other index mutation."""
    restore_compact_backup(out_dir)
    recover_update_inflight(out_dir)
    _key = _mutation_begin(out_dir)
    try:
        if isinstance(doc_ids, DataFrame):
            df = doc_ids.select(
                F.col(doc_ids.columns[0]).cast("long").alias("doc_id"))
        else:
            df = spark.createDataFrame([(int(i),) for i in doc_ids],
                                       "doc_id long")
        n = df.count()
        df.write.mode("append").parquet(os.path.join(out_dir, _TOMBSTONES))
        invalidate_index_cache(out_dir)
        return {"tombstoned": n}
    finally:
        _mutation_end(_key)


def recover_update_inflight(out_dir: str) -> bool:
    """Crash recovery for update_index's own journal (the streaming epoch
    protocol has its own; this one protects DIRECT update_index callers):
    a leftover inflight record whose owning process is dead means the
    update crashed mid-mutation — roll the index back to the journaled
    snapshot so a retry cannot duplicate doc rows or leave unstamped
    segment rows queryable. A LIVE owner means an update is in progress in
    another process: leave it alone (reads during an update were always
    racy-by-design; the journal only has to make crashes safe)."""
    path = os.path.join(out_dir, _UPDATE_INFLIGHT)
    if not os.path.exists(path):
        return False
    with open(path) as f:
        rec = json.load(f)
    pid = rec.get("pid")
    if pid is not None and pid != os.getpid():
        try:
            os.kill(int(pid), 0)
            return False  # live concurrent update — not ours to undo
        except ProcessLookupError:
            pass
        except PermissionError:
            return False
    elif pid is not None and _mutation_live_in_process(out_dir):
        return False  # same pid, update live on another THREAD — not a crash
    rollback_index_snapshot(out_dir, rec["snapshot"])
    os.remove(path)
    invalidate_index_cache(out_dir)
    return True


def update_index(
    df_new: DataFrame,
    out_dir: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    journal: bool = True,
) -> dict:
    """Incremental append: LSM-style segment write, NO merge with existing
    posting lists at update time.

    - new docs' features append to docs.parquet; global stats (n_docs,
      avgdl) recompute; stats version bumps.
    - new postings are encoded with the SAME salted shuffle as the fresh
      build (hot terms — persisted in stats.json, unioned with a sampled
      re-detection over the delta — shard across (term, salt) reducers, so
      no reducer ever sees more than one shard of one hot term's DELTA) and
      appended as additional parquet rows in their buckets. Existing blobs
      are never read, decoded, or re-sorted: update cost is O(delta), and
      the full historical posting list of a hot term never lands on one
      task — the scale killer the old rewrite-touched-buckets variant had.
    - a term may now span several rows (base + per-update segments);
      the query path sums df across rows for idf and concatenates
      candidates (exactness unaffected — every (term, doc) posting lives in
      exactly one segment). Buckets with segments are recorded in
      stats.json `segmented_buckets`; their block-max metadata is stale
      w.r.t. the new avgdl so the version gate keeps pruning off there
      until `compact_index` merges segments back to one row per term.

    Reference lineage: the reference has no incremental index; this is the
    standard Lucene/LSM segment-log design expressed as parquet appends.

    Contract: `df_new` must contain only NEW doc_ids (append-only corpus).
    Re-ingesting an existing doc_id would leave its old postings in the base
    segment and add new ones — deletions/upserts need a tombstone layer this
    engine does not implement (the transcripts corpus is append-only).
    """
    from pyspark import StorageLevel

    from macrobase_spark.index.tokenize import exploded_postings, turn_features

    spark = df_new.sparkSession
    restore_compact_backup(out_dir)  # recover any crashed compaction first
    recover_update_inflight(out_dir)  # roll back a crashed previous update
    _key = _mutation_begin(out_dir)
    try:
        with open(os.path.join(out_dir, "stats.json")) as f:
            stats = json.load(f)
        tomb = tombstone_ids(spark, out_dir)
        if tomb is not None:
            # re-ingesting a tombstoned id would be silently suppressed by
            # the query-time anti-join AND resurrected by the next purge-
            # compact (which clears the tombstone while the old postings
            # are merged away but the new delta's stay) — refuse loudly
            bad = (df_new.select(F.col(doc_id_col).alias("doc_id"))
                   .join(tomb, "doc_id", "semi").limit(1).count())
            if bad:
                raise ValueError(
                    "update_index: the delta re-ingests tombstoned "
                    "doc_id(s) — run compact_index to purge pending "
                    "deletes before re-using deleted ids")
        if journal:
            # update appends docs + postings BEFORE the stats/manifest commit;
            # journal a pre-mutation snapshot so a crash in between cannot
            # leave a queryable inconsistent index or let a retry duplicate
            # rows. The streaming epoch protocol passes journal=False — its
            # own inflight journal already covers the whole epoch.
            snap = take_index_snapshot(out_dir)
            with open(os.path.join(out_dir, _UPDATE_INFLIGHT + ".tmp"), "w") as f:
                json.dump({"pid": os.getpid(), "snapshot": snap}, f)
            os.replace(os.path.join(out_dir, _UPDATE_INFLIGHT + ".tmp"),
                       os.path.join(out_dir, _UPDATE_INFLIGHT))
        num_buckets = stats["num_buckets"]
        salt_partitions = stats.get("salt_partitions", 8)
        # the analyzer is an INDEX property: the delta tokenizes with the
        # stoplist persisted at build time, never a caller-supplied one
        stop = frozenset(stats.get("stopwords", [])) or None
        version = stats.get("version", 1) + 1
        t0 = time.time()

        # the delta's docs rows append into the BASE docs table, so its
        # metadata columns must mirror the base schema exactly — a delta
        # carrying a column the base lacks (or vice versa) would silently
        # fork the parquet schema across files
        docs_path = os.path.join(out_dir, "docs.parquet")
        base_docs_cols = set(
            spark.read.parquet(docs_path).schema.fieldNames())
        meta_cols = [c for c in ("conv_id", "turn_idx", "role", "tool",
                              "ts")
                     if c in df_new.columns and c in base_docs_cols]
        src = df_new.select(doc_id_col, *meta_cols, text_col)

        feats = (turn_features(src, text_col, stopwords=stop).drop(text_col)
                 .persist(StorageLevel.MEMORY_AND_DISK))
        # O(delta) global stats: the base corpus contributes via the EXACT
        # integer doc-length sum persisted in stats.json (no re-scan of the old
        # docs table) — avgdl = (sum_dl_old + sum_dl_delta) / n stays
        # bit-identical to a full recompute because both sums are integers.
        ll = "log1p(cast(doc_len as double))"
        row = feats.agg(
            F.count("*").alias("n"), F.sum("doc_len").alias("sum_dl"),
            F.expr(f"percentile_approx({ll}, array(0.25, 0.5, 0.75))").alias("qs"),
        ).collect()[0]
        n_new, sum_new = int(row["n"]), int(row["sum_dl"])
        if "sum_dl" in stats:
            n_docs = stats["n_docs"] + n_new
            sum_dl = stats["sum_dl"] + sum_new
        else:  # legacy index without the integer sum: one-time rescan
            old_row = spark.read.parquet(docs_path).agg(
                F.count("*"), F.sum("doc_len")).collect()[0]
            n_docs = int(old_row[0]) + n_new
            sum_dl = int(old_row[1]) + sum_new
        avgdl = sum_dl / n_docs
        # anomaly normalization: reuse the base corpus's robust length stats
        # (median / IQR drift slowly; they refresh on the next full build) —
        # fall back to the delta's own quantiles for legacy indexes
        med, mad = stats.get("len_med"), stats.get("len_mad")
        if med is None or mad is None:
            q25, med, q75 = [float(v) for v in row["qs"]]
            mad = (q75 - q25) / 2.0 or 1e-9
        z = F.abs(F.log1p(F.col("doc_len").cast("double")) - F.lit(med)) / F.lit(
            mad * 1.4826)
        (feats.withColumn("anomaly", F.greatest(F.col("rep_ratio"), F.tanh(z / 6.0)))
            .select(doc_id_col, *meta_cols, "doc_len", "rep_ratio", "anomaly")
            .write.mode("append").parquet(docs_path))
        feats.unpersist()

        # hot set for the delta: persisted build-time hots ∪ sampled re-detection
        # over the delta (a term can be hot in the delta without being hot in
        # the base corpus)
        hot_set = set(stats.get("hot_terms", []))
        hot_set |= set(detect_hot_terms(src, 0.1, 50_000, doc_id_col, text_col))

        # persisted: the touched-buckets collect AND the encode+write below
        # both consume this relation — without the pin every update would
        # re-tokenize the whole delta, and a nondeterministic df_new could
        # even write buckets the version gate never stamped stale (r4 review)
        new_post = (exploded_postings(src, doc_id_col, text_col,
                                      stopwords=stop).withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int"))
            .persist(StorageLevel.MEMORY_AND_DISK))
        touched = [r["bucket"] for r in new_post.select("bucket").distinct().collect()]
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        salted = new_post.withColumn(
            "salt",
            F.when(
                F.col("term").isin(list(hot_set)) if hot_set else F.lit(False),
                F.pmod(F.col("doc_id"), F.lit(salt_partitions)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        # encode per (term, salt) run; hot_terms=∅ → every run finalizes with
        # real per-segment block-max metadata (a hot term's delta becomes up to
        # `salt_partitions` segment rows — parallel encode, parallel read)
        new_enc = (
            salted.repartition(n_shuffle, "term", "salt")
            .sortWithinPartitions("term", "salt", "doc_id")
            .mapInArrow(_encode_sorted_runs(set(), avgdl), schema=_ENC_SCHEMA)
            .drop("final")
            .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int"))
            .repartition("bucket")
            .sortWithinPartitions("term")
        )
        postings_root = os.path.join(out_dir, "postings")
        new_enc.write.mode("append").partitionBy("bucket").parquet(postings_root)
        new_post.unpersist()

        if stats.get("has_positions"):
            # positional layer: same LSM segment append — the delta's
            # positional rows land as EXTRA rows in their buckets (blobs are
            # self-contained, so a term spanning base + delta segments needs
            # no byte-level merge; the phrase path sums df across rows and
            # concatenates candidates). hot_terms=∅ here for the same reason
            # as the main append: a hot term's delta becomes up to
            # salt_partitions finalized segment rows instead of one giant
            # reducer task. compact_index merges segments back to one row.
            from macrobase_spark.index.tokenize import (
                exploded_positional_postings)

            pos_salted = (exploded_positional_postings(src, doc_id_col,
                                                       text_col,
                                                       stopwords=stop)
                          .withColumn(
                "salt",
                F.when(
                    F.col("term").isin(list(hot_set)) if hot_set
                    else F.lit(False),
                    F.pmod(F.col("doc_id"),
                           F.lit(salt_partitions)).cast("int"),
                ).otherwise(F.lit(0))))
            pos_enc = (
                pos_salted.repartition(n_shuffle, "term", "salt")
                .sortWithinPartitions("term", "salt", "doc_id")
                .mapInPandas(_encode_pos_runs(set()), schema=_POS_ENC_SCHEMA)
                .drop("final")
                .withColumn("bucket", F.pmod(F.xxhash64("term"),
                                             F.lit(num_buckets)).cast("int"))
                .repartition("bucket")
                .sortWithinPartitions("term")
            )
            pos_enc.write.mode("append").partitionBy("bucket").parquet(
                os.path.join(out_dir, "positions"))

        seg = sorted(set(stats.get("segmented_buckets", [])) | set(touched))
        stats.update({"n_docs": n_docs, "avgdl": avgdl, "sum_dl": sum_dl,
                      "version": version, "hot_terms": sorted(hot_set),
                      "segmented_buckets": seg})
        with open(os.path.join(out_dir, "stats.json"), "w") as f:
            json.dump(stats, f)
        # touched buckets are re-stamped at their PRE-update version: they now
        # hold mixed-era block-max metadata, so they must read as stale (block
        # pruning off) until compaction rewrites them
        bv = bucket_versions(out_dir)
        manifest_path = os.path.join(out_dir, "manifest.jsonl")
        with open(manifest_path, "a") as f:
            for b in sorted(touched):
                f.write(json.dumps({"bucket": int(b), "status": "done",
                                    "version": bv.get(b, 1), "op": "update",
                                    "ts": time.time()}) + "\n")
        invalidate_index_cache(out_dir)
        if journal:
            os.remove(os.path.join(out_dir, _UPDATE_INFLIGHT))
        return {"n_docs": n_docs, "avgdl": avgdl, "version": version,
                "touched_buckets": sorted(touched),
                "elapsed_sec": time.time() - t0}
    finally:
        _mutation_end(_key)


def _compact_backup_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_compact_backup")


def restore_compact_backup(out_dir: str) -> bool:
    """Crash recovery for compact_index: its dynamic-partition overwrite
    DELETES the old segment rows of every stale bucket, so a crash between
    the overwrite and the stats/manifest commit would lose postings with no
    way back. compact_index therefore copies the stale buckets' files (plus
    stats.json and the manifest length) into `_compact_backup/` and marks
    it `_complete` before touching anything; this function restores that
    state. Returns True if a rollback happened.

    - backup without `_complete`: crash mid-copy — originals untouched,
      drop the partial backup.
    - backup with `_complete`: restore the buckets' file sets, stats.json
      bytes, and truncate the manifest — the index is byte-identical to the
      pre-compaction state and compaction simply runs again later. (A
      leftover backup after a fully-successful compaction also restores —
      redundant but correct: the segment rows are still a valid index.)
    Called from every index entry point (read_index, update_index,
    compact_index, streaming ingest), so a crashed compaction can never be
    silently queried."""
    backup = _compact_backup_dir(out_dir)
    if not os.path.isdir(backup):
        return False
    if not os.path.exists(os.path.join(backup, "_complete")):
        shutil.rmtree(backup)
        return False
    with open(os.path.join(backup, "_meta.json")) as f:
        meta = json.load(f)
    # liveness guard: a backup whose owning compactor PROCESS is still
    # alive is an in-progress compaction, not a crash — rolling it back
    # from a concurrent reader would corrupt the index mid-overwrite.
    # (Same-host pid probe; on a multi-host deployment pair this with a
    # lease file on the shared store.)
    pid = meta.get("pid")
    if pid is not None and pid != os.getpid():
        try:
            os.kill(int(pid), 0)
            return False  # owner alive → leave the backup alone
        except ProcessLookupError:
            pass  # owner dead → genuine crash, recover
        except PermissionError:
            return False  # alive but other-user (EPERM) → leave it alone
    elif pid is not None and _mutation_live_in_process(out_dir):
        return False  # same pid, compaction live on another THREAD
    postings_root = os.path.join(out_dir, "postings")
    positions_root = os.path.join(out_dir, "positions")
    # a purge-compaction (pending tombstones) also backs up the docs table
    # and the tombstones dir — restore them to the index ROOT, and drop a
    # half-written docs.parquet._new from the crashed rewrite
    shutil.rmtree(os.path.join(out_dir, "docs.parquet._new"),
                  ignore_errors=True)
    for entry in os.listdir(backup):
        src = os.path.join(backup, entry)
        if not os.path.isdir(src):
            continue
        if entry == "positions":  # positional-layer buckets, same protocol
            for pentry in os.listdir(src):
                pdest = os.path.join(positions_root, pentry)
                if os.path.isdir(pdest):
                    shutil.rmtree(pdest)
                shutil.move(os.path.join(src, pentry), pdest)
            continue
        if entry in ("docs.parquet", _TOMBSTONES):
            dest = os.path.join(out_dir, entry)
            if os.path.isdir(dest):
                shutil.rmtree(dest)
            shutil.move(src, dest)
            continue
        dest = os.path.join(postings_root, entry)
        if os.path.isdir(dest):
            shutil.rmtree(dest)
        shutil.move(src, dest)
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        f.write(meta["stats"])
    manifest_path = os.path.join(out_dir, "manifest.jsonl")
    if os.path.exists(manifest_path):
        with open(manifest_path, "r+") as f:
            f.truncate(meta["manifest_len"])
    shutil.rmtree(backup)
    invalidate_index_cache(out_dir)
    return True


def compact_index(spark: SparkSession, out_dir: str) -> dict:
    """Compact stale buckets after incremental updates: merge each term's
    segment rows (base + per-update deltas) back to ONE row and recompute
    block-max metadata under the CURRENT avgdl, then stamp the bucket
    current — block-max pruning is active index-wide again and the per-term
    idf needs no cross-row aggregation.

    Buckets that are merely metadata-stale (no segments, avgdl moved) get
    the same pass — for single-row terms the merge degenerates to a
    decode → re-encode that refreshes the bounds.

    Scale shape: the merge is the fresh build's phase-2 kernel
    (_merge_segments / _merge_pos_segments): segment rows shuffle on term,
    and each task decodes, doc-sorts (one lexsort) and re-encodes a whole
    Arrow batch of terms at once — amortized background work, never on
    the update or query path. A purge drops tombstoned postings inside the
    same kernel.

    Crash safety: the overwrite below deletes the stale buckets' old rows,
    so those files (plus stats.json/manifest state) are first copied to
    `_compact_backup/`; any entry point finding a completed backup restores
    it (restore_compact_backup), making a crashed compaction a no-op
    instead of data loss. The backup is bounded by the stale buckets'
    compressed size (the deltas since the last compaction plus their base
    rows), and is deleted on success.

    The report's `phases` holds wall seconds per step, like build_index's:
    backup, postings_merge (including the post-purge stats it encodes
    under), positions_merge (positional indexes only) and docs_rewrite
    (the purge's docs table swap plus the length-stats refresh)."""
    restore_compact_backup(out_dir)  # recover any earlier crashed attempt
    recover_update_inflight(out_dir)
    _key = _mutation_begin(out_dir)
    try:
        with open(os.path.join(out_dir, "stats.json")) as f:
            stats = json.load(f)
        version = stats.get("version", 1)
        avgdl = stats["avgdl"]
        stale = [b for b, v in bucket_versions(out_dir).items() if v != version]
        postings_root = os.path.join(out_dir, "postings")
        docs_path = os.path.join(out_dir, "docs.parquet")
        tomb = tombstone_ids(spark, out_dir)
        purge = tomb is not None
        if purge:
            # pending deletes: a tombstoned doc can appear in ANY bucket's
            # postings, so the physical purge rewrites every bucket (full
            # LSM major compaction), not just the version-stale ones
            existing = [int(d.split("=")[1])
                        for d in (_list_dir(postings_root) or [])
                        if d.startswith("bucket=")]
            stale = sorted(set(stale) | set(existing))
        if not stale:
            return {"version": version, "compacted_buckets": [], "phases": {}}

        phases: dict[str, float] = {}
        _tp = time.time()
        backup = _compact_backup_dir(out_dir)
        shutil.rmtree(backup, ignore_errors=True)
        os.makedirs(backup)
        manifest_path_ = os.path.join(out_dir, "manifest.jsonl")
        with open(os.path.join(backup, "_meta.json"), "w") as f:
            json.dump({
                "stats": json.dumps(stats),
                "manifest_len": (os.path.getsize(manifest_path_)
                                 if os.path.exists(manifest_path_) else 0),
                "pid": os.getpid(),
                "purge": purge,
            }, f)
        positions_root = os.path.join(out_dir, "positions")
        has_positions = bool(stats.get("has_positions"))
        for b in stale:
            src = os.path.join(postings_root, f"bucket={b}")
            if os.path.isdir(src):
                shutil.copytree(src, os.path.join(backup, f"bucket={b}"))
            if has_positions:
                psrc = os.path.join(positions_root, f"bucket={b}")
                if os.path.isdir(psrc):
                    shutil.copytree(psrc, os.path.join(
                        backup, "positions", f"bucket={b}"))
        if purge:
            # the purge rewrites the docs table and clears the tombstones,
            # so both join the crash-safety backup (restore reinstates the
            # pre-compaction view; bounded by the docs table size — a
            # purge-compaction is a full rewrite by nature)
            shutil.copytree(docs_path, os.path.join(backup, "docs.parquet"))
            shutil.copytree(os.path.join(out_dir, _TOMBSTONES),
                            os.path.join(backup, _TOMBSTONES))
        with open(os.path.join(backup, "_complete"), "w") as f:
            f.write("1")
        phases["backup"] = round(time.time() - _tp, 3)

        _tp = time.time()
        drop_bc = None
        avgdl_enc = avgdl
        if purge:
            # post-purge global stats drive the re-encoded block-max
            # metadata, so they are computed BEFORE the merge
            kept_docs = spark.read.parquet(docs_path).join(
                tomb, "doc_id", "anti")
            drop_ids = np.unique(np.asarray(
                [r["doc_id"] for r in tomb.distinct().collect()],
                dtype=np.int64))
            drop_bc = spark.sparkContext.broadcast(drop_ids)
            row = kept_docs.agg(
                F.count("*").alias("n"),
                F.sum("doc_len").alias("sum_dl")).collect()[0]
            n_docs_new = int(row["n"])
            sum_dl_new = int(row["sum_dl"] or 0)
            avgdl_enc = sum_dl_new / max(1, n_docs_new)
        merged = (
            _merged_terms(
                spark.read.parquet(postings_root)
                .filter(F.col("bucket").isin(stale)),
                _merge_segments(avgdl_enc, drop_bc), _ENC_SCHEMA)
            .withColumn("bucket", F.pmod(F.xxhash64("term"),
                                         F.lit(stats["num_buckets"])).cast("int"))
            .repartition("bucket")
            .sortWithinPartitions("term")
        )
        written_buckets = None
        if purge:
            # dynamic partition overwrite only replaces buckets PRESENT in
            # the output — a bucket whose every term was tombstoned away
            # would survive with stale data. Persist the merge, record the
            # written buckets, and remove the silently-skipped dirs after.
            from pyspark import StorageLevel

            merged = merged.persist(StorageLevel.MEMORY_AND_DISK)
            written_buckets = {r["bucket"] for r in
                               merged.select("bucket").distinct().collect()}
        merged.write.mode("overwrite").partitionBy("bucket").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(postings_root)
        if written_buckets is not None:
            for b in set(stale) - written_buckets:
                shutil.rmtree(os.path.join(postings_root, f"bucket={b}"),
                              ignore_errors=True)
            merged.unpersist()
        phases["postings_merge"] = round(time.time() - _tp, 3)
        if has_positions:
            # positional segments of the same stale buckets merge back to
            # one doc-sorted blob per term (same kernel shape as the main
            # merge above)
            _tp = time.time()
            pos_merged = (
                _merged_terms(
                    spark.read.parquet(positions_root)
                    .filter(F.col("bucket").isin(stale)),
                    _merge_pos_segments(drop_bc), _POS_ENC_SCHEMA)
                .withColumn("bucket", F.pmod(
                    F.xxhash64("term"),
                    F.lit(stats["num_buckets"])).cast("int"))
                .repartition("bucket")
                .sortWithinPartitions("term")
            )
            pos_written = None
            if purge:
                from pyspark import StorageLevel

                pos_merged = pos_merged.persist(StorageLevel.MEMORY_AND_DISK)
                pos_written = {r["bucket"] for r in
                               pos_merged.select("bucket").distinct().collect()}
            pos_merged.write.mode("overwrite").partitionBy("bucket").option(
                "partitionOverwriteMode", "dynamic"
            ).parquet(positions_root)
            if pos_written is not None:
                for b in set(stale) - pos_written:
                    shutil.rmtree(os.path.join(positions_root, f"bucket={b}"),
                                  ignore_errors=True)
                pos_merged.unpersist()
            phases["positions_merge"] = round(time.time() - _tp, 3)
        _tp = time.time()
        if purge:
            # docs table rewrite: read old → write new dir → swap (never
            # overwrite the path being read); the backup covers every
            # crash window until the final backup removal
            new_docs = docs_path + "._new"
            shutil.rmtree(new_docs, ignore_errors=True)
            kept_docs.write.mode("overwrite").parquet(new_docs)
            shutil.rmtree(docs_path)
            os.rename(new_docs, docs_path)
            stats["n_docs"] = n_docs_new
            stats["sum_dl"] = sum_dl_new
            stats["avgdl"] = avgdl_enc
            shutil.rmtree(os.path.join(out_dir, _TOMBSTONES))
        stats["segmented_buckets"] = sorted(
            set(stats.get("segmented_buckets", [])) - set(stale))
        # compaction is the background maintenance pass — also refresh the
        # robust length-normalization stats that incremental updates let drift
        ll = "log1p(cast(doc_len as double))"
        if stats["n_docs"] > 0:
            qs = spark.read.parquet(os.path.join(out_dir, "docs.parquet")).agg(
                F.expr(f"percentile_approx({ll}, array(0.25, 0.5, 0.75))")
            ).collect()[0][0]
            stats["len_med"] = float(qs[1])
            stats["len_mad"] = (float(qs[2]) - float(qs[0])) / 2.0 or 1e-9
        phases["docs_rewrite"] = round(time.time() - _tp, 3)
        with open(os.path.join(out_dir, "stats.json"), "w") as f:
            json.dump(stats, f)
        with open(os.path.join(out_dir, "manifest.jsonl"), "a") as f:
            for b in sorted(stale):
                f.write(json.dumps({"bucket": int(b), "status": "done",
                                    "version": version, "op": "compact",
                                    "ts": time.time()}) + "\n")
        shutil.rmtree(backup)  # compaction fully committed — drop the backup
        invalidate_index_cache(out_dir)
        return {"version": version, "compacted_buckets": sorted(stale),
                "phases": phases}
    finally:
        _mutation_end(_key)


_BV_CACHE: dict[str, tuple[tuple[int, int], dict[int, int]]] = {}


def bucket_versions(out_dir: str) -> dict[int, int]:
    """Latest manifest version per bucket (for version-gated pruning).
    Memoized per (path, manifest mtime+size) — the query path consults
    this on EVERY bm25 call, and on a long-lived serving index the
    manifest grows one line per bucket per epoch; any update/compact
    rewrites or appends to the file, changing the signature."""
    path = os.path.join(out_dir, "manifest.jsonl")
    if not os.path.exists(path):
        return {}
    st = os.stat(path)
    sig = (st.st_mtime_ns, st.st_size)
    key = os.path.abspath(out_dir)
    hit = _BV_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    versions: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("status") == "done":
                versions[rec["bucket"]] = rec.get("version", 1)
    _BV_CACHE[key] = (sig, versions)
    return versions


_INDEX_CACHE: dict[tuple, tuple[DataFrame, DataFrame, dict]] = {}


def read_index(spark: SparkSession, out_dir: str) -> tuple[DataFrame, DataFrame, dict]:
    """Open an index (postings df, docs df, stats). DataFrame handles are
    memoized per (applicationId, path, stats version+mtime): a new session
    never collides with a garbage-collected one (id() reuse), and an
    update/compact by ANOTHER process bumps the stats file's version/mtime,
    invalidating naturally. Same-process builders also call
    `invalidate_index_cache` explicitly."""
    restore_compact_backup(out_dir)  # never serve a crashed compaction
    recover_update_inflight(out_dir)  # nor a crashed (dead-owner) update
    stats_path = os.path.join(out_dir, "stats.json")
    mtime = os.stat(stats_path).st_mtime_ns
    key = (spark.sparkContext.applicationId, os.path.abspath(out_dir), mtime)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    with open(stats_path) as f:
        stats = json.load(f)
    postings_root = os.path.join(out_dir, "postings")
    if any(d.startswith("bucket=") for d in (_list_dir(postings_root) or [])):
        postings = spark.read.parquet(postings_root)
    else:
        # fully-purged index (every doc deleted and compacted away): no
        # parquet footers to infer from — serve an empty relation with the
        # canonical schema so queries return empty instead of crashing
        postings = spark.createDataFrame(
            [], _POSTINGS_SCHEMA + ", bucket int")
    docs = spark.read.parquet(os.path.join(out_dir, "docs.parquet"))
    # the engine's kernels (scoring AND the build-time block-max impact
    # metadata) hard-code k1/b per the spec; an index whose stats claim
    # different parameters (hand-edited, foreign writer) would silently
    # score wrong — refuse loudly instead
    if (stats.get("k1", K1), stats.get("b", B)) != (K1, B):
        raise ValueError(
            f"index at {out_dir!r} declares k1={stats.get('k1')} "
            f"b={stats.get('b')} but this engine scores with k1={K1} "
            f"b={B} — rebuild the index (block-max metadata bakes these "
            "in; they are not query-time knobs)")
    # evict superseded entries for the same (app, path): cross-process
    # updates bump the mtime key every epoch and would otherwise grow the
    # cache (and pin old DataFrames) for the life of a query server
    for k in [k for k in _INDEX_CACHE if k[:2] == key[:2] and k != key]:
        del _INDEX_CACHE[k]
    _INDEX_CACHE[key] = (postings, docs, stats)
    return postings, docs, stats


def invalidate_index_cache(out_dir: str | None = None) -> None:
    if out_dir is None:
        _INDEX_CACHE.clear()
        return
    path = os.path.abspath(out_dir)
    for k in [k for k in _INDEX_CACHE if k[1] == path]:
        del _INDEX_CACHE[k]


def merge_indexes(spark: SparkSession, shard_dirs: list[str],
                  out_dir: str) -> dict:
    """Consolidate several physical indexes into ONE monolithic index —
    the shard-merge the sharded-search deployment eventually wants (era
    shards rolled into a yearly index, a tenant migration): the merged
    index answers every query rank- and score-identically to
    bm25_topk_sharded over the inputs, and identically to a from-scratch
    build over the union corpus (pytest-pinned at 1e-12).

    Mechanism — reuse the LSM machinery instead of re-tokenizing: term →
    bucket is the same hash in every shard (shared num_buckets), so each
    shard's posting rows are appended into the merged bucket layout as
    SEGMENTS (one blob-level parquet append per shard union — postings are
    copied compressed, never decoded); the merged index is exactly the
    post-update segmented state the query path already serves exactly
    (cross-row df sums, version-gated pruning off because every shard's
    block-max metadata was computed under its own avgdl). Global stats
    recompute from the shards' exact integer sums. A subsequent
    compact_index() re-encodes each term to one row under the merged
    avgdl and restores block-max pruning — the same amortized background
    work as post-update compaction.

    A positional layer merges the same way (one segment append of the
    positions blobs — the phrase path already sums df across segment
    rows), provided EVERY shard carries one; mixed positional and
    non-positional shards are refused.

    Constraints (refused loudly): shards must share num_buckets and
    stopwords, carry no pending tombstones (compact first — a tombstone's
    doc ids are meaningless in the merged stats), agree on having a
    positional layer, and their doc_id spaces must be disjoint
    (validated with one aggregate over the union docs)."""
    if len(shard_dirs) < 2:
        raise ValueError("merge_indexes needs at least two shard dirs")
    paths = [os.path.abspath(s) for s in shard_dirs]
    if len(set(paths)) != len(paths):
        raise ValueError("merge_indexes: duplicate shard dir in the list")
    if os.path.exists(os.path.join(out_dir, "stats.json")):
        raise ValueError(
            f"merge_indexes: {out_dir!r} already holds an index — merging "
            "appends segments; give a fresh output directory")
    shard_stats = []
    for s in paths:
        sp = os.path.join(s, "stats.json")
        if not os.path.exists(sp):
            raise ValueError(f"merge_indexes: no index at {s!r}")
        with open(sp) as f:
            st = json.load(f)
        if has_tombstones(s):
            raise ValueError(
                f"merge_indexes: shard {s!r} has pending tombstone "
                "deletes — run compact_index on it first")
        shard_stats.append(st)
    nb = {st.get("num_buckets") for st in shard_stats}
    if len(nb) != 1 or None in nb:
        raise ValueError(
            f"merge_indexes: shards disagree on num_buckets ({sorted(nb, key=str)}) "
            "— term→bucket routing must align; rebuild to a shared bucket "
            "count")
    num_buckets = nb.pop()
    pos_flags = {bool(st.get("has_positions")) for st in shard_stats}
    if len(pos_flags) != 1:
        raise ValueError(
            "merge_indexes: some shards carry a positional layer and "
            "some do not — the merged index cannot answer phrase queries "
            "over half the corpus; rebuild the non-positional shards "
            "with positions=True (or all without)")
    has_pos = pos_flags.pop()
    stops = {tuple(st.get("stopwords", [])) for st in shard_stats}
    if len(stops) != 1:
        raise ValueError(
            "merge_indexes: shards disagree on the index-time stoplist — "
            "their analyzers produced different token streams; rebuild to "
            "a shared stoplist")
    # disjoint doc_id spaces: one aggregate over the union docs
    docs_u = None
    for s in paths:
        d = spark.read.parquet(os.path.join(s, "docs.parquet"))
        docs_u = d if docs_u is None else docs_u.unionByName(d)
    row = docs_u.agg(F.count("*").alias("n"),
                     F.countDistinct("doc_id").alias("nd"),
                     F.sum("doc_len").alias("sum_dl")).collect()[0]
    if int(row["n"]) != int(row["nd"]):
        raise ValueError(
            "merge_indexes: shard doc_id spaces overlap "
            f"({int(row['n']) - int(row['nd'])} colliding ids) — a doc_id "
            "must identify one document across the merged corpus")
    n_docs, sum_dl = int(row["n"]), int(row["sum_dl"])
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)
    # docs table: one distributed union write
    docs_u.write.mode("overwrite").parquet(
        os.path.join(out_dir, "docs.parquet"))
    # postings: blob-level append — compressed segments copied, not decoded
    post_u = None
    for s in paths:
        p = spark.read.parquet(os.path.join(s, "postings"))
        post_u = p if post_u is None else post_u.unionByName(p)
    (post_u.repartition("bucket").sortWithinPartitions("term")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(out_dir, "postings")))
    if has_pos:
        # positional layer: same blob-level segment append — the phrase
        # path already sums df across segment rows per term
        pos_u = None
        for s in paths:
            p = spark.read.parquet(os.path.join(s, "positions"))
            pos_u = p if pos_u is None else pos_u.unionByName(p)
        (pos_u.repartition("bucket").sortWithinPartitions("term")
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(os.path.join(out_dir, "positions")))
    buckets = sorted({int(d.split("=")[1])
                      for d in (_list_dir(os.path.join(out_dir, "postings"))
                                or [])
                      if d.startswith("bucket=")})
    hot = sorted({t for st in shard_stats
                  for t in st.get("hot_terms", [])})
    # len_med/len_mad feed only future updates' anomaly normalization
    # (advisory robust stats, not scoring inputs) — carrying the first
    # shard's values avoids a docs re-scan; an update recomputes its own
    base = shard_stats[0]
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump({
            "n_docs": n_docs, "avgdl": sum_dl / n_docs, "sum_dl": sum_dl,
            "len_med": base.get("len_med"), "len_mad": base.get("len_mad"),
            "k1": K1, "b": B, "block_size": BLOCK_SIZE,
            "num_buckets": num_buckets, "version": 1,
            "salt_partitions": max(st.get("salt_partitions", 1)
                                   for st in shard_stats),
            "stopwords": sorted(stops.pop()),
            "has_positions": has_pos,
            "hot_terms": hot,
            # every bucket holds one segment per shard: the query path's
            # cross-row df sums apply index-wide until compaction
            "segmented_buckets": buckets,
        }, f)
    # manifest: stamp every bucket at version 0 (≠ stats version 1) so
    # block-max pruning stays OFF until compact_index re-encodes under
    # the merged avgdl — the same staleness contract as updates
    with open(os.path.join(out_dir, "manifest.jsonl"), "w") as f:
        for b in buckets:
            f.write(json.dumps({"bucket": b, "status": "done",
                                "version": 0, "op": "merge",
                                "ts": time.time()}) + "\n")
    invalidate_index_cache(out_dir)
    return {"n_docs": n_docs, "avgdl": sum_dl / n_docs,
            "shards": len(paths), "buckets": len(buckets),
            "elapsed_sec": round(time.time() - t0, 3)}
