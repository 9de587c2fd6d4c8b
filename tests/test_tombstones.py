"""r5: tombstone deletes completing the LSM lifecycle
(delete_docs → immediate query-time anti-join with Lucene
docFreq-includes-deleted stats → compact_index physical purge with
recomputed stats), plus crash recovery of a purge-compaction.

Reference lineage: the reference engine has no deletes; this is the
standard Lucene liveDocs/tombstone design expressed over the parquet
index artifacts."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
from macrobase_spark.index.build import (build_index, compact_index,
                                         delete_docs, has_tombstones,
                                         read_index, restore_compact_backup,
                                         update_index)
from macrobase_spark.index.bm25 import (bm25_oracle, bm25_phrase_topk,
                                        bm25_topk, bm25_topk_batch,
                                        phrase_oracle)


@pytest.fixture()
def tomb_index(spark, tmp_path):
    t = with_doc_id(synth_transcripts(spark, n_convs=50, seed=7)).cache()
    out = str(tmp_path / "tombidx")
    build_index(t, out, num_buckets=4, positions=True)
    docs = [(r["doc_id"], r["text"])
            for r in t.select("doc_id", "text").collect()]
    return t, out, docs


def test_delete_lifecycle_rank_identity(spark, tomb_index):
    """Pre-compact: deleted docs vanish from results while corpus stats
    still count them (oracle: keep_ids over FULL-corpus stats). Post-
    compact: stats recompute — oracle over the reduced corpus. Both
    rank+score identical at 1e-12; tombstones cleared by the purge."""
    t, out, docs = tomb_index
    victims = [r["doc_id"] for r in
               bm25_topk(spark, out, "the call", k=3).collect()]
    assert delete_docs(spark, out, victims) == {"tombstoned": 3}
    assert has_tombstones(out)

    keep = {d for d, _ in docs} - set(victims)
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, "the call", k=10).collect()]
    want = bm25_oracle(docs, "the call", k=10, keep_ids=keep)
    assert got and [g[0] for g in got] == [w[0] for w in want]
    assert all(abs(g[1] - w[1]) < 1e-12 for g, w in zip(got, want))
    # phrase path honors pending tombstones too
    assert not any(
        r["doc_id"] in victims for r in
        bm25_phrase_topk(spark, out, "the call", k=50).collect())

    rep = compact_index(spark, out)
    assert rep["compacted_buckets"] and not has_tombstones(out)
    docs2 = [(d, txt) for d, txt in docs if d not in victims]
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, "the call", k=10).collect()]
    want = bm25_oracle(docs2, "the call", k=10)
    assert [g[0] for g in got] == [w[0] for w in want]
    assert all(abs(g[1] - w[1]) < 1e-12 for g, w in zip(got, want))
    pv = [r["doc_id"] for r in
          bm25_phrase_topk(spark, out, "the call", k=10).collect()]
    assert pv == [d for d, _ in phrase_oracle(docs2, "the call", k=10)]
    _, _, stats = read_index(spark, out)
    assert stats["n_docs"] == len(docs2)
    assert (spark.read.parquet(os.path.join(out, "docs.parquet")).count()
            == len(docs2))


def test_delete_composes_and_batch(spark, tomb_index):
    """Tombstones ∘ batch ∘ doc_filter ∘ exclusion; DataFrame-typed ids;
    idempotent re-delete."""
    t, out, docs = tomb_index
    victims = [r["doc_id"] for r in
               bm25_topk(spark, out, "the", k=4).collect()]
    ids_df = spark.createDataFrame([(i,) for i in victims], "doc_id long")
    delete_docs(spark, out, ids_df)
    delete_docs(spark, out, victims[:2])  # idempotent set semantics
    qs = {"a": "the call", "b": "the -call", "c": "rare7"}
    batch = bm25_topk_batch(spark, out, qs, k=6,
                            doc_filter="role IS NOT NULL").collect()
    assert batch and not any(r["doc_id"] in victims for r in batch)
    by_q = {}
    for r in sorted(batch, key=lambda r: r["rank"]):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, out, q, k=6,
                          doc_filter="role IS NOT NULL").collect()]
        assert by_q.get(qid, []) == want, qid


def test_reingest_refused_until_purge(spark, tomb_index):
    t, out, docs = tomb_index
    victim = docs[0][0]
    delete_docs(spark, out, [victim])
    delta = t.filter(F.col("doc_id") == victim)
    with pytest.raises(ValueError, match="tombstoned"):
        update_index(delta, out)
    compact_index(spark, out)
    _, _, stats0 = read_index(spark, out)
    rep = update_index(delta, out)  # purged → the id is free again
    assert rep["n_docs"] == stats0["n_docs"] + 1
    got = bm25_topk(spark, out, "the", k=10 ** 6)
    assert got.filter(F.col("doc_id") == victim).count() == 1


def test_purge_compact_crash_recovery(spark, tomb_index, monkeypatch):
    """Crash between the postings overwrite and the docs swap: the next
    index entry point restores the pre-compaction state byte-for-byte —
    tombstones pending again, pre-compact query semantics intact, and a
    re-run compaction succeeds."""
    import macrobase_spark.index.build as B

    t, out, docs = tomb_index
    victims = [r["doc_id"] for r in
               bm25_topk(spark, out, "the call", k=3).collect()]
    delete_docs(spark, out, victims)
    real_rename = os.rename

    def boom(src, dst):
        if src.endswith("docs.parquet._new"):
            raise RuntimeError("simulated crash mid purge-compact")
        return real_rename(src, dst)

    monkeypatch.setattr(B.os, "rename", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_index(spark, out)
    monkeypatch.setattr(B.os, "rename", real_rename)

    assert restore_compact_backup(out)  # rollback happened
    assert has_tombstones(out)          # tombstones restored (pending)
    keep = {d for d, _ in docs} - set(victims)
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, "the call", k=10).collect()]
    want = bm25_oracle(docs, "the call", k=10, keep_ids=keep)
    assert [g[0] for g in got] == [w[0] for w in want]

    rep = compact_index(spark, out)  # re-run completes the purge
    assert rep["compacted_buckets"] and not has_tombstones(out)
    docs2 = [(d, txt) for d, txt in docs if d not in victims]
    got = [r["doc_id"] for r in
           bm25_topk(spark, out, "the call", k=10).collect()]
    assert got == [d for d, _ in bm25_oracle(docs2, "the call", k=10)]


def test_full_deletion_yields_empty_index(spark, tomb_index):
    t, out, docs = tomb_index
    delete_docs(spark, out, [d for d, _ in docs])
    compact_index(spark, out)
    assert bm25_topk(spark, out, "the call", k=5).count() == 0
    assert not has_tombstones(out)
    _, _, stats = read_index(spark, out)
    assert stats["n_docs"] == 0


def test_index_stats_reports_tombstones(spark, tomb_index):
    from macrobase_spark.index.snippets import index_stats

    t, out, docs = tomb_index
    st = index_stats(spark, out).collect()
    assert all(r["pending_tombstones"] == 0 and r["prunable"] for r in st)
    delete_docs(spark, out, [docs[0][0], docs[1][0]])
    st = index_stats(spark, out).collect()
    assert all(r["pending_tombstones"] == 2 for r in st)
    assert all(not r["prunable"] for r in st)
    compact_index(spark, out)
    st = index_stats(spark, out).collect()
    assert all(r["pending_tombstones"] == 0 and r["prunable"] for r in st)


def test_compacted_index_equals_fresh_build(spark, tmp_path):
    """update + delete + compact_index leaves exactly the posting lists a
    fresh build over the live turns writes: same blobs, stats and block-max
    metadata (fan_in aside — it counts the merged rows). Hot terms make
    both the build's phase-2 merge and compaction merge several rows."""
    t = with_doc_id(synth_transcripts(spark, n_convs=60, seed=3)).cache()
    ids = sorted(r["doc_id"] for r in t.select("doc_id").collect())
    cut = ids[len(ids) * 3 // 4]
    victims = ids[::9]
    kw = dict(num_buckets=4, positions=True, hot_df_threshold=100,
              hot_sample_frac=0.5)
    out, fresh = str(tmp_path / "lsm"), str(tmp_path / "fresh")
    assert build_index(t.filter(F.col("doc_id") <= cut), out, **kw)["hot_terms"]
    update_index(t.filter(F.col("doc_id") > cut), out)
    delete_docs(spark, out, victims)
    rep = compact_index(spark, out)
    assert set(rep["phases"]) == {"backup", "postings_merge",
                                  "positions_merge", "docs_rewrite"}
    build_index(t.filter(~F.col("doc_id").isin(victims)), fresh, **kw)

    for layer, cols in (("postings", ["term", "df", "cf", "max_impact",
                                      "block_max", "blob"]),
                        ("positions", ["term", "df", "blob"])):
        a = spark.read.parquet(os.path.join(out, layer)).select(cols)
        b = spark.read.parquet(os.path.join(fresh, layer)).select(cols)
        assert a.count() == b.count() > 0
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    for idx in (out, fresh):
        fan_in = spark.read.parquet(os.path.join(idx, "postings")).agg(
            F.max("fan_in")).collect()[0][0]
        assert fan_in > 1
