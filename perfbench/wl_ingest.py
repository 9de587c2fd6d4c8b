"""ingest: a full positional build of the seeded corpus, then the LSM write
cycle against it.

Timed, once per run, one call after another (the cycle): `build_index
(positions=True)` over the base turns, one `update_index` batch of the next
turns, one `delete_docs` batch, seeded `bm25_topk` queries against the
segmented, tombstoned index, and `compact_index`. Tokenize, map-side
combine, encode, the parquet write, the update path and compaction do
nearly all the work; the queries sit beside the writes so that a change to
shared encode or merge code that helps full builds but slows updates or
compaction shows.
"""

from __future__ import annotations

import random

from common import (QueryMix, build, collect_docs, e2e_metrics, make_corpus,
                    query, same_ranking, shared_layers, trace_overhead)
from harness import median, metric

N_CONVS = 360          # generated; about 3.1k turns
BASE_TURNS = 2500      # the first turns by doc_id are the base corpus
DELTA_TURNS = 300      # turns in the update_index batch (the next ones)
N_DELETES = 20
SEG_CLASSES = ("hot", "rare", "multi", "and")
N_SEG_QUERIES = 8      # seg queries, classes in SEG_CLASSES order
N_POST_CHECKS = 1      # seg queries re-run and checked after compaction
MAX_TURNS = 4096       # with_doc_id: doc_id = serial * 4096 + turn_idx


def _ids(df, lo: int, hi: int):
    """Turns with lo < doc_id <= hi."""
    from pyspark.sql import functions as F

    return df.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi))


def run(ctx):
    from macrobase_spark.index.bm25 import bm25_oracle, bm25_topk
    from macrobase_spark.index.build import (compact_index, delete_docs,
                                             update_index)

    spark = ctx.spark
    df, _, gen_times = make_corpus(ctx, N_CONVS)
    # fixed sizes in turns, so turns/s compares across seeds: cut points
    # in doc_id order (a conversation may straddle the two parts)
    ids = sorted(r["doc_id"] for r in df.select("doc_id").collect())
    if len(ids) < BASE_TURNS + DELTA_TURNS:
        raise ValueError(f"{N_CONVS} conversations gave {len(ids)} turns, "
                         f"fewer than the {BASE_TURNS + DELTA_TURNS} the workload uses")
    base_end, delta_end = ids[BASE_TURNS - 1], ids[BASE_TURNS + DELTA_TURNS - 1]
    base = _ids(df, -1, base_end)
    delta = _ids(df, base_end, delta_end)
    victims = random.Random(ctx.seed).sample(ids[:BASE_TURNS], N_DELETES)
    mix = QueryMix(ctx.seed, delta_end // MAX_TURNS)  # indexed conversations
    seg_queries = [(SEG_CLASSES[i % len(SEG_CLASSES)],)
                   + mix.topk(SEG_CLASSES[i % len(SEG_CLASSES)])
                   for i in range(N_SEG_QUERIES)]

    # --- timed: one LSM cycle, closed loop
    idx = ctx.ws.path("index")
    sp_build = build(ctx, base, idx, BASE_TURNS, timed=True)
    if sp_build is None:
        raise RuntimeError("build_index failed: " + ctx.errors[-1])
    _, sp_update = ctx.call("update_index", lambda: update_index(delta, idx))
    _, sp_delete = ctx.call("delete_docs", lambda: delete_docs(spark, idx, victims))
    seg = []
    for cls, q, kw in seg_queries:
        rows, sp = query(ctx, "bm25.topk", lambda q=q, kw=kw: bm25_topk(
            spark, idx, q, k=10, **kw), cls=cls)
        seg.append((sp, cls, q, kw, rows))
    _, sp_compact = ctx.call("compact_index", lambda: compact_index(spark, idx))
    cycle = [sp_build, sp_update, sp_delete, *(s for s, *_ in seg), sp_compact]
    cycle = [s for s in cycle if s is not None]

    # --- correctness, outside the timed region. Before compaction the
    # corpus statistics still count tombstoned docs (docFreq includes
    # deleted) while the deleted docs are never returned; compaction purges
    # them and recomputes the statistics over the live corpus.
    docs = collect_docs(_ids(df, -1, delta_end))
    dead = set(victims)
    live = [(d, t) for d, t in docs if d not in dead]
    live_ids = {d for d, _ in live}
    for i, (sp, _, q, kw, rows) in enumerate(seg):
        if rows is None:
            continue
        got = [(r["doc_id"], r["score"]) for r in rows]
        ctx.check(same_ranking(got, bm25_oracle(docs, q, k=10, keep_ids=live_ids, **kw)),
                  f"segmented bm25_topk {q!r} {kw} != oracle")
        if i < N_POST_CHECKS:
            after = [(r["doc_id"], r["score"]) for r in
                     bm25_topk(spark, idx, q, k=10, **kw).collect()]
            ctx.check(same_ranking(after, bm25_oracle(live, q, k=10, **kw)),
                      f"compacted bm25_topk {q!r} {kw} != oracle")

    topk_calls = [(s, cls) for s, cls, *_ in seg if s is not None]
    e2e = e2e_metrics(ctx.start_s + median(gen_times),
                      [sum(s.seconds for s in cycle)],
                      [s for s, _ in topk_calls], sp_build)
    if not ctx.trace:
        return e2e, {}, {}

    layers = shared_layers(ctx, gen_times, sp_build, base, delta, idx,
                           topk_calls, [cycle])
    _, q, kw = seg_queries[0]
    layers.update(trace_overhead(
        ctx, lambda: bm25_topk(spark, idx, q, k=10, **kw).collect()))
    return e2e, layers, _own_layers(spark, idx, sp_update, sp_delete, sp_compact)


def _own_layers(spark, idx, sp_update, sp_delete, sp_compact) -> dict:
    """The write-path layers only this workload runs: update, delete and
    compaction, with their throughput and wall-time figures."""
    from macrobase_spark.index.build import read_index

    out = {
        "update_turns_per_s": metric(DELTA_TURNS / sp_update.seconds, "1/s"),
        "compact_s": metric(sp_compact.seconds, "s"),
        "update.call_s": metric(sp_update.seconds, "s"),
    }
    for k, unit in (("jobs", "count"), ("shuffle_write_bytes", "bytes"),
                    ("executor_run_s", "s")):
        out[f"update.{k}"] = metric(sp_update.spark[k], unit)
    out["delete.call_s"] = metric(sp_delete.seconds, "s")
    c = sp_compact.spark
    out["compact.call_s"] = metric(sp_compact.seconds, "s")
    for k, unit in (("jobs", "count"), ("tasks", "count"),
                    ("shuffle_write_bytes", "bytes"), ("executor_run_s", "s")):
        out[f"compact.{k}"] = metric(c[k], unit)
    out["compact.terms_merged"] = metric(read_index(spark, idx)[0].count(), "count")
    return out
