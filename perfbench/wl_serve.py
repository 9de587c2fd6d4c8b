"""serve: the read side over an index built in set-up — a seeded BM25
query mix and the MacroBase explanation path.

Timed: a closed loop (one client, each call after the previous returns) of
whole rounds that fit in the measuring window, at least one. A round (the
cycle) is TOPK_PER_CLASS passes of one `bm25_topk` per query class in
seeded order, then one classify → DIFF call (see explain.py). The build layers run only
in set-up, so work moved from queries into the build shows in setup_s.

The traced run adds, after the loop, `bm25_phrase_topk` and
`bm25_topk_batch` calls and one pass over the five `__spark_entry__`
gates, for their per-layer figures and their correctness checks.
"""

from __future__ import annotations

import time

from common import (TOPK_CLASSES, QueryMix, build, collect_docs, e2e_metrics,
                    make_corpus, ms, oracle_kwargs, query, query_layers,
                    same_ranking, shared_layers, trace_overhead)
from explain import Explain
from harness import median, metric

N_CONVS = 1200
TOPK_PER_CLASS = 2
MIN_ROUNDS = 1
# traced run only
PHRASES = 3
BATCHES = 2
BATCH_SIZE = 16


def run(ctx):
    from macrobase_spark.index.bm25 import (bm25_oracle, bm25_topk,
                                            phrase_oracle)

    spark, rec = ctx.spark, ctx.rec
    df, turns, gen_times = make_corpus(ctx, N_CONVS)
    idx = ctx.ws.path("index")
    sp_build = build(ctx, df, idx, turns, timed=False)
    ex = Explain(ctx, ctx.ws.path("sf"))
    ex.open(idx)

    mix = QueryMix(ctx.seed, N_CONVS)

    def topk(q, kw):
        return bm25_topk(spark, idx, q, k=10, **kw)

    with rec.span("warmup") as sp_warm:
        topk(*QueryMix(ctx.seed + 1, N_CONVS).topk("wand")).collect()
        ex.warm()

    # rounds while another whole one is expected to fit in the window, so
    # the round count does not depend on where the window ends
    topk_calls, rounds = [], []
    t_end = time.perf_counter() + ctx.seconds
    last_s = 0.0
    while len(rounds) < MIN_ROUNDS or time.perf_counter() + last_s <= t_end:
        t0 = time.perf_counter()
        spans = []
        for _ in range(TOPK_PER_CLASS):
            order = list(TOPK_CLASSES)
            mix.rng.shuffle(order)
            for cls in order:
                q, kw = mix.topk(cls)
                rows, sp = query(ctx, "bm25.topk", lambda: topk(q, kw), cls=cls)
                if rows is not None:
                    topk_calls.append((sp, cls, q, kw, rows))
                    spans.append(sp)
        sp = ex.call()
        if sp is not None:
            spans.append(sp)
        rounds.append(spans)
        last_s = time.perf_counter() - t0
    if ctx.trace:
        phrase_calls, batch_calls = _phrase_batch_gates(ctx, idx, ex)

    # --- correctness, outside the timed region: a few seeded calls of the
    # loop against the exact single-threaded oracles
    docs = collect_docs(df)
    roles = {r["doc_id"]: r["role"] for r in df.select("doc_id", "role").collect()}
    for sp, cls, q, kw, rows in _pick_per_class(topk_calls, ctx.seed, 3):
        want = bm25_oracle(docs, q, k=10, **oracle_kwargs(kw, roles))
        got = [(r["doc_id"], r["score"]) for r in rows]
        ctx.check(same_ranking(got, want), f"bm25_topk {cls} {q!r} {kw} != oracle")
    ex.check()

    e2e = e2e_metrics(ctx.start_s + median(gen_times) + sp_build.seconds
                      + sp_warm.seconds,
                      [sum(s.seconds for s in spans) for spans in rounds],
                      [c[0] for c in topk_calls], sp_build)
    if not ctx.trace:
        return e2e, {}, {}

    for _, ph, rows in phrase_calls[:1]:
        got = [(r["doc_id"], r["score"]) for r in rows]
        ctx.check(same_ranking(got, phrase_oracle(docs, ph, k=10)),
                  f"bm25_phrase_topk {ph!r} != oracle")
    for _, qs, rows in batch_calls[:1]:
        for qid in sorted(qs)[:2]:
            got = sorted((r["rank"], r["doc_id"], r["score"])
                         for r in rows if r["query_id"] == qid)
            ctx.check(same_ranking([(d, s) for _, d, s in got],
                                   bm25_oracle(docs, qs[qid], k=10)),
                      f"bm25_topk_batch {qs[qid]!r} != oracle")
    layers = shared_layers(ctx, gen_times, sp_build, df, df, idx,
                           [(c[0], c[1]) for c in topk_calls], rounds)
    q, kw = QueryMix(ctx.seed + 2, N_CONVS).topk("multi")
    layers.update(trace_overhead(ctx, lambda: topk(q, kw).collect()))
    own = {
        "phrase_p50_ms": metric(ms([c[0].seconds for c in phrase_calls]), "ms"),
        "batch_qps": metric(median([BATCH_SIZE / c[0].seconds
                                    for c in batch_calls]), "1/s"),
        **query_layers("bm25.phrase", [c[0] for c in phrase_calls]),
        **query_layers("bm25.batch", [c[0] for c in batch_calls], per="call"),
        **ex.layers(),
    }
    return e2e, layers, own


def _phrase_batch_gates(ctx, idx, ex):
    """Traced run only, after the timed loop: PHRASES phrase calls and
    BATCHES batch calls after one warm-up call of each, then one pass over
    the five gates (their first run in the session). Returns the phrase and
    batch calls as (span, query, rows)."""
    from macrobase_spark.index.bm25 import bm25_phrase_topk, bm25_topk_batch

    spark = ctx.spark
    mix = QueryMix(ctx.seed + 3, N_CONVS)
    with ctx.rec.span("warmup.phrase_batch"):
        bm25_phrase_topk(spark, idx, mix.phrase(), k=10).collect()
        bm25_topk_batch(spark, idx, mix.batch(BATCH_SIZE), k=10).collect()
    phrase_calls, batch_calls = [], []
    for _ in range(PHRASES):
        ph = mix.phrase()
        rows, sp = query(ctx, "bm25.phrase",
                         lambda: bm25_phrase_topk(spark, idx, ph, k=10))
        if rows is not None:
            phrase_calls.append((sp, ph, rows))
    for _ in range(BATCHES):
        qs = {f"q{i}": q for i, q in enumerate(mix.batch(BATCH_SIZE))}
        rows, sp = query(ctx, "bm25.batch",
                         lambda: bm25_topk_batch(spark, idx, qs, k=10))
        if rows is not None:
            batch_calls.append((sp, qs, rows))
    Explain.make_tables(ctx, ex.sf_dir)
    ex.gate_pass()
    return phrase_calls, batch_calls


def _pick_per_class(calls, seed: int, n: int):
    """The first call of `n` classes, rotating which classes by seed."""
    first = {}
    for c in calls:
        first.setdefault(c[1], c)
    classes = [c for c in TOPK_CLASSES if c in first]
    start = seed % len(classes)
    return [first[c] for c in (classes[start:] + classes[:start])[:n]]
