"""Inputs, checks and summaries the workloads share: the seeded transcript
corpus, the seeded query mix, oracle comparison, the index build, the
end-to-end metrics every workload reports, and the per-layer summaries of
the traced run."""

from __future__ import annotations

import random
import time

from harness import cores, dir_bytes, median, metric

HOT = ["the", "call", "tool", "run"]
ROLES = ["user", "assistant", "system", "tool"]
TOPK_CLASSES = ("hot", "rare", "multi", "and", "wand", "filter", "prefix")
# build_index options of both workloads; hot_df_threshold scales with the
# corpus (hot_threshold) so the salted hot-term path is always exercised
BUILD_ARGS = dict(num_buckets=8, hot_sample_frac=0.25, positions=True,
                  resume=False)
SETUP_REPS = 3    # corpus generations per run; setup_s counts their median
TRACE_PAIRS = 8   # plain/traced pairs behind trace.overhead_frac
READ_INDEX_PAIRS = 5  # cold/warm read_index pairs


def hot_threshold(turns: int) -> int:
    return max(50, turns // 20)


INDEX_PARTS = ("postings", "positions", "docs.parquet")


def build(ctx, df, idx: str, turns: int, timed: bool):
    """`build_index(positions=True)` of `turns` turns into `idx`: a timed,
    counted call (ingest) or a set-up step (serve). Returns the span; its
    attrs hold `turns` and the on-disk `index_bytes`, and in a traced run
    also the build's report and max fan-in (one extra job, after the
    span)."""
    from macrobase_spark.index.build import build_index

    args = dict(BUILD_ARGS, hot_df_threshold=hot_threshold(turns))
    if timed:
        report, sp = ctx.call("build_index", lambda: build_index(df, idx, **args))
        if sp is None:
            return None
    else:
        with ctx.rec.span("build_index", spark=True) as sp:
            report = build_index(df, idx, **args)
    sp.attrs["turns"] = turns
    sp.attrs["index_bytes"] = sum(dir_bytes(f"{idx}/{d}") for d in INDEX_PARTS)
    if ctx.trace:
        from pyspark.sql import functions as F

        from macrobase_spark.index.build import read_index

        sp.attrs["report"] = {k: report[k] for k in ("phases", "postings", "bytes")}
        sp.attrs["max_fan_in"] = read_index(ctx.spark, idx)[0].agg(
            F.max("fan_in")).first()[0]
    return sp


def e2e_metrics(setup_s: float, cycles: list[float], topk_spans, sp_build) -> dict:
    """The end-to-end metrics every workload reports (BENCHMARK.json
    `end_to_end`): set-up time, the median wall time of one cycle of the
    workload's timed calls, the median `bm25_topk` latency, and the
    positional build's throughput and on-disk size."""
    turns = sp_build.attrs["turns"]
    return {
        "setup_s": metric(setup_s, "s"),
        "cycle_s": metric(median(cycles), "s"),
        "topk_p50_ms": metric(ms([s.seconds for s in topk_spans]), "ms"),
        "build_turns_per_s": metric(turns / sp_build.seconds, "1/s"),
        "index_bytes_per_turn": metric(sp_build.attrs["index_bytes"] / turns,
                                       "bytes/turn"),
    }


# ------------------------------------------------------------------ corpus

def make_corpus(ctx, n_convs: int):
    """The corpus set-up step, done SETUP_REPS times into fresh paths:
    seeded transcripts (synth_transcripts + with_doc_id) written to parquet
    and read back. Returns (DataFrame, turns, seconds per repetition)."""
    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id

    times = []
    for i in range(SETUP_REPS):
        path = ctx.ws.path(f"corpus-{i}")
        with ctx.rec.span("fixtures.generate") as sp:
            with_doc_id(synth_transcripts(
                ctx.spark, n_convs=n_convs, seed=ctx.seed,
                partitions=4)).write.parquet(path)
            df = ctx.spark.read.parquet(path)
            turns = df.count()
        times.append(sp.seconds)
    return df, turns, times


def collect_docs(df) -> list[tuple[int, str]]:
    return [(r["doc_id"], r["text"]) for r in df.select("doc_id", "text").collect()]


# ------------------------------------------------------------- query mix

class QueryMix:
    """Seeded bm25 queries by class over a corpus of `n_convs`
    conversations (vocabulary tok0000.. with Zipf frequencies, one
    rare<serial> term per conversation, four hot terms)."""

    def __init__(self, seed: int, n_convs: int):
        self.rng = random.Random(seed)
        self.n_convs = n_convs

    def _tok(self, lo: int, hi: int) -> str:
        return f"tok{self.rng.randrange(lo, hi):04d}"

    def topk(self, cls: str) -> tuple[str, dict]:
        r = self.rng
        if cls == "hot":
            return r.choice(HOT), {}
        if cls == "rare":
            return f"rare{r.randrange(self.n_convs)}", {}
        if cls == "multi":
            return " ".join(self._tok(10, 300) for _ in range(r.randint(2, 4))), {}
        if cls == "and":
            return f"{self._tok(0, 20)} {self._tok(0, 20)}", {"mode": "and"}
        if cls == "wand":
            return f"{r.choice(HOT)} {self._tok(0, 50)} {self._tok(0, 50)}", {"wand": True}
        if cls == "filter":
            return (f"{self._tok(0, 100)} {self._tok(0, 100)}",
                    {"doc_filter": f"role = '{r.choice(ROLES)}'"})
        if cls == "prefix":
            return f"tok0{r.randrange(1, 10)}{r.randrange(10)}*", {}
        raise ValueError(cls)

    def phrase(self) -> str:
        return f"{self.rng.choice(HOT)} {self._tok(0, 20)}"

    def batch(self, size: int) -> list[str]:
        return [self.topk(("hot", "rare", "multi")[i % 3])[0] for i in range(size)]


def oracle_kwargs(kw: dict, roles: dict[int, str]) -> dict:
    """bm25_topk options → the matching bm25_oracle options."""
    out = {}
    if kw.get("mode"):
        out["mode"] = kw["mode"]
    if kw.get("doc_filter"):
        role = kw["doc_filter"].split("'")[1]
        out["keep_ids"] = {d for d, r in roles.items() if r == role}
    return out


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Identical doc order and bitwise-identical scores."""
    return ([d for d, _ in got] == [d for d, _ in want]
            and all(float(a).hex() == float(b).hex()
                    for (_, a), (_, b) in zip(got, want)))


# ------------------------------------------------------------ query calls

def query(ctx, name: str, make_df, **attrs):
    """One query call: `make_df()` returns the lazy DataFrame (plan: the
    driver's parse/expand and any eager jobs), `collect()` executes it.
    Returns (rows, span), or (None, None) if the call failed; the span
    records plan_s / exec_s / results."""
    def call():
        t0 = time.perf_counter()
        df = make_df()
        t1 = time.perf_counter()
        rows = df.collect()
        return rows, t1 - t0, time.perf_counter() - t1

    out, sp = ctx.call(name, call, **attrs)
    if out is None:
        return None, None
    rows, plan_s, exec_s = out
    sp.attrs.update(plan_s=plan_s, exec_s=exec_s, results=len(rows))
    return rows, sp


def ms(xs) -> float:
    return median(xs) * 1000.0


def query_layers(prefix: str, spans, per: str = "query") -> dict:
    """Per-layer summary of traced query spans: plan/exec split, Spark work
    per call, the driver residual outside every stage, and the pruning
    ratio."""
    out = {
        f"{prefix}.plan_ms": metric(ms([s.attrs["plan_s"] for s in spans]), "ms"),
        f"{prefix}.exec_ms": metric(ms([s.attrs["exec_s"] for s in spans]), "ms"),
        f"{prefix}.jobs_per_{per}": metric(median([s.spark["jobs"] for s in spans]), "count"),
    }
    if per == "query":
        results = sum(s.attrs["results"] for s in spans)
        out.update({
            f"{prefix}.stages_per_query": metric(
                median([s.spark["stages"] for s in spans]), "count"),
            f"{prefix}.shuffle_bytes_per_query": metric(
                median([s.spark["shuffle_write_bytes"] for s in spans]), "bytes"),
            f"{prefix}.executor_run_ms_per_query": metric(
                ms([s.spark["executor_run_s"] for s in spans]), "ms"),
            f"{prefix}.unattributed_ms": metric(
                ms([s.seconds - s.spark["stage_covered_s"] for s in spans]), "ms"),
            f"{prefix}.rows_read_per_result": metric(
                sum(s.spark["input_records"] for s in spans) / max(1, results),
                "ratio"),
        })
    return out


def trace_overhead(ctx, fn) -> dict:
    """trace.overhead_frac: how much tracing inflates an end-to-end number.
    The same call runs TRACE_PAIRS times plain and TRACE_PAIRS times as a
    traced call (job group set, listener bus drained, status store read),
    alternating which goes first. An end-to-end metric reads a span's own
    interval, so the traced figure is that interval and the plain one a bare
    perf_counter pair. Reported: the median of the per-pair ratios, minus 1;
    pairing cancels the drift of a shared host across the probe."""
    ratios = []
    for i in range(TRACE_PAIRS):
        plain = traced = None
        for mode in ((0, 1) if i % 2 == 0 else (1, 0)):
            if mode:
                with ctx.rec.span("trace.overhead_probe", spark=True) as sp:
                    fn()
                traced = sp.seconds
            else:
                t0 = time.perf_counter()
                fn()
                plain = time.perf_counter() - t0
        ratios.append(traced / plain)
    return {"trace.overhead_frac": metric(median(ratios) - 1.0, "ratio")}


# ------------------------------------------------- shared per-layer metrics

def shared_layers(ctx, gen_times, sp_build, tok_base, tok_delta, idx: str,
                  topk_calls, cycles_spans) -> dict:
    """The per-layer metrics every workload reports (BENCHMARK.json
    `per_layer`). `topk_calls` are (span, class) pairs; `cycles_spans`
    holds one list of call spans per timed cycle. Runs the JVM-free codec
    tier, the tokenize kernels into a noop sink and the `read_index`
    probe."""
    from kernels import run_codec

    out = {
        "session.start_s": metric(ctx.start_s, "s"),
        "fixtures.generate_s": metric(median(gen_times), "s"),
    }
    for k, v in run_codec(ctx.rec, ctx.seed).items():
        out[k] = metric(v, "bytes" if k == "codec.bytes_per_posting" else "Mpostings/s")
    out.update(tokenize_layers(ctx, tok_base, tok_delta, idx))
    out.update(build_layers(sp_build))
    out.update(read_index_layers(ctx, idx))
    for cls in sorted({c for _, c in topk_calls}):
        out[f"bm25.topk.{cls}.p50_ms"] = metric(
            ms([sp.seconds for sp, c in topk_calls if c == cls]), "ms")
    out.update(query_layers("bm25.topk", [sp for sp, _ in topk_calls]))
    for k, unit in (("jobs", "count"), ("executor_run_s", "s"),
                    ("shuffle_write_bytes", "bytes")):
        out[f"cycle.{k}"] = metric(median(
            [sum(sp.spark[k] for sp in spans) for spans in cycles_spans]), unit)
    return out


def tokenize_layers(ctx, base, delta, idx: str) -> dict:
    """The tokenize kernels alone: each written to a noop sink, rows out
    counted by an Observation. The build kernels run over `base` with the
    index's hot terms, `exploded_postings` (the update path) over `delta`."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from macrobase_spark.index.build import read_index
    from macrobase_spark.index.tokenize import (exploded_postings,
                                                partial_positional_postings,
                                                partial_postings,
                                                turn_features)

    hot = set(read_index(ctx.spark, idx)[2].get("hot_terms", []))
    out = {}
    for name, frame in (
            ("turn_features", lambda: turn_features(base)),
            ("partial_postings", lambda: partial_postings(base, hot_terms=hot)),
            ("partial_positional_postings",
             lambda: partial_positional_postings(base, hot_terms=hot)),
            ("exploded_postings", lambda: exploded_postings(delta))):
        obs = Observation(name)
        with ctx.rec.span(f"tokenize.{name}", spark=True) as sp:
            frame().observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                "noop").mode("overwrite").save()
        out[f"tokenize.{name}_s"] = metric(sp.seconds, "s")
        out[f"tokenize.{name}.rows_out"] = metric(obs.get["rows"], "count")
    return out


def build_layers(sp) -> dict:
    """`build_index` from its traced span: wall time, each phase the build
    reports, Spark work, core utilization and the index's shape."""
    b, report = sp.spark, sp.attrs["report"]
    out = {"build.call_s": metric(sp.seconds, "s")}
    for k, s in report["phases"].items():
        out[f"build.phase.{k}_s"] = metric(s, "s")
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("shuffle_write_bytes", "bytes"),
                    ("shuffle_write_records", "count"), ("spill_bytes", "bytes"),
                    ("executor_run_s", "s")):
        out[f"build.{k}"] = metric(b[k], unit)
    out["build.core_utilization"] = metric(
        b["executor_run_s"] / (sp.seconds * cores()), "ratio")
    out["build.postings"] = metric(report["postings"], "count")
    out["build.blob_bytes"] = metric(report["bytes"], "bytes")
    out["build.max_fan_in"] = metric(sp.attrs["max_fan_in"], "count")
    return out


def read_index_layers(ctx, idx: str) -> dict:
    """`read_index` with its cache invalidated (cold) and straight after
    (warm), median of READ_INDEX_PAIRS pairs."""
    from macrobase_spark.index.build import invalidate_index_cache, read_index

    cold, warm = [], []
    for _ in range(READ_INDEX_PAIRS):
        invalidate_index_cache(idx)
        with ctx.rec.span("read_index.cold") as sp:
            read_index(ctx.spark, idx)
        cold.append(sp.seconds)
        with ctx.rec.span("read_index.warm") as sp:
            read_index(ctx.spark, idx)
        warm.append(sp.seconds)
    return {"read_index.cold_ms": metric(ms(cold), "ms"),
            "read_index.warm_ms": metric(ms(warm), "ms")}
