"""perfbench — end-to-end and per-layer benchmark of macrobase_spark.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \\
        --seconds S --trace {0,1}

Runs one workload on inputs generated from the seed, checks the program's
outputs against the repository's oracles outside the timed region, and
prints one JSON object as the last line of stdout:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

Every workload reports the same metrics, the ones BENCHMARK.json names:
--trace 0 its `end_to_end` list; --trace 1 runs the workload with per-call
Spark accounting added to its spans and reports its `per_layer` list. The
traced run also writes the spans to `perfbench/out/spans-<workload>-<seed>.jsonl`
and, to `perfbench/out/layers-<workload>-<seed>.json`, those metrics plus
the ones of the layers only that workload runs. A failed correctness check
exits 1 after printing the result; an error before a result exists (a
missing metric among them) exits 2 and prints none.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import harness  # noqa: E402

WORKLOADS = ("ingest", "serve")


def manifest_metrics(trace: bool) -> list[str]:
    """The metric names BENCHMARK.json lists for this kind of run."""
    with open(harness.ROOT / "BENCHMARK.json") as f:
        manifest = json.load(f)
    return [m["name"] for m in manifest["per_layer" if trace else "end_to_end"]]


class Context:
    """What a workload receives: the session, its workspace, the span
    recorder, the seed and the measuring window."""

    def __init__(self, spark, ws, rec, seed, seconds, trace, start_s):
        self.spark = spark
        self.ws = ws
        self.rec = rec
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.start_s = start_s
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, name, fn, **attrs):
        """One closed-loop call into the program, counted as attempted and
        timed in a span. Returns (result, span), or (None, None) if the
        call raised; that counts as failed and fails the run's checks."""
        self.attempted += 1
        try:
            with self.rec.span(name, spark=True, **attrs) as sp:
                out = fn()
        except Exception:
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None, None
        return out, sp

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(f"check failed: {what}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import importlib

    names = manifest_metrics(bool(args.trace))
    module = importlib.import_module(f"wl_{args.workload}")
    ws = harness.Workspace(args.workload)
    spark = None
    try:
        spark, start_s = harness.start_spark(ws)
        rec = harness.Recorder(spark, f"{args.workload}-{args.seed}-{int(time.time())}",
                               trace=bool(args.trace))
        ctx = Context(spark, ws, rec, args.seed, args.seconds, bool(args.trace),
                      start_s)
        e2e, layers, own = module.run(ctx)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        ws.close()

    for e in ctx.errors:
        print(e, file=sys.stderr)
    correct = not ctx.errors
    measured = layers if args.trace else e2e
    missing = [n for n in names if n not in measured]
    if missing:
        raise KeyError(f"{args.workload} did not measure {missing}")
    metrics = {n: measured[n] for n in names}
    if args.trace:
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        tag = f"{args.workload}-{args.seed}"
        rec.dump(os.path.join(out_dir, f"spans-{tag}.jsonl"))
        with open(os.path.join(out_dir, f"layers-{tag}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "cores": harness.cores(),
                       "metrics": {**measured, **own}}, f,
                      indent=1, sort_keys=True)
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(2)
