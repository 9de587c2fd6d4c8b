"""The MacroBase path of the serve workload: the transcript classify → DIFF
call and the `__spark_entry__` gates.

- `Explain.call`: `classify_percentile` on the index docs table's
  `anomaly` column, then `diff` over (role, tool). The generator plants
  degenerate turns three times as often under tool='browser', so that is
  the top explanation.
- `Explain.gate_pass`: one timed pass over the `__spark_entry__` gates q08,
  q13, q14, q18 and q37 (`__spark_entry__.queries()`) on seeded star-schema
  tables, their first run in the session.
- `Explain.check`: each gate hash-identical to its DuckDB `oracle_sql()`,
  and the DIFF's top row the planted explanation.
"""

from __future__ import annotations

import os

from common import ms
from harness import median, metric
from tables import write_tables

GATES = ("q08_classifiers", "q13_diff_ratios", "q14_diff_join",
         "q18_bm25_relational", "q37_transcript_anomaly_diff")
GATE_TABLES = ("lineitem", "orders", "part", "events", "documents")


class Explain:
    def __init__(self, ctx, sf_dir: str):
        self.ctx = ctx
        self.sf_dir = sf_dir
        self.docs = None
        self.calls = []  # (span, rows, classify span, diff span)
        self.gates = {}  # g -> ((columns, rows), span) of its timed call

    @staticmethod
    def make_tables(ctx, sf_dir: str) -> None:
        with ctx.rec.span("fixtures.tables"):
            write_tables(sf_dir, ctx.seed)

    def open(self, idx: str) -> None:
        from macrobase_spark.index.build import read_index

        self.docs = read_index(self.ctx.spark, idx)[1].fillna("none", ["tool"])

    def _explain(self):
        from macrobase_spark.operators import classify_percentile, diff

        rec = self.ctx.rec
        with rec.span("classify.percentile", spark=True) as sp_c:
            labeled = classify_percentile(self.docs, "anomaly", percentile=3.0,
                                          include_low=False)
        with rec.span("diff.call", spark=True) as sp_d:
            rows = diff(labeled, ["role", "tool"], min_support=0.05,
                        min_ratio=1.2, max_order=2).collect()
        return rows, sp_c, sp_d

    def _gate(self, g: str):
        import __spark_entry__ as entry

        res = entry.queries()[g](self.ctx.spark, self.sf_dir)
        return res.columns, [tuple(r) for r in res.collect()]

    def warm(self) -> None:
        self._explain()

    def call(self):
        """One timed classify → DIFF call; returns its span, or None if it
        failed."""
        out, sp = self.ctx.call("explain", self._explain)
        if out is not None:
            self.calls.append((sp,) + out)
        return sp

    def gate_pass(self) -> None:
        for g in GATES:
            self.gates[g] = self.ctx.call(f"gate.{g[:3]}", lambda g=g: self._gate(g))

    def check(self) -> None:
        """Outside the timed region."""
        import duckdb

        import __spark_entry__ as entry
        from scripts.check_oracles import value_hash

        ctx = self.ctx
        for _, rows, *_ in self.calls[:1]:
            ctx.check(bool(rows) and rows[0]["tool"] == "browser",
                      f"transcript DIFF top row {rows[:1]} is not the planted "
                      "tool='browser' explanation")
        if not self.gates:
            return
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in GATE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, t + '.parquet')}'")
            for g, (out, _) in self.gates.items():
                if out is None:
                    continue
                scols, srows = out
                res = con.execute(oracles[g])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                ctx.check(sorted(scols) == sorted(dcols)
                          and len(srows) == len(drows)
                          and value_hash(srows, scols) == value_hash(drows, dcols),
                          f"{g}: {len(srows)} Spark rows vs {len(drows)} DuckDB "
                          "rows, or their value hashes differ")
        finally:
            con.close()

    def layers(self) -> dict:
        """Traced run, after a pass over all five gates."""
        calls = self.calls
        out = {
            "explain_p50_ms": metric(ms([c[0].seconds for c in calls]), "ms"),
            "gates_pass_s": metric(sum(sp.seconds for _, sp in self.gates.values()
                                       if sp is not None), "s"),
            "classify.percentile_ms": metric(ms([c[2].seconds for c in calls]), "ms"),
            "diff.call_ms": metric(ms([c[3].seconds for c in calls]), "ms"),
            "diff.jobs": metric(median([c[3].spark["jobs"] for c in calls]), "count"),
            "diff.shuffle_write_bytes": metric(
                median([c[3].spark["shuffle_write_bytes"] for c in calls]), "bytes"),
        }
        for g, (_, sp) in self.gates.items():
            if sp is not None:
                out[f"gate.{g[:3]}_s"] = metric(sp.seconds, "s")
                out[f"gate.{g[:3]}.jobs"] = metric(sp.spark["jobs"], "count")
        return out
