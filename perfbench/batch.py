"""Batch workloads: registered queries built, planned and fully materialized.

One pass runs every query of the workload once, in an order permuted by the
seed: ``spec.fn(spark, data_dir)`` builds the DataFrame (catalog reads and
any eager sub-jobs happen here) and ``df.write.format("noop")`` plans and
executes it to the last row without collecting it. A cold warm-up pass
belongs to set-up (it pays JIT, codegen and the pipeline memo builds). The
timed passes follow it: as many whole passes as fit in the run's seconds,
at least one. After them, each warm-up DataFrame is compared with the
registry's DuckDB oracle over the same files by the repository's oracle
harness (``tests/oracle_harness.py``), timed as verification, outside every
metric.
"""

from __future__ import annotations

import math
import random
import statistics
import time

from tests.oracle_harness import compare, duckdb_connection

#: TPC-H queries: catalog- and planner-heavy multi-way joins, no Python
#: boundary and no memo. A warm pass over all 22 takes ~17 s on 4 cores,
#: more than a run can afford; these six keep the widest joins (q2, q5,
#: q8, q9 and q21 read 5-8 tables each) and q1, whose full
#: materialization costs 5.6x its count().
RELATIONAL = (
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q9_product_profit",
    "q21_waiting_suppliers",
)

#: recipe batch twins and LLM-data/graph operators: memo-backed
#: intermediates (windowed_5m, minhash/LSH, cluster and pagerank edges),
#: mapInPandas and pandas-cogroup Python boundaries, and eager sub-jobs
#: inside build (pagerank iterations, the dedup checkpoint loop).
PIPELINE = (
    "pipeline_alerts_end_to_end",
    "cogroup_asof_enrich",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "supplier_pagerank",
)


def _geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class BatchRun:
    def __init__(self, ctx, names: tuple[str, ...]) -> None:
        self.ctx = ctx
        self.names = names
        self.failed: dict[str, str] = {}
        self.frames: dict = {}  # each query's warm-up DataFrame, checked at the end
        self.phase = "warm"

    def _fn(self, name: str):
        fn = self.ctx.specs[name].fn
        if self.ctx.fault == "batch_result" and name == self.names[0]:
            return lambda spark, d: (lambda df: df.unionAll(df.limit(1)))(fn(spark, d))
        return fn

    def _one(self, name: str) -> float:
        """Build and fully materialize one query; return its wall seconds."""
        ctx, tr = self.ctx, self.ctx.tracer
        sc = ctx.spark.sparkContext
        t0 = time.perf_counter()
        with tr.span("query", query=name, phase=self.phase):
            if tr.enabled:
                sc.setJobGroup(f"pb:{self.phase}:build:{name}", name)
            with tr.span("build", query=name, phase=self.phase):
                df = self._fn(name)(ctx.spark, ctx.data_dir)
            if tr.enabled:
                with tr.span("plan", query=name, phase=self.phase):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = qe.tracker().phases()
                    for ph in ("analysis", "optimization", "planning"):
                        got = phases.get(ph)
                        if got.isDefined():
                            tr.add(f"plan.{ph}_ms@{self.phase}", got.get().durationMs())
                sc.setJobGroup(f"pb:{self.phase}:exec:{name}", name)
            with tr.span("exec", query=name, phase=self.phase):
                df.write.format("noop").mode("overwrite").save()
        self.frames.setdefault(name, df)
        return time.perf_counter() - t0

    def _pass(self, order: list[str]) -> dict[str, float]:
        out = {}
        for name in order:
            if name in self.failed:
                continue
            try:
                out[name] = self._one(name)
            except Exception as exc:  # a failing query is a failed operation
                self.failed[name] = f"{type(exc).__name__}: {exc}"[:300]
        return out

    def verify(self) -> None:
        """Compare each warm-up result with its oracle: equal rows and
        column kinds, and at least one row. A query without an oracle must
        return rows."""
        con = duckdb_connection(self.ctx.data_dir)
        try:
            for name, df in self.frames.items():
                sql = self.ctx.specs[name].oracle
                try:
                    if sql is None:
                        problems = [] if df.limit(1).count() else [f"{name}: no oracle and 0 rows"]
                    else:
                        problems = compare(df, con, sql, name, require_rows=True)
                except Exception as exc:
                    problems = [f"{type(exc).__name__}: {exc}"]
                if problems:
                    self.failed[name] = "; ".join(problems)[:600]
        finally:
            con.close()

    def run(self, seconds: float, setup_t0: float) -> dict:
        ctx = self.ctx
        rng = random.Random(ctx.seed)
        order = list(self.names)
        rng.shuffle(order)
        self.phase = "warm"
        warm_s = self._pass(order)
        setup_s = time.perf_counter() - setup_t0
        self.phase = "timed"
        sweeps: list[float] = []
        per_query: dict[str, list[float]] = {n: [] for n in self.names}
        from flink_cookbook_spark.pipeline import _cache

        memo_entries = len(_cache._CACHE)
        # as many whole passes as fit in the run's seconds, at least one
        t_end = time.perf_counter() + seconds
        while not sweeps or time.perf_counter() + sweeps[-1] <= t_end:
            rng.shuffle(order)
            t0 = time.perf_counter()
            got = self._pass(order)
            sweeps.append(time.perf_counter() - t0)
            for n, s in got.items():
                per_query[n].append(s)
        if len(_cache._CACHE) != memo_entries:
            # a memo built in a timed pass means the warm-up did not warm it
            self.failed["memo"] = (
                f"memo grew from {memo_entries} to {len(_cache._CACHE)} entries in the timed passes"
            )
        ctx.rss.stop()
        self.phase = "verify"
        if ctx.tracer.enabled:
            ctx.spark.sparkContext.setJobGroup("pb:verify", "verify")
        t0 = time.perf_counter()
        self.verify()
        verify_s = time.perf_counter() - t0
        samples = sorted(s for xs in per_query.values() for s in xs)
        medians = [statistics.median(xs) for xs in per_query.values() if xs]
        q = statistics.quantiles(samples, n=4) if len(samples) > 1 else (samples or [math.nan]) * 3
        return {
            "setup_s": setup_s,
            "sweep_s": statistics.median(sweeps),
            "op_geomean_s": _geomean(medians) if medians else math.nan,
            "op_p50_s": q[1],
            "op_p75_s": q[2],
            "attempted": len(self.names),
            "failed": len(self.failed),
            "record": {
                "passes": len(sweeps),
                "sweeps_s": sweeps,
                "samples": len(samples),
                "query_median_s": {n: statistics.median(xs) for n, xs in per_query.items() if xs},
                "warm_s": warm_s,
                "verify_s": verify_s,
                "failures": self.failed,
            },
        }
