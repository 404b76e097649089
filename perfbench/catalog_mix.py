"""``catalog_mix``: closed-loop passes over a fixed list of registry queries,
each built with its ``fn(spark, sf_dir)`` and materialized to the ``noop``
sink. ``firehose/`` and ``streaming/`` are not used.

The tables are generated from the seed (``datagen.write_catalog_tables``).
The warm-up pass collects every query's result over the same tables the
timed passes read. After the timer, the DataFrames the last timed pass built
are collected too, and both sets of results are compared with each query's
registered DuckDB oracle (``oracle.canonical_rows``).

End to end: queries per second of pass time, and the wall time of a pass
(the batch job's input-to-result time), p50 and p99 over the run's passes.
Per-query times are per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict

from perfbench import datagen
from perfbench.tracing import JobCounters, event_log_counters, percentile

NAME = "catalog_mix"
# The build-heavy registry queries (eager driver jobs at construction) and
# one pure-execution query as their control.
QUERIES = (
    "lang_id_trained_accuracy",
    "part_copurchase_kcore",
    "bm25_postings_topk",
    "revenue_by_nation",
)
TABLE_SIZES = {"n_orders": 1900, "n_parts": 150, "n_customers": 150, "n_docs": 100}
ORACLE_TABLES = ("nation", "customer", "orders", "lineitem", "documents")


def _phase_s(qe, phase: str) -> float:
    opt = qe.tracker().phases().get(phase)
    return opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0


class Workload:
    def __init__(self, run):
        from fs2_kinesis_firehose_spark import queries

        queries.load_all()
        self.run = run
        self.fns = {name: queries.QUERIES[name] for name in QUERIES}
        self.oracles = {name: queries.ORACLES[name] for name in QUERIES}
        self.tables = None
        self.warm_results: dict = {}
        self.last_pass: dict = {}
        self.errors: dict[str, str] = {}
        self.timings: list[dict[str, tuple]] = []
        self.attempted = self.failed = 0

    def prepare(self, rep: int) -> None:
        if self.tables:
            shutil.rmtree(self.tables, ignore_errors=True)
        self.tables = str(self.run.work / f"tables-{rep}")
        datagen.write_catalog_tables(self.run.seed, self.tables, **TABLE_SIZES)

    def warm_up(self) -> None:
        self.warm_results, self.errors = {}, {}
        for name, fn in self.fns.items():
            try:
                self.warm_results[name] = fn(self.run.spark, self.tables).toPandas()
            except Exception as e:  # a failing query is reported, the rest still run
                self.errors[name] = f"{type(e).__name__}: {e}"

    def _one(self, name: str) -> tuple:
        run = self.run
        with run.span(f"queries.{name}:build"):
            t0 = time.perf_counter()
            df = self.fns[name](run.spark, self.tables)
            build = time.perf_counter() - t0
            phases = (0.0, 0.0, 0.0)
            if run.traced:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = tuple(_phase_s(qe, p) for p in ("analysis", "optimization", "planning"))
        with run.span(f"queries.{name}:execute"):
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            execute = time.perf_counter() - t1
        self.last_pass[name] = df
        return (build, execute) + phases

    def measure(self) -> None:
        # as many whole passes as fit in the run's seconds, at least one
        self.pass_s: list[float] = []
        while not self.pass_s or sum(self.pass_s) + statistics.mean(self.pass_s) <= self.run.seconds:
            with self.run.tracer.span("queries:pass"):
                t0 = time.perf_counter()
                timing, self.last_pass = {}, {}
                for name in self.fns:
                    try:
                        timing[name] = self._one(name)
                    except Exception as e:
                        self.errors.setdefault(name, f"{type(e).__name__}: {e}")
                self.timings.append(timing)
                self.pass_s.append(time.perf_counter() - t0)

    def check(self) -> list[str]:
        import duckdb

        from fs2_kinesis_firehose_spark.oracle import canonical_rows

        problems = [f"{name} raised {err}" for name, err in sorted(self.errors.items())]
        timed_results = {}
        for name, df in self.last_pass.items():
            try:
                timed_results[name] = df.toPandas()
            except Exception as e:
                problems.append(f"{name} raised {type(e).__name__}: {e}")
        con = duckdb.connect()
        try:
            for t in ORACLE_TABLES:
                path = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in self.fns:
                want = con.execute(self.oracles[name]).fetch_df()
                if not len(want):
                    problems.append(f"{name}: the oracle returns no rows on these tables")
                for label, results in (("warm-up", self.warm_results),
                                       ("last timed pass", timed_results)):
                    if name not in results:
                        continue  # it raised, reported above
                    got = results[name]
                    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
                        problems.append(f"{name}: {label} schema or row count differs from its "
                                        f"oracle ({len(got)} vs {len(want)} rows)")
                    elif canonical_rows(got) != canonical_rows(want):
                        problems.append(f"{name}: {label} values differ from its oracle")
        finally:
            con.close()
        bad = {p.split(":")[0].split(" ")[0] for p in problems}
        self.attempted = len(self.fns) * len(self.timings)
        self.failed = sum(1 for t in self.timings for name in self.fns
                          if name in bad or name not in t)
        return problems

    def end_to_end(self) -> dict[str, float]:
        queries = sum(len(t) for t in self.timings)
        return {
            "throughput_per_s": queries / sum(self.pass_s),
            "latency_p50_ms": statistics.median(self.pass_s) * 1e3,
            "latency_p99_ms": percentile(self.pass_s, 99) * 1e3,
        }

    def per_layer(self) -> dict[str, float]:
        counters: dict[str, list[JobCounters]] = defaultdict(list)
        for key, c in event_log_counters(str(self.run.event_log_dir)).items():
            counters[key.split(":")[0]].append(c)
        n = len(self.timings)
        out: dict[str, float] = {"queries.pass_s": statistics.median(self.pass_s)}
        for name in self.fns:
            rows = [t[name] for t in self.timings if name in t]
            if not rows:
                continue
            parts = counters.get(f"queries.{name}", [])
            jobs = sum(c.jobs for c in parts)
            intervals = JobCounters(intervals=[iv for c in parts for iv in c.intervals])
            wall = sum(b + e for b, e, *_ in rows)
            med = [statistics.median(col) for col in zip(*rows)]
            p = f"queries.{name}."
            out.update({
                p + "build_s": med[0], p + "execute_s": med[1],
                p + "analysis_s": med[2], p + "optimization_s": med[3], p + "planning_s": med[4],
                p + "jobs": jobs / n,
                p + "tasks": sum(c.tasks for c in parts) / n,
                p + "executor_cpu_s": sum(c.executor_cpu_s for c in parts) / n,
                p + "gc_s": sum(c.gc_s for c in parts) / n,
                p + "shuffle_bytes": sum(c.shuffle_write_bytes for c in parts) / n,
                p + "spill_bytes": sum(c.spill_bytes for c in parts) / n,
                p + "driver_gap_s": (wall - intervals.busy_s()) / n,
            })
        return out
