"""One benchmark run inside a fresh process (started by ``run.py``).

Sets the engine up the way ``bench.py`` warms it (session, first load of
all ten tables, Python worker pool), then runs whole passes of the
workload in a closed loop with one client, checks every result against
DuckDB outside the latency timer, and writes a JSON record for the
parent process.

The first passes warm up (``workloads.WARMUP_PASSES``, the cold one
included): their results are checked but not timed. A fixed number of
timed passes follows (``workloads.TIMED_PASSES``; one in the traced run,
whose per-layer totals cover it). ``makespan_s`` is the fastest timed
pass's wall time less its result checks, and the latency percentiles are
taken over each query's fastest latency in the timed passes (a generated
statement is identified by its slot). On a shared host other tenants'
load slows a run's passes unevenly; best-of-three kept the spread between
runs of the same code near half that of the mean or the median.
``--seconds`` caps the measured phase: no new pass starts once it has
run out.

    python3 -m perfbench.harness --workload W --seed N --seconds S \
        --trace 0|1 --data DIR --launched EPOCH --rundir DIR --out FILE
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import subprocess
import sys
import time

import numpy as np

from perfbench import workloads
from perfbench.oracle import OracleProcess, csv_rows, fingerprint
from perfbench.tracing import (
    StreamProgress,
    Tracer,
    catalyst_phases,
    event_log_totals,
    exchange_count,
    wait_listener_bus,
)

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it.

    Below 20 samples that percentile is under the median; the upper
    quartile (75) stands in, which moved between runs by less than the
    slowest sample did.
    """
    p = (100 * (n - 10)) // n if n > 10 else 0
    return p if p >= 50 else 75


def quantile(values: list[float], p: int) -> float:
    """The ``p``-th percentile by the Harrell-Davis estimator: a mean of
    the order statistics weighted by a Beta((n+1)q, (n+1)(1-q)) density.

    A pass holds few distinct queries, so the sorted latencies come in
    clusters; the nearest-rank median jumps between two clusters when one
    sample moves, while this estimate moves with every sample.
    """
    xs = np.sort(np.asarray(values, dtype=float))
    n, q = len(xs), p / 100.0
    if n == 1 or q >= 1.0:
        return float(xs[-1])
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2 * np.diff(grid))])
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1]))
    return float(weights @ xs)


def _jvm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _warm_pool(spark) -> None:
    """Spawn one Python/Arrow worker per core (bench.py's warm-up)."""
    from pyspark.sql import functions as F

    n_cores = spark.sparkContext.defaultParallelism
    spark.range(4096).repartition(n_cores).withColumn("g", F.col("id") % (n_cores * 4)).groupBy(
        "g"
    ).applyInPandas(lambda pdf: pdf, "id long, g long").collect()


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.trace = Tracer(enabled=bool(args.trace))
        self.data = args.data
        self.scale = os.path.basename(args.data.rstrip("/"))
        with open(FINGERPRINTS) as fh:
            self.expected = json.load(fh)[self.scale]
        self.failures: list[dict] = []
        self.per_query: list[dict] = []
        self.groups: dict[str, set[int]] = {}

    # -- set-up -------------------------------------------------------
    def setup(self) -> None:
        from mini_sql_engine_spark.catalog import SF_TABLES, load_table
        from mini_sql_engine_spark.session import get_spark

        extra = None
        if self.trace.enabled:
            self.log_dir = os.path.join(self.args.rundir, "eventlog")
            os.makedirs(self.log_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.log_dir,
            }
        self.trace.start("session.get_spark")
        self.spark = get_spark(app_name="perfbench", extra_conf=extra)
        self.layer = {"session.get_spark_s": self.trace.stop()}
        self.spark.range(1000).selectExpr("sum(id)").collect()
        t0 = time.perf_counter()
        for t in SF_TABLES:
            self.trace.start("catalog.load_table", t)
            load_table(self.spark, self.data, t).limit(1).collect()
            self.trace.stop()
        self.layer["catalog.load_table_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        for t in SF_TABLES:
            load_table(self.spark, self.data, t)
        self.layer["catalog.load_table_warm_s"] = time.perf_counter() - t0
        _warm_pool(self.spark)
        if self.args.workload == "sql_interactive":
            from mini_sql_engine_spark.engine import Engine

            self.engine = Engine.from_parquet_dir(self.spark, self.data)
        from mini_sql_engine_spark.operators import ALL_QUERIES

        self.queries = ALL_QUERIES
        self.cores = self.spark.sparkContext.defaultParallelism
        self.setup_s = time.time() - self.args.launched
        if self.trace.enabled:
            self.listener = StreamProgress()
            self.spark.streams.addListener(self.listener)

    # -- one query ----------------------------------------------------
    def _run_statement(self, text: str, qid: str) -> tuple[str, object]:
        if not self.trace.enabled:
            return self.engine.execute(text), None
        from mini_sql_engine_spark.plans import analyze, build_dataframe, parse_query

        self.trace.start("plans.parse", qid)
        parsed = parse_query(text)
        self.trace.stop()
        self.trace.start("plans.analyze", qid)
        resolved = analyze(parsed, self.engine.schema)
        self.trace.stop()
        self.trace.start("plans.build", qid)
        df = build_dataframe(resolved, self.engine.tables)
        self.trace.stop()
        self.trace.start("execute.action", qid)
        lines = [",".join(df.columns)] + [",".join(str(v) for v in row) for row in df.collect()]
        self.trace.stop()
        return "\n".join(lines), df

    def _run_registered(self, name: str, qid: str) -> tuple[object, object]:
        fn = self.queries[name]
        if not self.trace.enabled:
            return fn(self.spark, self.data).toPandas(), None
        self.trace.start("operators.build", qid)
        df = fn(self.spark, self.data)
        self.trace.stop()
        self.groups[qid] = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(qid))
        self.trace.start("execute.action", qid)
        pdf = df.toPandas()
        self.trace.stop()
        return pdf, df

    def _verify(self, item: workloads.Item, result) -> str | None:
        if item.kind == "statement":
            got, want = sorted(csv_rows(result)), sorted(self.oracle.rows(item.text))
            if got != want:
                return f"{len(got)} rows differ from DuckDB's {len(want)}"
            return None
        want = self.expected.get(item.text)
        if want is None:
            return "no stored oracle fingerprint"
        got = fingerprint(result)
        return None if got == want else f"fingerprint {got[:12]} != oracle {want[:12]}"

    def run_query(self, item: workloads.Item, qid: str) -> None:
        sc = self.spark.sparkContext
        if self.trace.enabled:
            sc.setJobGroup(qid, qid)
        self.trace.start("query", qid)
        rec = {"qid": qid, "kind": item.kind, "query": item.text, "key": item.key}
        t0 = time.perf_counter()
        try:
            if item.kind == "statement":
                result, df = self._run_statement(item.text, qid)
            else:
                result, df = self._run_registered(item.text, qid)
            rec["latency_s"] = time.perf_counter() - t0
            if df is not None:
                self.trace.start("trace.probe", qid)
                rec["catalyst"] = catalyst_phases(df)
                rec["exchanges"] = exchange_count(df)
                rec["result_rows"] = len(result) if item.kind != "statement" else len(csv_rows(result))
                rec["build_jobs"] = len(self.groups.get(qid, ()))
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(qid))
                self.trace.stop()
            self.trace.start("verify", qid)
            v0 = time.perf_counter()
            problem = self._verify(item, result)
            self.verify_s += time.perf_counter() - v0
            self.trace.stop()
        except Exception as exc:  # noqa: BLE001 - one failing query must not end the run
            problem = f"{type(exc).__name__}: {str(exc)[:300]}"
            self.trace.unwind_to("query")
        self.trace.stop()
        if self.trace.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
        print(f"perfbench: {qid} {rec.get('latency_s', float('nan')):.3f}s {item.text[:100]}", file=sys.stderr)
        if problem:
            rec["problem"] = problem
            self.failures.append({"query": item.text, "problem": problem})
        self.per_query.append(rec)

    # -- the closed loop ------------------------------------------------
    def loop(self) -> None:
        # started after set-up so its start-up does not count as set-up
        self.oracle = OracleProcess(self.data)
        rng = random.Random(self.args.seed)
        gen = workloads.StatementGenerator(self.args.seed, self.oracle)
        limit = self.args.limit
        warmup = workloads.WARMUP_PASSES[self.args.workload]
        timed = 1 if self.trace.enabled else workloads.TIMED_PASSES[self.args.workload]
        self.pass_s: list[float] = []
        start = 0.0
        for n in range(warmup + timed):
            items = workloads.pass_items(self.args.workload, rng, gen, n == 0, limit)
            if n == warmup:
                if self.trace.enabled:  # stream totals cover the timed pass only
                    wait_listener_bus(self.spark)
                    self.listener.reset()
                self.timed_from = len(self.per_query)
                start = time.perf_counter()
            elif n > warmup and time.perf_counter() - start > self.args.seconds:
                print("perfbench: --seconds ran out before the last timed pass", file=sys.stderr)
                break
            self.verify_s = 0.0
            p0 = time.perf_counter()
            for i, item in enumerate(items):
                self.run_query(item, f"p{n}q{i}")
            if n >= warmup:
                self.pass_s.append(time.perf_counter() - p0 - self.verify_s)
        if self.trace.enabled:
            wait_listener_bus(self.spark)
            self.stream_summary = self.listener.summary()
        self.passes = len(self.pass_s)
        self.measured_s = time.perf_counter() - start
        # best of the timed passes, per pass and per query: other tenants'
        # load slows whole passes, and the fastest one is the least disturbed
        self.makespan_s = min(self.pass_s)
        best: dict[str, float] = {}
        for r in self.per_query[self.timed_from :]:
            if "latency_s" in r:
                best[r["key"]] = min(best.get(r["key"], math.inf), r["latency_s"])
        self.latencies = list(best.values())

    # -- metrics --------------------------------------------------------
    def end_to_end(self) -> tuple[dict, dict]:
        lat = self.latencies or [float("nan")]
        p = tail_percentile(len(self.latencies))
        jvm_mb = _jvm_hwm_mb(self.spark)
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        self.peak_rss_mb = jvm_mb + py_mb
        metrics = {
            "setup_s": (self.setup_s, "s"),
            "makespan_s": (self.makespan_s, "s"),
            "latency_p50_s": (quantile(lat, 50), "s"),
            "latency_tail_s": (quantile(lat, p), "s"),
        }
        info = {
            "pass_s": self.pass_s,
            "latency_samples": len(self.latencies),
            "latency_tail_percentile": p,
            "jvm_hwm_mb": jvm_mb,
            "python_maxrss_mb": py_mb,
        }
        return metrics, info

    def per_layer(self) -> dict:
        timed = self.per_query[self.timed_from :]
        names = {r["qid"]: r["query"] for r in timed}
        qids = set(names)
        spans = [s for s in self.trace.spans if s.query_id in qids]
        self_t = self.trace.self_times()
        tot = lambda name: sum(s.end - s.start for s in spans if s.name == name)  # noqa: E731
        # the timed pass's wall time leaves the result checks out
        q_self = sum(self_t[s.span_id] for s in spans if s.name != "verify")
        ev = event_log_totals(self.log_dir, {q: self.groups.get(q, set()) for q in qids})
        g = lambda key: sum(v[key] for v in ev.values())  # noqa: E731
        cat = lambda key: sum(r.get("catalyst", {}).get(key, 0.0) for r in timed)  # noqa: E731
        build_jobs = sum(r.get("build_jobs", 0) for r in timed)
        all_jobs = sum(r.get("jobs", 0) for r in timed)
        exec_s = tot("execute.action")
        stream_build = sum(
            s.end - s.start
            for s in spans
            if s.name == "operators.build" and names[s.query_id].startswith("stream_")
        )
        m = dict(self.layer)
        m.update(
            {
                "plans.parse_s": tot("plans.parse"),
                "plans.analyze_s": tot("plans.analyze"),
                "plans.build_s": tot("plans.build"),
                "operators.build_s": tot("operators.build"),
                "operators.build_jobs": build_jobs,
                "operators.eager_job_frac": build_jobs / all_jobs if all_jobs else 0.0,
                "operators.import_s": self.import_s,
                "catalyst.analysis_ms": cat("analysis"),
                "catalyst.optimization_ms": cat("optimization"),
                "catalyst.planning_ms": cat("planning"),
                "catalyst.exchanges": sum(r.get("exchanges", 0) for r in timed),
                "execute.s": exec_s,
                "execute.jobs": all_jobs,
                "execute.stages": g("stages"),
                "execute.tasks": g("tasks"),
                "execute.core_busy_frac": g("action_run_ms") / 1000.0 / (self.cores * exec_s) if exec_s else 0.0,
                "execute.task_cpu_s": g("cpu_ns") / 1e9,
                "execute.gc_s": g("gc_ms") / 1000.0,
                "execute.shuffle_read_mb": g("shuffle_read") / 2**20,
                "execute.shuffle_write_mb": g("shuffle_write") / 2**20,
                "execute.spill_mb": g("spill") / 2**20,
                "execute.result_rows": sum(r.get("result_rows", 0) for r in timed),
            }
        )
        m.update(self.stream_summary)
        m["streaming.replay_overhead_s"] = (
            stream_build - m["streaming.trigger_ms"] / 1000.0 if stream_build else 0.0
        )
        m["memory.peak_rss_mb"] = self.peak_rss_mb
        m["trace.makespan_s"] = self.makespan_s
        m["trace.self_time_coverage"] = q_self / self.makespan_s if self.makespan_s else 0.0
        return m

    def finish(self) -> dict:
        metrics, info = self.end_to_end()
        self.spark.stop()
        self.oracle.close()
        record = {
            "attempted": len(self.per_query),
            "failed": len(self.failures),
            "failures": self.failures[:50],
            "passes": self.passes,
            "measured_s": self.measured_s,
            "info": info,
        }
        if self.trace.enabled:
            packs = {self.queries[n].__module__ for n in workloads.REGISTERED[self.args.workload]}
            self.import_s = _import_time(sorted(packs))
            record["per_layer"] = self.per_layer()
            self.trace.dump(os.path.join(self.args.rundir, "spans.jsonl"))
        else:
            record["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        return record


def _import_time(mods: list[str]) -> float:
    """Seconds a fresh interpreter takes to import ``mods``."""
    code = (
        "import importlib, time\n"
        "t = time.perf_counter()\n"
        f"for m in {list(mods)!r}: importlib.import_module(m)\n"
        "print(time.perf_counter() - t)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True, timeout=120
    )
    return float(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=workloads.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--launched", type=float, required=True)
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--limit", type=int, default=None)
    args = ap.parse_args()
    run = Run(args)
    run.setup()
    run.loop()
    record = run.finish()
    with open(args.out, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
