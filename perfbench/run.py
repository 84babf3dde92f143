"""Benchmark of the engine, driven from outside through its public entry
points: ``session.get_spark``, ``cli._build_index`` (one artifact kind at a
time), ``QUERIES[name](spark, sf_dir)`` followed by a ``noop`` write, and
``streaming.distinct.hll_distinct_stream``.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 1 --trace 0

Workloads (one client, one warm session per process), all over the ten
sf0.01 tables in ``perfbench/data/sf0.01``:

- ``analytics``: the 10 queries of ``queries/catalog.py``, the reference's
  Tasks A-H and wordcount.
- ``corpus``: a fresh build of five graph and sketch artifact kinds during
  set-up, then seven queries that read them.
- ``stream_ingest``: the ``events`` table split into micro-batch files that
  are fed one at a time to ``hll_distinct_stream``; each file is moved into
  the source directory as soon as the previous batch has committed.

The seed fixes the query order of every pass and the split of the events
into micro-batches; the input tables never change. Set-up checks every
result (queries against their DuckDB twins, the stream's final state
against a recomputation from the raw ids) and warms the session; the
timed phase follows. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics. The last line of stdout is the result
object; the line before it is a report with the sample counts, every pass
or batch time and any failing operation.

See perfbench/README.md for the choices behind the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import re
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

DATA_DIR = os.path.join(HERE, "data", "sf0.01")
CPUS = "4"  # local[4]
# Untimed passes after the checked cold pass, before the timed phase.
WARMUP_PASSES = 1
# The timed phase runs at least this many whole passes; a traced run
# runs them as untraced, traced, traced, untraced, so that traced and
# untraced passes sit at the same mean position.
MIN_PASSES = 2
TRACED_ORDER = (False, True, True, False)
# stream_ingest: one untimed warm-up micro-batch, then the timed ones
STREAM_WARMUP_BATCHES = 1
STREAM_BATCHES = 3
STREAM_SCHEMA = "event_type string, user_id long"

# the reference's own workload: Tasks A-H and wordcount
ANALYTICS_MODULES = ("catalog",)
# Two readers of the graph artifact (an eager k-core fixpoint and
# PageRank) and one of the KMV sketch artifact (a traced run counts the
# plans that scan the index directory as queries.artifact_reads: 3).
CORPUS_QUERIES = (
    "graph_kcore_census",
    "graph_pagerank_suppliers",
    "orders_kmv_diff_from_snapshots",
)
# cli._build_index kinds, in its own (dependency) order
BUILD_KINDS = (
    "graph",
    "kmv_years",
)
# the modules the corpus queries come from
QUERY_MODULES = ANALYTICS_MODULES + ("extensions", "mining", "sketches")
WORKLOADS = ("analytics", "corpus", "stream_ingest")
FAILURES = ("queries.failed", "exec.failed", "oracle.mismatch")
_PY_NODE = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas\w*|FlatMapCoGroupsInPandas|AggregateInPandas"
    r"|WindowInPandas)"
)
# StreamingQueryProgress fields: (metric, "durationMs" or state key)
STREAM_DURATIONS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}
STREAM_STATE = {
    "stream.state_update_ms": "allUpdatesTimeMs",
    "stream.state_commit_ms": "commitTimeMs",
    "stream.state_rows": "numRowsTotal",
    "stream.state_memory_bytes": "memoryUsedBytes",
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_s": "s"}
PER_LAYER = {
    # end-to-end figures too unsteady, or on too few samples, to bound
    "query_p90_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "setup.verify_pass_s": "s",
    "setup.warmup_pass_s": "s",
    "artifacts.build_s": "s",
    **{f"artifacts.build_s.{k}": "s" for k in BUILD_KINDS},
    "artifacts.bytes_written": "bytes",
    "artifacts.bytes_per_input_byte": "ratio",
    "queries.wall_s": "s",
    "queries.eager_s": "s",
    "queries.eager_jobs": "count",
    "queries.artifact_reads": "count",
    **{
        f"queries.{m}.{k}": u
        for m in QUERY_MODULES
        for k, u in (("wall_s", "s"), ("eager_s", "s"), ("jobs", "count"))
    },
    "catalyst.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.exchanges": "count",
    "exec.python_nodes": "count",
    "stream.stage_s": "s",
    "stream.warmup_batch_s": "s",
    **{k: "ms" for k in STREAM_DURATIONS},
    "stream.state_update_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_memory_bytes": "bytes",
    **{k: "count" for k in FAILURES},
    "failed_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.unaccounted_ratio": "ratio",
}


def now() -> float:
    return time.perf_counter()


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def percentile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method, interpolated)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Bench:
    """One warm engine session; what every workload shares."""

    def __init__(self, workload: str, seed: int, run_dir: str, traced: bool):
        from mapreducer_pi_cs4433_spark.schemas import DRIVER_TABLES
        from spans import Tracer

        self.workload = workload
        self.rng = random.Random(seed)
        self.data_dir = DATA_DIR
        self.input_bytes = sum(
            os.path.getsize(os.path.join(DATA_DIR, f"{t}.parquet")) for t in DRIVER_TABLES
        )
        self.tracer = Tracer() if traced else None
        self.failures = {k: 0 for k in FAILURES}
        self.failing: list[str] = []
        self.attempted = 0
        self.layer: dict[str, float] = {}
        # engine time spent in set-up; result checks are not counted
        self.setup_s = 0.0
        self.spark = None

    def _span(self, name: str, trace_id: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, trace_id, **attrs)

    def _fail(self, kind: str, name: str, detail: str) -> None:
        self.failures[kind] += 1
        self.failing.append(f"{name}: {kind}: {detail}"[:300])

    def start(self) -> None:
        from mapreducer_pi_cs4433_spark.session import get_spark

        t = now()
        with self._span("session", "setup"):
            self.spark = get_spark()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = now() - t
        self.setup_s += self.layer["session.start_s"]

    def result(self, metrics: dict, report: dict) -> dict:
        failed = sum(self.failures.values())
        report["failing"] = self.failing
        if self.tracer is None:
            units = END_TO_END
        else:
            units = PER_LAYER
            full = {k: 0.0 for k in PER_LAYER}
            full.update(self.layer)
            full.update(metrics)
            jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
            full["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
            full.update(self.failures)
            full["failed_ratio"] = failed / self.attempted
            metrics = full
            report["spans"] = len(self.tracer.spans)
        return {
            "report": report,
            "result": {
                "correct": failed == 0,
                "attempted": self.attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            },
        }

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(60)


class QueryBench(Bench):
    """``analytics`` and ``corpus``: closed-loop passes over a query list."""

    def __init__(self, workload: str, seed: int, run_dir: str, traced: bool):
        super().__init__(workload, seed, run_dir, traced)
        from mapreducer_pi_cs4433_spark.queries.catalog import ORACLE, QUERIES
        from mapreducer_pi_cs4433_spark.schemas import DRIVER_TABLES
        from oracle import Oracle

        self.queries = QUERIES
        if workload == "analytics":
            self.names = [n for n, f in QUERIES.items() if module_of(f) in ANALYTICS_MODULES]
        else:
            self.names = list(CORPUS_QUERIES)
        self.index_dir = os.environ["SPARK_GRAFT_INDEX_DIR"]
        self.oracle = Oracle(self.data_dir, DRIVER_TABLES, ORACLE)

    def close(self) -> None:
        self.oracle.close()
        super().close()

    def build_artifacts(self) -> None:
        from mapreducer_pi_cs4433_spark import cli

        for kind in BUILD_KINDS:
            t = now()
            with self._span(f"build.{kind}", "setup"), contextlib.redirect_stdout(
                sys.stderr
            ):
                cli._build_index(self.spark, self.data_dir, kind)
            self.layer[f"artifacts.build_s.{kind}"] = now() - t
        written = dir_bytes(self.index_dir)
        self.layer["artifacts.build_s"] = sum(
            self.layer[f"artifacts.build_s.{k}"] for k in BUILD_KINDS
        )
        self.setup_s += self.layer["artifacts.build_s"]
        self.layer["artifacts.bytes_written"] = written
        self.layer["artifacts.bytes_per_input_byte"] = written / self.input_bytes

    def order(self) -> list[str]:
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    def verify_pass(self) -> float:
        """Cold pass: every query's rows against its DuckDB twin. Returns
        the engine's time (query function plus collect) only."""
        engine_s = 0.0
        for name in self.order():
            self.attempted += 1
            t = now()
            try:
                df = self.queries[name](self.spark, self.data_dir)
            except Exception as ex:  # a failing query is counted, not fatal
                engine_s += now() - t
                self._fail("queries.failed", name, repr(ex))
                continue
            try:
                rows = [tuple(r) for r in df.collect()]
            except Exception as ex:
                engine_s += now() - t
                self._fail("exec.failed", name, repr(ex))
                continue
            engine_s += now() - t
            try:
                bad = self.oracle.mismatch(name, df.columns, rows)
            except Exception as ex:  # e.g. unhashable cells: the gate's failure
                bad = repr(ex)
            if bad:
                self._fail("oracle.mismatch", name, bad)
        return engine_s

    def plain_pass(self) -> tuple[float, dict[str, float]]:
        lat: dict[str, float] = {}
        t_pass = now()
        for name in self.order():
            self.attempted += 1
            t = now()
            try:
                df = self.queries[name](self.spark, self.data_dir)
            except Exception as ex:
                self._fail("queries.failed", name, repr(ex))
                continue
            try:
                noop_write(df)
            except Exception as ex:
                self._fail("exec.failed", name, repr(ex))
                continue
            lat[name] = now() - t
        return now() - t_pass, lat

    def traced_pass(self, pass_no: int) -> tuple[float, dict]:
        from mapreducer_pi_cs4433_spark.plans.inspect import count_exchanges
        from spans import SparkCounters

        counters = SparkCounters(self.spark)
        tr = self.tracer
        tot: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            tot[key] = tot.get(key, 0) + v

        t_pass = now()
        for name in self.order():
            self.attempted += 1
            qid = f"p{pass_no}.{name}"
            fn = self.queries.get(name)
            mod = module_of(fn) if fn else "missing"
            stage = "queries.failed"
            with tr.span("query", qid, query=name, module=mod) as q:
                try:
                    counters.set_group(qid + ".eager")
                    with tr.span("eager", qid) as s_eager:
                        df = fn(self.spark, self.data_dir)
                    stage = "exec.failed"
                    counters.set_group(None)
                    with tr.span("plan", qid) as s_plan:
                        plan = df._jdf.queryExecution().executedPlan().toString()
                    counters.set_group(qid + ".exec")
                    with tr.span("exec", qid) as s_exec:
                        noop_write(df)
                    stage = None
                except Exception as ex:
                    self._fail(stage, name, repr(ex))
                finally:
                    counters.set_group(None)
            if stage is not None:
                continue
            wall = q["end"] - q["start"]
            eager = s_eager["end"] - s_eager["start"]
            ejobs = counters.jobs(qid + ".eager")
            xjobs = counters.jobs(qid + ".exec")
            st = counters.stage_totals(xjobs)
            add("queries.wall_s", wall)
            add("queries.eager_s", eager)
            add("queries.eager_jobs", len(ejobs))
            add("queries.artifact_reads", int(self.index_dir in plan))
            add(f"queries.{mod}.wall_s", wall)
            add(f"queries.{mod}.eager_s", eager)
            add(f"queries.{mod}.jobs", len(ejobs) + len(xjobs))
            add("catalyst.plan_s", s_plan["end"] - s_plan["start"])
            add("exec.exec_s", s_exec["end"] - s_exec["start"])
            add("exec.jobs", len(xjobs))
            for k, v in st.items():
                add(f"exec.{k}", v)
            add("exec.exchanges", count_exchanges(df))
            add("exec.python_nodes", len(_PY_NODE.findall(plan)))
        return now() - t_pass, tot

    def run(self, seconds: float) -> dict:
        self.start()
        if self.workload == "corpus":
            self.build_artifacts()
        self.layer["setup.verify_pass_s"] = self.verify_pass()
        warmup = [self.plain_pass()[0] for _ in range(WARMUP_PASSES)]
        self.layer["setup.warmup_pass_s"] = sum(warmup)
        self.setup_s += self.layer["setup.verify_pass_s"] + sum(warmup)

        kinds = TRACED_ORDER if self.tracer is not None else (False,) * MIN_PASSES
        plain_s: list[float] = []
        traced_s: list[float] = []
        per_query: dict[str, list[float]] = {}
        totals: list[dict] = []
        t0 = now()
        n = 0
        while n < len(kinds) or now() - t0 < seconds:
            if kinds[n % len(kinds)]:
                p, tot = self.traced_pass(n)
                traced_s.append(p)
                totals.append(tot)
            else:
                p, lat = self.plain_pass()
                plain_s.append(p)
                for name, t in lat.items():
                    per_query.setdefault(name, []).append(t)
            n += 1
        lat = [t for ts in per_query.values() for t in ts]
        report = {
            "workload": self.workload,
            "queries": len(self.names),
            "timed_passes": n,
            "latency_samples": len(lat),
            "setup_s": self.setup_s,
            "verify_pass_s": self.layer["setup.verify_pass_s"],
            "warmup_pass_s": warmup,
            "pass_s": {"untraced": plain_s, "traced": traced_s},
            "query_s": per_query,
        }
        if self.tracer is None:
            metrics = {
                "setup_s": self.setup_s,
                "pass_s": statistics.median(plain_s),
                "latency_p50_s": statistics.median(lat),
            }
        else:
            metrics = {}
            for key in {k for t in totals for k in t}:
                metrics[key] = statistics.median(t.get(key, 0) for t in totals)
            metrics["query_p90_s"] = percentile(lat, 90)
            metrics["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(
                plain_s
            )
            layers = (
                metrics["queries.eager_s"] + metrics["catalyst.plan_s"] + metrics["exec.exec_s"]
            )
            metrics["trace.unaccounted_ratio"] = 1 - layers / metrics["queries.wall_s"]
        return self.result(metrics, report)


class StreamBench(Bench):
    """``stream_ingest``: seeded micro-batch files of the ``events`` table
    fed to ``hll_distinct_stream`` one at a time."""

    def __init__(self, workload: str, seed: int, run_dir: str, traced: bool):
        super().__init__(workload, seed, run_dir, traced)
        self.stage_dir = os.path.join(run_dir, "stream", "stage")
        self.src_dir = os.path.join(run_dir, "stream", "src")
        self.ckpt_dir = os.path.join(run_dir, "stream", "checkpoint")
        self.sink = "perfbench_hll_distinct"
        self.files: list[tuple[str, int]] = []

    def stage(self) -> None:
        """Split the events table into seeded micro-batch files."""
        import pyarrow.parquet as pq

        events = pq.read_table(
            os.path.join(self.data_dir, "events.parquet"), columns=["event_type", "user_id"]
        )
        order = list(range(events.num_rows))
        self.rng.shuffle(order)
        n = STREAM_WARMUP_BATCHES + STREAM_BATCHES
        os.makedirs(self.stage_dir)
        os.makedirs(self.src_dir)
        for i in range(n):
            path = os.path.join(self.stage_dir, f"batch-{i:04d}.parquet")
            part = events.take(sorted(order[i::n]))
            pq.write_table(part, path)
            self.files.append((path, part.num_rows))

    def start_query(self):
        from mapreducer_pi_cs4433_spark.streaming.distinct import hll_distinct_stream

        source = (
            self.spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src_dir)
        )
        return (
            hll_distinct_stream(source)
            .writeStream.format("memory")
            .queryName(self.sink)
            .outputMode("update")
            .option("checkpointLocation", self.ckpt_dir)
            .start()
        )

    def feed(self, query, i: int) -> float:
        """Moves file ``i`` into the source directory and returns the time
        until the stream has committed it as batch ``i``."""
        path, _ = self.files[i]
        with self._span("batch", f"b{i}", file=os.path.basename(path)):
            t = now()
            os.rename(path, os.path.join(self.src_dir, os.path.basename(path)))
            # processAllAvailable may return on a trigger that listed the
            # source just before the move; wait for the commit itself
            while sum(1 for p in query.recentProgress if p["numInputRows"]) <= i:
                if not query.isActive:
                    raise RuntimeError(f"stream stopped before batch {i}: {query.exception()}")
                query.processAllAvailable()
            return now() - t

    def check_state(self, query) -> None:
        """Final registers and row count per event type against the
        recomputation from the raw ids; every fed file must have been
        one micro-batch of its own size."""
        import pyarrow.parquet as pq
        from mapreducer_pi_cs4433_spark.functions import hll
        from oracle import hll_reference

        events = pq.read_table(
            os.path.join(self.data_dir, "events.parquet"), columns=["event_type", "user_id"]
        )
        truth: dict[str, list[int]] = {}
        for t, u in zip(events.column("event_type").to_pylist(), events.column("user_id").to_pylist()):
            if t is not None and u is not None:
                truth.setdefault(t, []).append(u)
        fed = [rows for _, rows in self.files]
        got = sorted(
            (p["batchId"], p["numInputRows"]) for p in query.recentProgress if p["numInputRows"]
        )
        if [r for _, r in got] != fed:
            self._fail("exec.failed", "stream", f"batches {got} != files {fed}")
        final: dict[str, tuple] = {}
        for r in self.spark.table(self.sink).collect():
            if r.event_type not in final or r.n_rows_seen > final[r.event_type][0]:
                final[r.event_type] = (r.n_rows_seen, list(r.registers))
        for t in sorted(set(truth) | set(final)):
            self.attempted += 1
            ids = truth.get(t, [])
            want = (len(ids), hll_reference(ids, hll.M, hll.RHO_MAX))
            if final.get(t) != want:
                self._fail("oracle.mismatch", f"stream:{t}", "final state != recomputation")

    def run(self, seconds: float) -> dict:
        self.start()
        t = now()
        with self._span("stage", "setup"):
            self.stage()
        self.layer["stream.stage_s"] = now() - t
        self.setup_s += self.layer["stream.stage_s"]

        latency: list[float] = []
        warmup: list[float] = []
        progress: list[dict] = []
        t = now()
        query = self.start_query()
        self.setup_s += now() - t
        try:
            for i in range(len(self.files)):
                self.attempted += 1
                (warmup if i < STREAM_WARMUP_BATCHES else latency).append(self.feed(query, i))
            progress = [p for p in query.recentProgress if p["numInputRows"]]
            self.check_state(query)
        except Exception as ex:  # a failing stream is counted, not fatal
            self._fail("exec.failed", "stream", repr(ex))
        finally:
            query.stop()
        self.layer["stream.warmup_batch_s"] = sum(warmup)
        self.setup_s += sum(warmup)
        timed = sorted(progress, key=lambda p: p["batchId"])[STREAM_WARMUP_BATCHES:]
        report = {
            "workload": self.workload,
            "batches": [rows for _, rows in self.files],
            "latency_samples": len(latency),
            "setup_s": self.setup_s,
            "warmup_batch_s": warmup,
            "batch_s": latency,
        }
        if not latency:  # nothing measured: the run is reported as failed
            latency = [0.0]
        if self.tracer is None:
            metrics = {
                "setup_s": self.setup_s,
                "pass_s": sum(latency),
                "latency_p50_s": statistics.median(latency),
            }
        else:
            metrics = {}
            if timed:
                for key, field in STREAM_DURATIONS.items():
                    metrics[key] = statistics.median(p["durationMs"].get(field, 0) for p in timed)
                for key, field in STREAM_STATE.items():
                    metrics[key] = statistics.median(
                        sum(op[field] for op in p["stateOperators"]) for p in timed
                    )
                # share of the batch latency outside the trigger: file
                # discovery and the wait for the commit to be observed
                metrics["trace.unaccounted_ratio"] = 1 - (
                    sum(p["durationMs"]["triggerExecution"] for p in timed) / 1000 / sum(latency)
                )
        return self.result(metrics, report)


def deploy_env(run_dir: str) -> None:
    """Deployment settings only: CPU count, the package on the Python
    workers' path, and run-private index, temp and warehouse dirs (the
    warehouse and metastore land in the working directory)."""
    for sub in ("index", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(run_dir, "index")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # no hsperfdata files in the system /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(
        run_dir, "tmp"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(run_dir)


def make_bench(workload: str, seed: int, run_dir: str, traced: bool) -> Bench:
    cls = StreamBench if workload == "stream_ingest" else QueryBench
    return cls(workload, seed, run_dir, traced)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    try:
        import full_oracle_check  # noqa: F401
        import mapreducer_pi_cs4433_spark.queries.catalog  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine package or its oracle tool is not importable: {ex}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR):
        print(f"perfbench: no input tables in {DATA_DIR}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(OUT, "runs"))
    deploy_env(run_dir)
    bench = None
    try:
        bench = make_bench(args.workload, args.seed, run_dir, traced=bool(args.trace))
        out = bench.run(args.seconds)
        if bench.tracer is not None:
            bench.tracer.write(
                os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.json")
            )
    finally:
        if bench is not None:
            bench.close()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out["report"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
