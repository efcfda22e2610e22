"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

W is ``ingest_backlog`` or ``batch_queries``
(BENCHMARK.json says why each exists). The ingest feed is generated
from the seed, and everything a run writes goes to a per-run work
directory under the checkout, which is removed at exit; the batch
queries read the engine's fixture tables in an order shuffled by the
seed. Every output is checked; a failed check makes the run exit 1.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same measurement untraced, then again in a fresh session with the
Spark event log on and spans around each engine call, and reports the
per-layer metrics. Spans are written to
``.perfbench_out/<workload>-seed<N>-spans.jsonl``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Fail before generating anything when the engine is not there.
from kafkatoclickhouse_spark.session import get_spark  # noqa: E402
from perfbench import batch, ingest, stats, trace  # noqa: E402

WORKLOADS = ("ingest_backlog", "batch_queries")
DRIVER_MEM = "3g"  # the engine defaults to 24g; see README.md#isolation
ONE_CORE_FILES = 20  # the local[1] baseline drains two micro-batches

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}
_SPARK = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "executor_wait_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "outside_jobs_ms": "ms",
}
PER_LAYER = (
    {
        "session.start_s": "s",
        "memory.peak_rss_mb": "MB",
        "trace.overhead_share": "share",
    }
    | {f"spark.{k}": u for k, u in _SPARK.items()}
    | {
        f"{name}.{fam}": unit
        for fam in ("relational", "curation")
        for name, unit in (
            [
                ("batch.round_s", "s"),
                ("operators.build_ms", "ms"),
                ("operators.execute_ms", "ms"),
                ("spark.jobs_in_build", "count"),
            ]
            + [(f"spark.{k}", u) for k, u in _SPARK.items()]
        )
    }
    | {
        "streaming.batches": "count",
        "streaming.batch_rows_p50": "count",
        "streaming.query_planning_ms": "ms",
        "streaming.latest_offset_ms": "ms",
        "streaming.commit_ms": "ms",
        "streaming.add_batch_ms": "ms",
        "source.backlog_rows_max": "count",
        "pipeline.clean_share": "share",
        "count_window_jvm.batch_ms": "ms",
        "count_window_jvm.jobs_per_batch": "count",
        "count_window_jvm.state_rows": "count",
        "count_window_jvm.state_bytes": "bytes",
        "count_window_jvm.shuffle_write_bytes": "bytes",
        "count_window_jvm.fired_rows": "count",
        "count_window_jvm.timeout_flushes": "count",
        "sink.write_ms": "ms",
        "sink.attempts": "count",
        "sink.retries": "count",
        "scaling.one_core_rows_per_s": "1/s",
    }
)


class Bench:
    """One benchmark run: its settings, work directory and sessions."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload, self.seed = workload, seed
        self.seconds, self.traced = seconds, traced
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{workload}-{os.getpid()}"
        )
        self.tracer = trace.Tracer()
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def isolate(self) -> dict[str, str]:
        """Everything a run writes goes under its own work directory, so
        persisted artifacts are rebuilt inside set-up on every run."""
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("index", "local", "tmp"):
            os.makedirs(self.path(d))
        env = {
            "SPARK_GRAFT_INDEX_DIR": self.path("index"),
            "SPARK_LOCAL_DIRS": self.path("local"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": self.path("tmp"),
            "PYTHONPATH": ROOT,  # Python workers import the engine
        }
        os.environ.update(env)
        return env

    def session(self, eventlog: str | None = None, master: str | None = None):
        conf = {
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
            )
        }
        if eventlog is not None:
            os.makedirs(eventlog)  # must exist before the session starts
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog,
                "spark.eventLog.compress": "false",
            }
        with self.tracer.span("session.get_spark"):
            return get_spark(
                f"perfbench-{self.workload}", master=master, extra_conf=conf
            )

    def count(self, attempted: int, failed: int, problems: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        self.problems += problems

    # --- ingest ------------------------------------------------------

    def evaluate(self, d: ingest.Drain) -> dict:
        ev = ingest.evaluate(d)
        self.count(ev["attempted"], ev["failed"], ev["problems"])
        return ev

    def run_ingest(self) -> dict[str, float]:
        t0 = time.perf_counter()
        src = self.path("src")
        files = ingest.stage(src, self.seed, ingest.ROWS_PER_SECOND * self.seconds)
        spark = self.session()
        ingest.warm(spark, self.path("warm0"), self.seed + 1)
        setup_s = time.perf_counter() - t0
        trace.reset_peak_rss()
        d = ingest.drain(spark, src, self.path("m0"))
        rss = trace.peak_rss_mb([os.getpid(), _jvm_pid(spark)])
        ev = self.evaluate(d)
        e2e = {"setup_s": setup_s, "peak_rss_mb": rss, **ev["metrics"]}
        if self.traced:
            spark.stop()
            self.trace_ingest(files, e2e)
        return e2e

    def trace_ingest(self, files, untraced: dict[str, float]) -> None:
        log_dir = self.path("eventlog")
        spark = self.session(eventlog=log_dir)
        ingest.warm(spark, self.path("warm1"), self.seed + 1)
        d = ingest.drain(spark, self.path("src"), self.path("m1"), self.tracer)
        ev = self.evaluate(d)
        spark.stop()  # flushes the event log
        # untraced again, so both untraced passes bracket the traced one
        spark = self.session()
        ingest.warm(spark, self.path("warm2"), self.seed + 1)
        again = self.evaluate(ingest.drain(spark, self.path("src"), self.path("m2")))
        spark.stop()
        log = trace.read_event_log(log_dir)
        L = self.layers
        L["trace.overhead_share"] = _overhead(
            ev["metrics"], untraced, again["metrics"]
        )
        for k, v in trace.reduce_jobs(log, [(d.t0, d.t1)]).items():
            L[f"spark.{k}"] = v
        prog = d.progress
        rows = [p.numInputRows for p in prog]
        dur = lambda k: [p.durationMs.get(k, 0) for p in prog]  # noqa: E731
        L["streaming.batches"] = len(prog)
        L["streaming.batch_rows_p50"] = stats.median(rows)
        L["streaming.query_planning_ms"] = stats.median(dur("queryPlanning"))
        L["streaming.latest_offset_ms"] = stats.median(dur("latestOffset"))
        L["streaming.commit_ms"] = stats.median(
            a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))
        )
        L["streaming.add_batch_ms"] = stats.median(dur("addBatch"))
        # the whole feed is due when the drain starts: the backlog at a
        # batch start is every staged row not yet in a started batch
        started = itertools.accumulate(
            p.numInputRows for p in sorted(prog, key=lambda p: p.batchId)
        )
        L["source.backlog_rows_max"] = max(
            sum(f.rows for f in files) - n for n in started
        )
        apply = [
            (s.start, s.end)
            for s in self.tracer.named("count_window_jvm.apply_count_window_batch")
        ]
        cw = trace.reduce_jobs(log, apply)
        state_rows, state_bytes = _state_size(d.state_dir)
        L["count_window_jvm.batch_ms"] = stats.median(
            (b - a) * 1000 for a, b in apply
        )
        L["count_window_jvm.jobs_per_batch"] = cw["jobs"] / len(apply)
        L["count_window_jvm.state_rows"] = state_rows["ctr"] + state_rows["tail"]
        L["count_window_jvm.state_bytes"] = state_bytes
        L["count_window_jvm.shuffle_write_bytes"] = cw["shuffle_write_bytes"]
        L["count_window_jvm.fired_rows"] = ev["landed_rows"]
        L["count_window_jvm.timeout_flushes"] = ev["timeout_windows"]
        # every clean row read either fired or still waits in state
        L["pipeline.clean_share"] = (
            ev["landed_rows"] + state_rows["tail"]
        ) / sum(rows)
        L["sink.write_ms"] = stats.median(
            s.ms for s in self.tracer.named("sink.write_with_retry")
        )
        L["sink.attempts"] = sum(d.sink_attempts)
        L["sink.retries"] = sum(d.sink_attempts) - len(d.sink_attempts)
        # single-threaded baseline on the first ONE_CORE_FILES files
        src1 = self.path("src1")
        os.makedirs(src1)
        for f in files[:ONE_CORE_FILES]:
            os.link(os.path.join(self.path("src"), f.name), os.path.join(src1, f.name))
        spark = self.session(master="local[1]")
        d1 = ingest.drain(spark, src1, self.path("m3"))
        ev1 = self.evaluate(d1)
        spark.stop()
        L["scaling.one_core_rows_per_s"] = ev1["metrics"]["throughput_per_s"]

    # --- batch -------------------------------------------------------

    def run_batch(self) -> dict[str, float]:
        t0 = time.perf_counter()
        sf_dir = batch.SF_DIR
        if not os.path.isdir(sf_dir):
            raise SystemExit(f"perfbench: no fixture tables at {sf_dir}")
        spark = self.session()
        run = batch.Run()
        batch.check_round(spark, sf_dir, self.seed, run)
        setup_s = time.perf_counter() - t0
        trace.reset_peak_rss()
        batch.timed_rounds(spark, sf_dir, self.seed, self.seconds, run)
        rss = trace.peak_rss_mb([os.getpid(), _jvm_pid(spark)])
        print("perfbench queries " + json.dumps(run.rows), flush=True)
        self.count(run.attempted, len(run.problems), run.problems)
        e2e = {"setup_s": setup_s, "peak_rss_mb": rss, **run.metrics()}
        if self.traced:
            spark.stop()
            self.trace_batch(sf_dir, e2e)
        return e2e

    def trace_batch(self, sf_dir: str, untraced: dict[str, float]) -> None:
        log_dir = self.path("eventlog")
        spark = self.session(eventlog=log_dir)
        run = batch.Run()
        batch.timed_rounds(spark, sf_dir, self.seed, self.seconds, run, self.tracer)
        spark.stop()
        # untraced again, so both untraced passes bracket the traced one
        spark = self.session()
        again = batch.Run()
        batch.timed_rounds(spark, sf_dir, self.seed, self.seconds, again)
        spark.stop()
        for r in (run, again):
            self.count(r.attempted, len(r.problems), r.problems)
        log = trace.read_event_log(log_dir)
        L = self.layers
        L["trace.overhead_share"] = _overhead(
            run.metrics(), untraced, again.metrics()
        )
        rounds = len(run.round_s())
        windows = lambda name: [  # noqa: E731
            (s.start, s.end) for s in self.tracer.named(name)
        ]
        every = windows("query.relational") + windows("query.curation")
        for k, v in trace.reduce_jobs(log, every).items():
            L[f"spark.{k}"] = v / rounds
        for fam in ("relational", "curation"):
            L[f"batch.round_s.{fam}"] = stats.median(run.round_s(fam))
            for part in ("build", "execute"):
                per_round: dict[str, float] = {}
                for s in self.tracer.named(f"operators.{part}.{fam}"):
                    rnd = s.trace_id.split(":")[0]
                    per_round[rnd] = per_round.get(rnd, 0.0) + s.ms
                L[f"operators.{part}_ms.{fam}"] = stats.median(per_round.values())
            for k, v in trace.reduce_jobs(log, windows(f"query.{fam}")).items():
                L[f"spark.{k}.{fam}"] = v / rounds
            L[f"spark.jobs_in_build.{fam}"] = (
                trace.reduce_jobs(log, windows(f"operators.build.{fam}"))["jobs"]
                / rounds
            )

    def run(self) -> dict[str, float]:
        settings = self.isolate()
        print("perfbench settings " + json.dumps(settings), flush=True)
        try:
            if self.workload == "batch_queries":
                e2e = self.run_batch()
            else:
                e2e = self.run_ingest()
            # per-layer only: with a heap the workloads do not fill, the
            # peak depends on when G1 grew the heap (README.md#isolation)
            rss = e2e.pop("peak_rss_mb")
            print(f"perfbench peak_rss_mb {rss:.1f}", flush=True)
            self.layers["memory.peak_rss_mb"] = rss
            starts = self.tracer.named("session.get_spark")
            self.layers["session.start_s"] = starts[0].ms / 1000.0
            out = os.path.join(
                ROOT, ".perfbench_out", f"{self.workload}-seed{self.seed}-spans.jsonl"
            )
            self.tracer.write(out)
        finally:
            _stop_jvm()
            shutil.rmtree(self.work, ignore_errors=True)
        if self.traced:
            return {k: self.layers.get(k, 0.0) for k in PER_LAYER}
        return e2e


def _overhead(traced: dict, before: dict, after: dict) -> float:
    """Traced ÷ untraced ``latency_p50_ms`` − 1, against the mean of
    the untraced passes run before and after the traced one, so JIT
    warm-up across the passes cancels."""
    untraced = (before["latency_p50_ms"] + after["latency_p50_ms"]) / 2
    return traced["latency_p50_ms"] / untraced - 1


def _stop_jvm() -> None:
    """Stop the session and wait for the driver JVM to exit; the Python
    workers it started exit with it. Closing the JVM's stdin is the
    gateway's exit signal."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _state_size(state_dir: str) -> tuple[dict[str, int], int]:
    """Rows per state partition (ctr, tail) and bytes of the newest
    committed count-window snapshot."""
    import pyarrow.parquet as pq

    snaps = [
        int(s[1:])
        for s in os.listdir(state_dir)
        if os.path.exists(os.path.join(state_dir, s, "_OK"))
    ]
    rows = {"ctr": 0, "tail": 0}
    size = 0
    snap = os.path.join(state_dir, f"s{max(snaps)}", "rows")
    for part in rows:
        d = os.path.join(snap, f"_part={part}")
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                path = os.path.join(d, name)
                rows[part] += pq.read_metadata(path).num_rows
                size += os.path.getsize(path)
    return rows, size


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    metrics = bench.run()
    units = PER_LAYER if args.trace else END_TO_END
    correct = not bench.problems
    for p in bench.problems:
        print(f"perfbench check failed: {p}", flush=True)
    print(
        "perfbench failed_share "
        f"{bench.failed / max(1, bench.attempted):.6f} "
        f"({bench.failed} of {bench.attempted} operations)",
        flush=True,
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, bench.attempted),
                "failed": bench.failed,
                "metrics": {
                    k: {"value": metrics[k], "unit": units[k]}
                    for k in units
                    if k in metrics  # absent only when the run failed
                },
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
