"""The ``ingest_backlog`` workload: catch-up replay through
``streaming.job.start`` (engine="jvm", the production R1→R7 wiring)
over the file double of the Kafka source.

The whole feed is in the source directory before the query starts and
drains with ``availableNow`` in bounded micro-batches: a fixed number
of files per trigger, the file double's ``maxOffsetsPerTrigger``.

The traced variant composes the same three public calls job.start
wires (``pipeline.streaming_ingest``,
``count_window_jvm.apply_count_window_batch``,
``sink.write_with_retry``) so each call gets a span.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

from kafkatoclickhouse_spark.config import PipelineConfig
from kafkatoclickhouse_spark.streaming import (
    count_window_jvm,
    job,
    pipeline,
    sink,
    source,
)
from kafkatoclickhouse_spark.streaming.metrics import ProgressCollector
from perfbench import check, feed, stats
from perfbench.trace import Tracer

WINDOW = 20  # window.size, the reference's production default
TIMEOUT_MS = 60_000  # job.start's partial-window timeout
# Sized so one drain takes about --seconds on a 4-core box, in
# micro-batches of 100k rows.
ROWS_PER_SECOND = 40_000
ROWS_PER_FILE = 10_000
FILES_PER_TRIGGER = 10
# Warm-up: two full micro-batches, so the state-loading path runs too.
WARM_ROWS = 200_000


class LandingSink:
    """The sink ``write_fn``: one parquet directory per call, and the
    wall-clock time each call completed."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.done: list[float] = []

    def __call__(self, df: DataFrame) -> None:
        # a retried call overwrites its own directory
        df.write.mode("overwrite").parquet(
            os.path.join(self.root, f"c{len(self.done):06d}")
        )
        self.done.append(time.time())


@dataclass
class Drain:
    """What one drain left behind, for metrics and checks."""

    src: str
    sink: LandingSink
    state_dir: str
    t0: float = 0.0
    t1: float = 0.0
    progress: list = field(default_factory=list)
    error: str = ""
    sink_attempts: list[int] = field(default_factory=list)


def stage(src: str, seed: int, n_rows: int) -> list[feed.FeedFile]:
    """Write the seeded feed into ``src`` before any query starts."""
    files = feed.write_feed(src, seed, n_rows, ROWS_PER_FILE)
    # strictly increasing mtimes: the file source takes files in
    # modification order, which must be arrival (offset) order
    base = time.time() - len(files) - 1
    for i, f in enumerate(files):
        os.utime(os.path.join(src, f.name), (base + i, base + i))
    return files


def _start(
    spark: SparkSession,
    raw: DataFrame,
    d: Drain,
    ckpt: str,
    tracer: Tracer | None,
):
    cfg = PipelineConfig(window_size=WINDOW, checkpoint_dir=ckpt)
    if tracer is None:
        return job.start(
            spark, cfg, write_fn=d.sink, raw=raw, available_now=True
        )
    with tracer.span("pipeline.streaming_ingest"):
        clean, _dirty = pipeline.streaming_ingest(
            raw,
            group_id=cfg.kafka_group_id,
            check_fields=tuple(cfg.check_fields),
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        tid = f"batch-{batch_id}"
        with tracer.span("micro_batch", tid):
            with tracer.span("count_window_jvm.apply_count_window_batch", tid):
                fired = count_window_jvm.apply_count_window_batch(
                    batch_df,
                    batch_id,
                    d.state_dir,
                    key="essCode",
                    n=cfg.window_size,
                    timeout_ms=TIMEOUT_MS,
                    batch_time_ms=int(time.time() * 1000),
                )
            with tracer.span("sink.write_with_retry", tid):
                d.sink_attempts.append(
                    sink.write_with_retry(
                        d.sink, fired, max_retries=cfg.max_retries
                    )
                )

    return (
        clean.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def drain(
    spark: SparkSession, src: str, work: str, tracer: Tracer | None = None
) -> Drain:
    """Drain everything in ``src``, ``FILES_PER_TRIGGER`` files per
    micro-batch, landing fired windows under ``work``."""
    raw = (
        spark.readStream.schema(source.RAW_SCHEMA)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(src)
    )
    ckpt = os.path.join(work, "ckpt")
    # job.start keeps the count-window state next to the checkpoint
    d = Drain(
        src,
        LandingSink(os.path.join(work, "landing")),
        os.path.join(ckpt, "jvm_window_state"),
    )
    collector = ProgressCollector()
    spark.streams.addListener(collector)
    try:
        d.t0 = time.time()
        q = _start(spark, raw, d, ckpt, tracer)
        try:
            q.awaitTermination()
        except PySparkException as e:
            d.error = f"{type(e).__name__}: {str(e)[:500]}"
        d.t1 = time.time()
        # listener delivery is asynchronous: wait for the last batch
        last = q.lastProgress
        deadline = time.time() + 10
        while last is not None and time.time() < deadline:
            if any(p.batchId >= last["batchId"] for p in collector.progress):
                break
            time.sleep(0.02)
    finally:
        spark.streams.removeListener(collector)
    d.progress = list(collector.progress)
    return d


def warm(spark: SparkSession, work: str, seed: int) -> None:
    """Untimed drain of a small separate feed: JIT, codegen and the
    first-job costs land here instead of in the measured drain."""
    src = os.path.join(work, "src")
    stage(src, seed, WARM_ROWS)
    d = drain(spark, src, work)
    if d.error:
        raise RuntimeError(f"warm drain failed: {d.error}")


def evaluate(d: Drain) -> dict:
    """The exact output check plus the end-to-end metrics of one drain.
    An operation is a micro-batch."""
    con = check.connect(
        os.path.join(d.src, "*.parquet"),
        os.path.join(d.sink.root, "c*", "*.parquet"),
    )
    result = check.check_backlog(con, WINDOW)
    attempted = max(1, len({p.batchId for p in d.progress}))
    failed = min(attempted, result.failed_ops)
    problems = list(result.problems)
    if d.error:
        problems.append(d.error)
        failed = attempted
    # the whole backlog is due when the drain starts; a window lands
    # when the sink call that wrote it completes
    calls = [
        c
        for (c,) in con.execute(
            "SELECT call FROM landed WHERE flush_reason = 'count' "
            f"AND window_pos = {WINDOW - 1}"
        ).fetchall()
    ]
    lat = stats.window_latencies_ms(calls, d.t0, d.sink.done)
    metrics = {}
    if lat:
        metrics = {
            # per-batch rates from the progress events, so one stalled
            # batch moves the figure less than it moves rows / wall time
            "throughput_per_s": stats.median(
                p.processedRowsPerSecond for p in d.progress
            ),
            "latency_p50_ms": stats.quantile(lat, 0.5),
            "latency_p90_ms": stats.quantile(lat, 0.9),
        }
    else:
        problems.append("no count window landed")
        failed = attempted
    timeout_windows = con.execute(
        """SELECT count(*) FROM (SELECT DISTINCT call, ess, window_id
        FROM landed WHERE flush_reason = 'timeout')"""
    ).fetchone()[0]
    con.close()
    return {
        "metrics": metrics,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "landed_rows": result.landed_rows,
        "timeout_windows": timeout_windows,
    }
