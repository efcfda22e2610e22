"""The ``batch_queries`` workload: a closed loop with one client over
two key families, each query built with ``registry.QUERIES[key]`` and
written to Spark's noop sink.

- ``relational``: few jobs per query; scan, join and aggregate bound.
- ``curation``: many jobs per query, driver-side collects and
  Arrow/Python passes; the targets of job-collapse work.
"""

from __future__ import annotations

import contextlib
import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from kafkatoclickhouse_spark import oracle, registry, tables
from perfbench import stats
from perfbench.trace import Tracer

# The read-only fixture tables (FIXTURES.md §A) at sf0.01, beside the
# engine's default scale; the seed only shuffles the query order.
SF_DIR = os.path.join(os.path.dirname(tables.DEFAULT_SF_DIR), "sf0.01")
MIN_ROUNDS = 2
RELATIONAL = (
    "ingest_keyed_counts",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "q21_sole_late_supplier",
    "window_topk_per_group",
)
CURATION = (
    "retrieval_hybrid_rrf",
    "text_bm25_topk",
    "corpus_dsir_weights",
    "dedup_containment_clusters",
    "corpus_source_overlap",
    "text_bigram_logperp",
)
FAMILY = {k: "relational" for k in RELATIONAL} | {
    k: "curation" for k in CURATION
}


@dataclass
class Run:
    """Per-query wall times of the timed rounds: (round, key, build s,
    execute s)."""

    rows: list[tuple[int, str, float, float]] = field(default_factory=list)
    attempted: int = 0
    problems: list[str] = field(default_factory=list)

    def round_s(self, family: str | None = None) -> list[float]:
        totals: dict[int, float] = {}
        for rnd, key, build, execute in self.rows:
            if family in (None, FAMILY[key]):
                totals[rnd] = totals.get(rnd, 0.0) + build + execute
        return [totals[r] for r in sorted(totals)]

    def metrics(self) -> dict[str, float]:
        lat = [(b + e) * 1000.0 for _r, _k, b, e in self.rows]
        return {
            "throughput_per_s": len(FAMILY) / stats.median(self.round_s()),
            "latency_p50_ms": stats.quantile(lat, 0.5),
            "latency_p90_ms": stats.quantile(lat, 0.9),
        }


def check_round(spark: SparkSession, sf_dir: str, seed: int, run: Run) -> None:
    """Every key once against its DuckDB oracle. This is also the warm
    round: it builds the persisted artifacts the curation keys serve
    from, outside the timed rounds."""
    registry.load_all()
    con = oracle.duckdb_connect(sf_dir)
    keys = list(FAMILY)
    random.Random(seed).shuffle(keys)
    for key in keys:
        run.attempted += 1
        try:
            problems = oracle.compare_query(spark, con, key, sf_dir)
        except Exception as e:  # a failing query is a counted failure
            problems = [f"{type(e).__name__}: {str(e)[:300]}"]
        run.problems += [f"{key}: {p}" for p in problems]
    con.close()


def timed_rounds(
    spark: SparkSession,
    sf_dir: str,
    seed: int,
    seconds: float,
    run: Run,
    tracer: Tracer | None = None,
) -> None:
    """Rounds over every key, each in an order shuffled by the seed,
    until ``seconds`` have passed (at least ``MIN_ROUNDS``)."""
    rng = random.Random(seed + 1)
    span = tracer.span if tracer else lambda *_: contextlib.nullcontext()
    t_end = time.perf_counter() + seconds
    rnd = 0
    while rnd < MIN_ROUNDS or time.perf_counter() < t_end:
        keys = list(FAMILY)
        rng.shuffle(keys)
        for key in keys:
            tid = f"r{rnd}:{key}"
            run.attempted += 1
            try:
                with span(f"query.{FAMILY[key]}", tid):
                    t0 = time.perf_counter()
                    with span(f"operators.build.{FAMILY[key]}", tid):
                        df = registry.QUERIES[key](spark, sf_dir)
                    t1 = time.perf_counter()
                    with span(f"operators.execute.{FAMILY[key]}", tid):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as e:  # a failing query is a counted failure
                run.problems.append(f"{key}: {type(e).__name__}: {str(e)[:300]}")
                continue
            run.rows.append((rnd, key, t1 - t0, t2 - t1))
        rnd += 1
