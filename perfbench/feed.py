"""The seeded generator of the Kafka-shaped ingest feed. It is a pure
function of its arguments (numpy + pyarrow, no Spark), so the same seed
writes byte-identical files and the engine only ever sees what it
wrote.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_KEYS = 2000
ZIPF_S = 1.1
DIRTY_SHARE = 0.02
N_PARTITIONS = 8
TOPIC = "ess-telemetry"

RAW_ARROW_SCHEMA = pa.schema(
    [
        ("value", pa.string()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
    ]
)


@dataclass(frozen=True)
class FeedFile:
    name: str
    rows: int


def _payloads(
    rng: np.random.Generator, n: int
) -> tuple[list[str], np.ndarray]:
    """Reference-shaped JSON payloads: essCode is Zipf-skewed over
    ``N_KEYS`` keys; about ``DIRTY_SHARE`` of rows are dirty (a missing
    required field, an empty required field, or malformed JSON)."""
    ranks = np.arange(1, N_KEYS + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    # A key's rank is the same on every seed (ESS0000 is the hottest), so
    # the hot keys fall in the same shuffle partitions, and the straggler
    # task a skewed key makes does not change from seed to seed.
    key_ids = rng.choice(N_KEYS, size=n, p=p / p.sum())
    # cTime advances one second every ten rows; format each second once
    secs = np.arange(n) // 10
    stamps = np.datetime64("2024-01-01T00:00:00") + np.arange(n // 10 + 1)
    ctime = [str(t).replace("T", " ") for t in stamps]
    power = rng.uniform(0.0, 500.0, n).tolist()
    soc = rng.integers(0, 101, n).tolist()
    dirt = (rng.random(n) < DIRTY_SHARE).tolist()
    kind = rng.integers(0, 3, n).tolist()
    out = []
    for i, key in enumerate(key_ids.tolist()):
        ess, ct = f"ESS{key:04d}", ctime[secs[i]]
        tail = f'"power": "{power[i]:.2f}", "soc": "{soc[i]}"}}'
        if dirt[i] and kind[i] == 0:  # a required field is missing
            field_ = f'"cTime": "{ct}"' if key % 2 else f'"essCode": "{ess}"'
            out.append(f"{{{field_}, {tail}")
            continue
        if dirt[i] and kind[i] == 1:  # a required field is empty
            if key % 2:
                ess = ""
            else:
                ct = ""
        js = f'{{"essCode": "{ess}", "cTime": "{ct}", {tail}'
        if dirt[i] and kind[i] == 2:
            js = js[: len(js) // 3]  # cut inside cTime: unparseable
        out.append(js)
    return out, key_ids


def write_feed(
    out_dir: str, seed: int, n_rows: int, rows_per_file: int
) -> list[FeedFile]:
    """Write ``n_rows`` Kafka-shaped rows (``source.RAW_SCHEMA``) as
    parquet files of ``rows_per_file`` rows each, in arrival order.
    Every key lives on one partition (``key % N_PARTITIONS``) and
    offsets rise within each partition, as in a Kafka topic."""
    rng = np.random.default_rng(seed)
    values, key_ids = _payloads(rng, n_rows)
    part = (key_ids % N_PARTITIONS).astype(np.int32)
    offset = np.zeros(n_rows, dtype=np.int64)
    for p in range(N_PARTITIONS):
        idx = np.flatnonzero(part == p)
        offset[idx] = np.arange(idx.size)
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for i, lo in enumerate(range(0, n_rows, rows_per_file)):
        hi = min(lo + rows_per_file, n_rows)
        table = pa.table(
            {
                "value": pa.array(values[lo:hi], pa.string()),
                "topic": pa.array([TOPIC] * (hi - lo), pa.string()),
                "partition": pa.array(part[lo:hi]),
                "offset": pa.array(offset[lo:hi]),
            },
            schema=RAW_ARROW_SCHEMA,
        )
        name = f"part-{i:05d}.parquet"
        pq.write_table(table, os.path.join(out_dir, name))
        files.append(FeedFile(name, hi - lo))
    return files
