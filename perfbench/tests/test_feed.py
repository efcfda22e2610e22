"""The seeded feed generator writes byte-identical files for one seed
and different files for another."""

import os

import pyarrow.parquet as pq

from perfbench import feed


def _bytes(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_feed_is_a_function_of_the_seed(tmp_path):
    a = feed.write_feed(str(tmp_path / "a"), 7, 3000, 1000)
    b = feed.write_feed(str(tmp_path / "b"), 7, 3000, 1000)
    c = feed.write_feed(str(tmp_path / "c"), 8, 3000, 1000)
    assert a == b == c and [f.rows for f in a] == [1000] * 3
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert _bytes(tmp_path / "a") != _bytes(tmp_path / "c")


def test_feed_shape_keys_partitions_and_dirt(tmp_path):
    feed.write_feed(str(tmp_path), 3, 20000, 5000)
    t = pq.read_table(str(tmp_path)).to_pydict()
    values = t["value"]
    dirty = sum(
        1
        for v in values
        if not v.endswith("}") or '""' in v or "essCode" not in v or "cTime" not in v
    )
    assert 0.01 < dirty / len(values) < 0.03
    # every key sits on one partition, offsets rise within a partition
    key_part = {}
    last = {}
    for v, p, o in zip(values, t["partition"], t["offset"]):
        assert o > last.get(p, -1)
        last[p] = o
        if '"essCode": "ESS' in v:
            key = v.split('"essCode": "')[1][:7]
            assert key_part.setdefault(key, p) == p
    # Zipf skew: the hottest key carries far more than a uniform share
    counts = {}
    for v in values:
        if '"essCode": "ESS' in v:
            k = v.split('"essCode": "')[1][:7]
            counts[k] = counts.get(k, 0) + 1
    assert max(counts.values()) > 50 * len(values) / feed.N_KEYS

