"""The stream checker accepts a correct landing and rejects one with a
dropped row and a duplicated row; a failed check or an oracle mismatch
makes the command exit non-zero."""

import json
import os

import duckdb

from perfbench import batch, check, feed, run

N = 20


def _land(tmp_path, mutate=None):
    """Write the reference windows of a small feed as one sink call,
    optionally corrupted by ``mutate(con)``."""
    feed.write_feed(str(tmp_path / "src"), 5, 6000, 1000)
    con = check.connect(str(tmp_path / "src" / "*.parquet"))
    con.execute(
        f"""CREATE TABLE landing AS
        SELECT ess AS essCode, ctime AS cTime, substr(ctime, 1, 10) AS dayOfYear,
               power, soc, CAST(part AS INTEGER) AS topicPartition,
               CAST(off AS BIGINT) AS topicOffset,
               CAST(rn // {N} AS BIGINT) AS window_id,
               CAST(rn % {N} AS INTEGER) AS window_pos,
               'count' AS flush_reason
        FROM clean WHERE rn < cnt - cnt % {N}"""
    )
    if mutate is not None:
        mutate(con)
    os.makedirs(tmp_path / "landing" / "c000000")
    con.execute(
        f"COPY landing TO '{tmp_path}/landing/c000000/part-0.parquet' (FORMAT parquet)"
    )
    return check.connect(
        str(tmp_path / "src" / "*.parquet"),
        str(tmp_path / "landing" / "c*" / "*.parquet"),
    )


def _drop_one_duplicate_one(con: duckdb.DuckDBPyConnection) -> None:
    con.execute(
        """DELETE FROM landing WHERE topicOffset =
           (SELECT min(topicOffset) FROM landing WHERE window_pos = 3)
           AND window_pos = 3"""
    )
    con.execute(
        """INSERT INTO landing
           SELECT * FROM landing WHERE window_pos = 7 LIMIT 1"""
    )


def test_correct_landing_passes(tmp_path):
    result = check.check_backlog(_land(tmp_path), N)
    assert result.problems == [] and result.failed_ops == 0
    assert result.landed_rows > 0


def test_dropped_and_duplicated_rows_are_rejected(tmp_path):
    result = check.check_backlog(_land(tmp_path, _drop_one_duplicate_one), N)
    assert any("missing" in p for p in result.problems)
    assert any("duplicate" in p for p in result.problems)
    assert result.bad_calls == {0}
    assert result.failed_ops == 2  # the bad call, plus the missing row


def test_a_row_with_a_changed_payload_is_rejected(tmp_path):
    def alter(con):
        con.execute(
            "UPDATE landing SET power = '-1.00' WHERE window_pos = 0 AND window_id = 0"
        )

    result = check.check_backlog(_land(tmp_path, alter), N)
    assert any("wrong" in p for p in result.problems)
    assert any("missing" in p for p in result.problems)



def _timeout_at(cut, landed_until):
    """Re-land the busiest key as if it idled past the timeout after
    row ``cut``: rows 20..``landed_until``-1 land as timeout window 1,
    and its windows restart at 0 from row ``cut``."""

    def mutate(con):
        con.execute(
            """CREATE TABLE k AS SELECT ess FROM clean
               GROUP BY ess ORDER BY count(*) DESC, ess LIMIT 1"""
        )
        con.execute("DELETE FROM landing WHERE essCode IN (SELECT ess FROM k)")
        con.execute(
            f"""INSERT INTO landing
            SELECT ess, ctime, substr(ctime, 1, 10), power, soc,
                   CAST(part AS INTEGER), CAST(off AS BIGINT),
                   CAST(CASE WHEN rn < {N} THEN 0 WHEN rn < {cut} THEN 1
                        ELSE (rn - {cut}) // {N} END AS BIGINT),
                   CAST(CASE WHEN rn < {N} THEN rn WHEN rn < {cut} THEN rn - {N}
                        ELSE (rn - {cut}) % {N} END AS INTEGER),
                   CASE WHEN rn >= {N} AND rn < {cut} THEN 'timeout'
                        ELSE 'count' END
            FROM clean WHERE ess IN (SELECT ess FROM k)
              AND (rn < {landed_until}
                   OR (rn >= {cut}
                       AND rn - {cut} < (cnt - {cut}) - (cnt - {cut}) % {N}))"""
        )

    return mutate


def test_a_timeout_flushed_tail_passes(tmp_path):
    result = check.check_backlog(_land(tmp_path, _timeout_at(30, 30)), N)
    assert result.problems == [] and result.failed_ops == 0


def test_a_timeout_flush_that_leaves_a_row_behind_is_rejected(tmp_path):
    result = check.check_backlog(_land(tmp_path, _timeout_at(30, 29)), N)
    assert any("missing" in p for p in result.problems)

def test_a_failed_check_exits_non_zero(monkeypatch, capsys):
    def fake_run(self):
        self.count(4, 1, ["wrong or duplicate landed rows: 1"])
        return {k: 1.0 for k in run.END_TO_END}

    monkeypatch.setattr(run.Bench, "run", fake_run)
    code = run.main(["--workload", "ingest_backlog", "--seed", "1", "--seconds", "1"])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 1
    assert last["correct"] is False and (last["attempted"], last["failed"]) == (4, 1)


def test_an_oracle_mismatch_is_a_counted_failure(monkeypatch):
    monkeypatch.setattr(batch.oracle, "duckdb_connect", lambda sf: duckdb.connect())
    monkeypatch.setattr(
        batch.oracle,
        "compare_query",
        lambda spark, con, key, sf: ["rowcount spark=1 duck=2"]
        if key == "q1_pricing_summary"
        else [],
    )
    r = batch.Run()
    batch.check_round(None, "/nonexistent", 0, r)
    assert r.attempted == len(batch.FAMILY)
    assert r.problems == ["q1_pricing_summary: rowcount spark=1 duck=2"]


def test_benchmark_json_names_what_the_command_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
