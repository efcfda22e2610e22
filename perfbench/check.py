"""The output check for the ingest workload, computed in DuckDB straight
from the generated feed files and the landed sink files — independent
of every engine code path it checks.

Landed files are written one directory per sink call
(``<landing>/c<call>/*.parquet``), so each landed row carries the call
that wrote it.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb


@dataclass
class StreamCheck:
    landed_rows: int
    problems: list[str]
    bad_calls: set[int]

    @property
    def failed_ops(self) -> int:
        """Sink calls that wrote a wrong row, plus one for rows that
        never landed (they belong to no call)."""
        missing = any(p.startswith("missing") for p in self.problems)
        return len(self.bad_calls) + int(missing)


def connect(
    feed_glob: str, landing_glob: str | None = None
) -> duckdb.DuckDBPyConnection:
    """Views: ``feed`` (every generated row, with its file), ``clean``
    (rows that pass the required-field check, ranked per key in
    offset order) and, given ``landing_glob``, ``landed`` (every sink
    row, with its call)."""
    con = duckdb.connect()
    con.execute(
        f"""
        CREATE VIEW feed AS
        SELECT value, partition AS part, "offset" AS off, filename AS file
        FROM read_parquet('{feed_glob}', filename = true)"""
    )
    con.execute(
        """
        CREATE VIEW clean AS
        WITH valid AS (
          SELECT part, off, file, TRY_CAST(value AS JSON) AS j FROM feed),
        parsed AS (
          SELECT part, off, file,
                 json_extract_string(j, '$.essCode') AS ess,
                 json_extract_string(j, '$.cTime') AS ctime,
                 json_extract_string(j, '$.power') AS power,
                 json_extract_string(j, '$.soc') AS soc
          FROM valid)
        SELECT *,
               row_number() OVER (PARTITION BY ess ORDER BY off) - 1 AS rn,
               count(*) OVER (PARTITION BY ess) AS cnt
        FROM parsed
        WHERE ess IS NOT NULL AND ess <> ''
          AND ctime IS NOT NULL AND ctime <> ''"""
    )
    if landing_glob is None:
        return con
    con.execute(
        f"""
        CREATE VIEW landed AS
        SELECT essCode AS ess, cTime AS ctime, dayOfYear AS day,
               power, soc, topicPartition AS part, topicOffset AS off,
               window_id, window_pos, flush_reason,
               CAST(regexp_extract(filename, '/c([0-9]+)/', 1) AS INTEGER)
                 AS call
        FROM read_parquet('{landing_glob}', filename = true)"""
    )
    return con


def _calls(con, sql: str) -> set[int]:
    return {r[0] for r in con.execute(sql).fetchall()}


def check_backlog(con: duckdb.DuckDBPyConnection, n: int) -> StreamCheck:
    """Exact check: the landed rows equal the reference windows — clean
    rows per key in offset order, cut into windows of ``n``, with the
    last partial window held back.

    ``job.start`` arms a wall-clock partial-window timeout: a key idle
    that long between batches fires its held-back tail as one
    ``timeout`` window and restarts its window counter at 0. Where that
    happened is read off the landing — after each timeout window, and
    where a key's count windows restart at 0 (an idle key with an empty
    tail). These cuts split a key's rows into segments, each checked as
    above, except that the partial tail of every segment but the last
    must have landed as that timeout window."""
    con.execute(
        """
        CREATE OR REPLACE TEMP VIEW cuts AS
        SELECT l.ess, max(c.rn) + 1 AS cut
        FROM landed l JOIN clean c USING (ess, part, off)
        WHERE l.flush_reason = 'timeout'
        GROUP BY l.call, l.ess, l.window_id
        UNION
        SELECT l.ess, c.rn AS cut
        FROM landed l JOIN clean c USING (ess, part, off)
        WHERE l.flush_reason = 'count' AND l.window_id = 0
          AND l.window_pos = 0 AND c.rn > 0"""
    )
    con.execute(
        f"""
        CREATE OR REPLACE TEMP VIEW expected AS
        WITH seg AS (
          SELECT c.*,
                 coalesce(max(x.cut) FILTER (WHERE x.cut <= c.rn), 0) AS lo,
                 min(x.cut) FILTER (WHERE x.cut > c.rn) AS hi
          FROM clean c LEFT JOIN cuts x USING (ess)
          GROUP BY ALL),
        pos AS (
          SELECT *, rn - lo AS k,
                 (coalesce(hi, cnt) - lo) // {n} * {n} AS full_rows
          FROM seg)
        SELECT ess, ctime, substr(ctime, 1, 10) AS day, power, soc, part,
               off,
               CAST(CASE WHEN k < full_rows THEN k // {n}
                         ELSE full_rows // {n} END AS BIGINT) AS window_id,
               CAST(CASE WHEN k < full_rows THEN k % {n}
                         ELSE k - full_rows END AS INTEGER) AS window_pos,
               CASE WHEN k < full_rows THEN 'count' ELSE 'timeout' END
                 AS flush_reason
        FROM pos WHERE k < full_rows OR hi IS NOT NULL"""
    )
    cols = (
        "ess, ctime, day, power, soc, part, off, window_id, window_pos, "
        "flush_reason"
    )
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM landed "
        f"EXCEPT ALL SELECT {cols} FROM expected)"
    ).fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM expected "
        f"EXCEPT ALL SELECT {cols} FROM landed)"
    ).fetchone()[0]
    problems = []
    bad: set[int] = set()
    if extra:
        problems.append(f"wrong or duplicate landed rows: {extra}")
        bad = _calls(
            con,
            f"""SELECT DISTINCT l.call FROM landed l
            JOIN (SELECT {cols} FROM landed
                  EXCEPT ALL SELECT {cols} FROM expected) x
            USING (part, off)""",
        )
    if missing:
        problems.append(f"missing landed rows: {missing}")
    landed = con.execute("SELECT count(*) FROM landed").fetchone()[0]
    return StreamCheck(landed, problems, bad)
