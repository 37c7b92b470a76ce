"""Independent correctness oracle: DuckDB replays the same change log.

Converged state of a log: per ``(repo, path)`` the event with the highest
``seq`` wins, keys whose winner is a delete are absent, ``license`` comes
from the winner's JSON payload and ``content_sha`` is sha256(content).
Nothing here goes through Spark or the program's code.
"""

from __future__ import annotations

from collections import Counter

import duckdb

STATE_COLUMNS = ("repo", "path", "commit", "lang", "content_sha", "license")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _winners(glob: str, max_seq: int | None) -> str:
    where = f"WHERE seq <= {int(max_seq)}" if max_seq is not None else ""
    return f"""
        SELECT repo, path, commit, lang, sha256(content) AS content_sha,
               json_extract_string(payload_json, '$.license') AS license, op
        FROM (
          SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
          FROM read_parquet('{glob}') {where}
        ) WHERE rn = 1"""


def final_state(con, glob: str, max_seq: int | None = None) -> Counter:
    """Live rows of the converged state, as a multiset of tuples in
    ``STATE_COLUMNS`` order."""
    rows = con.sql(
        f"SELECT {', '.join(STATE_COLUMNS)} FROM ({_winners(glob, max_seq)}) "
        "WHERE op <> 'D'"
    ).fetchall()
    return Counter(rows)


def key_states(con, glob: str, keys: list[tuple[str, str]], max_seq: int | None) -> dict:
    """content_sha per key at ``max_seq`` (None for a deleted or unseen key)."""
    con.execute("CREATE OR REPLACE TEMP TABLE probe_keys (repo VARCHAR, path VARCHAR)")
    con.executemany("INSERT INTO probe_keys VALUES (?, ?)", keys)
    rows = con.sql(
        f"SELECT w.repo, w.path, w.content_sha FROM ({_winners(glob, max_seq)}) w "
        "JOIN probe_keys USING (repo, path) WHERE w.op <> 'D'"
    ).fetchall()
    found = {(r, p): sha for r, p, sha in rows}
    return {k: found.get(k) for k in keys}


def sample_keys(con, glob: str, n: int, seed: int) -> list[tuple[str, str]]:
    """``n`` distinct keys of the log, chosen by ``seed``."""
    return [
        tuple(r)
        for r in con.sql(
            f"SELECT DISTINCT repo, path FROM read_parquet('{glob}') "
            f"ORDER BY hash(repo || '/' || path || '{int(seed)}') LIMIT {int(n)}"
        ).fetchall()
    ]
