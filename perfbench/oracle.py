"""Independent DuckDB oracle for the backfill output.

Reads the source table's parquet data files directly (not through the
program's scan planner) and recomputes, for a sample of conversations, the
left columns (gap session id, previous role) and every feature with the
naive definition: events of the same conversation with
``round_down(ts - w, 1h) <= event.ts < ts`` (strict ``<``: an event at the
query instant or later never leaks into a feature).
"""

from __future__ import annotations

import glob
import math
import os

import duckdb

import common

SESSION_GAP_MS = 30 * 60_000


def _parquet(files: list[str]) -> str:
    return "read_parquet([" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "])"


def _src_view(con, source_location: str, lo_ms: int, hi_ms: int) -> None:
    files = sorted(glob.glob(os.path.join(source_location, "data", "**", "*.parquet"), recursive=True))
    con.execute(
        "CREATE TEMP VIEW src AS "
        f"SELECT conv_id, turn_idx, role, epoch_ms(ts) AS t FROM {_parquet(files)} "
        f"WHERE epoch_ms(ts) >= {int(lo_ms)} AND epoch_ms(ts) < {int(hi_ms)}"
    )


def expected_rows(source_location: str, lo_ms: int, hi_ms: int) -> int:
    """Assistant turns in ``[lo_ms, hi_ms)``: one feature row each."""
    with duckdb.connect() as con:
        _src_view(con, source_location, lo_ms, hi_ms)
        return con.execute("SELECT count(*) FROM src WHERE role = 'assistant'").fetchone()[0]


def expected_sample(source_location: str, lo_ms: int, hi_ms: int, convs: list[str]) -> dict:
    """(conv_id, turn_idx) -> {column: value} for the sampled conversations'
    assistant turns."""
    feats = []
    for op in ("count", "sum", "average"):
        for w, w_ms in common.WINDOW_MS.items():
            lo = f"(q.t - {w_ms}) - ((q.t - {w_ms}) % {common.TAIL_HOP_MS})"
            cond = f"e.t >= {lo}"
            fn = {"count": "count", "sum": "sum", "average": "avg"}[op]
            feats.append(f"{fn}(e.turn_idx) FILTER (WHERE {cond}) AS turn_idx_{op}_{w}")
    sql = f"""
    WITH s AS (SELECT * FROM src WHERE conv_id IN (SELECT unnest(?))),
    lagged AS (
      SELECT conv_id, turn_idx, role, t,
             lag(role) OVER w AS prev_role, t - lag(t) OVER w AS gap
      FROM s WINDOW w AS (PARTITION BY conv_id ORDER BY t, turn_idx)
    ),
    seq AS (
      SELECT *, sum(CASE WHEN gap > {SESSION_GAP_MS} THEN 1 ELSE 0 END) OVER (
               PARTITION BY conv_id ORDER BY t, turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM lagged
    ),
    q AS (SELECT * FROM seq WHERE role = 'assistant')
    SELECT q.conv_id, q.turn_idx, q.t, any_value(q.prev_role) AS prev_role,
           any_value(q.session_id) AS session_id, {", ".join(feats)}
    FROM q LEFT JOIN s e
      ON e.conv_id = q.conv_id AND e.t < q.t AND e.t >= q.t - {max(common.WINDOW_MS.values()) + common.TAIL_HOP_MS}
    GROUP BY q.conv_id, q.turn_idx, q.t
    """
    with duckdb.connect() as con:
        _src_view(con, source_location, lo_ms, hi_ms)
        cur = con.execute(sql, [convs])
        names = [d[0] for d in cur.description]
        rows = cur.fetchall()
    return {(r[0], r[1]): dict(zip(names, r)) for r in rows}


def output_sample(files: list[str], convs: list[str]) -> dict:
    """The same rows read back from the written output table's data files."""
    cols = ", ".join(f"conv_{f} AS {f}" for f in common.FEATURES)
    with duckdb.connect() as con:
        cur = con.execute(
            f"SELECT conv_id, turn_idx, epoch_ms(ts) AS t, prev_role, session_id, {cols} "
            f"FROM {_parquet(files)} WHERE conv_id IN (SELECT unnest(?))",
            [convs],
        )
        names = [d[0] for d in cur.description]
        rows = cur.fetchall()
    out: dict = {}
    for r in rows:
        out.setdefault((r[0], r[1]), []).append(dict(zip(names, r)))
    return out


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(expected: dict, got: dict) -> list[str]:
    """Mismatch descriptions (empty when every sampled row matches)."""
    problems = []
    for key, want in expected.items():
        rows = got.get(key, [])
        if len(rows) != 1:
            problems.append(f"{key}: {len(rows)} output rows, want 1")
            continue
        have = rows[0]
        for col in ("t", "prev_role", "session_id", *common.FEATURES):
            if not _same(have[col], want[col]):
                problems.append(f"{key}.{col}: got {have[col]!r}, want {want[col]!r}")
    extra = set(got) - set(expected)
    if extra:
        problems.append(f"{len(extra)} unexpected output rows, e.g. {sorted(extra)[0]}")
    return problems
