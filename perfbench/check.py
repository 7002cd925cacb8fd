"""Correctness checks, run after the timed window.

- Queries: each result against its DuckDB oracle over the same parquet,
  with the comparison rules of ``tools/verify_local.py`` (imported, not
  copied).
- Ingest: the per-batch counts against the generator's plan, the events
  table against the exact set of valid ids landed, and
  ``daily_event_summary`` against a DuckDB ``GROUP BY`` over the events
  parquet.
"""

from __future__ import annotations

import duckdb

from tools.verify_local import duck_con, normalize, rows_equal

__all__ = ["duck_con", "oracle_mismatch", "ingest_mismatches"]


def oracle_mismatch(con, rows: list[tuple], cols: list[str], oracle_sql: str) -> str | None:
    """None if ``rows`` equal the oracle's result, else what differs."""
    cur = con.execute(oracle_sql)
    o_rows, o_cols = normalize(
        [tuple(r) for r in cur.fetchall()], [d[0] for d in cur.description]
    )
    s_rows, s_cols = normalize(rows, cols)
    if s_cols != o_cols:
        return f"columns {s_cols} vs oracle {o_cols}"
    if len(s_rows) != len(o_rows):
        return f"{len(s_rows)} rows vs oracle {len(o_rows)}"
    if not rows_equal(s_rows, o_rows):
        return "values differ from oracle"
    return None


def ingest_mismatches(
    history: list[dict], files: list, landed_ids: set[str], events_path: str, summary_path: str
) -> list[str]:
    """Everything that differs from the plan; empty when the end state is exact.

    ``history`` is the pipeline's per-batch record, ``files`` the hour-files
    landed (one batch each, after the seeding batches)."""
    bad = []
    n_seed = len(history) - len(files)
    if n_seed < 1:
        bad.append(f"{len(history)} batches for {len(files)} step files")
        return bad
    for h, hf in zip(history[n_seed:], files):
        want = (len(hf.lines), len(hf.fresh_ids), hf.corrupt)
        got = (h["seen"], h["inserted"], h["corrupt"])
        if got != want:
            bad.append(f"batch {h['batch_id']}: seen/inserted/corrupt {got} != plan {want}")

    con = duckdb.connect()
    events = f"read_parquet('{events_path}/**/*.parquet', hive_partitioning = false)"
    n_rows, n_ids = con.execute(f"SELECT count(*), count(DISTINCT event_id) FROM {events}").fetchone()
    if n_rows != n_ids:
        bad.append(f"events table holds {n_rows - n_ids} duplicate rows")
    got_ids = {r[0] for r in con.execute(f"SELECT DISTINCT event_id FROM {events}").fetchall()}
    if got_ids != landed_ids:
        bad.append(
            f"events ids: {len(got_ids - landed_ids)} unexpected, "
            f"{len(landed_ids - got_ids)} missing"
        )

    cur = con.execute(
        "SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS event_count, "
        f"min(ts) AS first_event, max(ts) AS last_event FROM {events} GROUP BY 1, 2"
    )
    want = [tuple(r) for r in cur.fetchall()]
    cols = [d[0] for d in cur.description]
    got = [
        tuple(r)
        for r in con.execute(
            f"SELECT {', '.join(cols)} FROM read_parquet('{summary_path}/*.parquet')"
        ).fetchall()
    ]
    w, _ = normalize(want, cols)
    g, _ = normalize(got, cols)
    if len(w) != len(g) or not rows_equal(g, w):
        bad.append(f"daily_event_summary ({len(g)} rows) != GROUP BY over events ({len(w)} rows)")
    con.close()
    return bad
