"""Independent last-writer-wins oracle (DuckDB over the generated tail).

The engine's contract, restated without any engine code:

- the initial load applies every non-delete event of the initial files,
  last ``(op_ts, lsn)`` wins per ``(conv_id, turn_idx)``;
- every later event is applied version-aware: the event with the
  highest ``(op_ts, lsn)`` per key wins over the loaded row, and a
  winning delete removes the key.

Since every later segment is strictly newer than the initial files,
both rules fold into one query: LWW over (initial non-deletes ∪ later
events), then drop keys whose winner is a delete.
"""

from __future__ import annotations

import duckdb

KEY = ("conv_id", "turn_idx")


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def expected_sql(initial: list[str], later: list[str], cols: list[str]) -> str:
    sel = ", ".join(cols)
    src = f"SELECT * FROM read_parquet({_files(initial)}, union_by_name=true) WHERE op <> 'D'"
    if later:
        src += (
            f" UNION ALL BY NAME SELECT * FROM read_parquet({_files(later)},"
            " union_by_name=true)"
        )
    return (
        f"SELECT {sel} FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, "
        f"turn_idx ORDER BY op_ts DESC, lsn DESC) AS rn FROM ({src})) "
        "WHERE rn = 1 AND op <> 'D'"
    )


def compare(
    got_dir: str, initial: list[str], later: list[str], cols: list[str], tmp_dir: str
) -> dict:
    """Exact multiset comparison of the engine's table (parquet export in
    ``got_dir``) with the oracle.  Returns row counts on both sides and
    the number of rows only one side has."""
    sel = ", ".join(cols)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        con.execute("SET threads = 2")
        con.execute(
            f"CREATE TEMP VIEW got AS SELECT {sel} FROM read_parquet('{got_dir}/*.parquet')"
        )
        con.execute(f"CREATE TEMP VIEW exp AS {expected_sql(initial, later, cols)}")
        extra, missing, n_got, n_exp = con.execute(
            "SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM exp)),"
            " (SELECT count(*) FROM (SELECT * FROM exp EXCEPT ALL SELECT * FROM got)),"
            " (SELECT count(*) FROM got), (SELECT count(*) FROM exp)"
        ).fetchone()
    finally:
        con.close()
    return {"rows": n_got, "expected_rows": n_exp, "extra": extra, "missing": missing}


def last_events(path: str, keys: "list[tuple[str, int]] | None" = None) -> dict:
    """``{(conv_id, turn_idx): winning event}`` within one segment file
    (restricted to ``keys`` when given).  A winning delete maps to None:
    a reader must not see the key right after this segment commits."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, "
            "turn_idx ORDER BY op_ts DESC, lsn DESC) AS rn "
            f"FROM read_parquet('{path}')) WHERE rn = 1"
        ).fetchall()
        names = [d[0] for d in con.description]
    finally:
        con.close()
    out = {}
    want = set(keys) if keys is not None else None
    for r in rows:
        d = dict(zip(names, r))
        k = (d["conv_id"], d["turn_idx"])
        if want is None or k in want:
            out[k] = None if d["op"] == "D" else d
    return out
