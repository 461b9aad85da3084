"""Correctness checks, run after the timed phase and outside it.

Query-backed ops are compared with their registered DuckDB oracle
(``registry.all_oracles()``) on the generated inputs by the repo's own
comparator, ``tests/oracle.py``: the same column names in any case and
order, the same row count, the same rows as a multiset after each cell is
normalized, and no oracle column whose dtype would diverge from Spark's.

``table_lifecycle`` is checked against a DuckDB replay of its op sequence
over the same batches: the final table, the time-travel read, the point
lookup, the batch change feed and the rows the stream drain delivered.
The rows are compared by the same cell and row normalization.
"""

from __future__ import annotations

import os
import sys

import duckdb

import gen

sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
import oracle  # noqa: E402

CHANGE_COLS = ("_change_type", "_commit_version")


def compare(got_cols: list[str], got_rows, exp_cols: list[str], exp_rows) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in exp_cols):
        return f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return f"row count {len(got_rows)} != {len(exp_rows)}"
    g = oracle._norm_rows([c.lower() for c in got_cols], got_rows)
    e = oracle._norm_rows([c.lower() for c in exp_cols], exp_rows)
    for a, b in zip(g, e):
        if a != b:
            return f"row {a} != {b}"
    return None


def check_query(df, oracle_sql: str, data_dir: str) -> str | None:
    """None when ``df`` matches its oracle on ``data_dir``, else why not."""
    try:
        oracle.assert_matches_oracle(df, oracle_sql, data_dir)
    except AssertionError as e:
        return str(e)
    return None


# --- table_lifecycle replay ------------------------------------------------------

def lifecycle_expected(data_dir: str, versions: dict, lookup_key: int) -> dict[str, tuple]:
    """(columns, rows) DuckDB derives for each checked lifecycle read, given
    the versions the Spark run published."""
    lc = os.path.join(data_dir, "lifecycle")
    cols = ", ".join(gen.LIFECYCLE_COLS)
    con = duckdb.connect()

    def rows(sql: str) -> list[tuple]:
        return con.execute(sql).fetchall()

    def batch(name: str) -> str:
        return f"read_parquet('{os.path.join(lc, name + '.parquet')}')"

    con.execute("CREATE TABLE changes AS SELECT '' AS _change_type, 0 AS _commit_version, "
                f"{cols} FROM {batch('upsert')} LIMIT 0")
    con.execute(f"CREATE TABLE t AS SELECT {cols} FROM {batch('append0')} LIMIT 0")
    for i, v in enumerate(versions["appends"]):
        con.execute(f"INSERT INTO changes SELECT 'insert', {v}, {cols} FROM {batch(f'append{i}')}")
        con.execute(f"INSERT INTO t SELECT {cols} FROM {batch(f'append{i}')}")
    out = {"read_version": (list(gen.LIFECYCLE_COLS), rows(f"SELECT {cols} FROM t"))}

    v = versions["merge_upsert"]
    u = batch("upsert")
    con.execute(f"INSERT INTO changes SELECT 'update_preimage', {v}, {cols} FROM t "
                f"WHERE o_orderkey IN (SELECT o_orderkey FROM {u})")
    con.execute(f"INSERT INTO changes SELECT CASE WHEN o_orderkey IN (SELECT o_orderkey FROM t) "
                f"THEN 'update_postimage' ELSE 'insert' END, {v}, {cols} FROM {u}")
    con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {u})")
    con.execute(f"INSERT INTO t SELECT {cols} FROM {u}")

    v = versions["delete_where"]
    con.execute(f"INSERT INTO changes SELECT 'delete', {v}, {cols} FROM t WHERE {gen.DELETE_WHERE}")
    con.execute(f"DELETE FROM t WHERE {gen.DELETE_WHERE}")

    v = versions["update_where"]
    sets = ", ".join(f"{c} = {e}" for c, e in gen.UPDATE_SET.items())
    post = ", ".join(gen.UPDATE_SET.get(c, c) for c in gen.LIFECYCLE_COLS)
    con.execute(f"INSERT INTO changes SELECT 'update_preimage', {v}, {cols} FROM t WHERE {gen.UPDATE_WHERE}")
    con.execute(f"INSERT INTO changes SELECT 'update_postimage', {v}, {post} FROM t WHERE {gen.UPDATE_WHERE}")
    con.execute(f"UPDATE t SET {sets} WHERE {gen.UPDATE_WHERE}")

    ccols = list(CHANGE_COLS) + list(gen.LIFECYCLE_COLS)
    out["read_full"] = (list(gen.LIFECYCLE_COLS), rows(f"SELECT {cols} FROM t"))
    out["point_lookup"] = (
        list(gen.LIFECYCLE_COLS), rows(f"SELECT {cols} FROM t WHERE o_orderkey = {lookup_key}")
    )
    out["read_changes"] = (
        ccols, rows(f"SELECT * FROM changes WHERE _commit_version > {versions['appended']}")
    )
    out["stream_drain"] = (ccols, rows("SELECT * FROM changes"))
    return out


def check_lifecycle(got: dict[str, tuple], expected: dict[str, tuple]) -> dict[str, str | None]:
    """Per read: None when Spark's rows equal the replay's."""
    res = {}
    for name, (ecols, erows) in expected.items():
        gcols, grows = got[name]
        keep = [i for i, c in enumerate(gcols) if c in ecols]
        res[name] = compare(
            [gcols[i] for i in keep], [tuple(r[i] for i in keep) for r in grows], ecols, erows
        )
    return res
