"""Correctness checks, run after the timed window against DuckDB.

Each check returns True or False; ``run.py`` counts every False as a
failed operation.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os


def digest(cols, rows) -> str:
    """Order-insensitive digest: columns sorted by name, rows sorted by
    their repr — the comparison the repository's oracle checks use."""

    def norm(v):
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, datetime.datetime):
            return v.isoformat()
        return v

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(repr(norm(r[i])) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def read_jsonl(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _fitbit_sql(files: list[str]) -> str:
    """Parsed and classified fitbit rows of the given CSV files, with
    the program's warning rule written out in SQL (double arithmetic,
    as Spark evaluates it)."""
    paths = ", ".join("'" + p.replace("'", "''") + "'" for p in files)
    return f"""
    WITH raw AS (
      SELECT string_split(line, ',') AS f
      FROM read_csv([{paths}], columns={{'line': 'VARCHAR'}}, delim=E'\\x01',
                    header=false, quote='', escape='', auto_detect=false)
    ), fit AS (
      SELECT trim(f[3]) AS user_id, CAST(trim(f[6]) AS DOUBLE) AS pulse,
             CAST(trim(f[8]) AS INTEGER) AS age, trim(f[9]) AS bp_cat,
             trim(f[10]) AS mts
      FROM raw WHERE trim(f[1]) = 'fitbit'
    ), c AS (
      SELECT *, pulse >= 0.95::DOUBLE * (CASE WHEN age < 40 THEN (220 - age)::DOUBLE
                                         ELSE 208::DOUBLE - 0.75::DOUBLE * age END) AS hot
      FROM fit
    )
    SELECT user_id, mts,
           CASE WHEN hot AND bp_cat IN ('HYP_1', 'HYP_2', 'HYP_CR') THEN 'critical'
                WHEN hot THEN 'simple' ELSE 'no-use' END AS warning
    FROM c
    """


def keyed_sink(live_dir: str, committed: list[str], sink_dir: str) -> bool:
    """The sink table holds exactly the users with a warning in the
    committed files, each at its latest warning's machine_timestamp."""
    import duckdb

    from iot_sparkstreaming_spark.io.keyed_sink import read_table

    files = [os.path.join(live_dir, f) for f in committed]
    if not files:
        return False
    expected = dict(duckdb.connect().execute(
        f"SELECT user_id, max(mts) FROM ({_fitbit_sql(files)}) "
        "WHERE warning <> 'no-use' GROUP BY user_id").fetchall())
    got = {r["user_id"]: r["machine_timestamp"] for r in read_table(sink_dir)}
    return bool(expected) and got == expected


def streaks(backlog_dir: str, streaks_json: str) -> bool:
    """The streak rows equal a DuckDB window computation over the same
    files: per user in timestamp order, a run of warnings resets at a
    'no-use' row, and every row that extends a run to 3 or more is
    emitted. Both sides must be non-empty."""
    import duckdb

    files = sorted(os.path.join(backlog_dir, f) for f in os.listdir(backlog_dir)
                   if f.endswith(".csv"))
    res = duckdb.connect().execute(f"""
        WITH w AS ({_fitbit_sql(files)}),
        g AS (SELECT *, sum(CASE WHEN warning = 'no-use' THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY mts ROWS UNBOUNDED PRECEDING) AS grp
              FROM w),
        s AS (SELECT *, CASE WHEN warning = 'no-use' THEN 0
                        ELSE row_number() OVER (PARTITION BY user_id, grp ORDER BY mts)
                             - CASE WHEN grp > 0 THEN 1 ELSE 0 END END AS streak_len
              FROM g)
        SELECT user_id, streak_len, mts AS machine_timestamp, warning
        FROM s WHERE streak_len >= 3""")
    cols = [d[0] for d in res.description]
    want = res.fetchall()
    with open(streaks_json) as f:
        rows = json.load(f)
    if not rows or not want:
        return False  # an empty result would check nothing
    got_cols = list(rows[0])
    return sorted(got_cols) == sorted(cols) and digest(
        got_cols, [tuple(r[c] for c in got_cols) for r in rows]) == digest(cols, want)


def oracles(tables_dir: str, digests: dict[str, str]) -> dict[str, bool]:
    """Each query's Spark digest against its DuckDB oracle's."""
    import duckdb

    from iot_sparkstreaming_spark.queries.registry import load_all

    reg = load_all()
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(tables_dir, f)}'")
    out = {}
    for name, got in digests.items():
        sql = reg[name].oracle
        if sql is None:
            continue
        res = con.execute(sql)
        out[name] = digest([d[0] for d in res.description], res.fetchall()) == got
    return out
