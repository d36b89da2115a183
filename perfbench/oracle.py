"""DuckDB oracle: the canonical result compare and the etl replay.

The compare is the one `tools/check.py` applies: columns sorted by name,
rows sorted, cells rendered exactly (floats by repr, NaN as NULL).
"""
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def canonical(columns, rows):
    """(sorted column names, sorted rows of cells in that column order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = sorted([cell(r[i]) for i in order] for r in rows)
    return cols, out


def compare(mine, ref):
    """None when two (columns, rows) results agree, else a short reason."""
    a_cols, a = canonical(*mine)
    b_cols, b = canonical(*ref)
    if a_cols != b_cols:
        return f"columns {a_cols} vs {b_cols}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"value mismatch; first diffs: {diff}"
    return None


def frame(df):
    """A pandas frame as (columns, row tuples)."""
    return list(df.columns), list(df.itertuples(index=False, name=None))


class Answers:
    """The oracle SQL's answers on one data directory, in canonical form.
    The data is fixed, so each answer is computed once and kept beside the
    data (`<data_dir>/oracle/`); regenerating the data drops them."""

    def __init__(self, data_dir):
        self.data_dir = data_dir
        self.dir = os.path.join(data_dir, "oracle")
        self.con = None

    def get(self, sql):
        path = os.path.join(self.dir, hashlib.sha1(sql.encode()).hexdigest() + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                return tuple(json.load(fh))
        if self.con is None:
            self.con = connect(self.data_dir)
        ref = canonical(*frame(self.con.execute(sql).fetchdf()))
        os.makedirs(self.dir, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(ref, fh)
        os.replace(path + ".tmp", path)
        return ref

    def check(self, sql, result_dir):
        """Compare the engine's parquet result with the oracle SQL's."""
        mine = frame(duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").fetchdf())
        return compare(mine, self.get(sql))


def row_bytes(con, table):
    """SQL for a row's size in bytes: fixed-width columns at their width,
    strings at their length."""
    width = {"TINYINT": "1", "SMALLINT": "2", "INTEGER": "4", "BIGINT": "8",
             "FLOAT": "4", "DOUBLE": "8", "BOOLEAN": "1", "DATE": "4", "TIMESTAMP": "8"}
    cols = con.execute(f"DESCRIBE {table}").fetchall()
    return " + ".join(f"coalesce(length(\"{c}\"), 0)" if t == "VARCHAR" else width.get(t, "8")
                      for c, t, *_ in cols)


class EtlReplay:
    """Replays the executed etl statements on DuckDB, in order, and checks
    each read-back the engine returned."""

    def __init__(self, con, prep):
        self.con = con
        for s in prep:
            self.con.execute(s)

    def apply(self, op):
        """Run the op's DuckDB statements. For a statement that writes a
        keyed table (`op["target"]`), return the bytes of the rows it
        inserted, changed or deleted (the new version of a row where there
        is one, else the old), else 0."""
        target = op.get("target")
        if target:
            self.con.execute(f"CREATE OR REPLACE TEMP TABLE replay_before AS SELECT * FROM {target}")
        for s in op["duck"]:
            self.con.execute(s)
        if not target:
            return 0
        w = row_bytes(self.con, target)
        return self.con.execute(f"""
            WITH a AS (SELECT * FROM {target} EXCEPT ALL SELECT * FROM replay_before),
                 d AS (SELECT * FROM replay_before EXCEPT ALL SELECT * FROM {target})
            SELECT coalesce(sum(w), 0) FROM (
                SELECT {w} AS w FROM a
                UNION ALL SELECT {w} AS w FROM d WHERE k NOT IN (SELECT k FROM a))""").fetchone()[0]

    def check(self, op, cols, cells):
        sql = op.get("duck_readback", op["readback"])
        cur = self.con.execute(sql)
        ref_cols = [d[0] for d in cur.description]
        ref_rows = cur.fetchall()
        return compare((cols, cells), (ref_cols, ref_rows))
