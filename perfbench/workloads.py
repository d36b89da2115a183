"""Seeded operation streams of the benchmark's workloads.

The seed picks the order of the operations (`analytic`) or the statement
parameters and order (`etl`); the engine receives only the generated
operations. Everything here is a pure function of its arguments, so one
seed always yields one operation sequence.

A plan is a list of passes, each pass a list of operations; an operation
is a dict with `kind` ("query" or a statement kind), `name`, and for
statements the engine SQL `sql`, the DuckDB statements `duck` that specify
the same effect, and a `readback` query checked against DuckDB.
"""
import random

WORKLOADS = ("analytic", "etl")

# -- analytic: queries graft.Bench times, one per operator family ---------

# One query for each operator family behind the per-family medians; all
# are among the 39 queries graft.Bench times (core, extended, codec sets).
ANALYTIC = {
    "q_join_inner": "operators.join_ms",
    "q_join_asof": "operators.asof_ms",
    "q_join_range": "operators.range_ms",
    "q_window_ranking": "operators.window_ms",
    "q_recursive_cte": "operators.recursive_ms",
    "q_dedup_exact": "pipeline.dedup_ms",
    "q_sim_topk": "pipeline.similarity_ms",
    "q_text_quality": "pipeline.text_ms",
    "q_multimodal_features": "pipeline.multimodal_ms",
}
FAMILIES = {f: [q for q, g in ANALYTIC.items() if g == f] for f in ANALYTIC.values()}


def query_passes(sample, seed, n_passes):
    """Closed-loop order: each pass is a fresh seeded permutation."""
    rng = random.Random(f"order:{seed}")
    passes = []
    for _ in range(n_passes):
        p = list(sample)
        rng.shuffle(p)
        passes.append([{"kind": "query", "name": n} for n in p])
    return passes


# -- etl: seeded copy-on-write DML/DDL with read-backs --------------------

ETL_KINDS = ["update", "delete", "upsert", "merge", "alter", "constraint", "copy"]

# scratch tables, built from the fixtures before the timed window; the
# engine statements run through Constraints.executeDdl / Dml / spark.sql
ETL_PREP = [
    "CREATE TABLE etl_cust (k BIGINT PRIMARY KEY, bal DOUBLE, nk INT, seg STRING)",
    "INSERT INTO etl_cust SELECT c_custkey, c_acctbal, c_nationkey, c_mktsegment FROM customer",
    "CREATE TABLE etl_nat AS SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name, "
    "CAST(0.0 AS DOUBLE) AS total FROM nation WHERE n_nationkey < 15",
    "CREATE TABLE etl_alt AS SELECT n_nationkey AS k, n_name AS name, n_regionkey AS rk FROM nation",
    "CREATE TABLE etl_par (r INT PRIMARY KEY)",
    "INSERT INTO etl_par SELECT n_nationkey FROM nation",
    "CREATE TABLE etl_child (k BIGINT PRIMARY KEY, r INT, FOREIGN KEY (r) REFERENCES etl_par(r))",
]

CUST_READBACK = ("SELECT count(*) AS n, CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS BIGINT) AS s "
                 "FROM etl_cust")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COPY_FORMATS = ["parquet", "csv", "json"]
ALTER_CYCLE = ["add", "rename", "default", "drop", "rename"]


def _date(rng):
    day = rng.randrange(0, 6 * 365)
    y, d = 1995 + day // 365, day % 365
    return f"{y}-{1 + d // 31 % 12:02d}-{1 + d % 28:02d}"


class EtlStream:
    """Generates the etl statements in the order they run."""

    def __init__(self, seed, copy_dir):
        self.rng = random.Random(f"etl:{seed}")
        self.copy_dir = copy_dir
        self.seq = 0
        self.alters = 0
        self.rk = "rk"

    def op(self, kind, pass_idx):
        rng, self.seq = self.rng, self.seq + 1
        if kind == "copy":
            # the format cycles with the pass, the same under every seed
            return self._copy(rng, self.seq, COPY_FORMATS[pass_idx % len(COPY_FORMATS)])
        return getattr(self, "_" + kind)(rng, self.seq)

    # Parameters move which rows a statement touches, not how many, so a
    # statement kind costs about the same under every seed.

    def _update(self, rng, seq):
        d0 = _date(rng)
        mult = rng.choice([0.5, 1.25, 2.0, 10.0])
        sql = ("UPDATE etl_cust SET bal = bal + d.delta FROM "
               f"(SELECT o_custkey AS k, CAST(count(*) AS DOUBLE) * {mult} AS delta FROM orders "
               f"WHERE o_orderdate >= TIMESTAMP '{d0} 00:00:00' "
               f"AND o_orderdate < TIMESTAMP '{d0} 00:00:00' + INTERVAL 30 DAY "
               "GROUP BY o_custkey) d WHERE etl_cust.k = d.k")
        return {"kind": "update", "name": f"update{seq}", "sql": sql, "duck": [sql],
                "target": "etl_cust", "readback": CUST_READBACK}

    def _delete(self, rng, seq):
        sql = (f"DELETE FROM etl_cust WHERE nk = {rng.randrange(25)} "
               f"AND bal < {rng.randrange(1000, 2000)}")
        return {"kind": "delete", "name": f"delete{seq}", "sql": sql, "duck": [sql],
                "target": "etl_cust", "readback": CUST_READBACK}

    def _upsert(self, rng, seq):
        sql = ("INSERT INTO etl_cust SELECT c_custkey, c_acctbal, c_nationkey, c_mktsegment "
               f"FROM customer WHERE c_nationkey = {rng.randrange(25)} "
               f"AND c_mktsegment = '{rng.choice(SEGMENTS)}' "
               "ON CONFLICT (k) DO UPDATE SET bal = excluded.bal")
        return {"kind": "upsert", "name": f"upsert{seq}", "sql": sql, "duck": [sql],
                "target": "etl_cust", "readback": CUST_READBACK}

    def _merge(self, rng, seq):
        src = ("SELECT CAST(c_nationkey AS BIGINT) AS k, CAST(count(*) AS DOUBLE) AS total "
               f"FROM customer WHERE c_mktsegment = '{rng.choice(SEGMENTS)}' "
               f"AND c_acctbal > {rng.randrange(0, 8000)} GROUP BY c_nationkey")
        m = 4
        j = rng.randrange(m)
        sql = (f"MERGE INTO etl_nat USING ({src}) AS src ON etl_nat.k = src.k "
               f"WHEN MATCHED AND src.k % {m} = {j} THEN DELETE "
               "WHEN MATCHED THEN UPDATE SET total = src.total "
               "WHEN NOT MATCHED THEN INSERT VALUES (src.k, 'ingested', src.total)")
        # DuckDB 1.0 has no MERGE: the same effect, clause by clause,
        # against the pre-merge key set
        duck = [f"CREATE OR REPLACE TEMP TABLE merge_src AS {src}",
                "CREATE OR REPLACE TEMP TABLE merge_keys AS SELECT k FROM etl_nat",
                f"DELETE FROM etl_nat WHERE k IN (SELECT k FROM merge_src WHERE k % {m} = {j})",
                "UPDATE etl_nat SET total = merge_src.total FROM merge_src "
                "WHERE etl_nat.k = merge_src.k",
                "INSERT INTO etl_nat SELECT k, 'ingested', total FROM merge_src "
                "WHERE k NOT IN (SELECT k FROM merge_keys)"]
        return {"kind": "merge", "name": f"merge{seq}", "sql": sql, "duck": duck,
                "target": "etl_nat", "readback": "SELECT k, name, CAST(total AS BIGINT) AS total FROM etl_nat"}

    def _alter(self, rng, seq):
        # add, rename, set default, drop, rename, ...: every ALTER is valid
        # where it lands, and the same kinds run under every seed
        what = ALTER_CYCLE[self.alters % len(ALTER_CYCLE)]
        self.alters += 1
        after = []
        if what == "add":
            sql = f"ALTER TABLE etl_alt ADD COLUMN x BIGINT DEFAULT {rng.randrange(100)}"
        elif what == "drop":
            sql = "ALTER TABLE etl_alt DROP COLUMN x"
        elif what == "default":
            sql = f"ALTER TABLE etl_alt ALTER COLUMN x SET DEFAULT {rng.randrange(100)}"
            # a row that takes the new default, so the read-back shows it
            after = [f"INSERT INTO etl_alt (k, name, {self.rk}) VALUES ({1000 + seq}, 'dflt', 0)"]
        else:
            new = "rk2" if self.rk == "rk" else "rk"
            sql = f"ALTER TABLE etl_alt RENAME COLUMN {self.rk} TO {new}"
            self.rk = new
        return {"kind": "alter", "name": f"alter{seq}", "sql": sql, "after": after,
                "duck": [sql] + after, "readback": "SELECT * FROM etl_alt"}

    def _constraint(self, rng, seq):
        m = 150
        sql = (f"INSERT INTO etl_child SELECT c_custkey + {seq * 1000000} AS k, c_nationkey AS r "
               f"FROM customer WHERE c_custkey % {m} = {rng.randrange(m)}")
        return {"kind": "constraint", "name": f"constraint{seq}", "sql": sql, "duck": [sql],
                "target": "etl_child", "readback": "SELECT count(*) AS n, CAST(sum(k) AS BIGINT) AS sk, "
                            "CAST(sum(r) AS BIGINT) AS sr FROM etl_child"}

    def _copy(self, rng, seq, fmt):
        m = 7
        where = f"o_custkey % {m} = {rng.randrange(m)}"
        opts = {"parquet": "FORMAT PARQUET", "csv": "FORMAT CSV, HEADER", "json": "FORMAT JSON"}[fmt]
        path = f"{self.copy_dir}/c{seq}.{fmt}"
        sql = (f"COPY (SELECT o_orderpriority, o_orderkey FROM orders WHERE {where}) "
               f"TO '{path}' ({opts})")
        agg = ("SELECT o_orderpriority AS pri, count(*) AS n, "
               "CAST(sum(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS sp FROM {} GROUP BY o_orderpriority")
        return {"kind": "copy", "name": f"copy{seq}", "sql": sql, "duck": [],
                "readback": agg.format(f"'{path}'"),
                "duck_readback": agg.format(f"orders WHERE {where}")}


def etl_passes(seed, n_passes, copy_dir):
    """Each pass runs every statement kind once, in a seeded order."""
    stream = EtlStream(seed, copy_dir)
    order = random.Random(f"etl-order:{seed}")
    passes = []
    for _ in range(n_passes):
        kinds = list(ETL_KINDS)
        order.shuffle(kinds)
        passes.append([stream.op(k, len(passes)) for k in kinds])
    return passes
