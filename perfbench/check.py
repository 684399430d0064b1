"""Output checks: each written result is compared, as a multiset of rows and
without regard to row order, with a reference computed from the same
generated inputs.

References, per result:
- the engine's own DuckDB oracle SQL where the workload's chain is one the
  engine carries an oracle for (q_pipeline_e2e, q_curate_e2e,
  q_train_langid, q_hits), run here by DuckDB;
- otherwise DuckDB SQL kept here (the order documents).
"""
import os

import duckdb


def duck(inputs, tables):
    """A DuckDB connection with one view per generated input table."""
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inputs, t + '.parquet')}/*.parquet')")
    return con


def compare_sql(con, name, path, table):
    """None when the result at `path` equals the reference `table` as a
    multiset of rows, else a one-line description of the difference.
    DuckDB takes the multiset difference in both directions (NULLs compare
    equal in set operations)."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM read_parquet('{path}/*.parquet')")
    gn = sorted(r[0] for r in con.execute("DESCRIBE got").fetchall())
    wn = sorted(r[0] for r in con.execute(f"DESCRIBE {table}").fetchall())
    if gn != wn:
        return f"{name}: columns {gn} != reference {wn}"
    cols = ", ".join(f'"{c}"' for c in gn)
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {table} EXCEPT ALL "
                          f"SELECT {cols} FROM got)").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL "
                        f"SELECT {cols} FROM {table})").fetchone()[0]
    if missing == 0 and extra == 0:
        return None
    return f"{name}: {n_got} rows vs reference {n_want}; {missing} missing, {extra} extra"


# ----------------------------------------------------------- etl_observations

SEGMENT_CASE = ("CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'AUTO' WHEN 'BUILDING' THEN 'BLD' "
                "WHEN 'FURNITURE' THEN 'FURN' WHEN 'HOUSEHOLD' THEN 'HH' "
                "WHEN 'MACHINERY' THEN 'MACH' ELSE c_mktsegment END")

ORDER_DOCS_SQL = f"""
WITH seg AS (SELECT c_custkey, c_acctbal, {SEGMENT_CASE} AS segment FROM customer),
prim AS (SELECT c_custkey AS pk, segment FROM seg WHERE c_acctbal > 0),
sec AS (SELECT c_custkey AS sk, segment FROM seg WHERE c_custkey < 1000),
o AS (SELECT o_orderkey, o_custkey, o_orderdate,
        md5(coalesce(cast(o_orderkey AS VARCHAR), '') || '|' ||
            coalesce(cast(o_custkey AS VARCHAR), '')) AS order_uid
      FROM orders),
x AS (SELECT o.*, coalesce(p.segment, s.segment) AS segment,
        CASE WHEN p.pk IS NOT NULL THEN 'primary' WHEN s.sk IS NOT NULL THEN 'secondary'
             ELSE 'none' END AS match_source
      FROM o LEFT JOIN prim p ON o.o_custkey = p.pk
             LEFT JOIN sec s ON p.pk IS NULL AND o.o_custkey % 1000 = s.sk),
l AS (SELECT l_orderkey AS o_orderkey,
        cast(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
        cast(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct, l_returnflag
      FROM lineitem),
la AS (SELECT o_orderkey, count(*) AS n_lines,
         sum(price_c * (100 - disc_pct) // 100) AS revenue_c,
         list_sort(list_distinct(list(l_returnflag))) AS flags
       FROM l GROUP BY 1),
p AS (SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL),
b AS (SELECT x.o_orderkey, p.ts AS bt, p.event_id AS be FROM x
      ASOF LEFT JOIN p ON x.o_custkey = p.user_id AND x.o_orderdate >= p.ts),
f AS (SELECT x.o_orderkey, p.ts AS ft, p.event_id AS fe FROM x
      ASOF LEFT JOIN p ON x.o_custkey = p.user_id AND x.o_orderdate <= p.ts),
nr AS (SELECT x.o_orderkey,
         epoch_us(x.o_orderdate) - epoch_us(b.bt) AS bd,
         epoch_us(f.ft) - epoch_us(x.o_orderdate) AS fd, b.be, f.fe
       FROM x JOIN b USING (o_orderkey) JOIN f USING (o_orderkey)),
ch AS (SELECT o_orderkey,
         (bd IS NOT NULL AND bd <= 86400000000) AS bok,
         (fd IS NOT NULL AND fd <= 86400000000) AS fok, bd, fd, be, fe FROM nr),
near AS (SELECT o_orderkey,
           CASE WHEN bok AND (NOT fok OR bd <= fd) THEN be WHEN fok THEN fe END AS near_event_id,
           CASE WHEN bok AND (NOT fok OR bd <= fd) THEN bd / 1000000
                WHEN fok THEN fd / 1000000 END AS near_diff_sec
         FROM ch)
SELECT x.order_uid, x.o_orderkey, x.o_custkey, x.segment, x.match_source,
  la.n_lines, la.revenue_c, la.flags, near.near_event_id, near.near_diff_sec,
  la.revenue_c // la.n_lines AS avg_line_c, la.revenue_c > 10000000 AS big_order
FROM x JOIN la USING (o_orderkey) JOIN near USING (o_orderkey)
"""


# ------------------------------------------------------------------ dispatch

class References:
    """Every reference result of a workload, computed by DuckDB from its
    inputs; `check` then compares one operation's written results with
    them."""

    def __init__(self, workload, inputs, oracles):
        if workload == "etl_observations":
            self.con = duck(inputs, ["events", "customer", "orders", "lineitem"])
            sql = {"wide_docs": oracles["wide_docs"], "order_docs": ORDER_DOCS_SQL}
        else:
            self.con = duck(inputs, ["documents", "orders", "lineitem"])
            sql = oracles
        for name, q in sql.items():
            self.con.execute(f"CREATE TABLE want_{name} AS {q}")
        self.tables = list(sql)

    def check(self, op_dir):
        """One line per written result that differs from its reference."""
        out = [compare_sql(self.con, n, os.path.join(op_dir, f"{n}.parquet"), f"want_{n}")
               for n in self.tables]
        return [p for p in out if p]
