"""Output checks, run after the timed window, with DuckDB as the oracle.

Results are compared the way scripts/local_verify.py compares them:
columns sorted by name, rows sorted, values canonicalised (floats to six
significant digits, -0.0 as 0.0, NaN and NULL spelled out). Each check
returns a list of failure messages; empty means correct.
"""
import glob
import json
import math
import os

import duckdb


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            v = 0.0
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in idx], sorted(tuple(canon(r[i]) for i in idx) for r in rows)


INT64_CLASS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"}


def _types(con, query):
    return {r[0]: ("INT<=64" if r[1] in INT64_CLASS else r[1])
            for r in con.execute(f"DESCRIBE {query}").fetchall()}


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def compare(con, name, got_sql, want_sql, types=True):
    try:
        g = con.execute(got_sql)
        gc = [d[0] for d in g.description]
        gr = g.fetchall()
        w = con.execute(want_sql)
        wc = [d[0] for d in w.description]
        wr = w.fetchall()
        if types:
            gt, wt = _types(con, got_sql), _types(con, want_sql)
            diff = [(c, gt.get(c), wt.get(c)) for c in sorted(set(gt) | set(wt))
                    if gt.get(c) != wt.get(c)]
            if diff:
                return [f"{name}: column types (col, got, want) {diff}"]
    except Exception as e:  # a query that cannot run is a failed check
        return [f"{name}: {e}"]
    gcols, gf = frame(gr, gc)
    wcols, wf = frame(wr, wc)
    if gcols != wcols:
        return [f"{name}: columns {gcols} != {wcols}"]
    if gf != wf:
        diffs = [(a, b) for a, b in zip(gf, wf) if a != b][:2]
        return [f"{name}: {len(gf)} rows vs {len(wf)}; first diffs {diffs}"]
    return []


def _pq(path):
    return f"read_parquet('{path}')"


def _parquet_dir(d):
    return _pq(os.path.join(d, "*.parquet"))


# ------------------------------------------------------------------ dml_mix

def dml_replay_sql(op, src):
    """DuckDB statements equivalent to one op on table t (none for reads
    and compaction)."""
    k = op["kind"]
    if k in ("delete_sparse_mor", "sql_delete"):
        return [f"DELETE FROM t WHERE l_orderkey IN ({', '.join(map(str, op['keys']))})"]
    if k == "update":
        return [f"UPDATE t SET l_quantity = l_quantity + 1 "
                f"WHERE l_orderkey IN ({', '.join(map(str, op['keys']))})"]
    if k.startswith("merge_"):
        return [f"DELETE FROM t WHERE (l_orderkey, l_linenumber) IN "
                f"(SELECT (l_orderkey, l_linenumber) FROM {src})",
                f"INSERT INTO t SELECT * FROM {src}"]
    return []


def check_dml(inputs, out, executed):
    """The final table equals a replay, in order, of the ops that ran
    (`executed` holds their (pass, kind))."""
    con = _connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM {_pq(os.path.join(inputs, 'lineitem.parquet'))}")
    with open(os.path.join(inputs, "ops.jsonl")) as f:
        ops = [json.loads(line) for line in f]
    for op in ops:
        if (op["pass"], op["kind"]) in executed:
            src = _pq(os.path.join(inputs, op["src"])) if "src" in op else None
            for stmt in dml_replay_sql(op, src):
                con.execute(stmt)
    cols = [r[0] for r in con.execute("DESCRIBE t").fetchall()]
    sel = ", ".join(f"CAST({c} AS TIMESTAMP) AS {c}" if c == "l_shipdate" else c for c in cols)
    got = f"SELECT {sel} FROM {_parquet_dir(os.path.join(out, 'final_lineitem'))}"
    n_got = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
    n_want = con.execute("SELECT count(*) FROM t").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL SELECT {sel} FROM t)").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM t EXCEPT ALL {got})").fetchone()[0]
    if (n_got, extra, missing) != (n_want, 0, 0):
        return [f"lineitem: {n_got} rows vs replay {n_want}; {extra} unexpected, {missing} missing"]
    return []


# ------------------------------------------------------------------ dbt job

def dbt_days(inputs, executed, last_pass=None):
    """The ship-date ranges of the incremental model the dbt job has built:
    the set-up window and the backfill range of every pass (up to
    `last_pass`) whose backfill op ran."""
    with open(os.path.join(inputs, "dbt.json")) as f:
        spec = json.load(f)
    ranges = [spec["setup"]] + [
        w["backfill"] for p, w in enumerate(spec["passes"])
        if (p, "backfill") in executed and (last_pass is None or p <= last_pass)]
    return [(r["first"], r["last"]) for r in ranges]


def check_dbt(inputs, out, executed):
    """The fact equals its model's SQL composed over the sources,
    restricted to the days the job has built; the mart and the view equal
    theirs over the fact as it stood at the last dbt_build op."""
    con = _connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_pq(os.path.join(inputs, t + '.parquet'))}")

    def fact_sql(days):
        where = " OR ".join(f"ship_date BETWEEN DATE '{a}' AND DATE '{b}'" for a, b in days)
        return f"""SELECT l.ship_date AS partitiondate, o.o_orderpriority, count(*) AS n_lines,
                   sum(l.l_quantity) AS quantity, sum(l.net) AS revenue
            FROM (SELECT l_orderkey, CAST(l_shipdate AS DATE) AS ship_date, l_quantity,
                         l_extendedprice * (1 - l_discount) AS net FROM lineitem) l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE {where}
            GROUP BY ALL"""

    built = [p for p, k in executed if k == "dbt_build"]
    if not built:
        return ["dbt_build: no op ran"]
    con.execute(f"CREATE VIEW want_fact AS {fact_sql(dbt_days(inputs, executed))}")
    con.execute(f"""CREATE VIEW want_mart AS
        SELECT o_orderpriority, sum(n_lines) AS n_lines, sum(quantity) AS quantity,
               sum(revenue) AS revenue, count(DISTINCT partitiondate) AS n_days
        FROM ({fact_sql(dbt_days(inputs, executed, max(built)))}) GROUP BY ALL""")
    fact, mart, top = (_parquet_dir(os.path.join(out, t)) for t in
                       ("fct_daily_priority", "mart_priority", "rpt_priority_share"))
    return (compare(con, "fct_daily_priority",
                    f"SELECT CAST(partitiondate AS DATE) AS partitiondate, o_orderpriority, "
                    f"n_lines, quantity, revenue FROM {fact}", "SELECT * FROM want_fact",
                    types=False) +
            compare(con, "mart_priority", f"SELECT * FROM {mart}", "SELECT * FROM want_mart",
                    types=False) +
            compare(con, "rpt_priority_share", f"SELECT * FROM {top}",
                    "SELECT o_orderpriority, revenue / sum(revenue) OVER () AS revenue_share "
                    "FROM want_mart", types=False))


# ---------------------------------------------------------------- query_mix

def check_queries(inputs, out):
    """Each query's result from every pass, cold and timed, matches its
    oracle SQL over the same inputs."""
    con = _connect()
    for p in glob.glob(os.path.join(inputs, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {_pq(p)}")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = []
    for name in sorted(oracle):
        try:  # the oracle runs once for both results
            con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {oracle[name].strip().rstrip(';')}")
        except Exception as e:
            fails.append(f"{name}: oracle: {e}")
            continue
        runs = sorted(glob.glob(os.path.join(out, "results", "p*", name)))
        if not runs:
            fails.append(f"{name}: no result exported")
        for run in runs:
            got = f"SELECT * FROM {_parquet_dir(run)}"
            fails += compare(con, os.path.relpath(run, out), got, "SELECT * FROM want")
    return fails


# ------------------------------------------------------------ stream_ingest

def check_stream(inputs, out, batches_landed):
    """The sink equals the hourly aggregate over every landed event."""
    con = _connect()
    files = [os.path.join(inputs, f"batch_{k:05d}.parquet") for k in range(batches_landed)]
    want = (f"SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type, "
            f"count(*) AS n, sum(value) AS sum_value FROM read_parquet({files!r}) "
            f"GROUP BY ALL")
    got = (f"SELECT CAST(hour AS TIMESTAMP) AS hour, event_type, n, sum_value "
           f"FROM {_parquet_dir(os.path.join(out, 'sink_hourly'))}")
    return compare(con, "sink_hourly", got, want, types=False)
