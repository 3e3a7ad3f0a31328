"""Correctness checks computed apart from the program.

Query results are compared with the DuckDB SQL registered beside each query
(`SparkEntry.oracleSql`) by the procedure of `tools/check_oracle.py`: the
Spark result is read with pandas, the oracle is fetched with DuckDB's
`.df()`, columns are sorted by name, rows are sorted, and cells compare as
exact strings.

`incremental_load` outputs are checked against the landing files:
  - the target equals the latest row per key over all landed rows;
  - the rows extracted per batch equal the rows landed in that batch;
  - the logged watermark after each batch equals the maximum cursor landed
    so far, one successful log row per batch;
  - the SCD2 dimension has one current row per key, chained
    non-overlapping intervals opened at batch effective times, and current
    attributes equal to the latest change per key.
"""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["documents"]


def cells(df):
    """Sorted rows of stringified cells, columns sorted by name."""
    cols = sorted(df.columns)
    rows = [tuple(str(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def connect(data_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql("SET threads = 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(spark_df, oracle_df):
    """None when equal under the cell procedure, else a short reason."""
    s_cols, s_rows = cells(spark_df)
    o_cols, o_rows = cells(oracle_df)
    if s_cols != o_cols:
        return f"columns {s_cols} vs {o_cols}"
    if len(s_rows) != len(o_rows):
        return f"{len(s_rows)} vs {len(o_rows)} rows"
    if s_rows != o_rows:
        bad = sum(1 for a, b in zip(s_rows, o_rows) if a != b)
        return f"{bad} of {len(s_rows)} rows differ"
    return None


def check_query(con, sql, result_dir):
    if not glob.glob(os.path.join(result_dir, "*.parquet")):
        return "no result written"
    return compare(pd.read_parquet(result_dir), con.sql(sql).df())


def _batch_files(data_dir, kind, n):
    return [os.path.join(data_dir, "landing", kind, f"batch_{k}.parquet") for k in range(n)]


def _list(files):
    return "[" + ",".join(f"'{f}'" for f in files) + "]"


def check_incremental(data_dir, work_dir, meta, extracted, loaded=True, dimensioned=True):
    """Failures (empty when correct) of one pass over every landed batch.

    With `loaded` false (a load step failed) the target, log and extract
    counts are not checked; with `dimensioned` false (an SCD2 step failed)
    the dimension is not."""
    errs = []
    n = len(meta)
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql("SET threads = 2")
    orders = _list(_batch_files(data_dir, "orders", n))
    changes = _list(_batch_files(data_dir, "customers", n))

    if loaded:
        errs += _check_load(con, work_dir, meta, extracted, orders)
    if dimensioned:
        errs += _check_dimension(con, work_dir, changes)
    return errs


def _check_load(con, work_dir, meta, extracted, orders):
    errs = []
    if list(extracted) != [m["rows"] for m in meta]:
        errs.append(f"extracted per batch {list(extracted)} != landed {[m['rows'] for m in meta]}")

    target = os.path.join(work_dir, "target")
    if not glob.glob(os.path.join(target, "*.parquet")):
        errs.append("target: nothing written")
    else:
        latest = con.sql(f"""
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate::TIMESTAMP AS o_orderdate, o_orderpriority,
                   updated_at::TIMESTAMP AS updated_at
            FROM read_parquet({orders})
            QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY updated_at DESC) = 1""").df()
        why = compare(pd.read_parquet(target), latest)
        if why:
            errs.append(f"target vs latest row per key: {why}")

    log = os.path.join(work_dir, "etl_log")
    if not glob.glob(os.path.join(log, "*.parquet")):
        errs.append("etl log: nothing written")
    else:
        rows = con.sql(f"""
            SELECT status, saved_count, epoch_us(lastextractdatetime) AS wm
            FROM read_parquet('{log}/*.parquet') ORDER BY starttime, endtime""").fetchall()
        want, hi = [], 0
        for m in meta:
            hi = max(hi, m["max_cursor_us"])
            want.append(("success", m["rows"], hi))
        if rows != want:
            errs.append(f"etl log (status, saved, watermark) {rows[:4]}... != {want[:4]}...")
    return errs


def _check_dimension(con, work_dir, changes):
    errs = []
    dim = os.path.join(work_dir, "dim_customer")
    if not glob.glob(os.path.join(dim, "*.parquet")):
        errs.append("scd2 dimension: nothing written")
        return errs
    con.sql(f"CREATE VIEW dim AS SELECT * FROM read_parquet('{dim}/*.parquet')")
    con.sql(f"CREATE VIEW feed AS SELECT *, filename AS f FROM read_parquet({changes}, filename = true)")
    not_one = con.sql("""
        SELECT count(*) FROM (SELECT c_custkey FROM dim GROUP BY 1
        HAVING sum(CASE WHEN is_current THEN 1 ELSE 0 END) <> 1)""").fetchone()[0]
    if not_one:
        errs.append(f"scd2: {not_one} keys without exactly one current row")
    key_diff = con.sql("""
        SELECT count(*) FROM ((SELECT DISTINCT c_custkey FROM dim EXCEPT SELECT DISTINCT c_custkey FROM feed)
        UNION ALL (SELECT DISTINCT c_custkey FROM feed EXCEPT SELECT DISTINCT c_custkey FROM dim))""").fetchone()[0]
    if key_diff:
        errs.append(f"scd2: {key_diff} keys differ between dimension and change feed")
    broken = con.sql("""
        SELECT count(*) FROM (
          SELECT *, lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from) AS nxt FROM dim)
        WHERE valid_from IS NULL
           OR (nxt IS NULL AND (NOT is_current OR valid_to IS NOT NULL))
           OR (nxt IS NOT NULL AND (is_current OR valid_to IS DISTINCT FROM nxt OR valid_to <= valid_from))""").fetchone()[0]
    if broken:
        errs.append(f"scd2: {broken} versions break the interval chain")
    stray = con.sql("""
        SELECT count(*) FROM dim WHERE valid_from::TIMESTAMP NOT IN
          (SELECT max(change_ts)::TIMESTAMP FROM feed GROUP BY f)""").fetchone()[0]
    if stray:
        errs.append(f"scd2: {stray} versions opened at no batch's effective time")
    cur = con.sql("SELECT c_custkey, c_nationkey, c_mktsegment FROM dim WHERE is_current").df()
    want = con.sql("""
        SELECT c_custkey, c_nationkey, c_mktsegment FROM feed
        QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY change_ts DESC) = 1""").df()
    why = compare(cur, want)
    if why:
        errs.append(f"scd2 current attributes vs latest change: {why}")
    return errs
