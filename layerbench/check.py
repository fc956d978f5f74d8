"""Output checks, run after the program has exited.

Each entry's result is compared cell by cell with its DuckDB oracle
(`SparkEntry.oracleSql`) over the same parquet files. For merge_ingest, the
final `orders` state is compared with a state this module derives on its
own by applying the same change batches in DuckDB.
"""
import glob
import math
import os

import duckdb


def _connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def _rows(con, out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        raise ValueError("no output written")
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table().to_pylist()


def _cell_ok(a, b):
    if a == b:
        return True
    try:
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    except (TypeError, ValueError):
        return False


def compare(got, exp):
    """None when the results agree, else the first difference."""
    if len(got) != len(exp):
        return f"rows: program={len(got)} oracle={len(exp)}"
    gcols = sorted(got[0]) if got else []
    ecols = sorted(exp[0]) if exp else []
    if gcols != ecols:
        return f"columns: program={gcols} oracle={ecols}"
    for i, (g, e) in enumerate(zip(got, exp)):
        for c in gcols:
            if not _cell_ok(g[c], e[c]):
                return f"row {i} column {c}: program={g[c]!r} oracle={e[c]!r}"
    return None


def check_outputs(out_root, tables_dir, ops, oracle):
    """{op: None or the reason its output is wrong}. An oracle that reads
    files besides the fixture tables (the program's truth dumps, written by
    graft.Verify) cannot run here, so such entries are not benchmark ops."""
    con = _connect(tables_dir)
    bad = {}
    for op in ops:
        try:
            sql = oracle.get(op)
            if sql is None or "read_parquet(" in sql:
                raise ValueError("no oracle that reads only the fixture tables")
            got = _rows(con, os.path.join(out_root, op))
            bad[op] = compare(got, con.execute(sql).fetch_arrow_table().to_pylist())
        except Exception as e:  # a failed check is a wrong output, not a crash
            bad[op] = f"{type(e).__name__}: {e}"
    return bad


def expected_orders_diff(initial_orders, batch_files, state_dir):
    """Apply `batch_files` in order to `initial_orders` with MERGE semantics
    (a keyed row replaces the old one, a delete flag drops it) and compare
    with the program's state. None when equal, else a description."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TABLE st AS SELECT * FROM read_parquet('{initial_orders}')")
    for b in batch_files:
        con.execute(f"CREATE OR REPLACE TEMP VIEW ch AS SELECT * FROM read_parquet('{b}')")
        con.execute("DELETE FROM st WHERE o_orderkey IN (SELECT o_orderkey FROM ch)")
        con.execute("INSERT INTO st SELECT * EXCLUDE (o_delete) FROM ch WHERE NOT o_delete")
    got = os.path.join(state_dir, "orders.parquet", "*.parquet")
    con.execute(f"CREATE TEMP VIEW got AS SELECT * FROM read_parquet('{got}')")
    missing = con.execute("SELECT count(*) FROM (SELECT * FROM st EXCEPT ALL SELECT * FROM got)").fetchone()[0]
    extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM st)").fetchone()[0]
    if missing or extra:
        return f"orders state: {missing} expected rows missing, {extra} unexpected rows"
    return None
