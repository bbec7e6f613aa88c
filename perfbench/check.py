"""Output checks, run after the Spark process has exited (outside every
timed window).

Catalog queries: each committed parquet result is compared with the
program's own DuckDB oracle SQL (`Q.oracle`, dumped by the harness) run on
the same staged inputs, with the comparison rules of tools/localcheck.py:
columns sorted by name, values rendered to strings (floats rounded to 9
places, NaN and NULL alike), rows sorted, then compared exactly.

Sink workload: the final table and the read-back aggregate are compared
with a DuckDB replay of the base table plus every changeset, applied in
order with the merge's documented semantics (a changeset row replaces
the row with the same key or inserts it; `del` removes the key).
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def canon(df):
    """tools/localcheck.py's canonical form of a result frame: the sorted
    column names and the sorted rows, every value rendered to a string
    (floats rounded to 9 places, timestamps as UTC-naive instants, NULL
    and NaN alike)."""
    cols = sorted(df.columns)
    rendered = []
    for c in cols:
        s = df[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        first = s.dropna().iloc[0] if s.dropna().size else None
        if pd.api.types.is_datetime64_any_dtype(s.dtype):
            # epoch nanoseconds: the same equality as localcheck's
            # str(pd.Timestamp(v)), without its per-value cost
            ns = s.to_numpy().astype("datetime64[ns]")
            out = np.where(np.isnat(ns), "NULL", ns.astype(np.int64).astype(str)).tolist()
        elif s.dtype == object and isinstance(first, (list, np.ndarray)):
            out = [str(list(v)) if v is not None else "NULL" for v in s.tolist()]
        elif pd.api.types.is_float_dtype(s.dtype):
            out = ["NULL" if v != v else repr(round(float(v), 9)) for v in s.tolist()]
        else:
            out = ["NULL" if v is None or (isinstance(v, float) and v != v) else str(v)
                   for v in s.tolist()]
        rendered.append(out)
    return cols, sorted(zip(*rendered))


def compare(spark_df, oracle_df):
    """None when the frames match, else a one-line reason."""
    (ca, a), (cb, b) = canon(spark_df), canon(oracle_df)
    if ca != cb:
        return f"columns spark={ca} oracle={cb}"
    if len(a) != len(b):
        return f"rows spark={len(a)} oracle={len(b)}"
    if a != b:
        return f"{sum(1 for x, y in zip(a, b) if x != y)}/{len(a)} rows differ"
    return None


def _connect(tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    return con


def check_queries(data_dir, out_dir, oracle_path, names, tmp_dir):
    """{query name: None if correct, else the reason}."""
    con = _connect(tmp_dir)
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(oracle_path) as f:
        oracle = json.load(f)
    verdicts = {}
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if name not in oracle:
            verdicts[name] = "no oracle SQL"
        elif not files:
            verdicts[name] = "no result committed"
        else:
            try:
                got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                verdicts[name] = compare(got, con.sql(oracle[name]).df())
            except Exception as e:  # a failing oracle or unreadable result
                verdicts[name] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return verdicts


COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        "o_orderpriority, o_ym")


def replay_sink(data_dir, tmp_dir):
    """DuckDB replay of the merges. Returns the connection holding table
    `state` (the expected final table) and, per changeset, the number of
    partitions whose content it changed."""
    con = _connect(tmp_dir)
    con.execute(f"CREATE TABLE state AS SELECT {COLS} "
                f"FROM '{os.path.join(data_dir, 'orders10.parquet')}'")
    fingerprint = (f"SELECT o_ym, count(*) AS n, sum(hash({COLS})) AS h "
                   "FROM state GROUP BY o_ym")
    changed = []
    for cs in sorted(glob.glob(os.path.join(data_dir, "changes", "cs_*.parquet"))):
        before = con.sql(fingerprint).df().set_index("o_ym")
        con.execute(f"CREATE OR REPLACE TEMP VIEW cs AS SELECT * FROM '{cs}'")
        con.execute("CREATE OR REPLACE TABLE state AS "
                    f"SELECT {COLS} FROM state WHERE o_orderkey NOT IN "
                    "(SELECT o_orderkey FROM cs) "
                    f"UNION ALL SELECT {COLS} FROM cs WHERE NOT del")
        after = con.sql(fingerprint).df().set_index("o_ym")
        both = before.join(after, how="outer", lsuffix="_b", rsuffix="_a")
        diff = (both["n_b"] != both["n_a"]) | (both["h_b"] != both["h_a"])
        changed.append(int(diff.sum()))
    return con, changed


def check_sink(data_dir, run_dir, tmp_dir):
    """({operation: None or reason}, partitions changed per changeset)."""
    con, changed = replay_sink(data_dir, tmp_dir)
    verdicts = {}
    table = os.path.join(run_dir, "table")
    try:
        con.execute("CREATE VIEW got AS SELECT "
                    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
                    "o_orderpriority, CAST(o_ym AS INTEGER) AS o_ym FROM read_parquet("
                    f"'{table}/o_ym=*/*.parquet', hive_partitioning = true)")
        missing = con.sql("SELECT count(*) FROM (SELECT * FROM state EXCEPT ALL "
                          "SELECT * FROM got)").fetchone()[0]
        extra = con.sql("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
                        "SELECT * FROM state)").fetchone()[0]
        verdicts["table"] = (None if missing == 0 and extra == 0 else
                             f"{missing} expected rows missing, {extra} unexpected rows")
    except Exception as e:
        verdicts["table"] = f"{type(e).__name__}: {e}"[:300]
    try:
        files = glob.glob(os.path.join(run_dir, "out", "readback", "*.parquet"))
        if not files:
            raise FileNotFoundError("no read-back result committed")
        con.execute(f"CREATE VIEW rb AS SELECT o_ym, n, key_sum, "
                    f"CAST(price_sum AS DECIMAL(38,2)) AS price_sum FROM read_parquet({files!r})")
        want = ("SELECT o_ym, count(*) AS n, sum(o_orderkey) AS key_sum, "
                "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS price_sum "
                "FROM state GROUP BY o_ym")
        bad = con.sql(f"SELECT count(*) FROM (({want}) EXCEPT (SELECT * FROM rb) "
                      f"UNION ALL ((SELECT * FROM rb) EXCEPT ({want})))").fetchone()[0]
        verdicts["readback"] = None if bad == 0 else f"{bad} read-back rows differ"
    except Exception as e:
        verdicts["readback"] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return verdicts, changed


def loop_rounds(out_dir, name):
    """The `iters` a loop query declares in its output, or None."""
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return None
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if "iters" not in df.columns or df["iters"].dropna().empty:
        return None
    return int(df["iters"].max())
