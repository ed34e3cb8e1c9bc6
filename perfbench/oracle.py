"""Result checks of `olap_sql`: every query's result from the run's first
set-up against its DuckDB oracle SQL (`SparkEntry.oracleSql`) over the same
generated tables.

The comparison is a fingerprint: the row count plus an order-insensitive hash
of the rows with floats rounded to 6 significant digits. When the hashes
differ, the sorted rows are compared with a relative float tolerance of 1e-5
before the query is declared wrong, so a last-digit summation-order
difference does not count as a wrong result. A rounded value one unit apart
in its last decimal place also passes: the two engines break a .5 tie of
`round()` differently (see `_rounding_tie`).

`tools/oracle_check.py` does a similar compare but is a script with no
importable function, reads the oracle SQL from a result directory's JSON and
compares floats exactly; this module takes the SQL from the run and
tolerates summation-order float differences."""
import glob
import math
import os

import pandas as pd

import stats

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, float):
        return float(f"{v:.6g}")
    if hasattr(v, "isoformat"):        # date, datetime and Timestamp alike
        return pd.Timestamp(v).isoformat()
    if isinstance(v, bool):
        return int(v)
    return v


def _rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return [tuple(_cell(v) for v in r) for r in df.itertuples(index=False, name=None)]


def _decimals(x):
    """Decimal places of a float's shortest repr; None in exponent form."""
    s = repr(x)
    return None if "e" in s else len(s.partition(".")[2])


def _rounding_tie(a, b):
    """Whether a and b are one unit apart in the last of k <= 6 decimal
    places: the same value rounded on either side of a .5 tie. DuckDB rounds
    the binary double (an average of exactly 0.05065 is 0.050649999... and
    rounds to 0.0506), Spark its decimal form (0.0507). A computed, unrounded
    double has far more than 6 decimals and never passes here."""
    da, db = _decimals(a), _decimals(b)
    if da is None or db is None:
        return False
    k = max(da, db)
    return k <= 6 and math.isclose(abs(a - b), 10.0 ** -k, rel_tol=1e-6)


def _close(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        return math.isclose(a, b, rel_tol=1e-5, abs_tol=1e-9) or _rounding_tie(a, b)
    return a == b


def _key(r):
    """Sort key that orders rows by their exact cells first, so rows whose
    floats differ within tolerance still pair up."""
    exact = [x for x in r if not isinstance(x, float)]
    floats = [x for x in r if isinstance(x, float)]
    return tuple((x is None, repr(x)) for x in exact + floats)


def same(got, want):
    if stats.fingerprint(map(repr, got)) == stats.fingerprint(map(repr, want)):
        return True
    if len(got) != len(want):
        return False
    return all(_close(a, b) for a, b in zip(sorted(got, key=_key), sorted(want, key=_key)))


def check(workload, run_dir, out):
    """Return (checked, wrong): one entry per query compared."""
    if workload != "olap_sql":
        return {"checked": 0, "wrong": []}   # checked inside the harness
    import duckdb
    sqls = out["extra"].get("oracle_sql", {})
    data = os.path.join(run_dir, "data")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    wrong = []
    for name, sql in sorted(sqls.items()):
        res = os.path.join(run_dir, "results", name)
        if not glob.glob(f"{res}/*.parquet"):
            wrong.append(f"{name}: no result")
            continue
        got = pd.read_parquet(res)
        want = con.sql(sql).df()
        if sorted(got.columns) != sorted(want.columns):
            wrong.append(f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
        elif not same(_rows(got), _rows(want)):
            wrong.append(f"{name}: result differs from the oracle "
                         f"(rows {len(got)} vs {len(want)})")
    con.close()
    return {"checked": len(sqls), "wrong": wrong}
