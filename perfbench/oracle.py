"""Compare each entry's Spark output with DuckDB's result for the entry's
oracle SQL (`SparkEntry.oracleSql`), over the same generated parquet.

Row sets are compared exactly after the normalization graft's own oracle
gate uses (tools/oracle_check.py): columns sorted by name, every cell
type-tagged, floats at full precision, rows sorted.
"""
import math
import sys

import numpy as np
import pandas as pd


def _norm(v):
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (np.ndarray, list, tuple)):
        raise ValueError("array cell")
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "f:nan" if math.isnan(f) else f"f:{f!r}"
    if hasattr(v, "isoformat"):
        return f"t:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"y:{bytes(v).hex()}"
    return f"s:{v}"


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False, name=None))


def compare(con, out_dir, name, sql):
    """None when the entry's output equals its oracle, else why not."""
    if sql is None:
        return "no oracle SQL"
    try:
        spark = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
    except Exception as e:  # no output: the entry failed in the check round
        return f"no Spark output ({str(e)[:120]})"
    try:
        duck = con.execute(sql).df()
    except Exception as e:
        return f"oracle SQL failed in DuckDB ({str(e)[:200]})"
    if sorted(spark.columns) != sorted(duck.columns):
        return f"columns {sorted(spark.columns)} != {sorted(duck.columns)}"
    try:
        a, b = _rows(spark), _rows(duck)
    except ValueError as e:
        return str(e)
    if len(a) != len(b):
        return f"{len(a)} rows, oracle {len(b)}"
    for x, y in zip(a, b):
        if x != y:
            return f"row {x} != oracle {y}"
    return None


def check(con, out_dir, oracle):
    ok = True
    for name, sql in oracle.items():
        why = compare(con, out_dir, name, sql)
        if why is None:
            print(f"[perfbench] {name} equals its DuckDB oracle", file=sys.stderr)
        else:
            ok = False
            print(f"perfbench: {name} differs from its DuckDB oracle: {why[:400]}",
                  file=sys.stderr)
    return ok
