"""The one oracle compare: run a queries() entry and its oracle_sql() twin at
a given sf dir and compare rows / schema / values (columns sorted by name,
rows sorted by all columns — like the driver's value-hash).  Values AND
dtypes must match exactly; on a mismatch the first differing column is
named with both dtypes.  Usage:

    python tools/compare_oracle.py sf_dir q1 [q2 ...]
    python tools/compare_oracle.py sf_dir all

Library use (tier-1 runs this for a handful of gates):

    con = oracle_db(sf_dir)
    err = compare(spark, con, name, sf_dir)   # None when the gate passes
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def oracle_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per sf table present in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    return con


def _first_diff(s: pd.DataFrame, o: pd.DataFrame) -> str:
    for c in s.columns:
        if s[c].dtype != o[c].dtype:
            return f"column {c!r}: dtype {s[c].dtype} (spark) vs {o[c].dtype} (oracle)"
        try:
            pd.testing.assert_series_equal(s[c], o[c], check_exact=True)
        except AssertionError as ex:
            detail = " ".join(str(ex).split())[:300]
            return f"column {c!r} ({s[c].dtype}): {detail}"
    return "frames differ"


def compare(spark, con: duckdb.DuckDBPyConnection, name: str, sf_dir: str) -> str | None:
    """None when gate ``name`` matches its oracle exactly, else one line
    saying how it differs."""
    import __spark_entry__ as E

    s = canon(E.queries()[name](spark, sf_dir).toPandas())
    o = canon(con.execute(E.oracle_sql()[name]).df())
    if list(s.columns) != list(o.columns):
        return f"schema {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} (spark) vs {len(o)} (oracle)"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=True, check_exact=True)
    except AssertionError:
        return _first_diff(s, o)
    return None


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    import __spark_entry__ as E
    import vector_map_generation_from_aerial_imagery_using_deep_learning_geospatial_unet_spark as vm

    oracles = E.oracle_sql()
    if names == ["all"]:
        names = [n for n in E.queries() if n in oracles]

    spark = vm.get_spark(app_name="cmp", master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_db(sf_dir)
    failed = []
    for name in names:
        if name not in oracles:
            print(f"{name}: NO ORACLE (rows-only)")
            continue
        err = compare(spark, con, name, sf_dir)
        print(f"{name}: {'PASS' if err is None else 'FAIL ' + err}", flush=True)
        if err is not None:
            failed.append(name)
    spark.stop()
    print(f"{len(names) - len(failed)}/{len(names)} passed")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
