"""DuckDB oracle check for the query_mix results.

Each query's oracle SQL runs in DuckDB over the same input tables; the
Spark result (parquet, written by the untimed correctness pass) must
equal it under the canonical row comparison of tools/compare.py.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from compare import rows_of  # noqa: E402


def expected(data_dir, sql_file):
    """Canonical oracle rows per query."""
    oracle = json.loads(Path(sql_file).read_text())
    con = duckdb.connect()
    con.execute("SET threads = 2")  # runs beside the JVM's set-up
    for t in Path(data_dir).glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    return {name: rows_of(con.sql(sql).df()) for name, sql in sorted(oracle.items())}


def check(result_dir, want_by_query, break_check=False):
    checks = []
    for i, (name, want) in enumerate(sorted(want_by_query.items())):
        got = rows_of(pd.read_parquet(Path(result_dir) / name))
        if break_check and i == 0:
            want = (want[0], want[1][1:])
        ok = got == want
        detail = f"rows spark={len(got[1])} oracle={len(want[1])}"
        if not ok and got[0] != want[0]:
            detail += f" cols spark={got[0]} oracle={want[0]}"
        checks.append({"name": f"oracle:{name}", "ok": ok, "detail": detail})
    return checks
