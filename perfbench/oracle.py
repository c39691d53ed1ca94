"""DuckDB oracle check of query results with the comparison of the repo's
scripts/local_check.py (its `canon`: columns sorted by name, rows compared
in the order both engines return them; every oracle carries an ORDER BY)."""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from local_check import TABLES, canon  # noqa: E402


def _canon(cur):
    rows, cols = canon(cur.fetchall(), [d[0] for d in cur.description])
    return cols, rows


def check(data_dir, results_dir, oracles):
    """Return {name: reason} for every result that differs from its oracle."""
    bad = {}
    if not oracles:
        return bad
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    for name, sql in oracles.items():
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            bad[name] = "no result written"
            continue
        try:
            got_cols, got = _canon(con.execute(
                f"SELECT * FROM '{os.path.join(results_dir, name)}/*.parquet'"))
            exp_cols, exp = _canon(con.execute(sql))
        except Exception as e:  # a broken oracle or result is a failed check
            bad[name] = str(e)[:300]
            continue
        if got_cols != exp_cols:
            bad[name] = f"columns {got_cols} vs {exp_cols}"
        elif got != exp:
            bad[name] = f"{len(got)} rows vs {len(exp)} expected"
    con.close()
    return bad
