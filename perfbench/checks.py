"""Out-of-process correctness check: every oracle-backed query a run
executed was dumped once (outside the measured window) as parquet under
`<results>/<query>`, with its paired DuckDB SQL in `oracle_sql.json`;
DuckDB runs the SQL over the same input tables and the two answers must
agree cell for cell. Cells are compared in the canonical form of the
repo's own oracle check, `tools/check_oracle.py`."""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import TABLES, frame_rows  # noqa: E402


def oracle_compare(sf_dir, results, corrupt=False):
    """Return one message per query whose answer differs from DuckDB's."""
    import duckdb
    import pandas as pd
    oracle = json.loads((results / "oracle_sql.json").read_text())
    if not oracle:
        return ["no query results were dumped for the oracle check"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    bad = []
    for i, name in enumerate(sorted(oracle)):
        try:
            got = frame_rows(pd.read_parquet(results / name))
            want = frame_rows(con.execute(oracle[name]).df())
        except Exception as e:  # a missing dump or failing SQL is a failed check
            bad.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if corrupt and i == 0 and want:
            want[0] = tuple("corrupted" for _ in want[0])
        if got != want:
            diff = next((j for j, (g, w) in enumerate(zip(got, want)) if g != w), min(len(got), len(want)))
            bad.append(f"{name}: {len(got)} rows vs oracle {len(want)}; first difference at row {diff}")
    con.close()
    return bad
