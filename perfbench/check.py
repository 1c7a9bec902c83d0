"""The DuckDB oracle check of one run, in a process of its own.

    python3 perfbench/check.py <data_dir> <results.pkl>

``results.pkl`` holds, per query, the oracle SQL and what Spark returned
(rows, column names, schema), collected by run.py outside the timed
interval. This process runs the oracle SQL on DuckDB over the same
parquet and judges each query with ``compare`` and ``dtype_problems`` of
``scripts/check_oracle.py``. It prints ``{query: [problems]}`` as one JSON
line. Running apart keeps DuckDB and its answers out of the peak RSS of
the process that runs the program.
"""

from __future__ import annotations

import importlib.util
import json
import os
import pickle
import sys
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ORACLE_SCRIPT = os.path.join(ROOT, "scripts", "check_oracle.py")


def load_oracle():
    sys.path.insert(0, ROOT)
    spec = importlib.util.spec_from_file_location("check_oracle", ORACLE_SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def connect(data_dir: str):
    """DuckDB views over the input tables."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def check(oracle, con, name: str, res: dict) -> list[str]:
    rel = con.sql(res["sql"])
    problems = oracle.compare(name, res["rows"], res["cols"], rel.fetchall(), rel.columns)
    # dtype_problems reads only q.oracle and sdf.schema
    problems += oracle.dtype_problems(
        name, SimpleNamespace(oracle=res["sql"]), SimpleNamespace(schema=res["schema"]), con
    )
    if not res["rows"]:
        problems.append("no rows")
    return problems


def main(argv) -> int:
    data_dir, results = argv
    with open(results, "rb") as fh:
        pending = pickle.load(fh)
    oracle = load_oracle()
    con = connect(data_dir)
    out = {}
    for name, res in pending.items():
        try:
            out[name] = check(oracle, con, name, res)
        except Exception as exc:  # noqa: BLE001 -- reported as a wrong result
            out[name] = [f"check raised {type(exc).__name__}: {exc}"[:500]]
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
