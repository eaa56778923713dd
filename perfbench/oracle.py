"""Output check for the batch workloads.

Each query's result, written by the JVM side as parquet under
`<results>/<query>/`, is compared with its DuckDB twin from
`<results>/oracle_sql.json` (the program's `SparkEntry.oracleSql`), run
over the same parquet tables, by the repository's own oracle compare,
`tools/check.py`. This module only turns its report into one verdict per
query.
"""
import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import check  # noqa: E402


def check_results(tables_dir, results_dir, queries):
    """{query: None if it matches its oracle, else the reason}."""
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        check.main(tables_dir, results_dir)
    out = {q: "no verdict from tools/check.py" for q in queries}
    for line in report.getvalue().splitlines():
        verdict, _, rest = line.partition(" ")
        q = rest.split(" ", 1)[0].rstrip(":")
        if q in out and verdict in ("PASS", "FAIL", "ERROR"):
            out[q] = None if verdict == "PASS" else line
    return out
