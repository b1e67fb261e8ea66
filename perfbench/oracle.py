"""Result check of the suites with the repository's oracle checker.

tools/check_oracle.py compares each query result with the query's
oracle over the same input tables: its DuckDB SQL, or for t08 its
Python oracle. Columns are sorted by name and rows by value, and values
are compared exactly, NULL equal to NaN. This module runs that checker
over the results a benchmark run wrote and turns its report into one
reason per failed query.
"""
import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import check_oracle  # noqa: E402


def check(data_dir, results):
    """Checks every result under `results` (one parquet directory per
    query, next to the queries' oracle_sql.json) against its oracle.
    Returns ({query: reason} for each failure, {query: reason} for each
    result left unchecked)."""
    path = os.path.join(results, "oracle_sql.json")
    with open(path) as f:
        oracle_sql = json.load(f)
    names = sorted(n for n in os.listdir(results)
                   if os.path.isdir(os.path.join(results, n)))
    unchecked = {}
    if not check_oracle._zlib_pinned():
        # The checker then skips its Python oracles, and their SQL form
        # reads a committed fixture that generated inputs do not have.
        unchecked = {n: "zlib differs from the pinned stock stream"
                     for n in names if n in check_oracle.PYTHON_ORACLES}
    # only the results that were written; a query that failed to run is
    # already a named failure
    with open(path, "w") as f:
        json.dump({k: v for k, v in oracle_sql.items()
                   if k in names and k not in unchecked}, f)
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        check_oracle.main(data_dir, results)
    bad, seen = {}, set()
    for line in report.getvalue().splitlines():
        if line.startswith(("OK ", "FAIL ")):
            status, _, rest = line.partition(" ")
            name, _, reason = rest.strip().partition(": ")
            seen.add(name)
            if status == "FAIL":
                bad[name] = reason
    for n in names:
        if n not in seen and n not in unchecked:
            bad[n] = "no oracle"
    return bad, unchecked
