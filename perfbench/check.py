"""Answer checks for the graft benchmark, untimed.

Each request's answer from the run's check pass is compared with what
its reference SQL returns in DuckDB over the same parquet inputs:

- lane answers (parquet) the way tools/check_oracle.py compares them:
  same column names, same row count, same sorted rows of exact values;
- driver-side values (explore actions) row by row after sorting, numbers
  within the request's stated relative tolerance;
- dense-kernel answers must also match their builtin-Spark twin's,
  within the same tolerance, and the dense kernel must have served the
  request: its fallback gives the same answer through builtin operators.
"""
import decimal
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import norm, table_key  # noqa: E402


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{data_dir}/.duckdb'")
    for entry in sorted(os.listdir(data_dir)):
        if not entry.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, entry)
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {entry[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{src}')")
    return con


def _num(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, decimal.Decimal)):
        return float(v)
    return v


def _close(a, b, tol):
    a, b = _num(a), _num(b)
    if isinstance(a, bool) or isinstance(b, bool) or a is None or b is None:
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or abs(a - b) <= tol * max(abs(a), abs(b))
    return str(a) == str(b)


def _sort_rows(rows):
    return sorted((list(r) for r in rows), key=lambda r: norm(r[0]) if r else "")


def check_values(got, expected, tol):
    """None when `got` matches `expected` (lists of rows), else why not."""
    got, expected = _sort_rows(got), _sort_rows(expected)
    if len(got) != len(expected):
        return f"rows {len(got)} vs reference {len(expected)}"
    for g, e in zip(got, expected):
        if len(g) != len(e) or not all(_close(a, b, tol) for a, b in zip(g, e)):
            return f"value mismatch: {g[:6]} vs reference {e[:6]}"
    return None


def check_frame(path, expected):
    got = pq.read_table(path)
    gc, gr = table_key(got)
    ec, er = table_key(expected)
    if gc != ec:
        return f"columns {gc} vs reference {ec}"
    if len(gr) != len(er):
        return f"rows {len(gr)} vs reference {len(er)}"
    if gr != er:
        bad = next((a, b) for a, b in zip(gr, er) if a != b)
        return f"value mismatch: {bad[0][:200]} vs reference {bad[1][:200]}"
    return None


def _corrupt_values(rows):
    rows = [list(r) for r in rows]
    for r in rows:
        for i, v in enumerate(r):
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                r[i] = v + 1
                return rows
    return rows[1:]


def run_checks(checks, inject_wrong=None):
    """Checks every recorded answer; returns {request: failure or None}.
    `inject_wrong` names a request whose reference answer is corrupted on
    purpose, to show that a wrong answer is counted."""
    result = {}
    cons = {}
    for c in checks:
        name = c["request"]
        if c["kind"] == "error":
            result[name] = "raised: " + c["error"]
            continue
        if c.get("kernel") and not c["kernel_ran"]:
            result[name] = f"the builtin fallback ran: nothing that ran shows {c['kernel']!r}"
            continue
        if c.get("twin_rows") is not None:
            why = check_values(c["rows"], c["twin_rows"], c["tol"])
            if why:
                result[name] = "differs from its builtin-Spark twin: " + why
                continue
        try:
            con = cons.get(c["data"]) or cons.setdefault(c["data"], _connect(c["data"]))
            if c["kind"] == "values":
                expected = con.execute(c["sql"]).fetchall()
                if name == inject_wrong:
                    expected = _corrupt_values(expected)
                result[name] = check_values(c["rows"], expected, c["tol"])
            else:
                expected = con.execute(c["sql"]).arrow()
                if name == inject_wrong:
                    expected = expected.slice(0, max(0, expected.num_rows - 1))
                result[name] = check_frame(c["path"], expected)
        except Exception as e:  # a reference that cannot run is a failed check
            result[name] = f"check error: {e}"
    for con in cons.values():
        con.close()
    return result
