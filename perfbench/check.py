#!/usr/bin/env python3
"""Output checks for one benchmark run, outside its timed region.

Each check record the JVM program writes carries the Spark rows of one
re-run operation and either the oracle SQL to replay in DuckDB over the
same generated inputs, or invariants it already evaluated. A check
fails when the oracle rows differ, an invariant is false, the re-run threw,
or an operation of the same spec returned another row count while timed.
"""
import json
import math
import os

import duckdb

TOL = 1e-9


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    return v


def _key(row):
    def k(v):
        if isinstance(v, float):
            return ("f", f"{v:.6f}")
        if isinstance(v, list):
            return ("l", tuple(k(x) for x in v))
        if isinstance(v, dict):
            return ("d", tuple((a, k(b)) for a, b in v.items()))
        return ("s" if v is not None else "n", "" if v is None else str(v))
    return tuple(k(v) for v in row)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def compare(columns, spark_rows, duck_cols, duck_rows):
    """None when the row multisets match column-by-name, else a reason."""
    if sorted(columns) != sorted(duck_cols):
        return f"columns differ: spark={columns} oracle={duck_cols}"
    if len(spark_rows) != len(duck_rows):
        return f"row count differs: spark={len(spark_rows)} oracle={len(duck_rows)}"
    order = sorted(columns)
    s = sorted(([_norm(r.get(c)) for c in order] for r in spark_rows), key=_key)
    di = [duck_cols.index(c) for c in order]
    d = sorted(([_norm(r[i]) for i in di] for r in duck_rows), key=_key)
    for i, (a, b) in enumerate(zip(s, d)):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {i} differs: spark={a} oracle={b}"
    return None


def run_checks(checks, corrupt=False):
    """Returns [(name, spec, failure reason or None)] for every check."""
    out = []
    con = duckdb.connect()
    con.execute("SET threads=2")
    corrupted = False
    for c in checks:
        name, spec = c["name"], c.get("spec", c["name"])
        if "error" in c:
            out.append((name, spec, f"re-run threw: {c['error']}"))
            continue
        if "invariants" in c:
            bad = [f"{i['name']} ({i['detail']})" for i in c["invariants"] if not i["ok"]]
            if corrupt and not corrupted:
                bad.append("corrupted on request")
                corrupted = True
            out.append((name, spec, "; ".join(bad) or None))
            continue
        rows = [json.loads(r) for r in c["rows"]]
        if corrupt and not corrupted:
            # deliberately corrupted output: one row lost (or one invented)
            rows = rows[:-1] if rows else [{col: None for col in c["columns"]}]
            corrupted = True
        reason = None
        timed = set(c.get("timed_rows", []))
        if timed and timed != {len(rows)}:
            reason = f"timed row counts {sorted(timed)} differ from re-run {len(rows)}"
        try:
            for t, p in c["tables"].items():
                if os.path.isdir(p):  # a table Spark wrote: a directory of parts
                    p = os.path.join(p, "*.parquet")
                con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            res = con.execute(c["sql"])
            duck_cols = [d[0] for d in res.description]
            reason = compare(c["columns"], rows, duck_cols, res.fetchall()) or reason
        except Exception as e:  # noqa: BLE001 - any oracle failure fails the check
            reason = f"oracle failed: {type(e).__name__}: {e}"[:400]
        out.append((name, spec, reason))
    con.close()
    return out
