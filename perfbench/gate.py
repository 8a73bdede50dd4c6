"""Output checks made after the timed phase, in DuckDB.

Rows are compared as in the repository's oracle check: every value is
rendered with repr(), rows are sorted, and the sorted rows are hashed, so
the comparison does not depend on row order.
"""
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows):
    out = []
    for r in rows:
        out.append(tuple("NaN" if isinstance(v, float) and math.isnan(v)
                         else repr(v) for v in r))
    out.sort()
    return out


def vhash(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode("utf-8", "surrogatepass"))
    return h.hexdigest()


def _rows(rel):
    cols = sorted(rel.columns)
    return cols, canon(rel.select(", ".join(f'"{c}"' for c in cols)).fetchall())


def compare(name, got_rel, exp_rel):
    """One check: same columns, row count and order-independent hash."""
    gcols, got = _rows(got_rel)
    ecols, exp = _rows(exp_rel)
    if [c.lower() for c in gcols] != [c.lower() for c in ecols]:
        return {"name": name, "ok": False,
                "detail": f"columns {gcols} != {ecols}"}
    ok = len(got) == len(exp) and vhash(got) == vhash(exp)
    return {"name": name, "ok": ok,
            "detail": f"{len(got)} rows vs {len(exp)} expected"
                      + ("" if ok else ", hash differs")}


def operator_queries(input_dir, results_dir):
    """Each query's result against its oracle SQL over the same inputs."""
    path = os.path.join(results_dir, "oracle_sql.json")
    if not os.path.exists(path):
        return [{"name": "queries.oracle_sql", "ok": False,
                 "detail": "the harness wrote no oracle SQL"}]
    with open(path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    checks = []
    for name in sorted(oracle):
        path = os.path.join(results_dir, name)
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            checks.append(compare(f"queries.{name}", got, con.sql(oracle[name])))
        except Exception as e:  # a failed check, reported with its reason
            checks.append({"name": f"queries.{name}", "ok": False,
                           "detail": str(e)[:300]})
    return checks
