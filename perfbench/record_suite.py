#!/usr/bin/env python3
"""Record the `suite` workload's expected result digests.

    python3 perfbench/record_suite.py                 # every query: report only
    python3 perfbench/record_suite.py q01_x,q02_y,... # record these queries

Run it from the root of the repository. It builds the benchmark, generates
the suite's tables, runs the named `SparkEntry.queries` once through
`perfbench.Record`, and cross-checks each result against the query's DuckDB
oracle SQL (`SparkEntry.oracleSql`) on the same tables. With a query list it
writes `perfbench/suite_expected.json` for exactly those queries, and
refuses a query whose result the oracle contradicts. A query whose oracle
does not finish within the ceiling is recorded with `"oracle": "timeout"`.
"""
import glob
import json
import math
import os
import shutil
import sys
import threading

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

ORACLE_CEILING_S = 30.0


def canon_value(v):
    if isinstance(v, float):
        return ("f", float(f"{v:.9g}")) if math.isfinite(v) else ("f", str(v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon_value(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, canon_value(x)) for k, x in v.items())))
    if v is None:
        return ("n", "")
    try:
        return ("f", float(f"{float(v):.9g}")) if type(v).__name__ == "Decimal" else ("s", str(v))
    except (TypeError, ValueError):
        return ("s", str(v))


def canon(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon_value(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=repr)
    return [cols[i] for i in order], rows


def oracle_rows(con, sql):
    out, err = {}, {}

    def go():
        try:
            out["v"] = canon(con.sql(sql))
        except Exception as e:  # noqa: BLE001 - reported per query
            err["e"] = e
    t = threading.Thread(target=go, daemon=True)
    t.start()
    t.join(ORACLE_CEILING_S)
    if t.is_alive():
        con.interrupt()
        t.join()
        return None, "timeout"
    if "e" in err:
        return None, f"error: {err['e']}"[:200]
    return out["v"], None


def main():
    select = [q for q in (sys.argv[1].split(",") if len(sys.argv) > 1 else []) if q]
    classpath, _ = run.build()
    data = run.suite_data()
    out = os.path.join(run.BUILD, "record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    code, _ = run.run_bounded(run.java_cmd(classpath, out)
                              + ["perfbench.Record", data, out] + ([",".join(select)] if select else []),
                              run.ROOT, 7200, capture=False)
    if code != 0:
        run.die("record run failed", 4)
    recs = [json.loads(l) for l in open(os.path.join(out, "record.jsonl")) if l.strip()]
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    expected = {}
    for r in recs:
        q = r["query"]
        if "error" in r:
            r["oracle"] = "spark-error"
        elif q not in oracle:
            r["oracle"] = "none"
        else:
            want, why = oracle_rows(con, oracle[q])
            if want is None:
                r["oracle"] = why
            else:
                got = canon(con.sql(f"SELECT * FROM '{out}/{q}/*.parquet'"))
                r["oracle"] = "match" if got == want else (
                    f"mismatch rows spark={len(got[1])} oracle={len(want[1])}")
        print(json.dumps(r), flush=True)
        if select:
            if r["oracle"] not in ("match", "timeout"):
                run.die(f"{q}: cannot record ({r['oracle']})", 6)
            expected[q] = {"digest": r["digest"], "rows": r["rows"], "oracle": r["oracle"]}
    if select:
        path = os.path.join(run.BENCH, "suite_expected.json")
        with open(path, "w") as f:
            json.dump({"tables": os.path.basename(data), "queries": expected}, f,
                      indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {path}: {len(expected)} queries")


if __name__ == "__main__":
    main()
