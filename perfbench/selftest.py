#!/usr/bin/env python3
"""Self-tests of the benchmark's output checks.

    python3 perfbench/selftest.py

Run from the repository root. Each check must accept a correct result
and reject the same result deliberately corrupted:
  - ingest: a core row with a changed value, a missing core row, a
    re-ingest that wrote an unchanged page;
  - table: a replica that missed a delete, an as-of read of the wrong
    version, a change span with a wrong count;
  - analytics: a query result with one row missing or one value altered
    (the DuckDB oracle comparison of tools/check.py).
The ingest and table checks run in one JVM against the program's real
output on small inputs. Exits 1 if any check misbehaves.
"""
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import run  # noqa: E402


def analytics_checks(d):
    """The analytics check (`run.check_analytics`, which calls
    tools/check.py) on one small table and one query result."""
    import duckdb

    data = os.path.join(d, "data")
    os.makedirs(data)
    con = duckdb.connect()
    con.execute("COPY (SELECT range AS r_regionkey, range * 1.5 AS v, 'x' || range AS s "
                f"FROM range(20)) TO '{data}/region.parquet' (FORMAT parquet)")
    exp = con.execute(f"SELECT * FROM '{data}/region.parquet' ORDER BY r_regionkey").df()
    con.close()
    bad = 0
    cases = [
        ("analytics result equal to its oracle", exp.copy(), False),
        ("analytics result with one row missing", exp.drop(index=7), True),
        ("analytics result with one value altered",
         exp.assign(v=exp.v.where(exp.r_regionkey != 3, 99.0)), True),
    ]
    for i, (name, got, reject) in enumerate(cases):
        dump = os.path.join(d, f"dump{i}")
        os.makedirs(os.path.join(dump, "q"))
        got.to_parquet(os.path.join(dump, "q", "part-0.parquet"))
        with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
            json.dump({"q": "SELECT * FROM region ORDER BY r_regionkey"}, f)
        problems = run.check_analytics(dump, data)
        if bool(problems) == reject:
            print(f"ok   {name}: {'rejected (' + problems[0] + ')' if reject else 'accepted'}")
        else:
            bad += 1
            print(f"FAIL {name}: {'corrupted result accepted' if reject else problems}")
    return bad


def main():
    jars = run.spark_jars()
    os.makedirs(run.BUILD, exist_ok=True)
    run.build(jars)
    d = os.path.join(run.BUILD, "selftest")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rc = run.run_jvm(run.java_cmd(jars, ["selftest", d], d), d, 600)
    with open(os.path.join(d, "jvm.log")) as f:
        print("".join(l for l in f if l.startswith(("ok ", "FAIL"))), end="")
    bad = analytics_checks(os.path.join(d, "analytics"))
    shutil.rmtree(d, ignore_errors=True)
    if rc != 0 or bad:
        print(f"SELFTEST FAILED (jvm exit {rc}, {bad} analytics check(s) misbehaved)")
        sys.exit(1)
    print("SELFTEST PASSED")


if __name__ == "__main__":
    main()
