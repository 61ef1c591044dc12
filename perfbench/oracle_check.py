"""One-time cross-check of the committed expected outputs against the DuckDB
oracle, on the ids the benchmark can draw.

    python3 perfbench/oracle_check.py

Dumps the Spark results of the ids with graft.Verify on the benchmark's
fixture, then runs each id's oracle SQL in DuckDB (2 threads, 2 GB,
TIMEOUT_S per id) and compares with the exact row/float compare
of tools/verify_local.py. The census fingerprints of the same Spark results
are what the benchmark checks on every run, so a PASS here ties the
committed value to the oracle. Ids whose oracle does not finish in time are
reported as such. Writes perfbench/panel/oracle_check.json.
"""

import argparse
import glob
import json
import os
import subprocess
import sys
import threading

import duckdb
import pandas as pd

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import verify_local  # noqa: E402

TIMEOUT_S = 60.0


def dump(ids, out, sf):
    import build
    import run as bench
    cp = build.build(ROOT)
    tmp = os.path.join(build.build_dir(ROOT), "oracle-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(bench.cores()), SPARK_LOCAL_DIRS=tmp,
               SPARK_GRAFT_VERIFY_PAR="2")
    heap = f"{bench.heap_gb()}g"
    subprocess.run(["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}"] + bench.JAVA_OPTS
                   + ["-cp", os.pathsep.join(cp), "graft.Verify",
                      sf, out, ",".join(ids)],
                   env=env, check=False)


def oracle(con, sql, timeout):
    box = {}

    def go():
        try:
            box["df"] = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - report any oracle error
            box["err"] = str(e)
    t = threading.Thread(target=go)
    t.start()
    t.join(timeout)
    if t.is_alive():
        con.interrupt()
        t.join()
        return None, "timeout"
    return box.get("df"), box.get("err")


def main(argv=None):
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args(argv)
    import build
    out = os.path.join(build.build_dir(ROOT), "oracle-dump")
    with open(os.path.join(BENCH, "panel", "panels.json")) as f:
        panels = json.load(f)
    ids = sorted(set(panels["workloads"]["driver-loop"]["ids"])
                 | {r["id"] for r in panels["single_plan_pool"]})
    sf = os.path.join(BENCH, "data", panels["data"])
    dump(ids, out, sf)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '2GB'")
    for t in verify_local.TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    results = {}
    for i in ids:
        files = sorted(glob.glob(os.path.join(out, i, "*.parquet")))
        if not files:
            results[i] = "spark dump missing"
        elif i not in oracles:
            results[i] = "no oracle"
        else:
            spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            odf, err = oracle(con, oracles[i], TIMEOUT_S)
            if err:
                results[i] = f"oracle {err}"[:200]
            else:
                diff = verify_local.cmp(verify_local.norm(spark_df), verify_local.norm(odf))
                results[i] = f"FAIL {diff}"[:200] if diff else "PASS"
                exp_rows = panels["expected"].get(i, [None])[0]
                if not diff and exp_rows != len(spark_df):
                    results[i] = f"PASS but census rows {exp_rows} != {len(spark_df)}"
        print(f"{results[i][:60]:<60} {i}", flush=True)
    summary = {}
    for v in results.values():
        k = v.split(" ")[0] if v.startswith(("PASS", "FAIL")) else v
        summary[k] = summary.get(k, 0) + 1
    with open(os.path.join(BENCH, "panel", "oracle_check.json"), "w") as f:
        json.dump({"timeout_s": TIMEOUT_S, "summary": summary, "ids": results}, f,
                  indent=1, sort_keys=True)
        f.write("\n")
    print(summary)
    return 0


if __name__ == "__main__":
    sys.exit(main())
