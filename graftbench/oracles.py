"""Regenerate expected.json: the digest of every registered query the
benchmark runs, computed from the query's own oracle SQL in DuckDB over
the testdata tables, at the scale factor its workload uses.

    python3 graftbench/oracles.py      # from the repository root

The oracle strings come from the engine's registry (the JVM prints them),
so expected.json changes only when a declared oracle or the data does.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import digest  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_sql(classes, workload, data, work):
    out = os.path.join(work, workload + ".json")
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java"] + [a for p in run.ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx2g", "-Djava.io.tmpdir=" + work, "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false", "-cp", classes + os.pathsep + jars,
        "graftbench.Main", "--workload", workload, "--seed", "0", "--seconds", "0",
        "--trace", "0", "--data", data, "--work", work, "--out", out,
        "--launch-ns", "0", "--dump-oracles", "1"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    subprocess.run(cmd, check=True, env=env, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def main():
    classes = build.build(os.getcwd())
    data = run.testdata(os.getcwd())
    work = os.path.join(BENCH, ".work", "oracles")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    expected = {}
    for workload, sf in sorted(run.WORKLOADS.items()):
        if workload == "f1_dag":
            continue
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data, sf, t + ".parquet")
            if os.path.exists(p):
                con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
        for name, sql in sorted(oracle_sql(classes, workload, data, work).items()):
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            expected["%s/%s" % (sf, name)] = digest.digest(cols, cur.fetchall())
            print(name, expected["%s/%s" % (sf, name)])
        con.close()
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(BENCH, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
