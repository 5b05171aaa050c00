#!/usr/bin/env python3
"""Write perfbench/query_session.json: the query_session list with each
query's expected row count, taken from DuckDB running the program's oracle
SQL (SparkEntry.oracleSql) over the fixture tables.

    python3 perfbench/make_query_list.py

Needs a built harness (run perfbench/run.py once) and the duckdb module.
The list is fixed here so that adding queries to the program does not
change the benchmark.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
FIXTURE = "fixture/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

QUERIES = [
    # TPC-H-style relational queries; q5 joins six tables
    "q1_pricing_summary", "q5_local_revenue", "q13_custdist",
    # a memoized family: the recall query reuses the index the kNN query
    # builds, and the warm passes read the query memo
    "doc_tfidf_knn", "doc_tfidf_recall",
    # the ingest mapping and the event sessionization as queries
    "dsl_default_mapping", "evt_sessionize",
]


def main():
    with open(os.path.join(BENCH, "target", "classpath.txt")) as f:
        cp = f.read().strip()
    with tempfile.TemporaryDirectory() as tmp:
        names = os.path.join(tmp, "names.txt")
        with open(names, "w") as f:
            f.write("\n".join(QUERIES) + "\n")
        out = os.path.join(tmp, "oracles.json")
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--dump-oracles", names, out],
                       check=True, stdout=subprocess.DEVNULL)
        with open(out) as f:
            oracles = json.load(f)
    missing = [q for q in QUERIES if q not in oracles]
    if missing:
        sys.exit("no oracle SQL for: %s" % ", ".join(missing))
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s/%s.parquet'"
                    % (t, BENCH, FIXTURE, t))
    queries = {}
    for q in sorted(QUERIES):
        rows = con.execute("SELECT count(*) FROM (%s)" % oracles[q]).fetchone()[0]
        queries[q] = {"rows": rows, "from": "duckdb"}
    with open(os.path.join(BENCH, "query_session.json"), "w") as f:
        json.dump({"fixture": FIXTURE, "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
