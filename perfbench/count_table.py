#!/usr/bin/env python3
"""Print the count-vs-materialized table from traced run records.

    python3 perfbench/count_table.py perfbench/.work/records/<run>.json ...

A traced run of a query workload times each query's `count()` beside its
materialized op (build + plan + collect of every column). The table lists,
per query, both medians and their ratio, largest ratio first: a ratio well
above 1 means a count-based benchmark leaves that much of the query's work
off the clock.
"""
import json
import sys


def main(paths):
    rows = []
    for path in paths:
        with open(path) as fh:
            rec = json.load(fh)
        for query, v in rec["count_vs_materialized"].items():
            rows.append((rec["workload"], query, v["materialized_s"], v["count_s"]))
    rows.sort(key=lambda r: -r[2] / r[3])
    print("| workload | query | materialized s | count s | materialized / count |")
    print("|---|---|---|---|---|")
    for workload, query, mat, cnt in rows:
        print(f"| {workload} | {query} | {mat:.3f} | {cnt:.3f} | {mat / cnt:.2f} |")


if __name__ == "__main__":
    main(sys.argv[1:])
