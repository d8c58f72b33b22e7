#!/usr/bin/env python3
"""Record the benchmark's catalog: every registered query with its
golden row count, order-insensitive result hash, reference cost and
DuckDB oracle verdict on the sf0.01 tables.

    python3 graftbench/record_goldens.py

Run from the repo root at the commit whose results are the reference.
The registry runs in two fresh JVMs, in opposite orders:
a query whose hash differs between them is marked nondeterministic and
checked by row count only. The first run also dumps every result as
parquet, and tools/oracle_check.py compares the dumps of queries that
have oracle SQL against DuckDB on the same tables.
"""
import json
import os
import re
import subprocess
import sys

import lib
import run

def oracle_verdicts(data, dump):
    """query -> 'ok' or the oracle_check failure line, for every query
    with oracle SQL in the dump."""
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    out = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "oracle_check.py"),
                          data, dump], capture_output=True, text=True, cwd=dump).stdout
    verdicts = {n: "no verdict from oracle_check" for n in names}
    for line in out.splitlines():
        m = re.match(r"(ok|FAIL|TIMEOUT) +(\w+)", line)
        if m:
            verdicts[m.group(2)] = "ok" if m.group(1) == "ok" else line.strip()
    return verdicts


def record(classpath, cpus):
    data = lib.DATA
    work = os.path.join(run.OUT, "record")
    dump = os.path.join(run.OUT, "record-dump")
    common = dict(passes=1, cpus=cpus, trace=0, timeout=3600)
    first = run.harness(classpath, ["*"], data, work, dump=dump, **common)
    names = list(first["check"])
    second = run.harness(classpath, names[::-1], data, work, **common)
    oracle = oracle_verdicts(data, dump)
    cost = {}
    for raw in (first, second):
        for q in raw["queries"]:
            if q["pass"] > 0 and "error" not in q:
                cost.setdefault(q["name"], []).append(q["total_s"])
    errors = {q["name"] for r in (first, second) for q in r["queries"] if "error" in q}
    entries = {}
    for n in sorted(names):
        a, b = first["check"][n], second["check"][n]
        if n in errors or "error" in a or "error" in b or a["rows"] != b["rows"]:
            print(f"excluded {n}: fails or changes row count at the reference commit")
            continue
        if oracle.get(n, "ok") != "ok":
            print(f"excluded {n}: {oracle[n]}")
            continue
        entries[n] = {
            "rows": a["rows"], "hash": a["hash"], "deterministic": a["hash"] == b["hash"],
            "cost_s": round(lib.median(cost[n]), 4),
            "oracle": "ok" if n in oracle else "none",
        }
    return entries


def main():
    classpath, _ = run.build()
    catalog = record(classpath, len(os.sched_getaffinity(0)))
    print(f"{len(catalog)} queries, "
          f"{sum(not e['deterministic'] for e in catalog.values())} checked by rows only, "
          f"{sum(e['oracle'] == 'ok' for e in catalog.values())} checked against DuckDB")
    with open(lib.CATALOG, "w") as f:
        json.dump(catalog, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
