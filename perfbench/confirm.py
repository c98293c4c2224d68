#!/usr/bin/env python3
"""Confirm perfbench/digests.json against a graft.Verify dump.

    sbt -batch "runMain graft.Verify <sf_dir> <verify_out> <query ...>"
    python3 perfbench/confirm.py <verify_out>
    python3 tools/compare.py <sf_dir> <verify_out> <query ...>

For every workload query, the digest of graft.Verify's Spark output must
equal the stored digest. tools/compare.py then compares the same dump
with the DuckDB oracle; a query it reports as NO-ORACLE has a stored
digest that is only the engine's own output.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from digest import parquet_digest  # noqa: E402


def main():
    out_dir = sys.argv[1]
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    with open(os.path.join(HERE, "digests.json")) as f:
        stored = json.load(f)
    con = duckdb.connect()
    bad = 0
    for w, spec in workloads.items():
        for q in spec["queries"]:
            got = parquet_digest(con, os.path.join(out_dir, q))
            ok = got == stored.get(q)
            bad += not ok
            print(f"{w:11s} {q:30s} " + ("matches" if ok else
                  f"MISMATCH verify={got} stored={stored.get(q)}"))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
