#!/usr/bin/env python
"""Vanilla-session oracle check of the 50-slot correctness window (the
first 50 REGISTRY entries), or of the named queries.

Mimics the driver exactly: builds a VANILLA SparkSession (no repo
session factory, no extra confs — each query must self-provision its
dynamic confs), takes the first 50 REGISTRY entries in their shipped
order (or the queries named on the command line), runs each against
the sf0.01 test tables, and oracle-compares the ones that carry DuckDB
SQL. Prints one line per query and a final summary; exit 1 on any
failure.

Usage: python scripts/dryrun_window.py [--sf DIR] [name ...]
"""
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, "tests")

from pyspark.sql import SparkSession

WINDOW = 50
sf_dir = "/root/testdata/sf0.01"
names = []
args = sys.argv[1:]
while args:
    a = args.pop(0)
    if a == "--sf":
        sf_dir = args.pop(0)
    else:
        names.append(a)

from data_engineering_rag_spark.plans import REGISTRY
from oracle_harness import compare, duckdb_conn

window = [(n, REGISTRY[n]) for n in names] or list(REGISTRY.items())[:WINDOW]

# Vanilla, driver-style: master only, everything else default.
spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
con = duckdb_conn(sf_dir)

fails = []
t_all = time.time()
for i, (name, spec) in enumerate(window):
    t0 = time.time()
    try:
        if spec.oracle is None:
            cnt = spec.spark(spark, sf_dir).count()
            print(f"[{i:02d}] ROWS-ONLY {name}: {cnt} rows ({time.time()-t0:.1f}s)", flush=True)
            continue
        ok, msg = compare(spec.spark(spark, sf_dir), con, spec.oracle)
    except Exception as e:  # noqa: BLE001
        ok, msg = False, f"EXC {type(e).__name__}: {e}"
    print(f"[{i:02d}] {'OK' if ok else 'FAIL'} {name} ({time.time()-t0:.1f}s)", flush=True)
    if not ok:
        fails.append(name)
        print(f"  {msg[:2000]}", flush=True)

print(f"\nwindow={len(window)} fails={len(fails)} {fails} total={time.time()-t_all:.0f}s")
sys.exit(1 if fails else 0)
