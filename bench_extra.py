#!/usr/bin/env python
"""Extra benchmarks (guide §1.4 noop-sink isolation) — NOT the frozen
headline bench. Used to attribute time inside composite query paths and to
A/B candidate optimizations. The run_extraction layer split (scan/exchange,
Python stage, sink) lives in perfbench (``--trace 1``).

Cases:
  extract_leaves  best-of-2 noop-sink time of each extract_* entry query

Usage: python bench_extra.py [case ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def force(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, mk, passes=2):
    best = None
    for _ in range(passes):
        t0 = time.time()
        force(mk())
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(json.dumps({"case": label, "sec": round(best, 3)}), flush=True)
    return best


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cases = sys.argv[1:] or ["extract_leaves"]
    unknown = set(cases) - {"extract_leaves"}
    if unknown:
        sys.exit(f"unknown case(s): {sorted(unknown)}")

    import __spark_entry__ as entry
    from key_resource_table_extractor_spark.session import build_session

    spark = build_session(
        app_name="krt-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _noop(it):
        yield from it

    spark.range(0, cpus * 10, numPartitions=cpus).mapInArrow(
        _noop, "id long"
    ).write.format("noop").mode("overwrite").save()

    if "extract_leaves" in cases:
        queries = entry.queries()
        for name in ("extract_spans", "extract_spans_anchor",
                     "extract_nested", "extract_nested_colspans"):
            timed(spark, name, lambda q=queries[name]: q(spark, sf_dir))

    spark.stop()


if __name__ == "__main__":
    main()
