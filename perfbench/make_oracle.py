#!/usr/bin/env python3
"""Regenerate ``perfbench/oracle_sf0.1.json``: for each query of the
``dedup_curation`` workload, the row count and digest of its DuckDB twin
from ``__spark_entry__.oracle_sql()`` over the fixed table in
``perfbench/data/sf0.1``.

    python3 perfbench/make_oracle.py [--rows-dir DIR]

The answers are stored because the oracles take longer than a benchmark
run. The ``curation_pipeline`` oracle is evaluated with its ``toks`` CTE
marked ``MATERIALIZED``: DuckDB otherwise re-evaluates that CTE (and the
whole dedup chain under it) in every step of the recursive ``pack`` CTE.
The hint changes evaluation only; at sf0.01 both forms return the same
rows (45 s against 1.4 s on a 4-core box). The digest is
``workloads.digest_frame`` applied by Spark to the DuckDB rows cast to the
Spark query's output schema, so the benchmark compares like with like. ``--rows-dir`` keeps the DuckDB result parquet
files between invocations (default: a directory under the repository's
``.perfbench_work``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows-dir", default=os.path.join(ROOT, ".perfbench_work", "oracle_rows"))
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    import duckdb
    from pyspark.sql import Observation, functions as F

    import __spark_entry__
    from key_resource_table_extractor_spark.session import build_session
    from perfbench.workloads import DedupCuration, digest_frame

    tables = DedupCuration.TABLES
    os.makedirs(args.rows_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{os.path.join(tables, 'documents.parquet')}')"
    )
    sql = __spark_entry__.oracle_sql()
    for q in DedupCuration.QUERIES:
        path = os.path.join(args.rows_dir, f"{q}.parquet")
        if not os.path.exists(path):
            print(f"duckdb: {q} ...", file=sys.stderr, flush=True)
            text = sql[q].replace("), toks AS (", "), toks AS MATERIALIZED (")
            con.execute(f"COPY ({text}) TO '{path}' (FORMAT parquet)")

    cores = len(os.sched_getaffinity(0))
    spark = build_session(app_name="perfbench-oracle", master=f"local[{cores}]",
                          shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    queries = __spark_entry__.queries()
    out = {}
    for q in DedupCuration.QUERIES:
        schema = queries[q](spark, tables).schema
        rows = spark.read.parquet(os.path.join(args.rows_dir, f"{q}.parquet"))
        lower = {c.lower(): c for c in rows.columns}
        rows = rows.select(
            [F.col(lower[f.name.lower()]).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
        obs = Observation(f"oracle_{q}")
        digest_frame(rows, obs).write.format("noop").mode("overwrite").save()
        got = obs.get
        out[q] = {"rows": int(got["rows"]), "digest": str(got["digest"])}
        obs = Observation(f"spark_{q}")
        digest_frame(queries[q](spark, tables), obs).write.format("noop").mode(
            "overwrite"
        ).save()
        same = (obs.get["rows"], str(obs.get["digest"])) == (out[q]["rows"], out[q]["digest"])
        print(q, out[q], "spark query matches" if same else "SPARK QUERY DIFFERS",
              file=sys.stderr, flush=True)
    spark.stop()
    with open(os.path.join(HERE, "oracle_sf0.1.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
