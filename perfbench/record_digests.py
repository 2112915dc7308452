#!/usr/bin/env python3
"""Record the expected outputs of corpus_queries.

    python3 perfbench/record_digests.py

For each corpus variant, generates the tables, runs every measured
query in Spark and its DuckDB oracle (``tests/oracle_harness.py``),
and records the row count and typed, order-insensitive value hash of
the Spark output into perfbench/digests.json, but only when Spark and
DuckDB agree on every query of every variant. A query without an
oracle would be recorded only from such a fully matching variant.
Takes about half an hour on a 4-core host: the DuckDB oracle of
pipeline_dedup_groups runs for minutes on each variant.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    from perfbench import datagen, workloads as W
    from readability_py_spark.operators import merged_queries
    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.session import build_session
    from tests.oracle_harness import compare

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", "record")
    spark = build_session(
        app_name="perfbench-record", master=f"local[{nproc}]",
        shuffle_partitions=str(nproc),
        extra_conf={"spark.local.dir": os.path.join(work, "spark-local"),
                    "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    _, oracles = merged_queries(include_retired=True)
    size = W.SIZES["corpus_queries"]["full"]
    out = {"queries": list(W.CORPUS_QUERIES), "size": size, "variants": {}}
    ok = True
    for variant in range(W.N_VARIANTS):
        sf_dir = os.path.join(work, f"corpus{variant}")
        datagen.corpus(variant, sf_dir, **size)
        rec = {}
        for name, fn, _mod in W.corpus_queries():
            if name in oracles:
                res = compare(fn(spark, sf_dir), oracles[name], sf_dir)
                release_caches()
                if not res["values_match"]:
                    print(f"variant {variant} {name}: Spark and DuckDB differ: {res}")
                    ok = False
            rows, digest = W.query_digest(fn(spark, sf_dir))
            release_caches()
            rec[name] = {"rows": rows, "digest": digest, "oracle": name in oracles}
            print(f"variant {variant} {name}: {rows} rows", flush=True)
        out["variants"][str(variant)] = rec
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        print("not recorded: some query disagrees with its oracle")
        return 1
    with open(os.path.join(ROOT, "perfbench", "digests.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
