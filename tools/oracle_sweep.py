#!/usr/bin/env python3
"""Run oracle pairs (default: the full surface, include_retired=True)
against DuckDB at an arbitrary SF dir — the assurance sweep for
SF-dependent divergence (the IEEE -0.0 class only ever appeared at
sf0.01+; no routine harness covers sf0.1), and, given query names, the
per-change check of just the pairs a change touches.

Usage: python tools/oracle_sweep.py [SF_DIR [NAME ...]]
SF_DIR defaults to sf0.1 and the names to every pair. Runs on
local[$SPARK_GRAFT_CPUS] (default 32), e.g.
  SPARK_GRAFT_CPUS=4 python tools/oracle_sweep.py testdata/sf0.1 \
      pipeline_gate repetition_stats
Prints one line per pair and a final tally; exit 1 on any mismatch,
error or unknown name.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from oracle_harness import compare  # tests/oracle_harness.py

    from readability_py_spark.operators import merged_queries
    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.session import build_session

    q, o = merged_queries(include_retired=True)
    names = sys.argv[2:] or sorted(o)
    unknown = [n for n in names if n not in o]
    if unknown:
        sys.exit(f"no oracle pair named: {', '.join(unknown)}")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        app_name="rps-oracle-sweep",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    ok = bad = err = 0
    for name in names:
        try:
            res = compare(q[name](spark, sf_dir), o[name], sf_dir)
        except Exception as e:  # noqa: BLE001 — report and continue
            err += 1
            print(f"ERR  {name}: {e}", flush=True)
            release_caches()
            continue
        release_caches()
        if res.get("cols_match") and res.get("rows_match") and res.get(
            "values_match"
        ):
            ok += 1
            print(f"OK   {name}", flush=True)
        else:
            bad += 1
            print(f"FAIL {name}: {json.dumps(res)[:400]}", flush=True)
    print(
        f"oracle sweep @ {sf_dir}: {ok} match / {bad} mismatch / {err} error "
        f"of {len(names)} pairs"
    )
    spark.stop()
    sys.exit(1 if (bad or err) else 0)


if __name__ == "__main__":
    main()
