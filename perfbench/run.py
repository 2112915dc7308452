#!/usr/bin/env python3
"""Benchmark of readability_py_spark, measured from outside the program.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run generates the workload's
inputs from ``--seed``, sets up a ``local[nproc]`` session twice, each
time from a fresh JVM (the median is ``setup_s``), runs one unit of
work whose outputs it checks, then runs the timed unit twice, and
again while another unit still fits in ``--seconds``.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer ones with ``--trace 1``). A wrong output exits 1.

Workloads, metrics and the per-layer -> end-to-end mapping are listed
in BENCHMARK.json at the repository root. Spans and the run record
(environment, steal, Spark conf) go to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WORKLOAD_NAMES = ("extract_fresh", "corpus_queries")
# each cold set-up costs about 12 s on a 4-core host; with more than
# two, the runs the whole benchmark makes no longer fit its time limit
N_SETUPS = 2
MIN_UNITS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smallest inputs, for the self-test")
    ap.add_argument("--goldens", default=os.path.join(ROOT, "tests", "fixtures", "goldens.jsonl"),
                    help="expected extraction outputs (self-test passes a corrupted copy)")
    ap.add_argument("--digests", default=os.path.join(HERE, "digests.json"),
                    help="recorded query digests (self-test passes a corrupted copy)")
    return ap.parse_args(argv)


def missing_program() -> str | None:
    for rel in ("readability_py_spark", "bench.py", "tests/oracle_harness.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return rel
    return None


class Context:
    """Everything one run shares: arguments, work directory, tracer,
    RSS sampler and the live session."""

    def __init__(self, args, tracer, rss):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.size = args.size
        self.digests = args.digests
        self.tracer = tracer
        self.rss = rss
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(
            ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}"
        )
        from perfbench import datagen
        from readability_py_spark.session import ARROW_MAX_RECORDS_PER_BATCH

        self.goldens = datagen.load_goldens(args.goldens)
        self.arrow_batch = ARROW_MAX_RECORDS_PER_BATCH
        self.spark = None

    def build(self):
        """Build the session the way the program's own entry points do,
        with every scratch path inside the checkout."""
        from readability_py_spark.session import build_session

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        with self.tracer.span("session.build_session"):
            spark = build_session(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{self.nproc}]",
                shuffle_partitions=str(self.nproc),
                extra_conf={
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    # no hsperfdata file in /tmp, temp files in the checkout
                    "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def warm_workers(self, spark) -> None:
        """Start the Python workers and import pandas/pyarrow in them."""
        import pandas as pd

        def _noop(batches):
            for pdf in batches:
                yield pd.DataFrame({"n": [len(pdf)]})

        with self.tracer.span("session.worker_warmup"):
            (spark.range(10000).repartition(self.nproc)
             .mapInPandas(_noop, "n long").write.format("noop").mode("overwrite").save())

    def setup(self) -> dict:
        """One cold set-up: stop any earlier session and its JVM, then
        build the session (which launches a JVM with the session's
        launch-time conf) and warm the Python workers."""
        self.shutdown()
        t0 = time.perf_counter()
        self.spark = self.build()
        t1 = time.perf_counter()
        self.warm_workers(self.spark)
        t2 = time.perf_counter()
        return {"build_s": t1 - t0, "warmup_s": t2 - t1, "total_s": t2 - t0}

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def window(ctx, workload) -> list[dict]:
    """Run the workload's timed unit at least ``MIN_UNITS`` times, then
    again while another unit, as long as the last one, still ends
    within ``ctx.seconds``. The number of units then depends only on
    how long a unit takes, not on where a unit's end falls in the
    window. In a traced run, units alternate untraced / traced, so one
    run gives the tracing overhead."""
    from perfbench import sparkmon

    reps = []
    before = sparkmon.cpu_times()
    start = time.perf_counter()
    while len(reps) < MIN_UNITS or (
        time.perf_counter() - start + reps[-1]["wall"] <= ctx.seconds
    ):
        traced = ctx.trace and len(reps) % 2 == 1
        ctx.tracer.enabled = traced
        # peak RSS over the first unit only: a fixed amount of work,
        # whatever the number of units that fit the window
        ctx.rss.sampling = not reps
        cpu0 = sparkmon.tree_usage(os.getpid())[1]
        with ctx.tracer.span("bench.unit", rep=len(reps)):
            rep = workload.unit(ctx.spark, len(reps))
        rep["cpu"] = sparkmon.tree_usage(os.getpid())[1] - cpu0
        ctx.rss.sampling = False
        ctx.tracer.enabled = False
        rep["traced"] = traced
        reps.append(rep)
    ctx.window_s = time.perf_counter() - start
    ctx.steal_pct = sparkmon.steal_pct(before, sparkmon.cpu_times())
    return reps


def end_to_end(ctx, reps, setups) -> dict:
    return with_units({
        "setup_s": statistics.median(s["total_s"] for s in setups),
        "job_cpu_s": statistics.median(r["cpu"] for r in reps),
        "peak_rss_mb": ctx.rss.peak_mb,
    }, "end_to_end")


def per_layer(ctx, workload, reps, setups) -> dict:
    from perfbench import coreprobe, workloads as W
    from perfbench.tracing import LAYERS

    out = {name: 0.0 for name in W.EXTRACT_LAYER_METRICS + W.CORE_METRICS + W.OPERATOR_METRICS}
    out["session.build_s"] = statistics.median(s["build_s"] for s in setups)
    out["session.worker_warmup_s"] = statistics.median(s["warmup_s"] for s in setups)
    ctx.tracer.enabled = True
    out.update(workload.layers(ctx.spark, reps))
    docs = coreprobe.sample_docs(ctx.seed, W.CORE_PROBE_DOCS[ctx.size], 5000, ctx.goldens)
    out.update(coreprobe.core_costs(docs, ctx.tracer))
    ctx.tracer.enabled = False
    traced = [r["wall"] for r in reps if r["traced"]]
    untraced = [r["wall"] for r in reps if not r["traced"]]
    out["trace.job_wall_s"] = statistics.median(traced)
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    self_s = ctx.tracer.self_times()
    for layer in LAYERS:
        out[f"trace.{layer}.self_s"] = self_s.get(layer, 0.0)
    return with_units(out, "per_layer")


def with_units(values: dict, section: str) -> dict:
    """Pair each value with its unit from BENCHMARK.json; the metrics
    computed must be exactly the ones the file lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = {m["name"]: m["unit"] for m in json.load(fh)[section]}
    if set(values) != set(listed):
        raise RuntimeError(f"{section} metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(listed))}")
    return {name: (values[name], listed[name]) for name in listed}


def main(argv=None) -> int:
    args = parse_args(argv)
    gone = missing_program()
    if gone:
        print(f"perfbench: {gone} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package from the checkout, whatever
    # the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import sparkmon
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(uuid.uuid4().hex[:12])
    with sparkmon.RssSampler() as rss:
        ctx = Context(args, tracer, rss)
        os.makedirs(ctx.work, exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(ctx.work, "tmp")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        try:
            phases = {"start": time.perf_counter()}
            workload = WORKLOADS[args.workload](ctx)
            tracer.enabled = ctx.trace
            workload.prepare()
            phases["prepare"] = time.perf_counter()
            setups = [ctx.setup() for _ in range(N_SETUPS)]
            tracer.enabled = False
            env = sparkmon.environment(ctx.spark, ROOT)
            phases["setup"] = time.perf_counter()
            bad = workload.check(ctx.spark)
            phases["check"] = time.perf_counter()
            reps = window(ctx, workload)
            phases["window"] = time.perf_counter()
            if ctx.trace:
                metrics = per_layer(ctx, workload, reps, setups)
            else:
                metrics = end_to_end(ctx, reps, setups)
            phases["metrics"] = time.perf_counter()
        finally:
            ctx.shutdown()
            shutil.rmtree(ctx.work, ignore_errors=True)
    phases["shutdown"] = time.perf_counter()

    attempted = sum(r["attempted"] for r in reps)
    failed = sum(r["failed"] for r in reps)
    for line in bad:
        print(f"CHECK FAILED: {line}", file=sys.stderr)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "run_id": tracer.run_id,
        **env, "steal_pct": ctx.steal_pct, "window_s": ctx.window_s,
        "reps": len(reps), "setups": setups, "check_failures": bad,
        "phase_s": {b: phases[b] - phases[a] for a, b in zip(phases, list(phases)[1:])},
        "rep_walls": [r["wall"] for r in reps],
        "rep_cpus": [r["cpu"] for r in reps],
    }
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".record.json", "w") as fh:
        json.dump(record, fh, indent=1)
    if ctx.trace:
        tracer.dump(stem + ".trace.json", {"record": record})
    for name, (value, unit) in metrics.items():
        print(f"{name:48s} {value:14.6g} {unit}", file=sys.stderr)
    print(f"unit walls {[round(r['wall'], 3) for r in reps]} s, "
          f"steal {ctx.steal_pct:.1f}%", file=sys.stderr)
    print("record " + json.dumps(record))
    # no operation of these workloads may fail: a failed one is a
    # wrong output too
    correct = not bad and not failed
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
