#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Checks that:
- every workload, traced and untraced, emits exactly the metrics
  BENCHMARK.json lists, each with its listed unit, and passes its
  output check;
- corrupting one byte of one expected golden, or one recorded query
  digest, in a temporary copy makes the run report ``correct: false``
  and exit nonzero;
- in a directory holding only BENCHMARK.json and perfbench/, the
  command exits nonzero without printing a result.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is None or proc.returncode not in (0, 1):
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, result


def corrupt_golden(src: str, dst: str) -> None:
    """Flip one byte of the first default-settings golden's text."""
    with open(src) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    g = next(r for r in rows if not r["settings"])
    text = bytearray(base64.b64decode(g["text_b64"]))
    text[len(text) // 2] ^= 0x01
    g["text_b64"] = base64.b64encode(bytes(text)).decode()
    with open(dst, "w") as fh:
        fh.writelines(json.dumps(r) + "\n" for r in rows)


def corrupt_digest(src: str, dst: str) -> None:
    """Change one character of every variant's first recorded digest."""
    with open(src) as fh:
        d = json.load(fh)
    for rec in d["variants"].values():
        first = rec[sorted(rec)[0]]
        first["digest"] = ("0" if first["digest"][0] != "0" else "1") + first["digest"][1:]
    with open(dst, "w") as fh:
        json.dump(d, fh)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    listed = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures = []
    base = ["--seed", "3", "--seconds", "1", "--size", "tiny"]
    for name in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            code, res = run(["--workload", name, "--trace", str(trace)] + base)
            got = {k: v["unit"] for k, v in (res or {}).get("metrics", {}).items()}
            if code != 0 or not res or not res["correct"]:
                failures.append(f"{name} trace={trace}: exit {code}, result {res and res['correct']}")
            if got != listed[trace]:
                failures.append(f"{name} trace={trace}: metrics/units differ from BENCHMARK.json")
            print(f"{name} trace={trace}: exit {code}, {len(got)} metrics", flush=True)

    scratch = os.path.join(ROOT, ".perfbench", "selftest")
    os.makedirs(scratch, exist_ok=True)
    bad_goldens = os.path.join(scratch, "goldens.jsonl")
    corrupt_golden(os.path.join(ROOT, "tests", "fixtures", "goldens.jsonl"), bad_goldens)
    bad_digests = os.path.join(scratch, "digests.json")
    corrupt_digest(os.path.join(ROOT, "perfbench", "digests.json"), bad_digests)
    for workload, flag in (("extract_fresh", ["--goldens", bad_goldens]),
                           ("corpus_queries", ["--digests", bad_digests])):
        code, res = run(["--workload", workload, "--trace", "0"] + base + flag)
        tripped = code != 0 and res is not None and res["correct"] is False
        print(f"{workload} with a corrupted expectation: exit {code}, tripped={tripped}")
        if not tripped:
            failures.append(f"{workload}: corrupted expectation did not trip the check")

    bare = tempfile.mkdtemp(dir=scratch)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res = run(["--workload", "extract_fresh", "--trace", "0"] + base, cwd=bare)
    print(f"bare directory: exit {code}, result printed={res is not None}")
    if code == 0 or res is not None:
        failures.append("bare directory: expected a nonzero exit and no result")
    shutil.rmtree(scratch)

    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
