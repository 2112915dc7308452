"""What the benchmark observes from outside the program: Spark's local
REST API (stage rows and SQL plans by job description), the process
tree's RSS and the host's steal time from /proc, and the run's
environment."""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import threading
import time
import urllib.request

PAGE = os.sysconf("SC_PAGE_SIZE")
TICKS = os.sysconf("SC_CLK_TCK")


# -- Spark REST API ------------------------------------------------------------

def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def stages_by_description(spark) -> dict[str, list[dict]]:
    """Completed stage rows grouped by job description, each group in
    stage-id order. Waits until the listener has settled, so the rows
    of the last job are present."""
    rows, last = [], None
    for _ in range(50):
        rows = _get(spark, "stages?status=complete")
        key = sorted((s["stageId"], s["numCompleteTasks"]) for s in rows)
        if key == last:
            break
        last = key
        time.sleep(0.2)
    out: dict[str, list[dict]] = {}
    for s in sorted(rows, key=lambda s: (s["stageId"], s["attemptId"])):
        out.setdefault(s.get("description") or "", []).append(s)
    return out


_SCAN = re.compile(
    r"^\(\d+\) Scan parquet.*?^Location: \w+ \[file:([^\],]+)\].*?"
    r"^ReadSchema: struct<(.*?)>$",
    re.M | re.S,
)


def _top_level_fields(schema: str) -> list[str]:
    """Field names of a ``struct<...>`` body, skipping nested types."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            if schema[start:i]:
                names.append(schema[start:i].split(":", 1)[0])
            start = i + 1
    return names


def scans_by_description(spark) -> dict[str, list[dict]]:
    """Parquet scans of the SQL executions, grouped by the job
    description the execution ran under: for each scan node of the
    formatted physical plan, the file it reads and the top-level
    columns of its ReadSchema."""
    out: dict[str, list[dict]] = {}
    offset = 0
    while True:
        page = _get(spark, f"sql?details=false&planDescription=true&offset={offset}&length=100")
        for ex in page:
            for path, schema in _SCAN.findall(ex["planDescription"]):
                out.setdefault(ex.get("description") or "", []).append(
                    {"location": path, "columns": _top_level_fields(schema)}
                )
        if len(page) < 100:
            return out
        offset += 100


def task_skew(spark, stage: dict) -> float:
    """Longest task run time over the median task run time."""
    q = _get(
        spark,
        f"stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0",
    )["executorRunTime"]
    return q[1] / q[0] if q[0] > 0 else 1.0


def run_s(stages) -> float:
    return sum(s["executorRunTime"] for s in stages) / 1e3


def cpu_s(stages) -> float:
    return sum(s["executorCpuTime"] for s in stages) / 1e9


def mb(stages, field: str) -> float:
    return sum(s[field] for s in stages) / 1e6


# -- /proc ---------------------------------------------------------------------

def tree_usage(root_pid: int) -> tuple[int, float]:
    """Summed RSS in bytes and CPU seconds of ``root_pid`` and all its
    descendants (the driver, its JVM and the Python workers the JVM
    forks). CPU counts each process's own time plus that of its exited
    children, so workers that came and went are not lost."""
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/statm") as fh:
                pages = int(fh.read().split()[1])
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
        # fields[11:15]: utime, stime, cutime, cstime (stat fields 14-17)
        usage[int(entry)] = (pages * PAGE, sum(int(x) for x in fields[11:15]))
    rss = ticks = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        r, t = usage.get(pid, (0, 0))
        rss, ticks = rss + r, ticks + t
        todo.extend(children.get(pid, ()))
    return rss, ticks / TICKS


class RssSampler:
    """Samples the process tree's summed RSS every ``interval`` seconds
    while ``sampling``; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self.sampling = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            if self.sampling:
                self.peak = max(self.peak, tree_usage(pid)[0])

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two
    /proc/stat readings (field 8 is steal)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total else 0.0


# -- run record ----------------------------------------------------------------

def source_digest(root: str) -> str:
    """sha256 over the program's sources, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "readability_py_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def environment(spark, root: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "spark_conf": {
            k: spark.conf.get(k, None)
            for k in (
                "spark.master",
                "spark.sql.shuffle.partitions",
                "spark.sql.execution.arrow.maxRecordsPerBatch",
            )
        },
    }
