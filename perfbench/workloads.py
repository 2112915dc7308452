"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``), runs
one untimed unit of work whose outputs it checks (``check``), then
repeats a fixed unit of timed work (``unit``) until the run's window
ends. ``layers`` turns a traced run's stage rows, SQL plans and spans
into the per-layer metrics.

- ``extract_fresh``: a first crawl through ``run_extract_job`` into an
  empty catalog. The Arc90 core inside the ``mapInPandas`` UDF does
  most of the work; the 1-2 MB oversize tail shows Arrow batch sizing
  and straggler tasks. Operators do nothing.
- ``corpus_queries``: one query per operator module from ``bench.py``'s
  HEADLINE list over TPC-H-ish + corpus tables at sf0.1 row counts.
  The operators do almost all the work; the core does not run.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

from readability_py_spark.core.arc90 import extract_document
from readability_py_spark.plans.extract_job import extraction_plan, run_extract_job
from readability_py_spark.sources.catalog import LocalTableCatalog

from . import coreprobe, datagen, sparkmon
from .tracing import patched

# Input sizes. "full" is what the benchmark measures; "tiny" only
# exercises every code path for the self-test.
SIZES = {
    "extract_fresh": {
        "full": {"n_urls": 600, "oversize_every": 300},
        "tiny": {"n_urls": 60, "oversize_every": 0},
    },
    # one size, the row counts of the sf0.1 testdata: the expected
    # digests are recorded for it
    "corpus_queries": {
        "full": {"n_orders": 150_000, "n_docs": 5_000, "n_vecs": 2_000},
        "tiny": {"n_orders": 150_000, "n_docs": 5_000, "n_vecs": 2_000},
    },
}
CORE_PROBE_DOCS = {"full": 1000, "tiny": 40}

# The cheapest query of each of 9 of the 14 operator modules HEADLINE
# draws from, so that a checked cold pass and two timed passes fit one
# run. Left out: plans.extract_job (extract_articles;
# extract_fresh measures that UDF), and pipeline, similarity, search
# and lm, which no open roadmap item targets.
CORPUS_QUERIES = (
    "string_stats",
    "dedup_exact",
    "snapshot_diff",
    "doc_fingerprint",
    "url_normalize",
    "pipeline_dedup_groups",
    "events_asof_join",
    "pdf_text_extract",
    "sample_stratified",
)
OPERATOR_MODULES = (
    "relational", "dedup", "incremental", "textstats", "urls", "groups",
    "timeseries", "multimodal", "packing",
)
# corpus variants whose expected query digests are recorded in
# digests.json; a seed selects variant seed % N_VARIANTS
N_VARIANTS = 4

EXTRACT_LAYER_METRICS = (
    "sources.catalog.append_s", "sources.catalog.read_s",
    "sources.catalog.files_written", "sources.catalog.mb_written",
    "plans.extract_job.pre_udf_run_s", "plans.extract_job.shuffle_write_mb",
    "plans.extract_job.keep_ratio", "plans.extract_job.post_udf_run_s",
    "plans.extract_job.udf_run_s", "plans.extract_job.udf_cpu_s",
    "plans.extract_job.udf_tasks", "plans.extract_job.udf_task_skew",
    "plans.extract_job.scan_mb", "plans.extract_batch.s_per_doc",
    "plans.extract_job.udf_overhead_ratio",
)
CORE_METRICS = (
    "core.encoding.decode_s_per_doc", "core.parser.parse_s_per_doc",
    "core.arc90.init_s_per_doc", "core.arc90.process_s_per_doc",
    "core.arc90.outputs_s_per_doc", "core.arc90.full_html_s_per_doc",
    "core.arc90.extract_p50_ms", "core.arc90.extract_p99_ms",
    "core.arc90.retries_per_doc",
)
OPERATOR_METRICS = tuple(
    f"operators.{m}.{k}" for m in OPERATOR_MODULES
    for k in ("wall_s", "cpu_s", "shuffle_write_mb")
)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _b64(s: str) -> str:
    return base64.b64encode(s.encode("utf-8")).decode()


def compare_golden(row: dict, golden: dict) -> str | None:
    """First field where an extracted row differs from its golden."""
    if row["metrics"]["parse_ok"] is not True:
        return "parse_ok"
    for field, key in (("title", "title_b64"), ("article_html", "body_b64"),
                       ("article_text", "text_b64")):
        if _b64(row[field] or "") != golden[key]:
            return field
    got = [[_b64(f["href"]), _b64(f["text"])] for f in row["footnotes"]]
    return None if got == golden["footnotes"] else "footnotes"


def column_mb(path: str, columns) -> float:
    """Compressed size in MB of the given top-level columns' chunks in
    a parquet file: what a scan projecting those columns reads."""
    meta = pq.read_metadata(path)
    size = 0
    for g in range(meta.num_row_groups):
        rg = meta.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            if col.path_in_schema.split(".")[0] in columns:
                size += col.total_compressed_size
    return size / 1e6


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[self.name][ctx.size]

    def describe(self, spark, desc: str) -> None:
        spark.sparkContext.setJobDescription(f"{self.name}/{desc}")


class ExtractFresh(Workload):
    name = "extract_fresh"

    def prepare(self) -> None:
        ctx = self.ctx
        self.pages = os.path.join(ctx.work, "pages.parquet")
        with ctx.tracer.span("sources.fixtures.generate_page_row"):
            self.latest, self.dups = datagen.pages_fresh(
                ctx.seed, self.size["n_urls"], self.size["oversize_every"],
                ctx.goldens, self.pages,
            )

    def _job(self, spark, out_dir: str, desc: str):
        """One timed ``run_extract_job`` call; returns (wall, result)."""
        tracer = self.ctx.tracer
        self.describe(spark, desc)
        with patched(LocalTableCatalog, "append", tracer, "sources.catalog.append"), \
                patched(LocalTableCatalog, "read", tracer, "sources.catalog.read"), \
                patched(LocalTableCatalog, "read_snapshot", tracer,
                        "sources.catalog.read_snapshot"):
            with tracer.span("plans.extract_job.run_extract_job", desc=desc):
                t0 = time.perf_counter()
                res = run_extract_job(spark, spark.read.parquet(self.pages), out_dir)
                wall = time.perf_counter() - t0
        return wall, res

    def check(self, spark) -> list[str]:
        out = os.path.join(self.ctx.work, "check")
        _wall, res = self._job(spark, out, "check")
        got = LocalTableCatalog(out).read(spark, "extracted").collect()
        rows = {r["url"]: r.asDict(recursive=True) for r in got}
        bad = []
        if len(got) != len(rows):
            bad.append(f"{len(got) - len(rows)} urls emitted more than once")
        if set(rows) != set(self.latest):
            bad.append(f"url set differs: {len(set(rows) ^ set(self.latest))} urls")
        if res["docs"] != len(self.latest) or res["parse_errors"]:
            bad.append(f"job stats: {res['docs']} docs, {res['parse_errors']} parse errors")
        for g in self.ctx.goldens:
            if not g["settings"]:
                diff = compare_golden(rows[g["url"]], g) if g["url"] in rows else "missing"
                if diff:
                    bad.append(f"golden {g['id']}: {diff} differs")
        # urls with a stale version must carry their newest version's text
        for url in self.dups:
            want = extract_document(self.latest[url], url=url)["article_text"]
            if url in rows and rows[url]["article_text"] != want:
                bad.append(f"{url}: not the latest version")
        bad += self._check_footnote_goldens(spark)
        shutil.rmtree(out)
        return bad

    def _check_footnote_goldens(self, spark) -> list[str]:
        """The goldens recorded with footnote settings, through
        ``extraction_plan(settings=...)``, one plan per settings."""
        groups: dict[str, list[dict]] = {}
        for g in self.ctx.goldens:
            if g["settings"]:
                groups.setdefault(json.dumps(g["settings"], sort_keys=True), []).append(g)
        bad = []
        for key, gs in groups.items():
            self.describe(spark, "check-footnotes")
            pages = spark.createDataFrame(
                [(g["url"], datagen.BASE_TS, base64.b64decode(g["html_b64"]), "", "en")
                 for g in gs],
                "url string, warc_ts timestamp, html binary, text string, lang string",
            )
            rows = {
                r["url"]: r.asDict(recursive=True)
                for r in extraction_plan(pages, settings=json.loads(key)).collect()
            }
            for g in gs:
                diff = compare_golden(rows[g["url"]], g) if g["url"] in rows else "missing"
                if diff:
                    bad.append(f"golden {g['id']}: {diff} differs")
        return bad

    def unit(self, spark, i) -> dict:
        out = os.path.join(self.ctx.work, f"rep{i}")
        span_from = len(self.ctx.tracer.spans)
        wall, res = self._job(spark, out, f"rep{i}")
        failed = res["parse_errors"] + abs(res["docs"] - len(self.latest))
        rep = {"wall": wall, "attempted": len(self.latest), "failed": failed,
               "desc": f"rep{i}", "catalog": self._catalog_figures(out, span_from)}
        shutil.rmtree(out)
        return rep

    def _catalog_figures(self, out_dir: str, span_from: int) -> dict:
        spans = self.ctx.tracer.spans[span_from:]
        files, size = _dir_usage(out_dir)

        def total(*names):
            return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

        return {
            "sources.catalog.append_s": total("sources.catalog.append"),
            "sources.catalog.read_s": total("sources.catalog.read",
                                            "sources.catalog.read_snapshot"),
            "sources.catalog.files_written": files,
            "sources.catalog.mb_written": size / 1e6,
        }

    def _stage_split(self, spark, stages: list[dict], scans: list[dict]) -> dict:
        """Stage metrics of one ``run_extract_job`` call, given the
        stages and the parquet scans that carry its job description.
        The UDF stage is the first that writes output (the extracted
        snapshot); stages before it scan, filter and exchange, stages
        after it count footers, write the manifest and collect stats."""
        udf_i = next(i for i, s in enumerate(stages) if s["outputBytes"] > 0)
        pre, udf, post = stages[:udf_i], stages[udf_i], stages[udf_i + 1:]
        scanned = sum(s["inputRecords"] for s in pre if s["shuffleWriteBytes"] > 0)
        pages_scans = [s for s in scans if s["location"] == os.path.abspath(self.pages)]
        return {
            "plans.extract_job.pre_udf_run_s": sparkmon.run_s(pre),
            "plans.extract_job.shuffle_write_mb": sparkmon.mb(pre, "shuffleWriteBytes"),
            "plans.extract_job.scan_mb": sum(
                column_mb(self.pages, s["columns"]) for s in pages_scans
            ),
            "plans.extract_job.keep_ratio": udf["outputRecords"] / scanned if scanned else 0.0,
            "plans.extract_job.post_udf_run_s": sparkmon.run_s(post),
            "plans.extract_job.udf_run_s": sparkmon.run_s([udf]),
            "plans.extract_job.udf_cpu_s": sparkmon.cpu_s([udf]),
            "plans.extract_job.udf_tasks": udf["numTasks"],
            "plans.extract_job.udf_task_skew": sparkmon.task_skew(spark, udf),
        }

    def layers(self, spark, reps: list[dict]) -> dict:
        """Median over reps of each rep's stage split, catalog spans
        and warehouse growth, plus the in-process UDF-body split."""
        by_desc = sparkmon.stages_by_description(spark)
        scans = sparkmon.scans_by_description(spark)
        per_rep = []
        for rep in reps:
            desc = f"{self.name}/{rep['desc']}"
            split = self._stage_split(spark, by_desc[desc], scans[desc])
            split.update(rep["catalog"])
            per_rep.append(split)
        out = {k: _median([r[k] for r in per_rep]) for k in per_rep[0]}
        # catalog spans exist only in the traced reps
        for k in ("sources.catalog.append_s", "sources.catalog.read_s"):
            out[k] = _median([r["catalog"][k] for r in reps if r["traced"]])
        batch_s = coreprobe.batch_seconds(self.latest, int(self.ctx.arrow_batch),
                                          self.ctx.tracer)
        out["plans.extract_batch.s_per_doc"] = batch_s / len(self.latest)
        out["plans.extract_job.udf_overhead_ratio"] = (
            out["plans.extract_job.udf_run_s"] / batch_s
        )
        return out


def query_digest(df) -> tuple[int, str]:
    """Row count and the typed, order-insensitive value hash of
    ``tests/oracle_harness.py`` over a query's collected output."""
    from tests.oracle_harness import canon_rows

    cols = [f.name for f in df.schema.fields]
    rows = canon_rows(cols, [tuple(r) for r in df.collect()])
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


def corpus_queries():
    """(name, fn, module) for the measured queries, in HEADLINE order."""
    from bench import HEADLINE
    from readability_py_spark.operators import merged_queries

    qmap, _ = merged_queries(include_retired=True)
    picked = [n for n in HEADLINE if n in CORPUS_QUERIES]
    if len(picked) != len(CORPUS_QUERIES):
        raise RuntimeError("CORPUS_QUERIES names a query outside HEADLINE")
    return [(n, qmap[n], qmap[n].__module__.rsplit(".", 1)[1]) for n in picked]


class CorpusQueries(Workload):
    name = "corpus_queries"

    def prepare(self) -> None:
        ctx = self.ctx
        self.variant = ctx.seed % N_VARIANTS
        self.sf_dir = os.path.join(ctx.work, "corpus")
        datagen.corpus(self.variant, self.sf_dir, **self.size)
        with open(ctx.digests) as fh:
            self.expected = json.load(fh)["variants"][str(self.variant)]
        self.queries = corpus_queries()

    def _force(self, spark, fn, desc: str) -> None:
        from readability_py_spark.operators.dedup import release_caches

        self.describe(spark, desc)
        try:
            fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        finally:
            release_caches()

    def check(self, spark) -> list[str]:
        from readability_py_spark.operators.dedup import release_caches

        bad = []
        for name, fn, _mod in self.queries:
            self.describe(spark, f"check/{name}")
            try:
                got = query_digest(fn(spark, self.sf_dir))
            except Exception as exc:  # a raising query is a failed check
                bad.append(f"{name}: raised {exc!r}"[:300])
                continue
            finally:
                release_caches()
            want = self.expected[name]
            if list(got) != [want["rows"], want["digest"]]:
                bad.append(f"{name}: {got[0]} rows, digest differs from the recorded one")
        return bad

    def unit(self, spark, i) -> dict:
        tracer = self.ctx.tracer
        walls, failed = {}, 0
        for name, fn, mod in self.queries:
            with tracer.span(f"operators.{mod}.{name}"):
                t0 = time.perf_counter()
                try:
                    self._force(spark, fn, f"pass{i}/{name}")
                except Exception as exc:  # counted as a failed operation
                    print(f"{name} raised {exc!r}", file=sys.stderr)
                    failed += 1
                walls[name] = time.perf_counter() - t0
        return {"wall": sum(walls.values()),
                "per_query": walls, "attempted": len(self.queries),
                "failed": failed, "pass": i}

    def layers(self, spark, reps: list[dict]) -> dict:
        by_desc = sparkmon.stages_by_description(spark)
        per_rep = []
        for rep in reps:
            m: dict[str, float] = {}
            for name, _fn, mod in self.queries:
                stages = by_desc.get(f"{self.name}/pass{rep['pass']}/{name}", [])
                for key, val in (
                    ("wall_s", rep["per_query"][name]),
                    ("cpu_s", sparkmon.cpu_s(stages)),
                    ("shuffle_write_mb", sparkmon.mb(stages, "shuffleWriteBytes")),
                ):
                    k = f"operators.{mod}.{key}"
                    m[k] = m.get(k, 0.0) + val
            per_rep.append(m)
        return {k: _median([r[k] for r in per_rep]) for k in per_rep[0]}


WORKLOADS = {w.name: w for w in (ExtractFresh, CorpusQueries)}
