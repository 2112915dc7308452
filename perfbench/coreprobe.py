"""In-process, single-thread costs of the extraction core and of the
Arrow-batch UDF body, measured without Spark in the way.

``core_costs`` times each public phase of one document's extraction
on its own: ``SourceDecoder`` (decode), ``SoupParser(...).root``
(decode + parse), ``Arc90Document(...)`` (both soups), then
``process_document``, the four output getters and ``get_html``.
``batch_seconds`` runs ``extract_batch`` over pandas batches of the
rows a job's UDF received, for the UDF-overhead split.
"""

from __future__ import annotations

import base64
import random
import statistics
import time

import pandas as pd

from readability_py_spark.core.arc90 import Arc90Document
from readability_py_spark.core.encoding import SourceDecoder
from readability_py_spark.core.parser import SoupParser
from readability_py_spark.plans.extract_job import extract_batch
from readability_py_spark.sources.fixtures import generate_page_row


def sample_docs(seed: int, n: int, pool: int, goldens: list[dict]) -> list[tuple]:
    """``n`` seeded draws from the first ``pool`` pages of the
    extract_fresh generator (without its oversize tail, whose 1-2 MB
    pages would swamp a per-document figure) plus every golden page
    with its settings, as (html, url, settings)."""
    ks = random.Random(f"coreprobe:{seed}").sample(range(pool), n)
    docs = []
    for k in ks:
        r = generate_page_row(k, seed=seed)
        docs.append((r["html"], r["url"], {}))
    for g in goldens:
        docs.append((base64.b64decode(g["html_b64"]), g["url"], g["settings"]))
    return docs


def core_costs(docs: list[tuple], tracer) -> dict:
    clock = time.perf_counter
    phases = {k: 0.0 for k in ("decode", "parse", "init", "process", "outputs", "full_html")}
    per_doc_ms, retries = [], 0
    with tracer.span("core.probe", docs=len(docs)):
        for html, url, settings in docs:
            t0 = clock()
            with tracer.span("core.encoding.SourceDecoder"):
                SourceDecoder(html)
            t1 = clock()
            with tracer.span("core.parser.SoupParser"):
                SoupParser(html).root
            t2 = clock()
            with tracer.span("core.arc90.Arc90Document"):
                doc = Arc90Document(html, url=url, **settings)
            t3 = clock()
            with tracer.span("core.arc90.process_document"):
                doc.process_document()
            t4 = clock()
            with tracer.span("core.arc90.outputs"):
                doc.get_title()
                doc.get_article_body()
                doc.get_article_text()
                doc.get_article_footnotes()
            t5 = clock()
            with tracer.span("core.arc90.get_html"):
                doc.get_html()
            t6 = clock()
            for key, dt in zip(phases, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4, t6 - t5)):
                phases[key] += dt
            per_doc_ms.append((t6 - t2) * 1e3)
            retries += doc.metrics["retries"]
    n = len(docs)
    cuts = statistics.quantiles(per_doc_ms, n=100, method="inclusive")
    return {
        "core.encoding.decode_s_per_doc": phases["decode"] / n,
        "core.parser.parse_s_per_doc": phases["parse"] / n,
        "core.arc90.init_s_per_doc": phases["init"] / n,
        "core.arc90.process_s_per_doc": phases["process"] / n,
        "core.arc90.outputs_s_per_doc": phases["outputs"] / n,
        "core.arc90.full_html_s_per_doc": phases["full_html"] / n,
        "core.arc90.extract_p50_ms": statistics.median(per_doc_ms),
        "core.arc90.extract_p99_ms": cuts[98],
        "core.arc90.retries_per_doc": retries / n,
    }


def batch_seconds(latest: dict, batch_rows: int, tracer) -> float:
    """Single-thread seconds for ``extract_batch`` over the given
    url -> html rows, fed as pandas batches of ``batch_rows``."""
    items = sorted(latest.items())
    batches = [
        pd.DataFrame({"url": [u for u, _ in items[i:i + batch_rows]],
                      "html": [h for _, h in items[i:i + batch_rows]]})
        for i in range(0, len(items), batch_rows)
    ]
    with tracer.span("plans.extract_job.extract_batch", docs=len(items)):
        t0 = time.perf_counter()
        for out in extract_batch(iter(batches)):
            len(out)
        return time.perf_counter() - t0

