"""Seeded inputs for the workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet. The program under test only ever sees these
tables, never the generator.

- ``pages_fresh``: a first-crawl pages table built from
  ``sources.fixtures.generate_page_row`` (every fixture family,
  Zipf-hot hosts, a 1-2 MB oversize tail) where 1 url in
  ``DUP_EVERY`` carries an older, different version, plus the 108
  default-settings golden pages.
- ``corpus``: the ten TPC-H-ish + corpus tables the operators read,
  with the schemas, value domains and row counts of the sf0.1 testdata
  (150,000 orders, 600,000 lineitems, 100,000 events, 5,000 documents,
  2,000 embeddings).
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from readability_py_spark.sources.fixtures import generate_page_row

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# one url in DUP_EVERY has an older, different version: the
# generator's 1/17 duplicate rate
DUP_EVERY = 17
BASE_TS = dt.datetime(2026, 1, 1)


def load_goldens(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _row(url, ts, html, text, lang):
    return {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang}


def _write(rows: list[dict], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), path)


def _page(k: int, seed, oversize_every: int = 0) -> dict:
    r = generate_page_row(k, seed=seed, oversize_every=oversize_every)
    return _row(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])


def golden_rows(goldens: list[dict]) -> list[dict]:
    """The default-settings goldens as pages rows (lang 'en' so the
    plan's lang filter keeps every one of them)."""
    return [
        _row(g["url"], BASE_TS, base64.b64decode(g["html_b64"]), "", "en")
        for g in goldens
        if not g["settings"]
    ]


def pages_fresh(
    seed: int, n_urls: int, oversize_every: int, goldens: list[dict], path: str
) -> dict:
    """Write the extract_fresh pages table; return what the output
    check needs: the latest html per url that the plan must extract,
    and the urls that had a stale version."""
    rows, dups = [], []
    for k in range(n_urls):
        row = _page(k, seed, oversize_every)
        # oversize pages get no stale twin, so checking which version
        # won stays cheap
        if k % DUP_EVERY == 0 and not (oversize_every and k % oversize_every == 0):
            if row["lang"]:
                dups.append(row["url"])
            # stale version: same url, earlier ts, another page's body
            stale = _page(k + n_urls, seed)
            rows.append(
                _row(row["url"], row["warc_ts"] - dt.timedelta(days=1),
                     stale["html"], stale["text"], row["lang"])
            )
        rows.append(row)
    rows.extend(golden_rows(goldens))
    random.Random(f"shuffle:{seed}").shuffle(rows)
    _write(rows, path)
    return expected_latest(rows), dups


def expected_latest(rows: list[dict]) -> dict:
    """url -> html of its newest version, over the rows the plan keeps
    (non-empty lang and html)."""
    best: dict[str, tuple] = {}
    for r in rows:
        if not r["lang"] or not r["html"]:
            continue
        cur = best.get(r["url"])
        if cur is None or r["warc_ts"] > cur[0]:
            best[r["url"]] = (r["warc_ts"], r["html"])
    return {u: h for u, (_ts, h) in best.items()}


# -- corpus tables -----------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en"] * 11 + ["zh"] * 4 + ["es"] * 4 + ["de"] * 4 + ["fr"] * 4
ADJ = "small red blue hot old large green cold".split()
NOUN = "ring widget bolt gear rod plate pipe nut".split()


def _ts(days: np.ndarray, start: dt.datetime) -> pa.Array:
    us = (np.asarray(days, dtype=np.float64) * 86400e6).astype(np.int64)
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(us + base, type=pa.timestamp("us"))


def corpus(seed: int, out_dir: str, n_orders: int, n_docs: int, n_vecs: int) -> None:
    """Write region, nation, customer, supplier, part, orders,
    lineitem, events, documents and embeddings under ``out_dir``,
    shaped like the sf tables TESTDATA.md describes (same schemas and
    value domains; the TPC-H-ish and events row counts scale with
    ``n_orders``)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part, n_supp = n_orders // 10, n_orders * 2 // 15, max(10, n_orders // 150)
    n_line, n_events = 4 * n_orders, 2 * n_orders // 3

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return pa.array([values[i] for i in rng.integers(0, len(values), n)])

    def i32(x):
        return pa.array(x, type=pa.int32())

    def i64(x):
        return pa.array(x, type=pa.int64())

    put("region", {
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    put("customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    })
    put("supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": i64(range(n_part)),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": [round(900 + (k % 1000) / 10, 2) for k in range(n_part)],
    })
    put("orders", {
        "o_orderkey": i64(range(n_orders)),
        "o_custkey": i64(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": pick(["F", "O", "P"], n_orders),
        "o_totalprice": money(1000, 500000, n_orders),
        "o_orderdate": _ts(rng.integers(0, 2404, n_orders), dt.datetime(1995, 1, 1)),
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_orders),
    })
    put("lineitem", {
        "l_orderkey": i64(rng.integers(0, n_orders, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _ts(rng.integers(1, 2499, n_line), dt.datetime(1995, 1, 1)),
    })
    gaps = rng.exponential(30.0 / n_events, n_events)
    put("events", {
        "event_id": i64(range(n_events)),
        "ts": _ts(np.cumsum(gaps), dt.datetime(2024, 1, 1)),
        "user_id": i64(rng.integers(0, max(20, n_events // 66), n_events)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier doc, as in the sf documents
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    put("documents", {
        "doc_id": i64(range(n_docs)),
        "text": texts,
        "lang": pick(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": i64([len(t) for t in texts]),
    })
    vec = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": i64(range(n_vecs)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vecs)),
    })
