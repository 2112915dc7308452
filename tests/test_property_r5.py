"""Property-based tests (hypothesis) for the pure-Python kernels that
run inside Spark's stateful operators — driven WITHOUT Spark on raw
pandas batches, so hypothesis can afford hundreds of examples:

- the union-find generator behind ``dedup_groups``' small-graph fast
  path, against a BFS connected-components reference, under arbitrary
  edge lists AND arbitrary batch splits (mapInPandas hands the kernel
  an arbitrary chunking of the partition);
- the ``applyInPandasWithState`` sessionization function, against the
  batch sessionizer's semantics (strict-gap split), under arbitrary
  event times and arbitrary micro-batch boundaries — the
  batch-split-invariance property that makes the streaming operator
  equal its batch twin on any drained input.

The in-row token builders (``gram_array``, ``shingles_from_tokens``,
the Gopher stopword count) are JVM expressions, so their properties
run through Spark: each hypothesis example is one batch of token
lists evaluated in a single job, checked against a pure-Python
reference.
"""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st


# ---------------------------------------------------------------------------
# union-find kernel vs BFS reference
# ---------------------------------------------------------------------------

edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=0, max_value=40),
    ),
    min_size=1,
    max_size=60,
)


def _bfs_components(edges):
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rep = {}
    for start in adj:
        if start in rep:
            continue
        seen = {start}
        queue = [start]
        while queue:
            v = queue.pop()
            for w in adj[v]:
                if w not in seen:
                    seen.add(w)
                    queue.append(w)
        m = min(seen)
        for v in seen:
            rep[v] = m
    return rep


@settings(max_examples=200, deadline=None)
@given(edges=edges_strategy, n_chunks=st.integers(min_value=1, max_value=5))
def test_union_find_matches_bfs_under_any_batching(edges, n_chunks):
    from readability_py_spark.operators.groups import _union_find_batches

    k = max(1, len(edges) // n_chunks)
    chunks = [
        pd.DataFrame(
            {
                "a_id": [a for a, _ in edges[i : i + k]],
                "b_id": [b for _, b in edges[i : i + k]],
            }
        )
        for i in range(0, len(edges), k)
    ]
    (out,) = list(_union_find_batches(iter(chunks)))
    got = dict(zip(out["doc_id"], out["cluster_rep"]))
    assert got == _bfs_components(edges)


# ---------------------------------------------------------------------------
# streaming sessionize kernel vs the batch-gap reference
# ---------------------------------------------------------------------------

GAP_SEC = 100


class _FakeState:
    """Minimal GroupState stand-in for driving _session_fn directly
    (tracks the current watermark the way Spark exposes it)."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.timeout_ms = None
        self.wm_ms = 0

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return self.wm_ms


def _batch_sessions(ts_us_sorted, gap_us):
    """Reference: strict-gap session split over sorted event times →
    [(start_us, end_us, n)]."""
    sessions = []
    start = last = None
    n = 0
    for t in ts_us_sorted:
        if start is None:
            start, last, n = t, t, 1
        elif t - last > gap_us:
            sessions.append((start, last, n))
            start, last, n = t, t, 1
        else:
            last, n = t, n + 1
    if start is not None:
        sessions.append((start, last, n))
    return sessions


@settings(max_examples=200, deadline=None)
@given(
    ts_list=st.lists(
        st.integers(min_value=0, max_value=3000), min_size=1, max_size=40
    ),
    cuts=st.lists(
        st.integers(min_value=1, max_value=39), max_size=4, unique=True
    ),
)
def test_streaming_sessionize_is_batch_split_invariant(ts_list, cuts):
    """Feeding the SAME per-user event sequence through the stateful
    function in ANY in-order micro-batch split (plus a final timeout
    call) yields exactly the reference batch sessions."""
    from readability_py_spark.streaming.sessionize_stream import _session_fn

    ts_sorted = sorted(ts_list)
    # seconds → pandas timestamps (µs precision exercised via *1e6+7)
    ts_us = [t * 1_000_000 + 7 for t in ts_sorted]
    bounds = sorted({c for c in cuts if c < len(ts_us)})
    splits, prev = [], 0
    for c in bounds + [len(ts_us)]:
        if c > prev:
            splits.append(ts_us[prev:c])
            prev = c

    fn = _session_fn(GAP_SEC)
    state = _FakeState()
    emitted = []
    for chunk in splits:
        out = list(
            fn(
                (7,),
                iter(
                    [
                        pd.DataFrame(
                            {
                                "ts": pd.to_datetime(chunk, unit="us"),
                                "event_id": range(len(chunk)),
                            }
                        )
                    ]
                ),
                state,
            )
        )
        for pdf in out:
            emitted.extend(
                zip(
                    pdf["session_start"].astype("int64") // 1000,
                    pdf["session_end"].astype("int64") // 1000,
                    pdf["n_events"],
                )
            )
    # watermark passes every timeout → every buffered session flushes
    # (r6 semantics: emission is watermark-driven, never gap-driven)
    if state.exists:
        state.hasTimedOut = True
        state.wm_ms = 10**15
        for pdf in fn((7,), iter([]), state):
            emitted.extend(
                zip(
                    pdf["session_start"].astype("int64") // 1000,
                    pdf["session_end"].astype("int64") // 1000,
                    pdf["n_events"],
                )
            )
    expect = _batch_sessions(ts_us, GAP_SEC * 1_000_000)
    assert [(int(a), int(b), int(n)) for a, b, n in emitted] == expect


@settings(max_examples=200, deadline=None)
@given(
    ts_list=st.lists(
        st.integers(min_value=0, max_value=3000), min_size=1, max_size=40
    ),
    perm_seed=st.integers(min_value=0, max_value=2**31),
    cuts=st.lists(
        st.integers(min_value=1, max_value=39), max_size=4, unique=True
    ),
)
def test_streaming_sessionize_is_arrival_order_invariant(
    ts_list, perm_seed, cuts
):
    """r6: ARBITRARY arrival order across micro-batches (not just
    in-order splits) still yields exactly the reference batch sessions,
    with the watermark advancing Spark-style (max event time seen so
    far minus a delay larger than the whole time span, so no event is
    ever late-dropped and every ordering is an on-time reordering)."""
    import random

    from readability_py_spark.streaming.sessionize_stream import _session_fn

    ts_us = [t * 1_000_000 + 7 for t in ts_list]
    shuffled = ts_us[:]
    random.Random(perm_seed).shuffle(shuffled)
    bounds = sorted({c for c in cuts if c < len(shuffled)})
    splits, prev = [], 0
    for c in bounds + [len(shuffled)]:
        if c > prev:
            splits.append(shuffled[prev:c])
            prev = c

    delay_ms = 10_000_000  # > max span (3000 s) → nothing is late
    fn = _session_fn(GAP_SEC)
    state = _FakeState()
    emitted = []
    max_seen_us = 0
    for chunk in splits:
        out = list(
            fn(
                (7,),
                iter([pd.DataFrame({"ts": pd.to_datetime(chunk, unit="us")})]),
                state,
            )
        )
        for pdf in out:
            emitted.extend(
                zip(
                    pdf["session_start"].astype("int64") // 1000,
                    pdf["session_end"].astype("int64") // 1000,
                    pdf["n_events"],
                )
            )
        # Spark updates the watermark at the END of each micro-batch
        max_seen_us = max(max_seen_us, max(chunk))
        state.wm_ms = max(0, max_seen_us // 1000 - delay_ms)
    if state.exists:
        state.hasTimedOut = True
        state.wm_ms = 10**15
        for pdf in fn((7,), iter([]), state):
            emitted.extend(
                zip(
                    pdf["session_start"].astype("int64") // 1000,
                    pdf["session_end"].astype("int64") // 1000,
                    pdf["n_events"],
                )
            )
    expect = _batch_sessions(sorted(ts_us), GAP_SEC * 1_000_000)
    assert sorted((int(a), int(b), int(n)) for a, b, n in emitted) == expect


def test_streaming_sessionize_cross_batch_backward_merge():
    """The advisor-r5 divergence scenario, pinned: a session whose gap
    was closed by a later event inside batch 1 must NOT be emitted
    before the watermark passes it, because an on-time out-of-order
    event in batch 2 can still merge into it. Events (minutes): user
    sees 0 and 60 in batch 1 (gap 30 ⇒ two sessions), then 20 arrives
    in batch 2 while the watermark is still at 0 (delay 60) — 20 must
    merge BACKWARD into [0] giving sessions [0,20] and [60]."""
    from readability_py_spark.streaming.sessionize_stream import _session_fn

    minute_us = 60 * 1_000_000
    fn = _session_fn(1800)  # 30 min gap
    state = _FakeState()

    def drive(chunk_min, wm_after_min):
        chunk = [m * minute_us for m in chunk_min]
        out = list(
            fn(
                (1,),
                iter([pd.DataFrame({"ts": pd.to_datetime(chunk, unit="us")})]),
                state,
            )
        )
        state.wm_ms = wm_after_min * 60 * 1000
        rows = []
        for pdf in out:
            rows.extend(
                zip(
                    pdf["session_start"].astype("int64") // 60_000_000_000,
                    pdf["session_end"].astype("int64") // 60_000_000_000,
                    pdf["n_events"],
                )
            )
        return rows

    # batch 1: events at minute 0 and 60; watermark after = 60-60 = 0
    assert drive([0, 60], 0) == []  # r5 code emitted (0,0,1) here — wrong
    # batch 2: on-time out-of-order event at minute 20 (wm=0 ≤ 20)
    assert drive([20], 60 * 24) == []
    # timeout with the watermark far ahead: both sessions final
    state.hasTimedOut = True
    state.wm_ms = 10**15
    got = []
    for pdf in fn((1,), iter([]), state):
        got.extend(
            zip(
                pdf["session_start"].astype("int64") // 60_000_000_000,
                pdf["session_end"].astype("int64") // 60_000_000_000,
                pdf["n_events"],
            )
        )
    assert [(int(a), int(b), int(n)) for a, b, n in got] == [
        (0, 20, 2),
        (60, 60, 1),
    ]


# ---------------------------------------------------------------------------
# in-row token builders vs pure-Python references
# ---------------------------------------------------------------------------

GRAM_NS = (2, 3, 5, 13)

# empty strings are what split(text, ' ') yields on runs of spaces;
# a small vocabulary makes repeated grams likely
token_strategy = st.sampled_from(
    ["", "a", "b", "the", "The,", "naïve", "straße", "日本", "ü", "x y"]
)


def _edge_token_lists() -> list[list[str]]:
    """Lengths 0, 1, n-1, n, n+1 for every n, plus empty tokens,
    repeated grams and non-ASCII words."""
    out: list[list[str]] = [[], ["solo"], [""], ["", ""], ["a", "", "", "b"]]
    for n in GRAM_NS:
        for k in (n - 1, n, n + 1):
            out.append([f"w{i % 3}é" for i in range(k)])
    out.append(["ab", "ab"] * 8)
    out.append(["日本", "語", "日本", "語", "日本"])
    return out


def _grams(w: list[str], n: int) -> list[str]:
    return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]


@settings(max_examples=12, deadline=None)
@given(
    lists=st.lists(st.lists(token_strategy, max_size=20), min_size=1, max_size=25)
)
def test_gram_builders_match_python_reference(spark, lists):
    """gram_array(w, n) for n in {2, 3, 5, 13} and
    shingles_from_tokens(w) are byte-identical to the list-slicing
    reference, shingles in array_distinct's first-occurrence order."""
    from pyspark.sql import functions as F

    from readability_py_spark.operators.dedup import shingles_from_tokens
    from readability_py_spark.operators.textstats import gram_array

    rows = list(enumerate(_edge_token_lists() + lists))
    df = spark.createDataFrame(rows, "id int, w array<string>")
    w = F.col("w")
    got = df.select(
        "id",
        *[gram_array(w, n).alias(f"g{n}") for n in GRAM_NS],
        shingles_from_tokens(w).alias("sh"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        toks = rows[r["id"]][1]
        for n in GRAM_NS:
            assert r[f"g{n}"] == _grams(toks, n), (toks, n)
        assert r["sh"] == list(dict.fromkeys(_grams(toks, 2))), toks


# same normalization as gopher_flag_cols: trim spaces, split on Java's
# ASCII \s+, lowercase, keep a-z only
def _stop_hits(text: str, stops: list[str]) -> int:
    words = re.split(r"\s+", text.strip(" "), flags=re.ASCII)
    clean = {re.sub("[^a-z]", "", w.lower()) for w in words}
    return len(set(stops) & clean)


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.lists(token_strategy, max_size=12).map(" ".join),
        min_size=1,
        max_size=25,
    )
)
def test_gopher_stopword_rule_matches_python_count(spark, texts):
    """ok_stopwords is "at least two DISTINCT stop words present";
    a stop list naming a word twice counts it once."""
    from pyspark.sql import functions as F

    from readability_py_spark.operators.textstats import gopher_flag_cols

    texts = texts + ["the the the", "The, a", "  the\ta  ", ""]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    for stops in (["the", "a"], ["the", "the", "b"], ["a", "b", "x", "y"]):
        got = df.select(
            "id", gopher_flag_cols(F.col("text"), stops)["ok_stopwords"].alias("ok")
        ).collect()
        assert len(got) == len(texts)
        for r in got:
            assert r["ok"] == (_stop_hits(texts[r["id"]], stops) >= 2), (
                texts[r["id"]],
                stops,
            )
