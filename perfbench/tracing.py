"""In-memory spans recorded around calls into the program's layers.

A span holds a name, start, end, parent span id and the run id shared
by every span of one benchmark run. Spans stay in memory and are
written out once, when the run ends. Span names start with the layer
they enter (``session``, ``sources.catalog``, ``plans.extract_job``,
``core.arc90``, ``operators.dedup`` ...); a layer's self time is the
summed duration of its spans minus the part covered by child spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

# the layers self time is reported for; a span belongs to the longest
# layer its name starts with, or to "bench" (the benchmark's own spans)
LAYERS = (
    "session",
    "sources.fixtures",
    "sources.catalog",
    "plans.extract_job",
    "core",
    "operators",
)


def layer_of(name: str) -> str:
    matches = [x for x in LAYERS if name == x or name.startswith(x + ".")]
    return max(matches, key=len, default="bench")


class Tracer:
    """Records spans while ``enabled``; a disabled tracer's ``span`` is
    a no-op, so untraced timings pay only a context-manager entry."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with a span named ``name`` around every call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: each span's duration minus
        the durations of its direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = layer_of(s["name"])
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, fh)


@contextlib.contextmanager
def patched(owner, attr: str, tracer: Tracer, name: str):
    """Wrap ``owner.attr`` in a span for the duration of the block."""
    orig = getattr(owner, attr)
    setattr(owner, attr, tracer.wrap(name, orig))
    try:
        yield
    finally:
        setattr(owner, attr, orig)
