"""In-memory spans recorded around calls into the engine's public functions.

The engine is not modified: :meth:`Tracer.install` wraps module attributes
(``search.match_terms``, the post-processing functions) and the pyspark
``DataFrame`` actions, and :meth:`Tracer.uninstall` restores them. A span
is (id, name, start, end, parent, request id); spans are kept in memory
and written out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager

_ACTIONS = ("collect", "count", "first", "toPandas")


def _dataframe_class():
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pyspark < 4 has a single DataFrame class
        from pyspark.sql import DataFrame
    return DataFrame


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        # per request id: [(field, matched term ids)] from match_terms
        self.matched: dict[str, list] = {}
        self.enabled = False
        self.request_id: str | None = None
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patched: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "request": self.request_id, "start": time.perf_counter(),
               **attrs}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def _wrap(self, owner, attr: str, name: str, on_result=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            # first() runs head() -> take() -> collect(): one action span
            if not tracer.enabled or (stack and stack[-1]["name"] == name):
                return orig(*args, **kwargs)
            with tracer.span(name, fn=attr) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, kwargs, out)
                return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def _record_match(self, rec, args, kwargs, out):
        field = args[1] if len(args) > 1 else kwargs["field"]
        rec["matched_terms"] = int(len(out))
        self.matched.setdefault(self.request_id, []).append(
            (field, [int(t) for t in out["term_id"]]))

    def install(self):
        from veloci_spark import explain, highlight, search

        self._wrap(search, "match_terms", "match", self._record_match)
        self._wrap(search, "select_docs", "post")
        self._wrap(highlight, "why_found", "post")
        self._wrap(highlight, "highlight_text", "post")
        self._wrap(explain, "explain_hits", "post")
        df_cls = _dataframe_class()
        for attr in _ACTIONS:
            self._wrap(df_cls, attr, "action")

    def uninstall(self):
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def write(self, path: str):
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in seconds: its duration minus its children's.
    Spans nest on a per-thread stack, so the children of a span ran one
    after another inside it."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def request_layers(spans: list[dict]) -> dict:
    """Layer figures of one request from its spans (times in ms).

    plan: from the start of ``search`` to its first action outside
    post-processing, minus dictionary matching in that interval.
    merge: from the last such action before post-processing starts to the
    start of post-processing (or the end of ``search``)."""
    by_id = {s["id"]: s for s in spans}

    def under(s, name):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    search = next(s for s in spans if s["name"] == "search")
    matches = [s for s in spans if s["name"] == "match"]
    actions = [s for s in spans if s["name"] == "action"]
    posts = [s for s in spans if s["name"] == "post" and not under(s, "post")]
    core = sorted((a for a in actions if not under(a, "post")),
                  key=lambda a: a["start"])
    post_start = min((p["start"] for p in posts), default=search["end"])
    first = core[0]["start"] if core else search["end"]
    before = [a for a in core if a["start"] < post_start]
    last_end = max((a["end"] for a in before), default=first)
    match_before = sum(m["end"] - m["start"] for m in matches
                       if m["end"] <= first)
    ms = 1000.0
    return {
        "query.parse_ms": sum((s["end"] - s["start"]) * ms
                              for s in spans if s["name"] == "parse"),
        "search.match_ms": sum((m["end"] - m["start"]) * ms for m in matches),
        "search.matched_terms": sum(m.get("matched_terms", 0) for m in matches),
        "search.plan_ms": (first - search["start"] - match_before) * ms,
        "spark.action_ms": sum((a["end"] - a["start"]) * ms for a in actions),
        "search.merge_ms": max(post_start - last_end, 0.0) * ms,
        "search.post_ms": sum((p["end"] - p["start"]) * ms for p in posts),
    }


def layer_self_ms(spans: list[dict]) -> dict[str, float]:
    """Per span name, the median over the requests that have such spans of
    their summed self time (ms)."""
    st = self_times(spans)
    per_name: dict[str, dict[str, float]] = {}
    for s in spans:
        d = per_name.setdefault(s["name"], {})
        d[s["request"]] = d.get(s["request"], 0.0) + st[s["id"]] * 1000.0
    return {n: statistics.median(d.values()) for n, d in sorted(per_name.items())}
