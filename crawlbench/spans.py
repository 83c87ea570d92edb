"""In-memory spans for the traced run, plus self-time arithmetic.

A span records name, start, end, parent and trace id. Spans are kept in
a list and written out once, when the measured process ends. While a
span is open on a thread, that thread's Spark jobs carry the tag
``<trace>:<name>`` in ``spark.job.description``, so the event-log
reducer can charge each job to the innermost open span. Job
descriptions are thread-local in the JVM, which is why the seams that
run on the engine's follow-up pool threads open their own spans.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from typing import Dict, Iterable, List, Optional, Tuple


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.enabled = False
        self.trace: Optional[str] = None  # id shared by one op's spans
        self.spans: List[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Optional[int] = None  # parent for spans on pool threads

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _tag(self, name: Optional[str]) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.job.description",
                f"{self.trace}:{name}" if name is not None else None,
            )

    def open(self, name: str, root: bool = False) -> Optional[int]:
        """Open a span on this thread; returns its id (None when off)."""
        if not self.enabled:
            return None
        st = self._stack()
        parent = st[-1] if st else self._root
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "trace": self.trace,
                               "parent": parent, "start": time.time(),
                               "end": None})
        st.append(sid)
        if root:
            self._root = sid
        self._tag(name)
        return sid

    def close(self, sid: Optional[int]) -> None:
        if sid is None:
            return
        self.spans[sid]["end"] = time.time()
        st = self._stack()
        if sid in st:
            del st[st.index(sid):]
        if self._root == sid:
            self._root = self.spans[sid]["parent"]
        self._tag(self.spans[st[-1]]["name"] if st else None)

    @contextmanager
    def span(self, name: str):
        sid = self.open(name)
        try:
            yield
        finally:
            self.close(sid)


def covered(intervals: Iterable[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span id -> its duration minus the part its children cover.
    Children that overlap (the concurrent follow-ups) count once."""
    kids: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans if s["end"] is not None
    }


def summarize(spans: List[dict]) -> Dict[str, dict]:
    """Per span name: count, total duration and total self time."""
    st = self_times(spans)
    out: Dict[str, dict] = {}
    for s in spans:
        if s["end"] is None:
            continue
        d = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        d["n"] += 1
        d["total_s"] += s["end"] - s["start"]
        d["self_s"] += st[s["id"]]
    return out
