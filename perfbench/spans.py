"""In-memory span recorder for the traced run.

A span has a name, a start, an end and the index of the span that was open
when it started. ``self`` time is a span's duration minus the time its
direct children cover. Spans are recorded only while ``enabled`` is set, so
the same wrapped functions serve traced and untraced passes.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict

PACKAGE = "tf_idf_using_mapreduce_spark"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._open: list[int] = []

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": self._open[-1] if self._open else None,
                           "children_s": 0.0})
        self._open.append(idx)
        return idx

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        self._open.pop()
        if span["parent"] is not None:
            self.spans[span["parent"]]["children_s"] += span["end"] - span["start"]

    def wrap(self, name: str, fn):
        """``fn`` recording a span per call while enabled."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def self_times(self, first: int, last: int) -> dict[str, tuple[float, int]]:
        """name -> (total self seconds, calls) over spans[first:last]."""
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for span in self.spans[first:last]:
            acc = out[span["name"]]
            acc[0] += (span["end"] - span["start"]) - span["children_s"]
            acc[1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}


def patch(original, replacement) -> None:
    """Rebind ``original`` to ``replacement`` in every loaded module of the
    package: names bound early by ``from ... import`` and values of
    module-level dicts (``registry.QUERIES``, dispatch tables such as
    ``dedup.CLUSTER_ALGORITHMS``)."""
    for modname, module in list(sys.modules.items()):
        if module is None or not modname.startswith(PACKAGE):
            continue
        for attr, value in list(vars(module).items()):
            if value is original:
                setattr(module, attr, replacement)
            elif isinstance(value, dict):
                for key, item in list(value.items()):
                    if item is original:
                        value[key] = replacement
