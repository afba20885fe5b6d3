"""In-memory spans around calls into the engine's public functions.

The traced pass wraps those functions at run time (`Spans.wrap`); nothing
in `batukh_spark/` knows about tracing.  Spans are kept in memory and
written once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Spans:
    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record `name` from entry to exit; the enclosing open span is its
        parent."""
        rec = {"id": len(self.records), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, around=nullcontext) -> None:
        """Replace `owner.attr` by a wrapper that records span `name`
        inside `around()`, until `unwrap_all`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with around(), self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._restore.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, fn = self._restore.pop()
            setattr(owner, attr, fn)

    def first(self, name: str) -> dict | None:
        return next((r for r in self.records if r["name"] == name), None)

    def total(self, name: str, **attrs) -> float:
        """Summed duration of the closed spans `name` with these attrs."""
        return sum(r["end"] - r["start"] for r in self.records
                   if r["name"] == name and r["end"] is not None
                   and all(r.get(k) == v for k, v in attrs.items()))

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child = defaultdict(float)
        for r in self.records:
            if r["parent"] is not None and r["end"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = defaultdict(float)
        for r in self.records:
            if r["end"] is not None:
                out[r["name"]] += r["end"] - r["start"] - child[r["id"]]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        t0 = min((r["start"] for r in self.records), default=0.0)
        spans = [{**r, "start": r["start"] - t0,
                  "end": None if r["end"] is None else r["end"] - t0}
                 for r in self.records]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_s": self.self_times(),
                       **extra}, f, indent=1, sort_keys=True)
