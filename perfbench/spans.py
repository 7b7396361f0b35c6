"""In-memory spans for a traced run, written out when the run ends.

A span is a dict ``{id, parent, name, start, end, attrs}`` with epoch
seconds, so spans taken from Spark's status store (job and stage
timestamps) line up with the ones timed here.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

from stats import self_times


class Tracer:
    def __init__(self, next_job_id=None):
        # ``next_job_id`` returns the id Spark gives its next job; spans
        # that count jobs record it on entry and exit.
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_job_id = next_job_id

    def add(self, name, start, end, parent, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "parent": parent,
                "name": name,
                "start": start,
                "end": end,
                "attrs": attrs,
            }
        )
        return sid

    @contextmanager
    def span(self, name, count_jobs=False, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), None, parent, **attrs)
        if count_jobs:
            self.spans[sid]["attrs"]["job_lo"] = self._next_job_id()
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            if count_jobs:
                self.spans[sid]["attrs"]["job_hi"] = self._next_job_id()
            self.spans[sid]["end"] = time.time()

    def wrap(self, fn, name, count_jobs):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            strs = [a for a in args if isinstance(a, str)]
            with self.span(name, count_jobs=count_jobs, args=strs):
                return fn(*args, **kwargs)

        return traced

    def install(self, targets) -> int:
        """Wrap each ``(module, function, span name, count_jobs)`` at
        every import binding in the loaded ``engine`` modules, so calls
        through ``from engine.session import load`` are traced too.
        Returns the number of bindings replaced."""
        replaced = 0
        for mod_name, fn_name, span_name, count_jobs in targets:
            original = getattr(sys.modules[mod_name], fn_name)
            traced = self.wrap(original, span_name, count_jobs)
            for name, mod in list(sys.modules.items()):
                if name != "engine" and not name.startswith("engine."):
                    continue
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, attr, traced)
                        replaced += 1
        return replaced

    def children(self, parent: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent]

    def phase_at(self, phases: list[int], t: float):
        """The phase span whose interval holds time ``t``, else None."""
        for sid in phases:
            s = self.spans[sid]
            if s["start"] <= t <= s["end"]:
                return sid
        return None

    def write(self, path, summary: dict) -> None:
        selfs = self_times(self.spans)
        for s in self.spans:
            s["self_s"] = selfs[s["id"]]
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": self.spans}, f)


def outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` that have no ancestor of the same name, so a
    recursive or re-entrant call is counted once."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out
