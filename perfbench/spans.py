"""In-memory span tracer for the benchmark's traced runs.

A span is (name, start, end, parent, run_id); its layer is the longest
listed layer its name starts with (``plans.build`` -> ``plans``,
``operators.dedup.minhash_lsh_pairs`` -> ``operators.dedup``). Counts
ride the same boundaries. Nothing is written until ``dump`` at the end
of the run, so the traced path costs two clock reads and a list append
per span.

A disabled tracer hands out a no-op context manager: untraced runs pay
nothing, which is what lets the end-to-end metrics come from them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.run_id = 0

    @contextlib.contextmanager
    def _span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def span(self, name: str):
        return self._span(name) if self.enabled else contextlib.nullcontext()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] += value

    def wrap(self, name: str, fn, on_call=None):
        """``fn`` with a span around every call; ``on_call(result)`` may
        record counts from the return value."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_call is not None and self.enabled:
                on_call(out)
            return out

        return traced

    # ── results ──────────────────────────────────────────────────────────

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_times(self, layers: list[str]) -> dict[str, float]:
        """Per layer: span durations minus the time covered by child
        spans (children of one span run sequentially, so their durations
        add), per run id that recorded a span in the layer."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child_time[s["parent"]] += s["end"] - s["start"]
        total: dict[str, float] = defaultdict(float)
        runs: dict[str, set] = defaultdict(set)
        for i, s in enumerate(self.spans):
            layer = max(
                (lay for lay in layers if s["name"].startswith(lay + ".")),
                key=len, default=None,
            )
            if s["end"] and layer is not None:
                total[layer] += (s["end"] - s["start"]) - child_time[i]
                runs[layer].add(s["run_id"])
        return {layer: t / len(runs[layer]) for layer, t in total.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, fh)


def patch_everywhere(package: str, original, replacement) -> int:
    """Point every module-level reference to ``original`` inside
    ``package`` at ``replacement`` (modules bind imported functions at
    import time, so patching the defining module alone misses them).
    Returns the number of bindings replaced."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                n += 1
    return n
