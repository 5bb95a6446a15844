"""In-memory span recorder for the traced benchmark run.

A span is one call from the benchmark into a layer of ``locopy_spark``:
name, start, end, parent span id, op name and pass id.  Spans stay in
memory and are written out once, when the run ends.  Self time is a
span's duration minus the part of it covered by its child spans.

With ``on`` false every method is a no-op, so untraced passes pay only
an attribute check per call.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

ENGINE_COUNTS = ("jobs", "stages", "tasks", "failed_tasks")


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.on = False
        self.pass_id = -1
        self.op = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # (pass_id, name) -> value; counts recorded at layer boundaries
        self.counts: dict[tuple[int, str], float] = {}
        # (pass_id, op) -> {jobs, stages, tasks, failed_tasks}
        self.engine: dict[tuple[int, str], dict[str, int]] = {}

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.on:
            key = (self.pass_id, name)
            self.counts[key] = self.counts.get(key, 0) + value

    @contextmanager
    def op_scope(self, op: str):
        """Span for one op, with a Spark job group around it so the
        status tracker can attribute jobs, stages and tasks to it."""
        self.op = op
        if not self.on:
            yield
            self.op = None
            return
        group = f"bench-p{self.pass_id}-{op}"
        self.sc.setJobGroup(group, op, interruptOnCancel=False)
        try:
            with self.span("op"):
                yield
        finally:
            self.sc._jsc.clearJobGroup()
            self.engine[(self.pass_id, op)] = self._engine_counts(group)
            self.op = None

    def _engine_counts(self, group: str) -> dict[str, int]:
        # the status store is fed by the async listener bus: drain it so
        # the counts of the op's last job are final before reading them
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        out = dict.fromkeys(ENGINE_COUNTS, 0)
        for jid in sorted(st.getJobIdsForGroup(group)):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped stage (shuffle output reused)
                out["stages"] += 1
                out["tasks"] += si.numCompletedTasks
                out["failed_tasks"] += si.numFailedTasks
        return out

    # -- aggregation ----------------------------------------------------
    def _own(self) -> list[tuple[dict, float]]:
        """Every span with its self time."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + (s["end"] - s["start"])
        return [(s, (s["end"] - s["start"]) - covered.get(s["id"], 0.0)) for s in self.spans]

    def self_times(self) -> dict[tuple[int, str], float]:
        """(pass, span name) -> summed self time of those spans."""
        out: dict[tuple[int, str], float] = {}
        for s, own in self._own():
            key = (s["pass"], s["name"])
            out[key] = out.get(key, 0.0) + own
        return out

    def traced_passes(self) -> list[int]:
        return sorted({s["pass"] for s in self.spans if s["name"] == "op"})

    def layer_medians(self) -> dict[str, float]:
        """Median over traced passes of each layer's per-pass self time;
        a layer a pass did not call counts as 0 in that pass."""
        passes = self.traced_passes()
        st = self.self_times()
        names = {n for (_, n) in st if n != "op"}
        return {
            n: statistics.median(st.get((p, n), 0.0) for p in passes)
            for n in names
        }

    def last_counts(self) -> dict[str, float]:
        """Counts of the last traced pass (they repeat pass to pass)."""
        passes = self.traced_passes()
        if not passes:
            return {}
        last = passes[-1]
        return {n: v for (p, n), v in self.counts.items() if p == last}

    def engine_per_pass(self) -> dict[str, int]:
        passes = self.traced_passes()
        if not passes:
            return dict.fromkeys(ENGINE_COUNTS, 0)
        last = passes[-1]
        out = dict.fromkeys(ENGINE_COUNTS, 0)
        for (p, _), c in self.engine.items():
            if p == last:
                for k in ENGINE_COUNTS:
                    out[k] += c[k]
        return out

    def write(self, path: str, extra: dict) -> None:
        """Write the spans plus, per op, the median per-pass self time of
        each layer it called and its engine counts."""
        by_op: dict[tuple[int, str, str], float] = {}
        for s, own in self._own():
            if s["op"] is not None and s["name"] != "op":
                k = (s["pass"], s["op"], s["name"])
                by_op[k] = by_op.get(k, 0.0) + own
        per_op: dict[str, dict] = {}
        for (_, op, name), v in by_op.items():
            per_op.setdefault(op, {"self_s": {}, "engine": None})["self_s"].setdefault(name, []).append(v)
        for (_, op), c in self.engine.items():
            per_op.setdefault(op, {"self_s": {}, "engine": None})["engine"] = c
        for d in per_op.values():
            d["self_s"] = {n: statistics.median(v) for n, v in d["self_s"].items()}
        with open(path, "w") as f:
            json.dump({**extra, "per_op": per_op, "spans": self.spans}, f)
