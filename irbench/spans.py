"""In-memory tracing for ``--trace 1`` runs.

Spans are recorded by the benchmark around calls into the engine's public
functions; nothing inside ``iresearch_spark`` is instrumented. Each span keeps
its name, start, end, parent span and op id, plus the number of py4j round
trips made while it was open. Spark job/stage/task counts come from the
status tracker, one job group per op.

With tracing off every hook is a no-op, so an untraced run pays nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its dict (``None`` when tracing is off) so
        the caller can attach counts measured inside it."""
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "py4j": 0,
            **attrs,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        calls0 = self.py4j_calls
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - calls0
            self._stack.pop()

    def wrap(self, module, attr: str, span_name: str, size_of=None) -> None:
        """Replace ``module.attr`` with a wrapper that records a span around
        each call (``size_of(result)`` is stored as ``size``). Callers that
        look the name up on the module at call time see the wrapper."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(span_name) as rec:
                out = orig(*a, **kw)
                if rec is not None and size_of is not None:
                    rec["size"] = size_of(out)
                return out

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def count_py4j(self, spark) -> None:
        """Count every py4j round trip by wrapping the gateway client's
        ``send_command`` (the single funnel of driver → JVM calls)."""
        if not self.enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(*a, **kw):
            self.py4j_calls += 1
            return orig(*a, **kw)

        client.send_command = send_command
        self._patched.append((client, "send_command", orig))

    def restore(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------- queries
    def children(self, rec: dict, name: str) -> list[dict]:
        idx = self.spans.index(rec)
        return [s for s in self.spans if s["parent"] == idx and s["name"] == name]

    def descendants(self, rec: dict, name: str) -> list[dict]:
        idx = self.spans.index(rec)
        lo, hi = rec["start"], rec["end"]
        return [
            s for s in self.spans[idx + 1 :]
            if s["name"] == name and s["start"] >= lo and s["end"] is not None and s["end"] <= hi
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def dur(rec: dict) -> float:
    """A span's duration in ms."""
    return (rec["end"] - rec["start"]) * 1e3


class JobGroups:
    """One Spark job group per op; jobs/stages/tasks read back from the
    status tracker after the op's action returned."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0

    def start(self, label: str) -> str | None:
        if not self.enabled:
            return None
        self._n += 1
        gid = f"irbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        return gid

    def counts(self, gid: str | None) -> dict:
        """``{"jobs", "stages", "tasks", "tasks_failed"}`` for one group.
        Stages that were skipped (shuffle output reused) have no info and
        are not counted."""
        if gid is None:
            return {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numTasks == 0 or (si.numCompletedTasks + si.numFailedTasks) == 0:
                    continue
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        self.sc.setJobGroup("irbench-idle", "idle")
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "tasks_failed": failed}
