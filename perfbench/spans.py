"""In-memory spans and Spark job counts for the traced benchmark run.

Spans are opened around public calls into the program's layers, from this
directory only: the operation itself (``api`` or ``queries``), the module
functions it reaches (``operators.kv``, ``sql.dialect``, ``cypher.*``) and
the Spark actions underneath (``spark.collect``, ``spark.checkpoint``).
Each span records its layer, name, start, end, parent span and the
operation it belongs to. A layer's self time is its spans' durations minus
the time their child spans cover. Nothing is written until ``dump``.

Spark work per operation is counted through ``SparkContext.statusTracker``:
every operation runs under its own job group, and the jobs, completed tasks
and failed tasks of that group are read back after it returns.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        # (span_id, parent_id, op_id, layer, name, start, end)
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, name: str):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        # the operation is the outermost open span
        op = self._stack[0] if self._stack else sid
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append((sid, parent, op, layer, name, start, end))

    def wrap(self, owner, attr: str, layer: str, name_of=None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a span around
        every call; ``name_of(*args)`` names the span (default: attr)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            name = name_of(*args) if name_of else attr
            with self.span(layer, name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- summaries --------------------------------------------------------

    def _child_time(self) -> dict[int, float]:
        """Seconds each span's direct children cover."""
        child: dict[int, float] = defaultdict(float)
        for _, parent, _, _, _, start, end in self.spans:
            if parent is not None:
                child[parent] += end - start
        return child

    def self_times(self) -> dict[str, float]:
        """Total self seconds per layer."""
        child = self._child_time()
        out: dict[str, float] = defaultdict(float)
        for sid, _, _, layer, _, start, end in self.spans:
            out[layer] += (end - start) - child[sid]
        return dict(out)

    def durations(self, layer: str, name: str | None = None, self_only=False):
        """Durations (seconds) of the spans of one layer, optionally one
        name; with ``self_only`` the child-covered time is subtracted."""
        child = self._child_time() if self_only else defaultdict(float)
        return [
            (end - start) - child[sid]
            for sid, _, _, lyr, nm, start, end in self.spans
            if lyr == layer and (name is None or nm == name)
        ]

    def dump(self, path: str, extra: dict) -> None:
        keys = ("id", "parent", "op", "layer", "name", "start", "end")
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "self_time_s": self.self_times(),
                    "spans": [dict(zip(keys, s)) for s in self.spans],
                },
                fh,
            )


class JobCounter:
    """Jobs, completed tasks and failed tasks per operation, read from
    the status tracker through one job group per operation."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._n = 0

    @contextmanager
    def group(self):
        self._n += 1
        gid = f"perfbench-op-{self._n}"
        self.sc.setJobGroup(gid, gid)
        counts = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
        try:
            yield counts
        finally:
            self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
            for jid in self.tracker.getJobIdsForGroup(gid):
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                counts["jobs"] += 1
                for stage_id in info.stageIds:
                    st = self.tracker.getStageInfo(stage_id)
                    if st is not None:
                        counts["tasks"] += st.numCompletedTasks
                        counts["failed_tasks"] += st.numFailedTasks


def patch_spark_actions(tracer: Tracer) -> None:
    """Span every DataFrame collect and localCheckpoint, wherever the
    program calls them from."""
    from pyspark.sql.classic.dataframe import DataFrame

    tracer.wrap(DataFrame, "collect", "spark.collect")
    tracer.wrap(DataFrame, "localCheckpoint", "spark.checkpoint")
