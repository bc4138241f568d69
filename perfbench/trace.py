"""Layer spans recorded from outside the program, plus a stdlib parser
of Spark's event log.

A :class:`Tracer` replaces public layer functions on their modules
(``kgforge.extract.extract_mentions`` and so on) with wrappers for the
life of one traced build. Each wrapper

- records a span (layer, start, end, parent span) in memory,
- sets the Spark job group to the layer name, so every job the layer
  runs is tagged in the event log, and restores the caller's group,
- materializes a returned DataFrame (``cache`` + ``count``) so lazy work
  is charged to the layer that defined it, not to whichever later layer
  first runs an action.

The event log (``spark.eventLog.enabled`` with ``compress=false``) is
read back after the session stops: one JSON object per line, in a
rolling ``eventlog_v2_<app>/events_*`` directory or a single file.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

LAYERS = (
    "session", "fixtures", "extract", "linking", "graph.edges", "graph.closure",
    "canonicalize", "materialize", "resume", "datapipe.filter", "datapipe.lsh",
    "datapipe.clusters", "datapipe.spans",
)


@dataclass
class Span:
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def _set_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(layer, time.perf_counter(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._set_group(layer)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].layer if self._stack else "build")

    def wrap(
        self, module, name: str, layer: str, materialize: bool = True,
        before=None, after=None, inject_kwargs: dict | None = None,
    ) -> None:
        """Replace ``module.name`` with a spanned, materializing wrapper.

        ``before(args, kwargs)`` runs in the caller's span (to charge
        the caller for materializing a lazy input); ``after(result,
        n_rows, args, kwargs)`` records layer counts; ``inject_kwargs``
        are passed to the call unless the caller set them."""
        from pyspark.sql import DataFrame

        orig = getattr(module, name)

        def wrapper(*args, **kwargs):
            for k, v in (inject_kwargs or {}).items():
                kwargs.setdefault(k, v)
            if before is not None:
                before(args, kwargs)
            with self.span(layer):
                out = orig(*args, **kwargs)
                n = None
                if materialize and isinstance(out, DataFrame):
                    out = out.cache()
                    n = out.count()
                if after is not None:
                    after(out, n, args, kwargs)
                return out

        setattr(module, name, wrapper)
        self._patched.append((module, name, orig))

    def restore(self) -> None:
        for module, name, orig in reversed(self._patched):
            setattr(module, name, orig)
        self._patched.clear()

    def layer_times(self) -> dict[str, dict[str, float]]:
        """Per layer: wall (sum of its spans) and self time (wall minus
        the part covered by child spans). No layer's span nests inside a
        span of the same layer."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            d = out.setdefault(s.layer, {"wall_s": 0.0, "self_s": 0.0})
            d["wall_s"] += s.end - s.start
            d["self_s"] += (s.end - s.start) - child_time[i]
        return out


def event_log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``, in write order: a rolling
    ``eventlog_v2_*/events_<n>_*`` directory or plain per-app files."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            files.extend(os.path.join(path, p) for p in parts)
        elif os.path.isfile(path) and not entry.startswith(".") and not entry.endswith(".crc"):
            files.append(path)
    return files


def parse_event_log(log_dir: str, default_group: str = "session") -> dict[str, dict[str, float]]:
    """Aggregate task metrics per job group.

    Returns ``{group: {jobs, tasks, failed_tasks, run_s, shuffle_write_mb,
    spill_mb}}``. Jobs without a group are filed under ``default_group``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, {
            "jobs": 0, "tasks": 0, "failed_tasks": 0, "run_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        })

    for path in event_log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or default_group
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    b = bucket(stage_group.get(ev.get("Stage ID"), default_group))
                    b["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        b["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    b["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    b["shuffle_write_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    b["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    return out


def layer_metrics(
    times: dict[str, dict[str, float]],
    groups: dict[str, dict[str, float]],
    cores: int,
) -> dict[str, float]:
    """Flatten span times and event-log groups into ``<layer>.<field>``
    metrics for every layer in :data:`LAYERS` (0 for layers not run)."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        t = times.get(layer, {})
        g = groups.get(layer, {})
        wall = t.get("wall_s", 0.0)
        run_s = g.get("run_s", 0.0)
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.self_s"] = t.get("self_s", 0.0)
        out[f"{layer}.busy_s"] = run_s / cores
        out[f"{layer}.idle_slot_s"] = max(0.0, wall * cores - run_s)
        for k in ("jobs", "tasks", "failed_tasks", "shuffle_write_mb", "spill_mb"):
            out[f"{layer}.{k}"] = g.get(k, 0)
    return out
