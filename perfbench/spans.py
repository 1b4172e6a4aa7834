"""Spans and Spark counts for the traced run.

A :class:`Tracer` records in-memory spans (name, start, end, parent) around
calls into the program's modules, made from the benchmark's own files. When
tracing is on, every span also tags the jobs it submits with its own Spark job
group, and :func:`event_log_counts` folds the session's uncompressed event log
into per-group Spark counts after the session stops. When tracing is off, a
span only yields its timing, so the untraced run pays no tagging cost.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

COUNT_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "gc_s",
)

_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    """Collects spans; tags Spark jobs with one group per span when enabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self._sc = None
        self.probing = False  # set while probing layers the workload does not call

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(_GROUP_PROP, group)

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the enclosed block as a span called ``name``. Yields the span
        record; its ``dur`` is set on exit, even when the block raises."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "probe": self.probing,
            "start": time.perf_counter(),
        }
        if self.enabled:
            rec["group"] = f"{name}#{rec['id']}"
            self.spans.append(rec)
            self._stack.append(rec["id"])
            self._set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()
                self._set_group(self.spans[parent]["group"] if parent is not None else None)

    def timed(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that runs each call in a span,
        so calls the program makes internally (``purge`` calling
        ``maintenance.delete_where``) are timed from outside. Undone by
        :meth:`restore`."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched = []

    def dump(self, path: str, counts: dict[str, dict]) -> None:
        """Write the spans, each with its own (self) Spark counts."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for s in self.spans:
            out.append(
                {
                    "id": s["id"],
                    "name": s["name"],
                    "parent": s["parent"],
                    "probe": s["probe"],
                    "start_s": round(s["start"] - t0, 6),
                    "end_s": round(s["end"] - t0, 6),
                    "counts": counts.get(s["group"], {}),
                }
            )
        with open(path, "w") as fh:
            json.dump(out, fh, indent=0)

    def inclusive(self, counts: dict[str, dict]) -> dict[int, dict]:
        """Span id -> Spark counts of the span and all its descendants."""
        total = {s["id"]: dict.fromkeys(COUNT_KEYS, 0) for s in self.spans}
        for s in reversed(self.spans):  # children always follow their parent
            own = counts.get(s["group"], {})
            for k in COUNT_KEYS:
                total[s["id"]][k] += own.get(k, 0)
            if s["parent"] is not None:
                for k in COUNT_KEYS:
                    total[s["parent"]][k] += total[s["id"]][k]
        return total


def event_log_counts(log_dir: str) -> dict[str, dict]:
    """Per-job-group Spark counts from the (single, uncompressed) event log
    written under ``log_dir``. Tasks and stages are attributed to the group
    of the first job that lists their stage."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith(".")]
    stage_group: dict[int, str] = {}
    counts: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return counts.setdefault(group, dict.fromkeys(COUNT_KEYS, 0))

    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP_PROP)
                    if group is None:
                        continue
                    bucket(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        bucket(group)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    b = bucket(group)
                    b["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    b["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    b["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return counts
