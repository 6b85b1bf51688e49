"""Spans recorded from outside the engine, plus Spark's own counters.

``Tracer.span(name)`` records (id, name, start, end, parent, run) in
memory.  A span opened with ``jobs=True`` runs its Spark actions under
a job group of its own; ``Tracer.collect_spark()`` later reads, for
every such group, the jobs from ``statusTracker`` and the per-stage
task, shuffle, spill and input figures from the JVM status store
(which is kept even with the UI off).  Counting happens after the
timed work, so it never lands inside a span.

``instrument(tracer)`` wraps the engine's public entry points as module
attributes; the CLI imports them lazily, so the wrappers are what it
calls; while ``tracer.enabled`` is false they call straight through.
``uninstrument(saved)`` puts the originals back.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.sc = None
        self.enabled = True
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = None
        if jobs and self.sc is not None:
            prev = self.sc.getLocalProperty(_GROUP)
            rec["group"] = f"perfbench-{self.run_id}-{rec['id']}"
            self.sc.setLocalProperty(_GROUP, rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if "group" in rec:
                self.sc.setLocalProperty(_GROUP, prev)

    def collect_spark(self, spans: list[dict]) -> None:
        """Fills jobs/stages/tasks/byte counters into ``spans`` that ran
        under a job group.  Call outside any timed region."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for rec in spans:
            if "group" not in rec or "jobs" in rec:
                continue
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = shuffle = spill = read = 0
            for s in stages:
                try:
                    data = store.stageData(s, False, None, False, None).head()
                except Exception:  # stage evicted from the store
                    continue
                if str(data.status()) == "SKIPPED":
                    continue
                tasks += data.numTasks()
                shuffle += data.shuffleWriteBytes()
                spill += data.diskBytesSpilled()
                read += data.inputBytes()
            rec.update(jobs=len(jobs), stages=sorted(stages), tasks=tasks,
                       shuffle_write_bytes=shuffle, spill_bytes=spill, input_bytes=read)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


PKG = "firefox_public_data_report_etl_spark"

# (module, attribute, span name, count Spark jobs under it)
ENTRY_POINTS = [
    (f"{PKG}.session", "get_spark", "session.get_spark", False),
    (PKG, "get_spark", "session.get_spark", False),
    (f"{PKG}.cli", "main", "cli.main", False),
    (f"{PKG}.cli", "cmd_hardware_report", "cli.hardware_report", True),
    (f"{PKG}.cli", "cmd_user_activity", "cli.user_activity", True),
    (f"{PKG}.cli", "cmd_annotations", "cli.annotations", True),
    (f"{PKG}.plans.hardware_pipeline", "run_pipeline", "plans.hardware_pipeline", True),
    (f"{PKG}.plans.user_activity_pipeline", "user_activity_weekly", "plans.user_activity_pipeline", True),
    (f"{PKG}.plans.annotations_pipeline", "release_first_weeks", "plans.annotations_pipeline", True),
    (f"{PKG}.plans.annotations_pipeline", "fxhealth_annotations", "plans.annotations_pipeline", True),
] + [
    (f"{PKG}.sources.export", fn, f"sources.export.{fn}", True)
    for fn in ("write_json_report", "webusage_records", "validate_cohorts",
               "merge_usage_annotations", "hardware_annotations")
]

def instrument(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wraps every entry point; returns what ``uninstrument`` needs to
    put the originals back."""
    saved = []
    for mod_name, attr, span_name, jobs in ENTRY_POINTS:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)

        def wrapper(*a, __orig=orig, __name=span_name, __jobs=jobs, **kw):
            if not tracer.enabled:
                return __orig(*a, **kw)
            with tracer.span(__name, jobs=__jobs):
                return __orig(*a, **kw)

        functools.update_wrapper(wrapper, orig)
        saved.append((mod, attr, orig))
        setattr(mod, attr, wrapper)
    return saved


def uninstrument(saved: list[tuple[object, str, object]]) -> None:
    for mod, attr, orig in reversed(saved):
        setattr(mod, attr, orig)
