"""Spans around calls into the engine's public functions, recorded from
outside the program.

``Tracer.wrap(module, attr)`` replaces a module-level function with a
wrapper that records a span (name, start, end, parent) and gives every
Spark job the call starts a job group of its own. Modules that imported
the function by name (``from x import f``) hold their own reference, so
every module of the package that holds the same function object is
patched too. ``Tracer.restore`` puts the originals back.

Spans are kept in memory and written out at the end. Spark's counters
are read once, after the job, from the status store behind the UI's REST
API (on loopback) and attributed to spans by job group; a span's
counters include those of the spans nested in it.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "rta_registrations_pyspark_glue_spark"
GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        #: The last value each wrapped function returned.
        self.last_result: dict[str, object] = {}

    # -- spans -------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(span)
        if parent is not None:
            self.spans[parent].children.append(span.sid)
        self._stack.append(span.sid)
        self._set_group(span.sid)
        return span.sid

    def end(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
            self._sc.setLocalProperty("spark.job.description", self.spans[sid].name)

    @contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield sid
        finally:
            self.end(sid)

    # -- patching ----------------------------------------------------
    def _replace(self, original, replacement) -> None:
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, replacement)
                    self._patched.append((mod, key, original))

    def wrap(self, module, attr: str) -> None:
        """Record a span around every call of ``module.attr``."""
        original = getattr(module, attr)
        span_name = f"{module.__name__.removeprefix(PACKAGE + '.')}.{attr}"
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(span_name):
                result = original(*args, **kwargs)
            tracer.last_result[span_name] = result
            return result

        traced.__wrapped__ = original
        self._replace(original, traced)

    def intercept(self, module, attr: str, hook) -> None:
        """Route every call of ``module.attr`` through
        ``hook(original, *args, **kwargs)``, without a span."""
        original = getattr(module, attr)

        def intercepted(*args, **kwargs):
            return hook(original, *args, **kwargs)

        intercepted.__wrapped__ = original
        self._replace(original, intercepted)

    def restore(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()

    # -- queries over recorded spans ---------------------------------
    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its direct children cover
        (children run one after another on the driver thread)."""
        covered = sum(self.spans[c].end - self.spans[c].start for c in span.children)
        return (span.end - span.start) - covered

    def inclusive(self, span: Span, key: str) -> float:
        total = span.counters.get(key, 0.0)
        for c in span.children:
            total += self.inclusive(self.spans[c], key)
        return total

    # -- Spark counters ----------------------------------------------
    def collect_spark_counters(self) -> None:
        """Attribute every job and stage of the application to the span
        whose job group started it. Skipped stages ran nothing and are
        not counted."""
        base = _rest_base(self._sc)
        stage_group: dict[int, str | None] = {}
        for job in _get_json(f"{base}/jobs"):
            group = job.get("jobGroup")
            for sid in job.get("stageIds", []):
                stage_group.setdefault(sid, group)
            self._add(group, {"spark_jobs": 1})
        for st in _get_json(f"{base}/stages"):
            if st.get("status") == "SKIPPED":
                continue
            self._add(
                stage_group.get(st["stageId"]),
                {
                    "spark_stages": 1,
                    "spark_tasks": st.get("numCompleteTasks", 0),
                    "executor_run_s": st.get("executorRunTime", 0) / 1e3,
                    "executor_cpu_s": st.get("executorCpuTime", 0) / 1e9,
                    "gc_s": st.get("jvmGcTime", 0) / 1e3,
                    "shuffle_write_bytes": st.get("shuffleWriteBytes", 0),
                    "spill_bytes": st.get("memoryBytesSpilled", 0)
                    + st.get("diskBytesSpilled", 0),
                },
            )

    def _add(self, group: str | None, values: dict[str, float]) -> None:
        if group and group.startswith(GROUP_PREFIX):
            span = self.spans[int(group[len(GROUP_PREFIX):])]
            for k, v in values.items():
                span.counters[k] = span.counters.get(k, 0) + v

    def storage_mb(self) -> float:
        """Storage memory the executors hold for cached data."""
        execs = _get_json(f"{_rest_base(self._sc)}/executors")
        return sum(e.get("memoryUsed", 0) for e in execs) / 2**20

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                row = {"id": s.sid, "name": s.name, "parent": s.parent,
                       "start": s.start, "end": s.end, **s.counters}
                fh.write(json.dumps(row) + "\n")


def _rest_base(sc) -> str:
    # The UI binds every interface; talk to it over loopback.
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    return f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)
