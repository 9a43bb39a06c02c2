"""Spans recorded from the benchmark's own process.

:class:`Tracer` wraps every public function (and public method of a
public class) defined in the traced ``dsgrid_spark`` modules, then swaps
each module attribute bound to an original function object for its
wrapper, so calls through ``from x import f`` bindings (for example in
``__spark_entry__`` and ``query.submitter``) are recorded too. A span is
``[label, start, end, parent, child_s]`` with wall-clock epoch seconds;
spans nest because the driver is single-threaded.

Spark jobs are fetched after the timed region from the driver UI's REST
API and each goes to the innermost span open at its submission time.
"""

from __future__ import annotations

import bisect
import functools
import inspect
import json
import sys
import time
import urllib.request
from datetime import datetime, timezone

#: packages whose modules' public functions get spans
TRACED_PACKAGES = ("sources", "query", "operators", "timedim", "pipeline",
                   "streaming")

#: modules reported one by one in the per-layer metrics (every traced
#: module's spans still count for job attribution and self time)
REPORTED_MODULES = (
    "sources.tables", "sources.catalog", "sources.writers",
    "query.submitter", "operators.mapping", "operators.aggregation",
    "timedim.conversion", "pipeline.dedup", "pipeline.similarity",
    "pipeline.text", "pipeline.bloom", "pipeline.indexlog",
    "pipeline.rebalance", "streaming.ops",
)


def traced_modules() -> dict[str, str]:
    """Metric label -> module name, for every module of the traced
    packages (``pipeline.indexlog`` -> ``dsgrid_spark.pipeline.indexlog``)."""
    import importlib
    import pkgutil

    out = {}
    for pkg in TRACED_PACKAGES:
        mod = importlib.import_module(f"dsgrid_spark.{pkg}")
        for info in pkgutil.iter_modules(mod.__path__):
            out[f"{pkg}.{info.name}"] = f"dsgrid_spark.{pkg}.{info.name}"
    return out


# span fields
LABEL, START, END, PARENT, CHILD_S = range(5)


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self._open: list[int] = []
        self._swaps: list[tuple[object, str, object]] = []
        self._starts: list[float] = []
        self.calls = 0

    # ---- spans ---------------------------------------------------------
    def enter(self, label: str) -> int:
        parent = self._open[-1] if self._open else -1
        self.spans.append([label, time.time(), None, parent, 0.0])
        self._open.append(len(self.spans) - 1)
        return self._open[-1]

    def exit(self) -> None:
        i = self._open.pop()
        span = self.spans[i]
        span[END] = time.time()
        if span[PARENT] >= 0:
            self.spans[span[PARENT]][CHILD_S] += span[END] - span[START]

    def _wrap(self, fn, label: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tracer.calls += 1
            tracer.enter(label)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.exit()

        return traced

    # ---- install / uninstall ---------------------------------------------
    def install(self) -> None:
        import importlib

        wrapped: dict[int, tuple] = {}
        for label, modname in traced_modules().items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    wrapped[id(obj)] = (obj, self._wrap(obj, label))
                elif inspect.isclass(obj):
                    for attr, fn in list(vars(obj).items()):
                        if not attr.startswith("_") and inspect.isfunction(fn):
                            w = self._wrap(fn, label)
                            self._swaps.append((obj, attr, fn))
                            setattr(obj, attr, w)
        # rebind every module-level reference to an original function,
        # including names imported into other modules
        for modname, mod in list(sys.modules.items()):
            if not (modname.startswith(("dsgrid_spark", "perfbench"))
                    or modname == "__spark_entry__"):
                continue
            for name, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._swaps.append((mod, name, obj))
                    setattr(mod, name, hit[1])

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._swaps):
            setattr(owner, name, original)
        self._swaps.clear()

    def per_call_cost(self, n: int = 20000) -> float:
        """Seconds one wrapped call adds over a plain call, measured
        with the same wrapper on a no-op function (spans discarded)."""
        def noop():
            return None

        traced = self._wrap(noop, "calibrate")
        saved, calls = len(self.spans), self.calls
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        plain = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(n):
            traced()
        cost = time.perf_counter() - t0
        del self.spans[saved:]
        self.calls = calls
        return max(cost - plain, 0.0) / n

    # ---- attribution -----------------------------------------------------
    def innermost(self, t: float) -> int:
        """Index of the innermost span open at epoch second ``t`` (-1 if
        none). The last span started before ``t`` either contains it or
        nests inside the innermost container, so walking its parents
        finds that container."""
        if len(self._starts) != len(self.spans):
            self._starts = [s[START] for s in self.spans]
        i = bisect.bisect_right(self._starts, t) - 1
        while i >= 0 and self.spans[i][END] is not None and self.spans[i][END] < t:
            i = self.spans[i][PARENT]
        return i

    def enclosing(self, i: int, prefix: str) -> int:
        """Nearest span (``i`` itself or an ancestor) whose label starts
        with ``prefix``, or -1."""
        while i >= 0 and not self.spans[i][LABEL].startswith(prefix):
            i = self.spans[i][PARENT]
        return i


# ---- Spark jobs from the UI REST API ----------------------------------------

def _rest(spark, path: str):
    from urllib.parse import urlsplit

    port = urlsplit(spark.sparkContext.uiWebUrl).port
    app = spark.sparkContext.applicationId
    url = f"http://127.0.0.1:{port}/api/v1/applications/{app}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


def fetch_jobs(spark, since: float, until: float, wait_s: float = 30.0):
    """Jobs submitted in [since, until] (epoch seconds) with their
    stage metrics, once the listener has recorded all of them as
    finished. Each stage counts once, for the first job that ran it."""
    deadline = time.time() + wait_s
    while True:
        jobs = [j for j in _rest(spark, "jobs")
                if since <= (_epoch(j.get("submissionTime")) or 0) <= until]
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.2)
    stages: dict[int, dict] = {}
    for s in _rest(spark, "stages"):
        agg = stages.setdefault(s["stageId"], {k: 0 for k in _STAGE_KEYS})
        if s.get("status") == "SKIPPED":
            continue
        agg["ran"] = 1
        for k in _STAGE_KEYS:
            if k != "ran":
                agg[k] += s.get(k, 0) or 0
    owned: set[int] = set()
    out = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        mine = [sid for sid in j.get("stageIds", []) if sid not in owned]
        owned.update(mine)
        totals = {k: 0 for k in _STAGE_KEYS}
        for sid in mine:
            for k, v in stages.get(sid, {}).items():
                totals[k] += v
        # REST times are truncated to the millisecond
        out.append({"id": j["jobId"],
                    "submit": _epoch(j["submissionTime"]) + 0.0005,
                    "end": _epoch(j.get("completionTime")),
                    "failed_tasks": j.get("numFailedTasks", 0),
                    **totals})
    return out


_STAGE_KEYS = ("ran", "numTasks", "executorRunTime", "executorCpuTime",
               "inputBytes", "inputRecords", "shuffleReadBytes",
               "shuffleWriteBytes", "diskBytesSpilled", "memoryBytesSpilled")
