"""Timed operations and the metrics computed from them.

An op is one closed-loop request of the single client: a query op
(kind ``query`` or ``search``) builds a DataFrame through the library
(construct), forces its physical plan (plan) and collects it as Arrow
(execute), which consumes every output column; a call op (kind
``write``, ``append`` or ``maintain``) is one library call that writes.
Output checks run after the op's clock stops.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import tracing as tr


@dataclass
class Op:
    name: str
    #: "query" or "search" for query ops; "write", "append" or
    #: "maintain" for calls
    kind: str
    round: int
    rows: int = 0
    start: float = 0.0  # epoch seconds, for job attribution
    end: float = 0.0
    latency: float = 0.0
    construct_s: float = 0.0
    plan_s: float = 0.0
    execute_s: float = 0.0
    span: int = -1
    call: bool = False
    error: str | None = None
    #: workload facts: user_bytes, bytes_written, files_written,
    #: bytes_rewritten, committed_rows
    extra: dict = field(default_factory=dict)


def _error(e: Exception) -> str:
    return f"{type(e).__name__}: {e}".splitlines()[0][:300]


class Runner:
    def __init__(self, tracer: tr.Tracer | None = None):
        self.tracer = tracer
        self.ops: list[Op] = []
        self.round = 0

    @contextmanager
    def _span(self, label: str):
        if self.tracer is None:
            yield -1
            return
        i = self.tracer.enter(label)
        try:
            yield i
        finally:
            self.tracer.exit()

    def query(self, name: str, build, check, rows: int = 0,
              kind: str = "query", **extra):
        """Run one query op; returns its Arrow result (None on error)."""
        op = Op(name, kind, self.round, rows=rows, extra=extra)
        table = None
        op.start = time.time()
        t0 = time.perf_counter()
        try:
            with self._span(f"op:{name}") as op.span:
                with self._span("phase:construct"):
                    df = build()
                t1 = time.perf_counter()
                with self._span("phase:plan"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with self._span("phase:execute"):
                    table = df.toArrow()
                t3 = time.perf_counter()
            op.construct_s, op.plan_s, op.execute_s = t1 - t0, t2 - t1, t3 - t2
        except Exception as e:  # a failed op is counted, the run goes on
            op.error = _error(e)
        op.latency = time.perf_counter() - t0
        op.end = time.time()
        if op.error is None:
            op.error = check(table)
        self.ops.append(op)
        return table

    def call(self, name: str, kind: str, fn, check, rows: int = 0, **extra):
        """Run one write/maintain op: a single library call."""
        op = Op(name, kind, self.round, rows=rows, call=True, extra=extra)
        result = None
        op.start = time.time()
        t0 = time.perf_counter()
        try:
            with self._span(f"op:{name}") as op.span:
                with self._span("phase:write"):
                    result = fn()
        except Exception as e:
            op.error = _error(e)
        op.latency = time.perf_counter() - t0
        op.end = time.time()
        if op.error is None:
            op.error = check(result)
        self.ops.append(op)
        return result


# ---- metrics -----------------------------------------------------------------

def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def n_rounds(ops: list[Op]) -> int:
    return len({op.round for op in ops}) or 1


def round_walls(ops: list[Op]) -> list[float]:
    walls: dict[int, float] = {}
    for op in ops:
        walls[op.round] = walls.get(op.round, 0.0) + op.latency
    return list(walls.values())


def end_to_end(ops: list[Op], setup_s: float, peak_rss_mb: float) -> dict:
    reading = [op for op in ops if op.rows]
    busy = sum(op.latency for op in reading)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (_median(round_walls(ops)), "s"),
        "query_latency_p50_s": (_median([op.latency for op in ops
                                         if op.kind == "query"]), "s"),
        "rows_per_s": (sum(op.rows for op in reading) / busy if busy else 0.0, "1/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def op_metrics(ops: list[Op]) -> dict:
    """Per-op-kind numbers; a kind the workload does not run reads 0."""
    def lat(kind):
        return [op.latency for op in ops if op.kind == kind]

    user = sum(op.extra.get("user_bytes", 0) for op in ops)
    written = sum(op.extra.get("bytes_written", 0) for op in ops)
    return {
        "ops.query_latency_p90_s": (quantile(lat("query"), 0.9), "s"),
        "ops.write_latency_p50_s": (_median(lat("write")), "s"),
        "ops.append_latency_p50_s": (_median(lat("append")), "s"),
        "ops.search_latency_p50_s": (_median(lat("search")), "s"),
        "ops.search_latency_p90_s": (quantile(lat("search"), 0.9), "s"),
        "ops.maintain_s": (_median(lat("maintain")), "s"),
        "ops.failed_op_share": (sum(op.error is not None for op in ops)
                                / max(len(ops), 1), "share"),
        "storage.write_amplification": (written / user if user else 0.0, "count"),
    }


def layer_metrics(ops: list[Op], tracer: tr.Tracer, jobs: list[dict],
                  untraced_cost_s: float) -> dict:
    """Per-layer metrics of a traced run, each per round of the
    workload's fixed op mix."""
    spans = tracer.spans
    rounds = n_rounds(ops)
    phase_jobs = {"phase:construct": 0, "phase:plan": 0, "phase:execute": 0,
                  "phase:write": 0}
    module_jobs: dict[str, int] = {}
    op_jobs: dict[int, list[dict]] = {}
    in_span = in_module = 0
    for job in jobs:
        i = tracer.innermost(job["submit"])
        if i < 0:
            continue
        in_span += 1
        label = spans[i][tr.LABEL]
        if not label.startswith(("op:", "phase:")):
            in_module += 1
            module_jobs[label] = module_jobs.get(label, 0) + 1
        p = tracer.enclosing(i, "phase:")
        if p >= 0:
            phase_jobs[spans[p][tr.LABEL]] += 1
        o = tracer.enclosing(i, "op:")
        if o >= 0:
            op_jobs.setdefault(o, []).append(job)

    construct = sum(op.construct_s for op in ops)
    execute = sum(op.execute_s for op in ops)
    commit = 0.0
    for op in ops:
        if not op.call:
            continue
        mine = op_jobs.get(op.span, [])
        ends = [j["end"] for j in mine if j["end"] is not None]
        if not mine or not ends:
            commit += op.latency
            continue
        first = min(j["submit"] for j in mine)
        construct += max(first - op.start, 0.0)
        execute += max(max(ends) - first, 0.0)
        commit += max(op.end - max(ends), 0.0)
    n_jobs = sum(phase_jobs.values())
    out = {
        "phase.construct_s": (construct / rounds, "s"),
        "phase.construct_jobs": (phase_jobs["phase:construct"] / rounds, "count"),
        "phase.plan_s": (sum(op.plan_s for op in ops) / rounds, "s"),
        "phase.execute_s": (execute / rounds, "s"),
        "phase.execute_jobs": ((phase_jobs["phase:execute"]
                                + phase_jobs["phase:write"]) / rounds, "count"),
        "phase.commit_s": (commit / rounds, "s"),
        "phase.construct_job_share": (phase_jobs["phase:construct"] / n_jobs
                                      if n_jobs else 0.0, "share"),
    }

    calls: dict[str, int] = {}
    self_s: dict[str, float] = {}
    meta_ops = []
    for s in spans:
        label = s[tr.LABEL]
        if label.startswith(("op:", "phase:")) or s[tr.END] is None:
            continue
        dur = s[tr.END] - s[tr.START]
        calls[label] = calls.get(label, 0) + 1
        self_s[label] = self_s.get(label, 0.0) + dur - s[tr.CHILD_S]
        if label == "pipeline.indexlog" and (
                s[tr.PARENT] < 0 or spans[s[tr.PARENT]][tr.LABEL] != label):
            meta_ops.append(dur * 1000.0)
    for m in tr.REPORTED_MODULES:
        out[f"{m}.calls"] = (calls.get(m, 0) / rounds, "count")
        out[f"{m}.self_s"] = (self_s.get(m, 0.0) / rounds, "s")
        out[f"{m}.jobs"] = (module_jobs.get(m, 0) / rounds, "count")
    out["pipeline.indexlog.meta_op_p50_ms"] = (_median(meta_ops), "ms")

    fractions = []
    for op in ops:
        committed = op.extra.get("committed_rows")
        if op.kind == "search" and committed:
            scanned = sum(j["inputRecords"] for j in op_jobs.get(op.span, []))
            fractions.append(scanned / committed)
    out["pipeline.similarity.scan_fraction"] = (_median(fractions), "share")

    def total(key, scale=1.0):
        return sum(j[key] for j in jobs) * scale / rounds

    out.update({
        "spark.jobs": (len(jobs) / rounds, "count"),
        "spark.stages": (total("ran"), "count"),
        "spark.tasks": (total("numTasks"), "count"),
        "spark.executor_run_s": (total("executorRunTime", 1e-3), "s"),
        "spark.executor_cpu_s": (total("executorCpuTime", 1e-9), "s"),
        "spark.shuffle_read_bytes": (total("shuffleReadBytes"), "bytes"),
        "spark.shuffle_write_bytes": (total("shuffleWriteBytes"), "bytes"),
        "spark.spill_bytes": (total("diskBytesSpilled"), "bytes"),
        "spark.input_bytes": (total("inputBytes"), "bytes"),
        "spark.failed_tasks": (total("failed_tasks"), "count"),
    })
    for key, name in (("bytes_written", "storage.bytes_written"),
                      ("files_written", "storage.files_written"),
                      ("bytes_rewritten", "storage.bytes_rewritten")):
        unit = "count" if key == "files_written" else "bytes"
        out[name] = (sum(op.extra.get(key, 0) for op in ops) / rounds, unit)

    busy = sum(op.latency for op in ops)
    out["trace.wall_s"] = (_median(round_walls(ops)), "s")
    out["trace.overhead"] = (busy / (busy - untraced_cost_s)
                             if busy > untraced_cost_s else 0.0, "count")
    out["trace.jobs_in_span_share"] = (in_span / len(jobs) if jobs else 0.0, "share")
    out["trace.jobs_in_module_share"] = (in_module / len(jobs) if jobs else 0.0, "share")
    return out
