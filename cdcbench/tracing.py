"""Benchmark-side tracing: spans around the engine's public calls, and
Spark job/stage/task metrics from the session's event log.

A span is opened by wrapping a method on an object the benchmark created
(the engine, its table and its ledger) or a module function the engine
looks up at call time. While a span is open its id is the Spark job
group, so each job in the event log belongs to the innermost span that
caused it. Spans are kept in memory and read once the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "cdcbench-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0
    tags: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self._thread = threading.get_ident()

    def _set_group(self) -> None:
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, **tags):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.time(), tags=tags)
        self.spans.append(s)
        self._stack.append(s.id)
        self._set_group()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (an instance's method or a module's
        function) with a version that runs inside a span named ``name``.
        Calls from other threads pass through untraced."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            if threading.get_ident() != self._thread:
                return orig(*args, **kwargs)
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        self._undo.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, prev in reversed(self._undo):
            if prev is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, prev)
        self._undo.clear()

    def summary(self) -> dict:
        """Span count and total seconds per span name."""
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s.name, {"count": 0, "s": 0.0})
            d["count"] += 1
            d["s"] += s.dur
        return out

    def subtree(self, root: int) -> list[Span]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.id)
        out, todo = [], [root]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(kids.get(sid, []))
        return out


_MISSING = object()


def instrument_modules(tracer: Tracer) -> None:
    """Wrap the merge functions ``CdcEngine`` imports at call time."""
    from clinvar_ingest_spark.operators import merge, merge_cogroup

    tracer.wrap(merge_cogroup, "merge_apply_cogrouped", "operators.merge_apply_cogrouped")
    tracer.wrap(merge, "merge_apply_mor", "operators.merge_apply_mor")


def instrument_engine(tracer: Tracer, engine) -> None:
    """Wrap the public calls of ``engine``, its table and its ledger."""

    def on_apply(s: Span, stats) -> None:
        s.tags["applied"] = stats is not None
        s.tags["n_events"] = stats.n_events if stats is not None else 0

    tracer.wrap(engine, "apply_batch", "engine.apply_batch", on_apply)
    for m in ("replay", "compact", "lookup", "pages"):
        tracer.wrap(engine, m, f"engine.{m}")
    for m in ("commit_rewrite", "commit_delta", "read", "read_key", "manifest"):
        tracer.wrap(engine.table, m, f"lakelet.{m}")
    for m in ("is_committed", "get", "record"):
        tracer.wrap(engine.ledger, m, f"ledger.{m}")


# ---------------------------------------------------------------- event log


@dataclass
class EventLog:
    jobs: dict[int, dict]
    stages: dict[int, dict]
    #: accumulator ids of "number of output rows" on parquet scans of the
    #: changelog file
    scan_row_accums: set[int]


def read_event_log(log_dir: str, changelog_name: str) -> EventLog:
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    ]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    scan_accums: set[int] = set()

    def walk(node: dict) -> None:
        if node.get("nodeName", "").startswith("Scan parquet") and changelog_name in str(
            node.get("metadata", {}).get("Location", "")
        ):
            scan_accums.update(
                m["accumulatorId"] for m in node.get("metrics", [])
                if m["name"] == "number of output rows"
            )
        for ch in node.get("children", []):
            walk(ch)

    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000,
                        "end": None,
                    }
                    for sid in ev["Stage IDs"]:
                        st = stages.setdefault(sid, _new_stage())
                        if st["job"] is None:  # later jobs list it as skipped
                            st["job"] = jid
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    if info.get("Failed") or info.get("Killed"):
                        continue
                    run_ms = tm.get("Executor Run Time", 0)
                    st["tasks"].append(run_ms)
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    for acc in info.get("Accumulables", []):
                        upd = acc.get("Update")
                        if isinstance(upd, (int, float)) or str(upd).lstrip("-").isdigit():
                            st["accums"][acc["ID"]] = st["accums"].get(acc["ID"], 0) + int(upd)
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    walk(ev.get("sparkPlanInfo") or {})
    return EventLog(jobs, stages, scan_accums)


def _new_stage() -> dict:
    return {"job": None, "tasks": [], "gc_ms": 0, "spill": 0, "shuffle_write": 0,
            "accums": {}}


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


class Attribution:
    """Joins spans with the event log's jobs by job group."""

    def __init__(self, log: EventLog):
        self.jobs_by_span: dict[int, list[dict]] = {}
        for j in log.jobs.values():
            g = j["group"] or ""
            if g.startswith(GROUP_PREFIX) and j["end"] is not None:
                self.jobs_by_span.setdefault(int(g[len(GROUP_PREFIX):]), []).append(j)
        self.stages_by_job: dict[int, list[dict]] = {}
        for st in log.stages.values():
            if st["job"] is not None and st["tasks"]:
                self.stages_by_job.setdefault(st["job"], []).append(st)

    def jobs_in(self, spans: list[Span]) -> list[dict]:
        return [j for s in spans for j in self.jobs_by_span.get(s.id, [])]

    def stages_in(self, spans: list[Span]) -> list[dict]:
        return [st for j in self.jobs_in(spans)
                for st in self.stages_by_job.get(j["id"], [])]

    def job_time(self, span: Span, spans: list[Span]) -> float:
        return _union([(j["start"], j["end"]) for j in self.jobs_in(spans)],
                      span.start, span.end)


def layer_metrics(tracer: Tracer, log: EventLog, root: int, resume_root: int) -> dict:
    """Per-layer metrics that need spans and Spark jobs: over the traced
    measured pass under span ``root``, and for the bounds pass also over
    the traced restart under ``resume_root``."""
    att = Attribution(log)
    sub = tracer.subtree(root)
    applies = [s for s in sub if s.name == "engine.apply_batch" and s.tags.get("applied")]
    n_b = max(len(applies), 1)
    n_ev = max(sum(s.tags["n_events"] for s in applies), 1)

    driver_s = jobs_n = unattributed = apply_total = 0.0
    commit_driver = shuffle = spill = scan_rows = scan_busy_ms = 0.0
    manifest_reads = 0
    merge_busy, merge_tasks, merge_skew = [], [], []
    for a in applies:
        tree = tracer.subtree(a.id)
        jobs = att.jobs_in(tree)
        jobs_n += len(jobs)
        driver_s += a.dur - att.job_time(a, tree)
        apply_total += a.dur
        children = [s for s in tree if s.parent == a.id]
        covered = [(s.start, s.end) for s in children] + [
            (j["start"], j["end"]) for j in att.jobs_in([a])]
        unattributed += a.dur - _union(covered, a.start, a.end)
        manifest_reads += sum(1 for s in tree if s.name == "lakelet.manifest")
        for c in tree:
            if c.name in ("lakelet.commit_rewrite", "lakelet.commit_delta"):
                ctree = tracer.subtree(c.id)
                commit_driver += c.dur - att.job_time(c, ctree)
        stages = att.stages_in(tree)
        shuffle += sum(st["shuffle_write"] for st in stages)
        spill += sum(st["spill"] for st in stages)
        for st in stages:
            rows = [v for k, v in st["accums"].items() if k in log.scan_row_accums]
            if rows:  # this stage scanned the changelog
                scan_rows += sum(rows)
                scan_busy_ms += sum(st["tasks"])
        merge = [s for s in tree if s.name.startswith("operators.merge_apply")]
        mstages = att.stages_in([t for m in merge for t in tracer.subtree(m.id)])
        if mstages:
            top = max(mstages, key=lambda st: sum(st["tasks"]))
            merge_busy.append(sum(top["tasks"]) / 1000)
            merge_tasks.append(len(top["tasks"]))
            med = statistics.median(top["tasks"])
            merge_skew.append(max(top["tasks"]) / med if med > 0 else 1.0)

    ledger = [s for s in sub if s.name.startswith("ledger.")]
    replays = [s for s in sub + tracer.subtree(resume_root) if s.name == "engine.replay"]
    bounds = [att.job_time(r, [r]) for r in replays]
    all_stages = [st for st in log.stages.values() if st["tasks"]]
    run_ms = sum(sum(st["tasks"]) for st in all_stages)
    return {
        "sources.scan_rows_per_event": scan_rows / n_ev,
        "sources.scan_busy_s_per_batch": scan_busy_ms / 1000 / n_b,
        "sources.bounds_s": _median(bounds),
        "engine.driver_s_per_batch": driver_s / n_b,
        "engine.jobs_per_batch": jobs_n / n_b,
        "operators.merge_stage_busy_s_per_batch": sum(merge_busy) / n_b,
        "operators.merge_tasks_executed": _median(merge_tasks),
        "operators.merge_task_skew": _median(merge_skew, 1.0),
        "operators.shuffle_bytes_per_event": shuffle / n_ev,
        "lakelet.commit_driver_s_per_batch": commit_driver / n_b,
        "lakelet.manifest_reads_per_batch": manifest_reads / n_b,
        "ledger.calls_per_batch": len(ledger) / n_b,
        "ledger.s_per_batch": sum(s.dur for s in ledger) / n_b,
        "spark.gc_share": sum(st["gc_ms"] for st in all_stages) / run_ms if run_ms else 0.0,
        "spark.spill_bytes_per_event": spill / n_ev,
        "trace.unattributed_share": unattributed / apply_total if apply_total else 0.0,
    }

