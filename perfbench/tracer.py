"""Spans around the program's public functions, plus Spark counters.

The benchmark measures each layer from outside: ``Tracer.wrap`` swaps a
module attribute for a wrapper that records a span (name, start, end,
parent, op id) and tags the Spark jobs the call submits with a job
group of its own. Nothing inside the library changes. Spans stay in
memory; ``Tracer.collect`` reads the job, stage and SQL-plan records
for every group once the loop is over (``statusTracker`` for the
group → job mapping, the driver UI's REST API on localhost for
executor time, shuffle, spill and GC), so no REST call lands inside a
timed batch.

Untraced runs never install a wrapper.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

_GROUP_PROP = "spark.jobGroup.id"


def _ts(s: str | None) -> float | None:
    """Spark REST timestamp ('2026-01-01T00:00:00.123GMT') → epoch s."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


class Tracer:
    """Span recorder. ``op`` opens the root span of one batch; spans
    opened inside it (by wrapped calls or ``span``) nest under it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._op = None
        self.enabled = True
        self.bookkeeping_s = 0.0

    # -- span recording ------------------------------------------------
    @contextmanager
    def span(self, name: str, label: str | None = None):
        if not self.enabled or self._op is None:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans), "name": name, "op": self._op,
            "parent": parent["id"] if parent else None,
            "label": label or (parent["label"] if parent else None),
            "group": f"pb-{self._op}-{len(self.spans)}", "attrs": {},
        }
        self.spans.append(sp)
        self._stack.append(sp)
        prev_group = self.sc.getLocalProperty(_GROUP_PROP)
        self.sc.setLocalProperty(_GROUP_PROP, sp["group"])
        self.bookkeeping_s += time.perf_counter() - t0
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP_PROP, prev_group)
            self.bookkeeping_s += time.perf_counter() - t1

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one batch; ``enabled=False`` records nothing
        (the untraced half of a traced run)."""
        self._op = op_id
        try:
            with self.span(name) as sp:
                yield sp
        finally:
            self._op = None

    def wrap(self, module, attr: str, name: str, label: str | None = None,
             before=None, after=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper.
        ``before(args, kwargs)`` may adjust the call's arguments;
        ``after(span, result, args, kwargs)`` may annotate the span."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name, label) as sp:
                if sp is not None and before is not None:
                    args, kwargs = before(args, kwargs)
                result = orig(*args, **kwargs)
                if sp is not None and after is not None:
                    after(sp, result, args, kwargs)
                return result

        self._patches.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    # -- Spark counters --------------------------------------------------
    def _rest(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def collect(self) -> None:
        """Attach Spark job/stage/plan counters to every span. Call
        once, after the measured loop."""
        try:  # let the listener bus deliver every job/stage end event
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        except Exception:  # noqa: BLE001 — older Spark: fall back to a short wait
            time.sleep(2.0)
        jobs = {j["jobId"]: j for j in self._rest("jobs")}
        stages = {}
        for s in self._rest("stages?status=complete"):
            stages.setdefault(s["stageId"], s)
        sql = self._rest("sql?details=true&planDescription=false&offset=0&length=1000000")
        job_plan = {}
        for ex in sql:
            nodes = [n.get("nodeName", "") for n in ex.get("nodes", [])]
            for jid in ex.get("successJobIds", []) + ex.get("failedJobIds", []):
                job_plan[jid] = nodes
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            c = dict.fromkeys(COUNTERS, 0.0)
            seen_plans = set()
            for jid in tracker.getJobIdsForGroup(sp["group"]):
                j = jobs.get(jid)
                if j is None:
                    continue
                c["jobs"] += 1
                t0, t1 = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
                if t0 and t1:
                    c["job_wall_s"] += t1 - t0
                for sid in j.get("stageIds", []):
                    s = stages.get(sid)
                    if s is None:  # skipped: its shuffle output was reused
                        continue
                    c["stages"] += 1
                    c["tasks"] += s.get("numCompleteTasks", 0)
                    c["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
                    c["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                    c["gc_s"] += s.get("jvmGcTime", 0) / 1e3
                    c["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
                    c["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                    c["input_records"] += s.get("inputRecords", 0)
                    c["output_records"] += s.get("outputRecords", 0)
                    if s.get("inputBytes", 0) > 0:
                        c["scan_tasks"] += s.get("numCompleteTasks", 0)
                nodes = job_plan.get(jid)
                if nodes is not None and id(nodes) not in seen_plans:
                    seen_plans.add(id(nodes))
                    c["broadcast_joins"] += sum(n == "BroadcastHashJoin" for n in nodes)
            sp["spark"] = c


COUNTERS = ["jobs", "stages", "tasks", "job_wall_s", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_bytes", "spill_bytes", "input_records", "output_records",
            "scan_tasks", "broadcast_joins"]


def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its (sequential) children cover."""
    kids = children(spans)
    return {
        s["id"]: (s["end"] - s["start"]) - sum(k["end"] - k["start"] for k in kids.get(s["id"], []))
        for s in spans
    }


def inclusive(spans: list[dict]) -> dict[int, dict]:
    """Spark counters of a span plus all its descendants."""
    kids = children(spans)
    memo: dict[int, dict] = {}

    def total(s):
        if s["id"] not in memo:
            c = dict(s.get("spark") or dict.fromkeys(COUNTERS, 0.0))
            for k in kids.get(s["id"], []):
                for key, v in total(k).items():
                    c[key] += v
            memo[s["id"]] = c
        return memo[s["id"]]

    for s in spans:
        total(s)
    return memo
