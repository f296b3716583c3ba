"""Spans for the traced run, recorded from outside the package.

The benchmark opens a span around each call into a layer: pass, op,
build, plan and exec, and, through wrappers installed on the imported
package, ``ml.classify.*``, ``ml.balance.smote`` and MLlib's
``Estimator.fit``; a wrapper on ``catalog.Catalog.table`` counts memo
hits. Every span inside an op sets the Spark job group
``<workload>:<op>:<phase>`` with the span id as the job description, so
the Spark event log (read after the session stops) hangs every job and
stage under the span that started it.

Spans stay in memory and are written out once at the end.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 2**20
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._phase: str | None = None
        self.active = False
        self.sc = None  # SparkContext of the traced session
        self.op = ""
        self.catalog_calls = 0
        self.catalog_hits = 0
        self._in_fit = False

    # ---- spans -------------------------------------------------------

    @contextmanager
    def span(self, name: str, kind: str, phase: str | None = None):
        """A span under the innermost open one. Inside an op, the span also
        labels the Spark jobs started under it: the job group names the
        op's phase, the job description the span."""
        if not self.active:
            yield None
            return
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": len(self.spans), "parent": parent, "name": name,
             "kind": kind, "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        phase = phase or self._phase
        prev = None
        if phase is not None and self.sc is not None:
            group = f"{self.workload}:{self.op}:{phase}"
            tracker = self.sc.statusTracker()
            prev = (self._phase, self.sc.getLocalProperty("spark.jobGroup.id"),
                    self.sc.getLocalProperty("spark.job.description"))
            seen = set(tracker.getJobIdsForGroup(group))
            self._phase = phase
            self.sc.setJobGroup(group, str(s["id"]))
        try:
            yield s
        finally:
            s["end"] = time.time()
            if prev is not None:
                s["jobs"] = len(set(tracker.getJobIdsForGroup(group)) - seen)
                self._phase, prev_group, prev_desc = prev
                if prev_group is not None:
                    self.sc.setJobGroup(prev_group, prev_desc or "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()

    # ---- layer wrappers ----------------------------------------------

    def install(self, modules) -> None:
        """Wrap the layer entry points of the imported package and MLlib's
        Estimator.fit, replacing any earlier tracer's wrappers."""
        from pyspark.ml.base import Estimator

        tracer = self
        last: dict = {}

        def traced_table(table):
            def traced(cat, name):
                df = table(cat, name)
                if tracer.active:
                    key = (id(cat.spark), os.path.abspath(cat.sf_dir), name)
                    tracer.catalog_calls += 1
                    # a memo hit hands back the very DataFrame it handed out before
                    tracer.catalog_hits += last.get(key) is df
                    last[key] = df
                return df
            return traced

        def traced_layer(span_name):
            def wrap(fn):
                def traced(*a, **kw):
                    with tracer.span(span_name, "layer"):
                        return fn(*a, **kw)
                return traced
            return wrap

        def traced_fit(fit):
            # outermost call only: CrossValidator fits its grid inside its own fit
            def traced(est, *a, **kw):
                if tracer._in_fit or not tracer.active:
                    return fit(est, *a, **kw)
                tracer._in_fit = True
                try:
                    with tracer.span("ml.fit", "layer", "fit"):
                        return fit(est, *a, **kw)
                finally:
                    tracer._in_fit = False
            return traced

        _rewrap(modules.catalog.Catalog, "table", traced_table)
        for attr in ("train_evaluate", "cross_validate"):
            _rewrap(modules.classify, attr, traced_layer(f"ml.classify.{attr}"))
        _rewrap(modules.balance, "smote", traced_layer("ml.balance.smote"))
        _rewrap(Estimator, "fit", traced_fit)

    # ---- Spark event log -----------------------------------------------

    def attach_event_log(self, path: str) -> None:
        """Add job and stage spans, with their task metrics, from the
        event log of the stopped traced session."""
        jobs, stage_job, stages = {}, {}, {}
        by_id = {s["id"]: s for s in self.spans}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    if desc is None or not desc.isdigit() or int(desc) not in by_id:
                        continue
                    jobs[ev["Job ID"]] = {"parent": int(desc), "start": ev["Submission Time"] / 1e3}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if info["Stage ID"] in stage_job and "Completion Time" in info:
                        st = stages.setdefault(info["Stage ID"], _zero_metrics())
                        st["start"] = info["Submission Time"] / 1e3
                        st["end"] = info["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    _add_task(stages.setdefault(ev["Stage ID"], _zero_metrics()), ev)
        job_span = {}
        for jid, j in sorted(jobs.items()):
            parent = by_id[j["parent"]]
            s = self._child(parent, f"job {jid}", "job", j["start"], j.get("end", j["start"]))
            job_span[jid] = s
        for sid, st in sorted(stages.items()):
            jid = stage_job[sid]
            if jid not in job_span:
                continue
            parent = job_span[jid]
            s = self._child(parent, f"stage {sid}", "stage",
                            st.pop("start", parent["start"]), st.pop("end", parent["end"]))
            s.update(st)

    def _child(self, parent, name, kind, start, end):
        # clamp into the parent: the JVM's millisecond clock can round a
        # job a hair outside the Python-side span that caused it
        start = min(max(start, parent["start"]), parent["end"])
        end = max(min(end, parent["end"]), start)
        s = {"id": len(self.spans), "parent": parent["id"], "name": name,
             "kind": kind, "start": start, "end": end}
        self.spans.append(s)
        return s

    # ---- results -----------------------------------------------------

    def finish(self) -> None:
        """Compute every span's self time. At each instant a span's time
        goes to the children then open, in equal shares, or to the span
        itself when none is open, so concurrent jobs or stages split the
        time they share and the self times under an op add up to the op's
        wall time."""
        kids = defaultdict(list)
        for s in self.spans:
            s["self_s"] = 0.0
            kids[s["parent"]].append(s)

        def share(s, a, b, weight):
            open_ = [c for c in kids[s["id"]] if c["start"] <= a and c["end"] >= b]
            if not open_:
                s["self_s"] += weight * (b - a)
            for c in open_:
                share(c, a, b, weight / len(open_))

        for root in kids[None]:
            cuts = sorted({t for x in self.subtree(root) for t in (x["start"], x["end"])})
            for a, b in zip(cuts, cuts[1:]):
                share(root, a, b, 1.0)

    def subtree(self, root: dict) -> list[dict]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += kids[s["id"]]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


def _rewrap(owner, attr: str, wrap) -> None:
    """Replace ``owner.attr`` by ``wrap(original)``, unwrapping a wrapper
    an earlier tracer installed first."""
    original = getattr(owner, attr)
    original = getattr(original, "_perfbench_original", original)
    wrapped = functools.wraps(original)(wrap(original))
    wrapped._perfbench_original = original
    setattr(owner, attr, wrapped)


def _zero_metrics() -> dict:
    return {k: 0.0 for k in (
        "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s", "input_mb",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "py_sent_mb",
        "py_received_mb",
    )}


def _add_task(st: dict, ev: dict) -> None:
    st["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        st["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    st["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    st["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    st["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    st["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
    st["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if name == PY_SENT:
            st["py_sent_mb"] += float(upd or 0) / MB
        elif name == PY_RECEIVED:
            st["py_received_mb"] += float(upd or 0) / MB


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
