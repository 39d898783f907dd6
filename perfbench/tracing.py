"""Tracing for the per-layer run (``--trace 1``), kept entirely in the
benchmark: the package is not edited.

- ``Tracer.shim`` wraps a public function or method of a package module and
  records one span per call (name, start, end, parent, operation id). A
  function imported by name into other package modules is re-bound there
  too, so every caller goes through the shim.
- ``Tracer.op`` opens the root span of one benchmark operation and runs it
  under its own Spark job group; on exit the group's jobs, stages and tasks
  are read from ``statusTracker``.
- ``plan_metrics`` walks the executed (adaptive, final) plan of a DataFrame
  after its action and sums the SQL metrics the per-layer report uses.
- ``stream_progress`` reads ``recentProgress`` of a finished streaming query.

Spans and counts stay in memory; ``Tracer.spans`` is written out at the end.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time

_PKG = "incubator_paimon_trino_spark"


class Span:
    __slots__ = ("id", "parent", "op", "name", "start", "end", "attrs")

    def __init__(self, sid, parent, op, name, start):
        self.id, self.parent, self.op, self.name = sid, parent, op, name
        self.start, self.end, self.attrs = start, None, {}

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "op": self.op,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            **self.attrs,
        }


class Tracer:
    """In-memory span recorder. ``enabled`` is switched by the harness; a
    disabled tracer's shims call straight through."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self.ops: list[dict] = []  # one record per traced operation
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: Span | None = None  # parent for spans on callback threads
        self.current: dict | None = None  # record of the latest operation
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else self._root
        sp = Span(
            next(self._ids),
            parent.id if parent else None,
            self._root.op if self._root else None,
            name,
            time.perf_counter(),
        )
        st.append(sp)
        self.spans.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self_):
                self_.sp = tracer.begin(name) if tracer.enabled else None
                return self_.sp

            def __exit__(self_, *exc):
                if self_.sp is not None:
                    tracer.end(self_.sp)
                return False

        return _Ctx()

    # ------------------------------------------------------------- shims
    def shim(self, owner, attr: str, name: str, on_result=None) -> None:
        """Wrap ``owner.attr`` (a module function or a class method) in a
        span named ``name``. ``on_result(span, args, result)`` may attach
        counts. A module function is re-bound in every package module that
        imported it by name."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            sp = tracer.begin(name)
            try:
                out = orig(*args, **kwargs)
            except BaseException as e:
                sp.attrs["error"] = type(e).__name__
                raise
            finally:
                tracer.end(sp)
            if on_result is not None:
                on_result(sp, args, out)
            return out

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m
                for n, m in list(sys.modules.items())
                if n.startswith(_PKG) and m is not owner and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._patched.append((t, attr, orig))
            setattr(t, attr, wrapper)

    def unshim(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---------------------------------------------------------------- ops
    def op(self, op_id: str, name: str, kind: str):
        """Root span + job group of one benchmark operation."""
        tracer = self
        sc = self.spark.sparkContext

        class _Op:
            def __enter__(self_):
                self_.rec = None
                if not tracer.enabled:
                    return None
                sc.setJobGroup(op_id, name, interruptOnCancel=False)
                sp = tracer.begin(name)
                sp.op = op_id
                sp.attrs["kind"] = kind
                tracer._root = sp
                self_.rec = {"op": op_id, "name": name, "kind": kind, "span": sp, "groups": [op_id]}
                tracer.current = self_.rec
                return self_.rec

            def __exit__(self_, *exc):
                if self_.rec is None:
                    return False
                tracer.end(self_.rec["span"])
                tracer._root = None
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self_.rec.update(job_stats(sc, self_.rec.pop("groups")))
                tracer.ops.append(self_.rec)
                return False

        return _Op()

    def add_group(self, group: str) -> None:
        """Count the jobs of another job group (a streaming query's run id)
        toward the running operation."""
        if self.enabled and self.current is not None and "groups" in self.current:
            self.current["groups"].append(group)

    def note(self, **attrs) -> None:
        """Attach counts to the latest operation's record."""
        if self.enabled and self.current is not None:
            self.current.update(attrs)

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in self.spans]


def job_stats(sc, groups: list[str]) -> dict:
    """Jobs, stages, tasks and failed tasks run under the given job groups."""
    st = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        if s.end is None:
            continue
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.id] = (s.end - s.start) - covered
    return out


_PLAN_METRICS = {
    "shuffleBytesWritten": "shuffle_write_bytes",
    "spillSize": "spill_bytes",
    "peakMemory": "peak_op_memory_bytes",
    "numFiles": "files_read",
    "pythonNumRowsReceived": "python_rows",
    "pythonDataSent": "arrow_bytes",
    "pythonDataReceived": "arrow_bytes",
}


def plan_metrics(df) -> dict[str, int]:
    """Sum selected SQL metrics over the final executed plan of ``df``
    (adaptive plans and query stages unwrapped). Call after an action."""
    out = {v: 0 for v in _PLAN_METRICS.values()}
    peak = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    seen = 0
    while todo and seen < 5000:
        node = todo.pop()
        seen += 1
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = _PLAN_METRICS.get(kv._1())
            if key is None:
                continue
            v = int(kv._2().value())
            if key == "peak_op_memory_bytes":
                peak = max(peak, v)
            else:
                out[key] += v
        ch = node.children()
        for i in range(ch.size()):
            todo.append(ch.apply(i))
    out["peak_op_memory_bytes"] = peak
    return out


_PROGRESS_KEYS = {
    "triggerExecution": "trigger_ms",
    "addBatch": "add_batch_ms",
    "queryPlanning": "query_planning_ms",
    "getBatch": "get_batch_ms",
    "walCommit": "wal_commit_ms",
}


def stream_progress(query) -> dict[str, float]:
    """Batches, input rows and summed trigger phases of a finished query."""
    out = {v: 0.0 for v in _PROGRESS_KEYS.values()}
    out["batches"] = 0
    out["input_rows"] = 0
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else {
            "durationMs": p.durationMs,
            "numInputRows": p.numInputRows,
        }
        out["batches"] += 1
        out["input_rows"] += int(d.get("numInputRows") or 0)
        for k, v in (d.get("durationMs") or {}).items():
            if k in _PROGRESS_KEYS:
                out[_PROGRESS_KEYS[k]] += float(v)
    return out
