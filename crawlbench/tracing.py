"""Traced mode: call wrappers, spans and Spark status-store counters.

Everything here lives in the benchmark's own files.  Wrappers replace a
public function where the crawl engine looked it up (``crawl.build_wave``,
not ``scheduler.build_wave``) or a ``LakeTable`` method, time each call and
pass arguments and return values through unchanged.  Spans stay in memory
and are written when the run ends.  Spark's own counters (jobs, tasks, task
time, GC, bytes, spill) are read from the driver's status store after the
timed region, so reading them costs the measured work nothing.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict

MB = 1 << 20


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []  # appended when a span ends
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        stack = getattr(self._local, "stack", None)
        self.spans.append({
            "id": next(self._ids), "name": name, "start": start, "end": end,
            "parent": stack[-1] if stack else None, **attrs,
        })

    def _call(self, name: str, fn, args, kwargs, before=None, after=None):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        state = before() if before else None
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            if after:
                after(state)
            stack.pop()
            self.spans.append({
                "id": sid, "name": name, "start": t0, "end": t1,
                "parent": parent, "thread": threading.current_thread().name,
            })

    # -- wrappers ----------------------------------------------------------

    def wrap_function(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            return self._call(name, orig, args, kwargs)

        wrapper.__wrapped__ = orig
        self._patches.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def wrap_lake(self, lake_cls) -> None:
        """Time LakeTable methods per table; stage() also tags the Spark
        jobs it submits with the job group ``stage:<table>``."""
        sc = self.spark.sparkContext
        for attr in ("stage", "commit_staged", "compact_small", "compact",
                     "rollback", "rollback_exclude", "read"):
            orig = getattr(lake_cls, attr)

            def make(attr=attr, orig=orig):
                def before_stage(table):
                    prev = sc.getLocalProperty("spark.jobGroup.id")
                    sc.setJobGroup(f"stage:{table}", f"LakeTable.stage {table}")
                    return prev

                def after_stage(prev):
                    sc.setLocalProperty("spark.jobGroup.id", prev)

                def wrapper(self_, *args, **kwargs):
                    table = os.path.basename(self_.path.rstrip("/"))
                    if attr == "stage":
                        return self._call(
                            f"lake.stage.{table}", orig, (self_, *args), kwargs,
                            before=lambda: before_stage(table),
                            after=after_stage,
                        )
                    if attr == "read":
                        snap_id = args[0] if args else kwargs.get("snapshot_id")
                        self._count_read_files(self_, snap_id)
                    return self._call(
                        f"lake.{attr}", orig, (self_, *args), kwargs
                    )

                wrapper.__wrapped__ = orig
                return wrapper

            self._patches.append((lake_cls, attr, orig))
            setattr(lake_cls, attr, make())

    def _count_read_files(self, table, snap_id) -> None:
        """Data and delete files a read resolves, from the manifests."""
        snaps = {s.version: s for s in table.snapshots()}
        if not snaps:
            return
        snap = snaps[max(snaps) if snap_id is None else snap_id]
        n = sum(len(snaps[v].files) for v in snap.live_versions if v in snaps)
        n += sum(len(snaps[v].delete_files) for v in snap.delete_versions
                 if v in snaps)
        now = time.time()
        self.record("lake.read.files", now, now, files=n)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- queries over the spans --------------------------------------------

    def calls(self, name: str, t0: float, t1: float) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and t0 <= s["start"] < t1]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


# -- Spark status store ----------------------------------------------------


def spark_jobs(spark, t0: float, t1: float) -> list[dict]:
    """Jobs submitted in [t0, t1] with the task counters of the stages each
    one ran (a stage shared by several jobs counts once, for the first)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jl = store.jobsList(None)
    raw = []
    for i in range(jl.size()):
        j = jl.apply(i)
        sub, comp = j.submissionTime(), j.completionTime()
        if sub.isEmpty():
            continue
        s = sub.get().getTime() / 1000.0
        e = comp.get().getTime() / 1000.0 if comp.isDefined() else t1
        if not (t0 <= s <= t1):
            continue
        grp = j.jobGroup()
        ids = j.stageIds()
        raw.append({
            "job": j.jobId(), "start": s, "end": e,
            "group": grp.get() if grp.isDefined() else None,
            "stage_ids": [ids.apply(k) for k in range(ids.size())],
        })
    raw.sort(key=lambda r: r["job"])
    seen: set[int] = set()
    for r in raw:
        agg = defaultdict(float)
        for sid in r.pop("stage_ids"):
            if sid in seen:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted from the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            seen.add(sid)
            agg["tasks"] += st.numCompleteTasks()
            agg["task_s"] += st.executorRunTime() / 1000.0
            agg["gc_s"] += st.jvmGcTime() / 1000.0
            agg["input_mb"] += st.inputBytes() / MB
            agg["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            agg["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            agg["spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / MB
        r.update(agg)
    return raw


def busy_s(jobs: list[dict], t0: float, t1: float) -> float:
    """Length of the union of job intervals clipped to [t0, t1]."""
    iv = sorted(
        (max(j["start"], t0), min(j["end"], t1))
        for j in jobs if j["end"] > t0 and j["start"] < t1
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def scan_rows(spark, attrs: set[str], t0: float, t1: float) -> list[tuple]:
    """(submission time, rows) of every in-memory scan of the relation whose
    output attributes are ``attrs`` in SQL executions started in [t0, t1]."""
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    out = []
    for i in range(ex.size()):
        e = ex.apply(i)
        sub = e.submissionTime() / 1000.0
        if not (t0 <= sub <= t1):
            continue
        eid = e.executionId()
        vals = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            n = nodes.apply(k)
            if n.name() != "InMemoryTableScan":
                continue
            cols = set(re.findall(r"\w+#\d+L?", n.desc().split("]")[0]))
            if not cols or not cols <= attrs:
                continue
            ms = n.metrics()
            for m in range(ms.size()):
                mm = ms.apply(m)
                if mm.name() != "number of output rows":
                    continue
                v = vals.get(mm.accumulatorId())
                if v.isDefined():
                    out.append((sub, int(v.get().replace(",", ""))))
    return out


def output_attrs(df) -> set[str]:
    out = df._jdf.queryExecution().analyzed().output()
    return {out.apply(i).toString() for i in range(out.size())}


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
