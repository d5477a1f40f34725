"""Spans around the calls into each layer, kept in memory and written out at
exit, plus the per-span Spark metrics of the traced run.

A span is {id, name, parent, run, request, start, end, attrs}; its layer is
the part of its name before the first dot. A layer's self time is the sum,
over its spans, of the span's duration minus the time its direct children
cover.

Spark is lazy, so a batch-layer span stages its output at the boundary
(persist + count) under a Spark job group named for the span; the group's
stages then give the span's CPU, GC, shuffle, spill and task skew through
Spark's status REST API.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
import urllib.request


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.staged: list = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        parent = self.current()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "request": request or (parent["request"] if parent else None),
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        self._stack().append(rec)
        try:
            yield rec
        finally:
            self._stack().pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def stage(self, df, name: str):
        """Materialize ``df`` (persist + count) inside a span ``name`` whose
        Spark jobs run under their own job group; returns the persisted frame
        so downstream plans read it instead of recomputing."""
        sc = df.sparkSession.sparkContext
        with self.span(name) as rec:
            group = f"perfbench-{self.run_id}-{rec['id']}"
            sc.setJobGroup(group, name)
            try:
                df = df.persist()
                rec["attrs"]["rows"] = df.count()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec["attrs"]["job_group"] = group
        self.staged.append(df)
        return df

    def release(self) -> None:
        for df in self.staged:
            df.unpersist()
        self.staged.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s, sort_keys=True) + "\n")


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + duration(s)
    return {s["id"]: duration(s) - child_time.get(s["id"], 0.0) for s in spans}


def layer_self_s(spans: list[dict], layer: str, names: tuple[str, ...] | None = None) -> float:
    """Self time of ``layer`` (optionally only spans named in ``names``)."""
    own = self_times(spans)
    return sum(
        own[s["id"]]
        for s in spans
        if s["name"].split(".")[0] == layer and (names is None or s["name"] in names)
    )


def under(spans: list[dict], root_name: str) -> list[dict]:
    """Spans nested (at any depth) under spans named ``root_name``."""
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out, todo = [], [s["id"] for s in spans if s["name"] == root_name]
    while todo:
        for c in by_parent.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


# --- Spark stage metrics of a job group (status REST API) -----------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def group_stage_metrics(spark, groups: list[str], wait_s: float = 20.0) -> dict[str, dict]:
    """Per job group: CPU s, GC s, shuffle write MB, spill MB and task skew
    (slowest task / median task of the group's heaviest stage). Reads the
    status REST API of the session's UI server, the same source as
    bench_scale_job.py's stage profile; waits until the listener has
    recorded every job of the groups as finished."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + wait_s
    while True:
        jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") in groups]
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.2)
    stages = {
        (s["stageId"], s["attemptId"]): s
        for s in _get(f"{base}/stages")
        if s["status"] == "COMPLETE"
    }
    out = {}
    for g in groups:
        ids = {sid for j in jobs if j.get("jobGroup") == g for sid in j["stageIds"]}
        mine = [s for (sid, _a), s in stages.items() if sid in ids]
        m = {
            "cpu_s": sum(s["executorCpuTime"] for s in mine) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in mine) / 1e3,
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in mine) / 2**20,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in mine) / 2**20,
            "task_skew": 0.0,
        }
        heavy = max(mine, key=lambda s: s["executorRunTime"], default=None)
        if heavy is not None and heavy["numCompleteTasks"] > 1:
            q = _get(
                f"{base}/stages/{heavy['stageId']}/{heavy['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            m["task_skew"] = q[1] / max(q[0], 1.0)
        out[g] = m
    return out


# --- batch-layer instrumentation -------------------------------------------


def _list_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def traced_write(tracer: Tracer, location: str, write):
    """Run ``write()`` inside a ``sources.write`` span recording the data
    files and bytes it added under ``location``."""
    before = _list_files(location)
    with tracer.span("sources.write") as rec:
        result = write()
    added = {p: n for p, n in _list_files(location).items() if p not in before}
    rec["attrs"].update(files=len(added), mb=sum(added.values()) / 2**20)
    return result


@contextlib.contextmanager
def instrument_batch(tracer: Tracer, join_name: str | None = None):
    """Wrap the batch layers' public entry points for the duration of the
    block: Iceberg scan planning and partition overwrites (sources), the
    temporal engine (groupby), per-part join planning (join), and each
    resumable table backfill, as ``join.assemble`` when it fills the table
    named ``join_name`` (the join's final table) and as ``join.part``
    otherwise (a part table)."""
    from chronon_spark.operators import groupby as G
    from chronon_spark.operators import join as J
    from chronon_spark.sources import iceberg as I
    from chronon_spark.sources import tableio as T

    orig = {
        "plan_scan": I.IcebergTable.plan_scan,
        "scan": I.IcebergTable.scan,
        "insert_overwrite": I.IcebergPartitionedTable.insert_overwrite,
        "temporal_events": G.temporal_events,
        "compute_join_part": J.compute_join_part,
        "backfill": T.backfill,
    }

    @functools.wraps(orig["plan_scan"])
    def plan_scan(self, *a, **kw):
        with tracer.span("sources.plan") as rec:
            entries = orig["plan_scan"](self, *a, **kw)
        rec["attrs"].update(files=len(entries), rows=sum(e["record_count"] for e in entries))
        return entries

    @functools.wraps(orig["scan"])
    def scan(self, *a, **kw):
        with tracer.span("sources.scan"):
            return orig["scan"](self, *a, **kw)

    @functools.wraps(orig["insert_overwrite"])
    def insert_overwrite(self, df, *a, **kw):
        parent = tracer.current()
        layer = parent["name"].split(".")[0] if parent else "sources"
        # the rest of the caller's lazy plan runs here, as the caller's work
        df = tracer.stage(df, f"{layer}.stage")
        return traced_write(tracer, self.path, lambda: orig["insert_overwrite"](self, df, *a, **kw))

    @functools.wraps(orig["temporal_events"])
    def temporal_events(*a, **kw):
        with tracer.span("groupby"):
            with tracer.span("groupby.plan"):
                out = orig["temporal_events"](*a, **kw)
            return tracer.stage(out, "groupby.exec")

    @functools.wraps(orig["compute_join_part"])
    def compute_join_part(*a, **kw):
        with tracer.span("join.plan"):
            return orig["compute_join_part"](*a, **kw)

    @functools.wraps(orig["backfill"])
    def backfill(spark, table, *a, **kw):
        final = os.path.basename(getattr(table, "path", "")) == join_name
        with tracer.span("join.assemble" if final else "join.part"):
            return orig["backfill"](spark, table, *a, **kw)

    I.IcebergTable.plan_scan = plan_scan
    I.IcebergTable.scan = scan
    I.IcebergPartitionedTable.insert_overwrite = insert_overwrite
    G.temporal_events = temporal_events
    J.compute_join_part = compute_join_part
    T.backfill = backfill
    try:
        yield
    finally:
        I.IcebergTable.plan_scan = orig["plan_scan"]
        I.IcebergTable.scan = orig["scan"]
        I.IcebergPartitionedTable.insert_overwrite = orig["insert_overwrite"]
        G.temporal_events = orig["temporal_events"]
        J.compute_join_part = orig["compute_join_part"]
        T.backfill = orig["backfill"]


def sources_metrics(spans: list[dict]) -> dict[str, float]:
    """Read-side planning (top-level scan/plan spans), files and rows the
    scans kept, and the write spans' time, files and bytes."""
    by_id = {s["id"]: s for s in spans}

    def in_scan(s):
        p = by_id.get(s["parent"])
        return p is not None and p["name"] == "sources.scan"

    planning = [
        s for s in spans
        if s["name"] == "sources.scan" or (s["name"] == "sources.plan" and not in_scan(s))
    ]
    scanned = [s for s in spans if s["name"] == "sources.plan" and in_scan(s)]
    writes = [s for s in spans if s["name"] == "sources.write"]
    return {
        "sources.scan_plan_ms": 1000 * sum(duration(s) for s in planning),
        "sources.scan_files": sum(s["attrs"]["files"] for s in scanned),
        "sources.scan_rows": sum(s["attrs"]["rows"] for s in scanned),
        "sources.write_s": sum(duration(s) for s in writes),
        "sources.files_written": sum(s["attrs"]["files"] for s in writes),
        "sources.write_mb": sum(s["attrs"]["mb"] for s in writes),
    }


# --- service instrumentation (runs inside the serve process) ---------------


class _TimedLock:
    """Stands in for FeatureService's request lock: inside a traced request
    the wait for it is a ``service.lock_wait`` span."""

    def __init__(self, tracer: Tracer, lock):
        self.tracer = tracer
        self.lock = lock

    def __enter__(self):
        if self.tracer.current() is None:
            return self.lock.__enter__()
        with self.tracer.span("service.lock_wait"):
            return self.lock.__enter__()

    def __exit__(self, *exc):
        return self.lock.__exit__(*exc)


def instrument_service(tracer: Tracer) -> None:
    """Wrap the service's request path. Only requests whose first key
    object carries ``"_trace": 1`` are traced; their spans share the request
    id ``"_rid"`` from the same object and their Spark jobs run under a job
    group named for it."""
    from chronon_spark.online import Fetcher
    from chronon_spark.service import FeatureService

    orig_init = FeatureService.__init__
    orig_rows = FeatureService.fetch_join_rows

    def __init__(self, *a, **kw):
        orig_init(self, *a, **kw)
        self._lock = _TimedLock(tracer, self._lock)

    def fetch_join_rows(self, name, rows):
        head = rows[0] if isinstance(rows, list) and rows and isinstance(rows[0], dict) else {}
        if not head.get("_trace"):
            return orig_rows(self, name, rows)
        sc = self.spark.sparkContext
        with tracer.span("service.request", request=f"req{head.get('_rid')}") as rec:
            group = f"perfbench-req{head.get('_rid')}"
            rec["attrs"].update(job_group=group, keys=len(rows))
            sc.setJobGroup(group, "perfbench traced request")
            try:
                return orig_rows(self, name, rows)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def in_request(name: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if tracer.current() is None:
                return fn(*a, **kw)
            with tracer.span(name):
                return fn(*a, **kw)

        return wrapper

    FeatureService.__init__ = __init__
    FeatureService.fetch_join_rows = fetch_join_rows
    FeatureService._key_types = in_request("service.request_frame", FeatureService._key_types)
    FeatureService._requests_df = in_request("service.request_frame", FeatureService._requests_df)
    FeatureService._render = in_request("service.render", FeatureService._render)
    Fetcher.fetch_join = in_request("online.plan", Fetcher.fetch_join)


def request_job_counts(spark, group: str) -> tuple[int, int]:
    """Spark jobs and completed tasks run under ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            stage = st.getStageInfo(sid)
            tasks += stage.numCompletedTasks if stage else 0
    return len(jobs), tasks
