"""Conf module for ``python -m chronon_spark serve`` in the ``serve`` workload.

``streams(spark)`` runs inside the service process before it binds its port,
so the set-up happens there, on the service's own Spark session: commit the
seeded source table, upload the batch IRs for the batch day (the upload is
the serving set-up: repeated, each time into fresh tables, and timed), then
compute the offline expectation for the first requests of the seeded
request plan with ``operators.groupby.temporal_events`` over the full event
log. Results go to
``setup.json`` in the work directory, named by the PERFBENCH_SERVE
environment variable (a JSON object). When the server stops, the heap it
retains and its batch-IR cache counters go to ``service_metrics.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import spans as S  # noqa: E402

CFG = json.loads(os.environ["PERFBENCH_SERVE"])
_gb, join = common.definitions()
tiebreak = common.TIEBREAK
TRACER = S.Tracer(f"service-{os.getpid()}") if CFG["trace"] else None


def _upload(spark, source: str, root: str, batch_end_ds: str) -> None:
    """Batch IRs as of the end of ``batch_end_ds``, written and
    lineage-stamped the way a group-by-upload run leaves them."""
    from pyspark.sql import functions as F

    from chronon_spark.operators.upload import upload_batch_irs
    from chronon_spark.sources.iceberg import IcebergTable
    from chronon_spark.sources.tableio import insert_overwrite_partitions, resolve_table

    events = IcebergTable(source).scan(spark, filters=[("ds", "<=", batch_end_ds)]).drop("ds")
    frames = upload_batch_irs(events, _gb, batch_end_ds, tiebreak=tiebreak)
    if TRACER is not None:
        frames = [TRACER.stage(f, "upload.exec") for f in frames]
    for suffix, frame in zip(("upload_collapsed", "upload_tail"), frames):
        table = resolve_table(spark, root, f"{_gb.name}_{suffix}")
        insert_overwrite_partitions(frame.withColumn("ds", F.lit(batch_end_ds)), table)
        table.write_lineage(batch_end_ds, {"semantic_hash": _gb.semantic_hash()})


def _upload_once(spark, source: str, r: int) -> float:
    root = CFG["upload_root"] if r == 0 else f"iceberg:{CFG['work']}/uploads_r{r}"
    t0 = time.perf_counter()
    if TRACER is None:
        _upload(spark, source, root, CFG["batch_end_ds"])
    else:
        with TRACER.span("upload", request=f"setup{r}"):
            _upload(spark, source, root, CFG["batch_end_ds"])
        TRACER.release()
    return time.perf_counter() - t0


def _setup(spark, source: str) -> tuple[float, list[float]]:
    """Commit the source table once, then upload its batch IRs
    ``setup_reps`` times into fresh tables (the first one is served)."""
    work, seed, shape = CFG["work"], CFG["seed"], CFG["shape"]
    t0 = time.perf_counter()
    if TRACER is None:
        common.commit_source(spark, shape, seed, source)
    else:
        S.traced_write(TRACER, source, lambda: common.commit_source(spark, shape, seed, source))
    commit_s = time.perf_counter() - t0
    uploads = [_upload_once(spark, source, r) for r in range(CFG["setup_reps"])]
    for r in range(1, CFG["setup_reps"]):
        shutil.rmtree(f"{work}/uploads_r{r}")
    return commit_s, uploads


def _expected(spark, source: str, plan: common.RequestPlan, n_requests: int) -> list:
    """[conv_id, ts_ms, {feature: value}] for every key of the first
    ``n_requests`` requests, from the offline temporal engine."""
    from pyspark.sql import functions as F

    from chronon_spark.operators.groupby import temporal_events
    from chronon_spark.sources.iceberg import IcebergTable

    keys = sorted({(k["conv_id"], k["ts"]) for i in range(n_requests) for k in plan.request(i)})
    left = spark.createDataFrame(keys, "conv_id string, ts_ms long").select(
        "conv_id", "ts_ms", F.timestamp_millis("ts_ms").alias("ts")
    )
    events = IcebergTable(source).scan(spark).drop("ds")
    out = temporal_events(left, events, _gb, left_time_column="ts", tiebreak=tiebreak)
    return [
        [r["conv_id"], r["ts_ms"], {f"{_gb.name}_{f}": r[f] for f in common.FEATURES}]
        for r in out.collect()
    ]


def streams(spark):
    from chronon_spark.sources.iceberg import IcebergTable

    source = f"{CFG['work']}/source"
    if TRACER is not None:
        with S.instrument_batch(TRACER):
            commit_s, uploads = _setup(spark, source)
    else:
        commit_s, uploads = _setup(spark, source)
    stream = IcebergTable(source).scan(spark, filters=[("ds", "=", CFG["serve_ds"])]).drop("ds")
    hot = common.hot_conv_ids(CFG["shape"])
    active = sorted(r["conv_id"] for r in stream.select("conv_id").distinct().collect())
    pool = hot + [c for c in active if c not in hot]
    plan = common.RequestPlan(CFG["seed"], pool, common.day_start_ms(CFG["serve_ds"]))
    doc = {
        "commit_s": commit_s,
        "setup_s": uploads,
        "pool": pool,
        "stream_rows": stream.count(),
        "expected": _expected(spark, source, plan, CFG["check_requests"]),
    }
    with open(f"{CFG['work']}/setup.json", "w") as f:
        json.dump(doc, f)
    if TRACER is not None:
        S.instrument_service(TRACER)
    _run_on_stop()
    return {_gb.name: stream}


def _run_on_stop() -> None:
    """Make the server call ``_on_stop`` when it stops (on SIGINT), while
    its Spark context is still up."""
    from chronon_spark.service import FeatureService

    orig = FeatureService.serve_forever

    def serve_forever(self, *a, **kw):
        try:
            return orig(self, *a, **kw)
        finally:
            _on_stop(self)

    FeatureService.serve_forever = serve_forever


def _on_stop(service) -> None:
    """The heap the service retains after serving and the fetcher's
    batch-IR cache counters; traced, also the job and task counts of every
    traced request and the span file."""
    counters = service.fetcher.metrics.snapshot()["counters"]
    doc = {
        "retained_heap_mb": common.retained_heap_mb(service.spark._jvm),
        "ir_cache_hits": sum(v for k, v in counters.items() if k.startswith("cache.hit")),
        "ir_cache_misses": sum(v for k, v in counters.items() if k.startswith("cache.miss")),
    }
    with open(f"{CFG['work']}/service_metrics.json", "w") as f:
        json.dump(doc, f)
    if TRACER is None:
        return
    for s in TRACER.spans:
        if s["name"] == "service.request":
            jobs, tasks = S.request_job_counts(service.spark, s["attrs"]["job_group"])
            s["attrs"].update(spark_jobs=jobs, tasks=tasks)
    TRACER.write(f"{CFG['work']}/service_spans.jsonl")
