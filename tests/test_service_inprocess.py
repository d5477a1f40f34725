"""The HTTP service answers from the Fetcher's in-memory IR store, loaded
at construction, so a served request (the first one too) runs no Spark
job; ops the in-process merge does not serve, and stale uploads, stop the
service at construction (an op added later answers 500 naming it);
/v1/metrics counts responses per status and times each merge; numpy values
render as JSON."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronon_spark.api import Aggregation, GroupBy, Join, JoinPart, Op, TimeUnit, Window
from chronon_spark.online import Fetcher, StaleUploadError
from chronon_spark.operators.local_merge import UnservedOpError
from chronon_spark.service import FeatureService, json_safe

W1D = Window(1, TimeUnit.DAYS)
GB = GroupBy(
    name="inproc_gb",
    keys=["user_id"],
    aggregations=[
        Aggregation(Op.COUNT, "value", windows=(Window(7, TimeUnit.DAYS),)),
        Aggregation(Op.LAST_K, "event_type", k=2, windows=(W1D,)),
    ],
)
JOIN = Join(name="inproc_join", left_keys=["user_id"], join_parts=[JoinPart(group_by=GB)])
PCT = GroupBy(
    name="inproc_pct",
    keys=["user_id"],
    aggregations=[Aggregation(Op.APPROX_PERCENTILE, "value", windows=(W1D,), percentiles=(0.5,))],
)
PCT_JOIN = Join(name="pct_join", left_keys=["user_id"], join_parts=[JoinPart(group_by=PCT)])


@pytest.fixture(scope="module")
def env(spark, events, tmp_path_factory):
    """(upload root, batch_end_ds, stream, request rows) with GB and PCT
    uploaded."""
    from chronon_spark.operators.upload import upload_batch_irs, write_upload_tables

    root = str(tmp_path_factory.mktemp("inproc_uploads"))
    d = F.date_format("ts", "yyyy-MM-dd")
    days = sorted(r["d"] for r in events.select(d.alias("d")).distinct().collect())
    batch_end_ds, serve_day = days[7], days[8]
    batch = events.where(d <= batch_end_ds)
    for gb in (GB, PCT):
        write_upload_tables(spark, root, gb, batch_end_ds, upload_batch_irs(batch, gb, batch_end_ds))
    stream = events.where(d == serve_day)
    rows = [
        {"user_id": r["user_id"], "ts": r["ts_ms"]}
        for r in stream.select("user_id", F.unix_millis("ts").alias("ts_ms")).limit(4).collect()
    ]
    return root, batch_end_ds, stream, rows


def _serve(spark, env, **kw):
    root, batch_end_ds, stream, _rows = env
    svc = FeatureService(
        spark, Fetcher(spark, root), batch_end_ds,
        joins={JOIN.name: JOIN}, group_bys={GB.name: GB},
        streams={GB.name: stream, PCT.name: stream}, **kw,
    )
    server = svc.http_server()
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return svc, server, f"http://127.0.0.1:{server.server_address[1]}"


def _post(url, payload):
    req = urllib.request.Request(
        url, json.dumps(payload).encode(), {"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, json.loads(r.read())


def _in_job_group(spark, fn, group):
    """``fn`` running its Spark jobs (in the handler's thread) under
    ``group``."""
    sc = spark.sparkContext

    def wrapped(*a, **kw):
        sc.setJobGroup(group, "served request")
        try:
            return fn(*a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return wrapped


def test_served_requests_run_no_spark_job(spark, env, monkeypatch):
    """The service loads its stores at construction, so even the first
    requests run no Spark job."""
    svc, server, base = _serve(spark, env)
    rows = env[3]
    tracker = spark.sparkContext.statusTracker()
    try:
        for group in ("first", "served"):
            for kind in ("fetch_join_rows", "fetch_group_by_rows"):
                monkeypatch.setattr(svc, kind, _in_job_group(spark, getattr(FeatureService, kind).__get__(svc), group))
            code_j, body_j = _post(f"{base}/v1/features/join/{JOIN.name}", rows)
            code_g, body_g = _post(f"{base}/v1/features/groupby/{GB.name}", rows)
            assert code_j == code_g == 200
            assert len(body_j["results"]) == len(body_g["results"]) == len(rows)
            assert tracker.getJobIdsForGroup(group) == []
    finally:
        server.shutdown()
        server.server_close()


def test_stale_upload_stops_service_construction(spark, env):
    root, batch_end_ds, stream, _rows = env
    edited = GroupBy(
        name=GB.name, keys=GB.keys, aggregations=[Aggregation(Op.COUNT, "value", windows=(W1D,))]
    )
    stale = Join(name="stale_join", left_keys=["user_id"], join_parts=[JoinPart(group_by=edited)])
    with pytest.raises(StaleUploadError, match="re-run group-by-upload"):
        FeatureService(
            spark, Fetcher(spark, root), batch_end_ds,
            joins={stale.name: stale}, streams={GB.name: stream},
        )


def test_unserved_op_stops_service_construction(spark, env):
    root, batch_end_ds, stream, _rows = env
    with pytest.raises(UnservedOpError, match="APPROX_PERCENTILE"):
        FeatureService(
            spark, Fetcher(spark, root), batch_end_ds,
            joins={PCT_JOIN.name: PCT_JOIN}, streams={PCT.name: stream},
        )
    with pytest.raises(UnservedOpError, match="APPROX_PERCENTILE"):
        FeatureService(
            spark, Fetcher(spark, root), batch_end_ds,
            group_bys={PCT.name: PCT}, streams={PCT.name: stream},
        )


def test_unserved_op_added_at_runtime_is_500(spark, env):
    svc, server, base = _serve(spark, env)
    svc.joins[PCT_JOIN.name] = PCT_JOIN
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(f"{base}/v1/features/join/{PCT_JOIN.name}", env[3])
        assert e.value.code == 500
        err = json.loads(e.value.read())["error"]
        assert "APPROX_PERCENTILE" in err and "fetch" in err
    finally:
        server.shutdown()
        server.server_close()


def test_metrics_count_responses_and_merges(spark, env):
    svc, server, base = _serve(spark, env)
    try:
        code, _body = _post(f"{base}/v1/features/join/{JOIN.name}", env[3])
        assert code == 200
        with urllib.request.urlopen(f"{base}/v1/metrics", timeout=30) as r:
            snap = json.loads(r.read())
    finally:
        server.shutdown()
        server.server_close()
    assert snap["counters"]["response.200{'environment': 'service'}"] == 1
    merge = snap["distributions"][f"fetch.merge_ms{{'environment': 'join.fetching', 'join': '{JOIN.name}'}}"]
    assert merge["n"] == 1
    load = snap["distributions"][f"fetch.load_ms{{'environment': 'group_by.fetching', 'group_by': '{GB.name}'}}"]
    assert load["n"] == 2  # the IR store, then the stream events
    assert not any(k.startswith("fetch.plan_ms") for k in snap["distributions"])


def test_json_safe_converts_numpy_values():
    assert json_safe(np.int64(7)) == 7 and type(json_safe(np.int64(7))) is int
    assert json_safe(np.float64(0.25)) == 0.25 and type(json_safe(np.float64(0.25))) is float
    assert json_safe(np.bool_(True)) is True
    assert json_safe(np.array([1, 2, 3])) == [1, 2, 3]
    assert json_safe({"a": [np.int32(1), np.float32(0.5)]}) == {"a": [1, 0.5]}
    assert json.dumps(json_safe({"n": np.int64(3), "xs": np.array([0.5])})) == '{"n": 3, "xs": [0.5]}'
