"""Fetcher-as-a-service: real HTTP round trips over chronon_spark.service
must be value-identical to in-process Fetcher.fetch_join / fetch_features,
with the reference's response shape (FeaturesHandler.java
GetFeaturesResponse: per-request status + entityKeys + features) and the
staleness guard surfacing as 503, never silently-wrong features."""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import threading
import urllib.error
import urllib.request
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from chronon_spark.api import Aggregation, GroupBy, Join, JoinPart, Op, TimeUnit, Window
from chronon_spark.online import Fetcher
from chronon_spark.service import FeatureService, json_safe

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

W7D = Window(7, TimeUnit.DAYS)
W1D = Window(1, TimeUnit.DAYS)

GB = GroupBy(
    name="svc_gb",
    keys=["user_id"],
    aggregations=[
        Aggregation(Op.COUNT, "value", windows=(W7D,)),
        Aggregation(Op.SUM, "value", windows=(W1D,)),
        Aggregation(Op.LAST_K, "event_type", k=2, windows=(W1D,)),
    ],
)
JOIN = Join(name="svc_join", left_keys=["user_id"], join_parts=[JoinPart(group_by=GB)])


@pytest.fixture(scope="module")
def served(spark, events, tmp_path_factory):
    """Upload tables + a running HTTP service; yields (svc, base_url,
    fetcher, stream, requests, batch_end_ds)."""
    from chronon_spark.operators.upload import upload_batch_irs, write_upload_tables

    root = str(tmp_path_factory.mktemp("svc_uploads"))
    d = F.date_format("ts", "yyyy-MM-dd")
    days = sorted(r["d"] for r in events.select(d.alias("d")).distinct().collect())
    batch_end_ds, serve_day = days[7], days[8]
    batch = events.where(d <= batch_end_ds)
    stream = events.where(d == serve_day)
    frames = upload_batch_irs(batch, GB, batch_end_ds, tiebreak="event_id")
    write_upload_tables(spark, root, GB, batch_end_ds, frames)

    requests = (
        events.where((d == serve_day) & (F.col("event_type") == "purchase"))
        .select("user_id", F.unix_millis("ts").alias("ts_ms"))
        .distinct()
        .orderBy("user_id", "ts_ms")
        .limit(8)
    )
    fetcher = Fetcher(spark, root)
    svc = FeatureService(
        spark,
        fetcher,
        batch_end_ds,
        joins={JOIN.name: JOIN},
        group_bys={GB.name: GB},
        streams={GB.name: stream},
        tiebreak="event_id",
    )
    server = svc.http_server()
    threading.Thread(target=server.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield svc, base, fetcher, stream, requests, batch_end_ds
    server.shutdown()
    server.server_close()


def _post(url, payload, timeout=120):
    req = urllib.request.Request(
        url, json.dumps(payload).encode(), {"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return r.status, json.loads(r.read())


def _get(url, timeout=30):
    with urllib.request.urlopen(url, timeout=timeout) as r:
        return r.status, json.loads(r.read())


def test_ping_and_metrics(served):
    _svc, base, *_ = served
    code, body = _get(f"{base}/ping")
    assert code == 200 and body["status"] == "ok"
    code, body = _get(f"{base}/v1/metrics")
    assert code == 200 and "counters" in body


def test_http_join_fetch_equals_in_process(spark, served):
    svc, base, fetcher, stream, requests, batch_end_ds = served
    rows = [{"user_id": r["user_id"], "ts": r["ts_ms"]} for r in requests.collect()]
    code, body = _post(f"{base}/v1/features/join/{JOIN.name}", rows)
    assert code == 200
    results = body["results"]
    assert len(results) == len(rows)
    assert all(r["status"] == "Success" for r in results)

    # in-process twin over the same requests
    req_df = spark.createDataFrame(
        [(r["user_id"], r["ts"]) for r in rows], "user_id long, ts_ms long"
    ).select("user_id", F.timestamp_millis("ts_ms").alias("ts"))
    want = fetcher.fetch_join(
        req_df, {GB.name: stream}, JOIN, batch_end_ds, tiebreak="event_id"
    )

    def canon(features):
        return {
            k: (round(v, 6) if isinstance(v, float) else tuple(v) if isinstance(v, list) else v)
            for k, v in features.items()
        }

    got = {
        (r["entityKeys"]["user_id"], r["entityKeys"]["ts"]): canon(r["features"])
        for r in results
    }
    for w in want.collect():
        d = w.asDict()
        key = (d.pop("user_id"), int(d.pop("ts").timestamp() * 1000))
        assert canon(d) == got[key], key
    # entityKeys carry exactly the request identity
    assert set(results[0]["entityKeys"]) == {"user_id", "ts"}


def test_http_groupby_fetch_equals_in_process(spark, served):
    svc, base, fetcher, stream, requests, batch_end_ds = served
    rows = [{"user_id": r["user_id"], "ts": r["ts_ms"]} for r in requests.collect()[:4]]
    code, body = _post(f"{base}/v1/features/groupby/{GB.name}", rows)
    assert code == 200
    results = body["results"]
    req_df = spark.createDataFrame(
        [(r["user_id"], r["ts"]) for r in rows], "user_id long, ts_ms long"
    ).select("user_id", F.timestamp_millis("ts_ms").alias("ts"))
    want = fetcher.fetch_features(
        req_df, stream, GB, batch_end_ds, tiebreak="event_id"
    )
    got = {
        (r["entityKeys"]["user_id"], r["entityKeys"]["ts"]): r["features"]["value_count_7d"]
        for r in results
    }
    for w in want.collect():
        assert got[(w["user_id"], int(w["ts"].timestamp() * 1000))] == w["value_count_7d"]


def test_http_error_statuses(served):
    _svc, base, *_ = served
    # unknown join -> 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{base}/v1/features/join/not_a_join", [{"user_id": 1}])
    assert e.value.code == 404
    # malformed body -> 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{base}/v1/features/join/{JOIN.name}", {"nope": True})
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{base}/v1/features/join/{JOIN.name}", [{"wrong_key": 1}])
    assert e.value.code == 400
    # unknown route -> 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base}/nope")
    assert e.value.code == 404


def test_json_safe_timestamps_are_exact_millis():
    """Epoch millis by integer arithmetic: float seconds * 1000 reads this
    instant as ...515; sub-millisecond digits truncate, never round up."""
    utc = dt.timezone.utc
    assert json_safe(dt.datetime(1978, 8, 10, 18, 40, 34, 516000, tzinfo=utc)) == 271622434516
    assert json_safe(dt.datetime(2024, 3, 1, 12, 0, 0, 123999, tzinfo=utc)) == 1709294400123
    assert json_safe(dt.datetime(1969, 12, 31, 23, 59, 59, 999000, tzinfo=utc)) == -1


def test_internal_key_error_is_500_not_404(served, monkeypatch):
    """Only an unknown join/GroupBy name is a 404; a KeyError raised while
    serving a known join is a server fault."""
    svc, base, *_ = served

    def broken(parts):
        raise KeyError("user_id")

    monkeypatch.setattr(svc, "_key_types", broken)
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{base}/v1/features/join/{JOIN.name}", [{"user_id": 1}])
    assert e.value.code == 500
    assert "KeyError" in json.loads(e.value.read())["error"]


def test_conflicting_left_key_types_name_both_parts(spark, served, monkeypatch):
    """Two join parts that resolve one left key to different types are a
    serving misconfiguration: 500 naming both parts, not first-part-wins."""
    svc, base, fetcher, stream, *_ = served
    other = GroupBy(
        name="svc_gb_str", keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(W1D,))],
    )
    real = fetcher.store

    def store(gb, ds):
        if gb.name == other.name:
            return SimpleNamespace(gb=other, key_types={"user_id": StringType()})
        return real(gb, ds)

    monkeypatch.setattr(fetcher, "store", store)
    monkeypatch.setitem(svc.streams, other.name, stream)
    monkeypatch.setitem(svc.joins, "conflict", Join(
        name="conflict", left_keys=["user_id"],
        join_parts=[JoinPart(group_by=GB), JoinPart(group_by=other)],
    ))
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{base}/v1/features/join/conflict", [{"user_id": 1}])
    assert e.value.code == 500
    err = json.loads(e.value.read())["error"]
    assert "'svc_gb'" in err and "'svc_gb_str'" in err and "user_id" in err


def test_stale_definition_surfaces_as_503(spark, served):
    svc, base, fetcher, stream, _req, batch_end_ds = served
    changed = GroupBy(
        name=GB.name,
        keys=GB.keys,
        aggregations=[Aggregation(Op.COUNT, "value", windows=(W1D,))],  # edited
    )
    stale_join = Join(
        name="stale_join", left_keys=["user_id"], join_parts=[JoinPart(group_by=changed)]
    )
    svc.joins["stale_join"] = stale_join
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(f"{base}/v1/features/join/stale_join", [{"user_id": 1}])
        assert e.value.code == 503
        body = json.loads(e.value.read())
        assert body["code"] == "STALE_UPLOAD" and "re-run group-by-upload" in body["error"]
    finally:
        svc.joins.pop("stale_join", None)


def test_missing_upload_lineage_is_503_with_its_code(spark, served, tmp_path, monkeypatch):
    """Upload tables without a lineage stamp answer 503 with their own code
    and remedy, not a 'hash None' staleness claim."""
    import shutil

    svc, base, fetcher, *_ = served
    root = tmp_path / "unstamped"
    shutil.copytree(fetcher.upload_root, root)
    for d in root.iterdir():
        shutil.rmtree(d / "_lineage", ignore_errors=True)
    monkeypatch.setattr(svc, "fetcher", Fetcher(spark, str(root)))
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{base}/v1/features/join/{JOIN.name}", [{"user_id": 1}])
    assert e.value.code == 503
    body = json.loads(e.value.read())
    assert body["code"] == "MISSING_UPLOAD_LINEAGE" and "re-run" in body["error"]


SERVE_CONF = """
from chronon_spark.api import Aggregation, GroupBy, Join, JoinPart, Op, TimeUnit, Window
from pyspark.sql import functions as F

_gb = GroupBy(
    name="svc_gb",
    keys=["user_id"],
    aggregations=[
        Aggregation(Op.COUNT, "value", windows=(Window(7, TimeUnit.DAYS),)),
        Aggregation(Op.SUM, "value", windows=(Window(1, TimeUnit.DAYS),)),
        Aggregation(Op.LAST_K, "event_type", k=2, windows=(Window(1, TimeUnit.DAYS),)),
    ],
)
join = Join(name="svc_join", left_keys=["user_id"], join_parts=[JoinPart(group_by=_gb)])
tiebreak = "event_id"

def streams(spark):
    ev = spark.read.parquet("__SF__/events.parquet")
    d = F.date_format("ts", "yyyy-MM-dd")
    return {"svc_gb": ev.where(d == "__SERVE_DAY__")}
"""


def test_serve_cli_subprocess_http_round_trip(spark, served, tmp_path):
    """The deployment form: `python -m chronon_spark serve` in its own
    process announces its ephemeral port on stdout, then serves real
    feature fetches over HTTP that match the in-process values."""
    svc, _base, fetcher, stream, requests, batch_end_ds = served
    d = F.date_format("ts", "yyyy-MM-dd")
    serve_day = (
        stream.select(d.alias("d")).distinct().orderBy("d").first()["d"]
    )
    conf = tmp_path / "serve_conf.py"
    conf.write_text(
        SERVE_CONF.replace("__SF__", SF_DIR).replace("__SERVE_DAY__", serve_day)
    )
    env = dict(os.environ, SPARK_MASTER="local[4]", PYTHONPATH=REPO)
    proc = subprocess.Popen(
        [
            sys.executable, "-m", "chronon_spark", "serve",
            "--conf", str(conf), "--upload-root", fetcher.upload_root,
            "--batch-end-ds", batch_end_ds, "--port", "0",
        ],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, env=env, cwd=REPO,
    )
    try:
        line = proc.stdout.readline()
        ann = json.loads(line)
        assert ann["serving"] and ann["joins"] == ["svc_join"]
        base = f"http://127.0.0.1:{ann['port']}"
        code, body = _get(f"{base}/ping", timeout=60)
        assert code == 200
        rows = [{"user_id": r["user_id"], "ts": r["ts_ms"]} for r in requests.collect()[:3]]
        code, body = _post(f"{base}/v1/features/join/svc_join", rows, timeout=300)
        assert code == 200 and len(body["results"]) == len(rows)
        # values match the in-process fetch of the same keys
        in_proc = {
            (r["entityKeys"]["user_id"], r["entityKeys"]["ts"]): r["features"]
            for r in svc.fetch_join_rows("svc_join", rows)
        }
        for r in body["results"]:
            key = (r["entityKeys"]["user_id"], r["entityKeys"]["ts"])
            assert r["features"] == in_proc[key]
    finally:
        proc.terminate()
        proc.wait(timeout=60)


def test_missing_stream_config_is_500_not_404(spark, served):
    """A join whose part has no configured stream is a SERVER config gap:
    500 with the remedy, never 404 (which would read as 'no such join')."""
    svc, base, *_ = served
    orphan_gb = GroupBy(
        name="no_stream_gb", keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(W1D,))],
    )
    svc.joins["orphan"] = Join(
        name="orphan", left_keys=["user_id"], join_parts=[JoinPart(group_by=orphan_gb)]
    )
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(f"{base}/v1/features/join/orphan", [{"user_id": 1}])
        assert e.value.code == 500
        assert "no stream frame" in json.loads(e.value.read())["error"]
    finally:
        svc.joins.pop("orphan", None)
