"""The ``serve`` workload: a closed loop of 2 client threads posting
``/v1/features/join/transcripts`` to ``python -m chronon_spark serve``.

Closed loop because callers wait for features before scoring, and the
service serializes its Spark jobs; an open loop faster than the service
would only measure backlog growth. The set-up (source commit, batch-IR
upload, offline expectations) runs inside the service process, see
serve_conf.py, so one JVM serves the whole run.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request

import common
import spans as S

CLIENTS = 2
# a slow run whose first timed cycle outlasts --seconds still times 8
# requests: medians of 4 round trips spread about twice as wide
TIMED_CYCLES = 2
START_TIMEOUT_S = 170


def _post(base: str, rows: list[dict]):
    req = urllib.request.Request(
        f"{base}/v1/features/join/transcripts", json.dumps(rows).encode(),
        {"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, json.loads(r.read())


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


class Client:
    """Sends request ``i`` of the plan, checks the answer, records it."""

    def __init__(self, base: str, plan: common.RequestPlan, expected: dict):
        self.base = base
        self.plan = plan
        self.expected = expected
        self.records: list[dict] = []
        self.problems: list[str] = []
        self._lock = threading.Lock()

    def send(self, i: int, trace: bool = False) -> dict:
        rows = self.plan.request(i)
        body = [dict(r) for r in rows]
        body[0].update(_rid=i, **({"_trace": 1} if trace else {}))
        t0, start = time.perf_counter(), time.time()
        try:
            status, resp = _post(self.base, body)
            err = None
        except (urllib.error.URLError, OSError, ValueError) as e:
            status, resp, err = None, None, f"{type(e).__name__}: {e}"
        done = time.perf_counter()
        rec = {"i": i, "keys": len(rows), "ms": 1000 * (done - t0), "done": done,
               "start": start, "end": time.time(), "trace": trace, "ok": False}
        bad = err or self._check(rows, status, resp)
        with self._lock:
            rec["ok"] = not bad
            if bad:
                self.problems.append(f"request {i}: {bad}")
            self.records.append(rec)
        return rec

    def _check(self, rows, status, resp) -> str | None:
        if status != 200:
            return f"HTTP {status}"
        results = resp.get("results", [])
        if len(results) != len(rows) or any(r.get("status") != "Success" for r in results):
            return f"{len(results)} results for {len(rows)} keys or a failed status"
        want = {(r["conv_id"], r["ts"]) for r in rows}
        for r in results:
            key = (r["entityKeys"]["conv_id"], r["entityKeys"]["ts"])
            if key not in want:
                return f"unexpected entity {key}"
            exp = self.expected.get(key)
            if exp is not None:
                for name, v in exp.items():
                    if not _close(r["features"].get(name), v):
                        return f"{key}.{name}: got {r['features'].get(name)!r}, want {v!r}"
        return None


def _loop(client: Client, seconds: float, trace: bool) -> tuple[int, float]:
    """One closed loop of CLIENTS threads over the plan's requests in order,
    in three phases: the first cycle is an untimed warm-up (it loads the
    batch IRs into the fetcher's cache and warms the fetch plan's code
    paths); the timed phase starts with request CYCLE and, once ``seconds``
    have passed, ends with the cycle in progress, so it sends whole cycles of
    the mix, at least TIMED_CYCLES; traced, one more cycle follows with
    tracing on.
    The loop never restarts, so no timed request meets an idle service that
    a steady loop would not. Returns the index that ends the timed phase
    and the timed phase's start (``perf_counter``)."""
    warm = common.CYCLE
    state = {"next": 0, "start": None, "stop": None}
    lock = threading.Lock()

    def take() -> tuple[int, bool] | None:
        """The next request index, and whether it is traced."""
        with lock:
            i, stop = state["next"], state["stop"]
            if i == warm:
                state["start"] = time.perf_counter()
            elif stop is None and i > warm and time.perf_counter() - state["start"] >= seconds:
                cycles = max(TIMED_CYCLES, -(-(i - warm) // common.CYCLE))
                stop = state["stop"] = warm + cycles * common.CYCLE
            if stop is not None and i >= stop + (common.CYCLE if trace else 0):
                return None
            state["next"] += 1
            return i, stop is not None and i >= stop

    def worker():
        while (job := take()) is not None:
            client.send(*job)

    threads = [threading.Thread(target=worker) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return state["stop"], state["start"]


def run(args, shape: dict, work: str):
    # batch end and the serve day sit mid-range: conversations start
    # uniformly over the days and last hours, so a mid-range day has about
    # 1/n_days of them active (the last day would have almost none)
    batch_end_ds = common.ds(shape["n_days"] // 2 - 1)
    serve_ds = common.ds(shape["n_days"] // 2)
    cfg = {
        "work": work, "seed": args.seed, "shape": shape, "trace": bool(args.trace),
        "setup_reps": 1 if args.smoke else 3, "batch_end_ds": batch_end_ds,
        "serve_ds": serve_ds, "upload_root": f"iceberg:{work}/uploads",
        "check_requests": 2 * common.CYCLE,
    }
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, **common.spark_env(common.host(), tmp), PYTHONPATH=common.ROOT,
               PERFBENCH_SERVE=json.dumps(cfg))
    log = open(os.path.join(work, "service.log"), "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, "-m", "chronon_spark", "serve",
         "--conf", os.path.join(common.HERE, "serve_conf.py"),
         "--upload-root", cfg["upload_root"], "--batch-end-ds", batch_end_ds, "--port", "0"],
        stdout=subprocess.PIPE, stderr=log, text=True, env=env, cwd=common.ROOT,
    )
    try:
        return _drive(args, cfg, proc, work, t0)
    finally:
        _stop(proc)
        log.close()


def _stop(proc) -> None:
    """SIGINT lets the service stop Spark (and, traced, write its spans);
    then wait for it and every process it started, its JVM included."""
    if proc.returncode is not None:  # already stopped and waited for
        return
    tree = common.descendants(proc.pid)
    proc.send_signal(signal.SIGINT)
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    common.wait_gone(tree)


def _announce(proc) -> dict:
    out: list[str] = []
    reader = threading.Thread(target=lambda: out.append(proc.stdout.readline()), daemon=True)
    reader.start()
    reader.join(START_TIMEOUT_S)
    if not out or not out[0].strip():
        raise SystemExit(f"perfbench: the service did not start (exit code {proc.poll()})")
    return json.loads(out[0])


def _drive(args, cfg: dict, proc, work: str, t0: float):
    ann = _announce(proc)
    ready_s = time.perf_counter() - t0
    base = f"http://127.0.0.1:{ann['port']}"
    with open(os.path.join(work, "setup.json")) as f:
        setup = json.load(f)
    plan = common.RequestPlan(args.seed, setup["pool"], common.day_start_ms(cfg["serve_ds"]))
    expected = {(c, ts): feats for c, ts, feats in setup["expected"]}
    client = Client(base, plan, expected)

    stop, start = _loop(client, 0 if args.smoke else args.seconds, bool(args.trace))
    measured = [r for r in client.records if common.CYCLE <= r["i"] < stop]
    loop_s = max(r["done"] for r in measured) - start
    traced_recs = [r for r in client.records if r["trace"]]
    peak = common.tree_peak_rss_mb()
    _stop(proc)
    with open(os.path.join(work, "service_metrics.json")) as f:
        svc = json.load(f)

    # failed requests count in attempted/failed only: a fast error must not
    # lower the latency or raise the throughput
    ok = [r for r in measured if r["ok"]]
    if not ok:
        raise SystemExit(f"perfbench: every timed request failed: {client.problems[:3]}")
    lat = [r["ms"] for r in ok]
    keys = sum(r["keys"] for r in ok)
    single = [r["ms"] for r in ok if r["keys"] == 1]
    info = {
        "fetch_ms": [round(r["ms"], 1) for r in ok],
        "fetch_p50_ms": statistics.median(lat),
        "fetch_p90_ms": statistics.quantiles(lat, n=10, method="inclusive")[8]
        if len(lat) >= 2 else lat[0],
        "fetch_p90_note": f"p90 of {len(lat)} requests; fewer than 10 lie beyond it"
        if len(lat) < 100 else "",
        "fetch_single_key_p50_ms": statistics.median(single) if single else None,
        "fetch_keys_per_s": keys / loop_s,
        "service_ready_s": ready_s,
        "source_commit_s": setup["commit_s"],
        "upload_runs_s": setup["setup_s"],
        "checked_keys": len(expected),
        "key_pool": len(setup["pool"]),
        "stream_rows": setup["stream_rows"],
        "problems": client.problems[:20],
    }
    attempted = len(client.records)
    failed = sum(not r["ok"] for r in client.records)
    if not args.trace:
        metrics = {
            "op_median_ms": info["fetch_p50_ms"],
            "items_per_s": info["fetch_keys_per_s"],
            "setup_s": statistics.median(setup["setup_s"]),
            "peak_rss_mb": peak,
            "retained_heap_mb": svc["retained_heap_mb"],
        }
    else:
        metrics = _layer_metrics(work, svc, ok, traced_recs, info)
    return {"attempted": attempted, "failed": failed, "metrics": metrics}, info


def _layer_metrics(work: str, svc: dict, untraced: list[dict], traced: list[dict],
                   info: dict) -> dict:
    spans = [json.loads(line) for line in open(os.path.join(work, "service_spans.jsonl"))]
    own = S.self_times(spans)
    uploads = sorted({s["request"] for s in spans if s["name"] == "upload"})
    last = [s for s in spans if s["request"] == uploads[-1]]
    reqs = [s for s in spans if s["name"] == "service.request"]
    rtt = {f"req{r['i']}": r["ms"] for r in traced}

    def per_request(name: str, self_time: bool = False) -> float:
        total = sum(
            1000 * (own[s["id"]] if self_time else S.duration(s))
            for s in spans if s["name"] == name and s["request"] in rtt
        )
        return total / max(len(reqs), 1)

    def in_service_ms(req: dict) -> float:
        wait = sum(S.duration(s) for s in spans
                   if s["name"] == "service.lock_wait" and s["parent"] == req["id"])
        return 1000 * (S.duration(req) - wait)

    upload = [s for s in last if s["name"] == "upload.exec"]
    hits, misses = svc["ir_cache_hits"], svc["ir_cache_misses"]
    # the client's side of each traced request joins the service's spans
    # under the same request id
    first = max(s["id"] for s in spans) + 1
    client = [
        {"id": first + n, "name": "client.request", "parent": None, "run": f"client-{os.getpid()}",
         "request": f"req{r['i']}", "start": r["start"], "end": r["end"],
         "attrs": {"keys": r["keys"]}}
        for n, r in enumerate(traced)
    ]
    info["span_file"] = os.path.join(work, "spans.jsonl")
    with open(info["span_file"], "w") as f:
        for rec in spans + client:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
    return {
        **S.sources_metrics(last),
        "upload.self_s": S.layer_self_s(last, "upload"),
        "upload.rows_out": sum(s["attrs"]["rows"] for s in upload),
        "online.ir_cache_hit_ratio": hits / max(hits + misses, 1),
        "online.plan_ms": per_request("online.plan"),
        "service.request_frame_ms": per_request("service.request_frame"),
        "service.execute_ms": per_request("service.request", self_time=True),
        "service.queue_ms": statistics.mean(rtt[s["request"]] - in_service_ms(s) for s in reqs),
        "service.spark_jobs_per_request": statistics.mean(s["attrs"]["spark_jobs"] for s in reqs),
        "service.tasks_per_request": statistics.mean(s["attrs"]["tasks"] for s in reqs),
        "trace.overhead_ms": statistics.median(r["ms"] for r in traced)
        - statistics.median(r["ms"] for r in untraced),
    }
