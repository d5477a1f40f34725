"""Fetcher-as-a-service: a thin HTTP feature endpoint over ``online.Fetcher``.

The reference ships a Vert.x web service wrapping its Fetcher
(service/src/main/java/ai/chronon/service/WebServiceVerticle.java routes,
handlers/FeaturesHandler.java: POST /v*/features/{join|groupby}/:name with a
JSON array of entity-key maps, responding GetFeaturesResponse — per-request
``{"status": "Success"|"Failure", "entityKeys": {...}, "features": {...}}``
— plus GET /ping). Here the serving process is a long-lived SparkSession
whose Fetcher holds each GroupBy's verified upload tables and stream events
in an in-memory, key-indexed store (``operators/local_merge.py``), loaded
by Spark jobs at construction for every configured join part and GroupBy
(one added later loads on its first request). Each HTTP batch becomes
typed Python request rows, and the lambda merge (collapsed IRs + tail
tiles + stream) runs in-process over the store: a served request runs no
Spark job. The ops served this way are ``local_merge.SERVED_OPS``; a
configured join or GroupBy with any other op, or with a stale upload,
stops the service at construction; one added later answers 500 naming
the op (the ``fetch`` CLI serves every op) or 503 for the stale upload.

Status mapping: ``UnknownEntityError`` (join/GroupBy) -> 404, bad body -> 400,
``StaleUploadError`` (uploaded IRs don't match the serving definition, or
carry no definition stamp) -> 503 with the error's code and the re-upload
remedy — the staleness guard surfaces as a 5xx instead of silently serving
wrong features. Everything else -> 500. ``GET /v1/metrics`` carries the
Fetcher's metrics plus a ``response.<status>`` counter per answered status.

Serving via CLI: ``python -m chronon_spark serve --conf <module> --upload-root
<root> --batch-end-ds <ds> --port 0`` prints one JSON line
``{"serving": true, "port": N, ...}`` then blocks; port 0 binds an
ephemeral port (the printed line is the discovery contract for tests and
process managers).
"""

from __future__ import annotations

import base64
import datetime as _dt
import decimal
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from chronon_spark.api import JoinPart
from chronon_spark.online import Context, Fetcher, StaleUploadError, left_key_types
from chronon_spark.operators.local_merge import check_served, epoch_ms, ms_timestamp
from chronon_spark.operators.upload import DAY_MS


class UnknownEntityError(LookupError):
    """The requested join or GroupBy is not served here (HTTP 404)."""


def json_safe(v):
    """Row values -> JSON-encodable (timestamps to epoch millis, Decimal to
    float, bytes base64, numpy scalars to Python numbers, nested
    rows/maps/arrays recursively)."""
    if isinstance(v, _dt.datetime):
        return epoch_ms(v)
    if isinstance(v, np.generic):
        return json_safe(v.item())
    if isinstance(v, np.ndarray):
        return [json_safe(x) for x in v.tolist()]
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, dict):
        return {str(k): json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [json_safe(x) for x in v]
    if hasattr(v, "asDict"):  # nested Row
        return {k: json_safe(x) for k, x in v.asDict().items()}
    return v


class FeatureService:
    """Request-batch front-end over a Fetcher: JSON key maps in, feature
    maps out. Holds the join/GroupBy registry and each part's post-batch
    stream frame (the lambda's online leg — empty frames are fine), and
    loads every configured part's IR store and stream events at
    construction. Raises ``local_merge.UnservedOpError`` when a configured
    join or GroupBy uses an op the in-process merge does not serve,
    ``StaleUploadError`` when its upload is stale or unlineaged, and
    ``RuntimeError`` when it has no stream frame."""

    def __init__(
        self,
        spark: SparkSession,
        fetcher: Fetcher,
        batch_end_ds: str,
        joins: dict | None = None,
        group_bys: dict | None = None,
        streams: dict[str, DataFrame] | None = None,
        external_registry=None,
        tiebreak: str | None = None,
        now_ms=None,
    ):
        gbs = [p.group_by for j in (joins or {}).values() for p in j.join_parts]
        gbs += (group_bys or {}).values()
        for gb in gbs:
            check_served(gb)
        self.spark = spark
        self.fetcher = fetcher
        self.batch_end_ds = batch_end_ds
        self.joins = dict(joins or {})
        self.group_bys = dict(group_bys or {})
        self.streams = dict(streams or {})
        self.external_registry = external_registry
        self.tiebreak = tiebreak
        import time as _time

        self._now_ms = now_ms or (lambda: int(_time.time() * 1000))
        # the loads a request would make, made now: no request waits on one
        self._check_streams(gbs)
        for gb in gbs:
            fetcher.load(gb, batch_end_ds, self.streams[gb.name], tiebreak, DAY_MS)
        # one request at a time: a merge is milliseconds of Python under the
        # GIL, so serializing costs little, and an entry added after
        # construction cannot load its store (Spark jobs) twice
        self._lock = threading.Lock()

    # -- request frame construction -------------------------------------

    def _key_types(self, parts) -> dict[str, T.DataType]:
        """Left-key column -> type, read off the parts' IR stores
        (``online.left_key_types``; a conflict is HTTP 500)."""
        return left_key_types(
            [(p.left_keys(), self.fetcher.store(p.group_by, self.batch_end_ds)) for p in parts]
        )

    def _requests_df(self, rows: list[dict], key_types: dict, time_column: str) -> list[dict]:
        """Typed request rows: keys cast to their uploaded types (JSON
        numbers arrive untyped), ``ts`` (epoch millis, default now) as a
        UTC timestamp, like the offline engine's time columns."""
        if not isinstance(rows, list) or not rows or not all(isinstance(r, dict) for r in rows):
            raise ValueError("request body must be a non-empty JSON array of key objects")
        missing = [k for k in key_types if any(k not in r for r in rows)]
        if missing:
            raise ValueError(f"every request object must carry key fields {sorted(key_types)}")
        now = self._now_ms()
        typed = []
        for r in rows:
            row = {}
            for k, t in key_types.items():
                v = r[k]
                if v is not None and isinstance(t, (T.LongType, T.IntegerType, T.ShortType)):
                    v = int(v)
                elif v is not None and isinstance(t, (T.DoubleType, T.FloatType)):
                    v = float(v)
                elif v is not None and isinstance(t, T.StringType):
                    v = str(v)
                row[k] = v
            row[time_column] = ms_timestamp(int(r.get("ts", now)))
            typed.append(row)
        return typed

    # -- fetch paths -----------------------------------------------------

    def _check_streams(self, gbs) -> None:
        missing = [gb.name for gb in gbs if gb.name not in self.streams]
        if missing:
            # server-side configuration gap (lambda's online leg absent), not
            # a client error: surfaces as 500, never 404
            raise RuntimeError(
                f"service has no stream frame for GroupBy(s) {missing}; "
                "pass streams={name: post-batch-end frame} at construction"
            )

    def fetch_join_rows(self, name: str, rows: list[dict]) -> list[dict]:
        if name not in self.joins:
            raise UnknownEntityError(f"unknown join '{name}'; serving: {sorted(self.joins)}")
        join = self.joins[name]
        self._check_streams([p.group_by for p in join.join_parts])
        with self._lock:
            key_types = self._key_types(join.join_parts)
            req = self._requests_df(rows, key_types, join.time_column)
            out = self.fetcher.fetch_join(
                req,
                {p.group_by.name: self.streams[p.group_by.name] for p in join.join_parts},
                join,
                self.batch_end_ds,
                external_registry=self.external_registry,
                tiebreak=self.tiebreak,
            )
        return self._render(out, key_types, join.time_column)

    def fetch_group_by_rows(self, name: str, rows: list[dict]) -> list[dict]:
        if name not in self.group_bys:
            raise UnknownEntityError(
                f"unknown GroupBy '{name}'; serving: {sorted(self.group_bys)}"
            )
        gb = self.group_bys[name]
        self._check_streams([gb])
        with self._lock:
            key_types = self._key_types([JoinPart(group_by=gb)])
            req = self._requests_df(rows, key_types, gb.time_column)
            out = self.fetcher.fetch_features(
                req, self.streams[gb.name], gb, self.batch_end_ds,
                left_time_column=gb.time_column, tiebreak=self.tiebreak,
            )
        return self._render(out, key_types, gb.time_column)

    def _render(self, rows: list[dict], key_types: dict, time_column: str) -> list[dict]:
        results = []
        for row in rows:
            d = dict(row)
            entity = {k: json_safe(d.pop(k)) for k in key_types}
            entity["ts"] = json_safe(d.pop(time_column))
            results.append(
                {
                    "status": "Success",
                    "entityKeys": entity,
                    "features": {k: json_safe(v) for k, v in d.items()},
                }
            )
        return results

    # -- HTTP ------------------------------------------------------------

    def http_server(self, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
        """Build (without starting) the HTTP server; ``server.server_address``
        carries the bound ephemeral port when ``port=0``."""
        svc = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet: metrics carry the signal
                pass

            def _send(self, code: int, payload: dict):
                svc.fetcher.metrics.increment(Context("service"), f"response.{code}")
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path == "/ping":
                    self._send(200, {"status": "ok", "batch_end_ds": svc.batch_end_ds})
                elif self.path == "/v1/metrics":
                    self._send(200, svc.fetcher.metrics.snapshot())
                else:
                    self._send(404, {"error": f"no route {self.path}"})

            def do_POST(self):
                parts = self.path.strip("/").split("/")
                # /v1/features/{join|groupby}/<name>
                if len(parts) != 4 or parts[0] != "v1" or parts[1] != "features":
                    self._send(404, {"error": f"no route {self.path}"})
                    return
                kind, name = parts[2], parts[3]
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    body = json.loads(self.rfile.read(n) or b"null")
                    if isinstance(body, dict) and "requests" in body:
                        body = body["requests"]
                    if kind == "join":
                        results = svc.fetch_join_rows(name, body)
                    elif kind == "groupby":
                        results = svc.fetch_group_by_rows(name, body)
                    else:
                        self._send(404, {"error": f"unknown feature kind '{kind}'"})
                        return
                    self._send(200, {"results": results})
                except (json.JSONDecodeError, ValueError) as e:
                    self._send(400, {"error": str(e)})
                except UnknownEntityError as e:
                    self._send(404, {"error": str(e)})
                except StaleUploadError as e:
                    # the staleness guard is a SERVING failure, not a client
                    # one: 503 + remedy, never silently-wrong features
                    self._send(503, {"error": str(e), "code": e.code})
                except Exception as e:  # noqa: BLE001 — boundary: report, don't die
                    self._send(500, {"error": f"{type(e).__name__}: {e}"})

        return ThreadingHTTPServer((host, port), Handler)

    def serve_forever(self, host: str = "127.0.0.1", port: int = 0, announce=print):
        server = self.http_server(host, port)
        announce(
            json.dumps(
                {
                    "serving": True,
                    "host": server.server_address[0],
                    "port": server.server_address[1],
                    "joins": sorted(self.joins),
                    "group_bys": sorted(self.group_bys),
                    "batch_end_ds": self.batch_end_ds,
                }
            ),
            flush=True,
        )
        try:
            server.serve_forever()
        finally:
            server.server_close()
