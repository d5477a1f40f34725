"""Online-serving support layer: an LRU cache, metrics and a caching Fetcher.

The reference keeps a serving-side support stack the offline engine never
touches: a named bounded LRU cache (LRUCache.scala:19-40), a batch-IR cache
keyed (dataset, keys, batchEndTsMillis) that spares the KV store repeated
decode work (FetcherCache.scala:26-113), and tagged counters/gauges/
distributions (Metrics.scala Context). This module is the Spark-first
analog: the "KV rows" here are the uploaded IR tables (group-by-upload's
collapsed + tail tables). The Fetcher reads and verifies them once per
(GroupBy name, semantic hash, batch_end_ds), collects them into an
in-memory, key-indexed store (``operators/local_merge.IRStore``) and keeps
that store in one bounded LRU; the store is the only serving cache. Every
fetch merges a request's keys against it in Python, the way the reference
fetcher merges KV rows in-process: a fetch runs no Spark job once the store
is loaded. Caches are in-process (one serving JVM/driver), deliberately:
cross-process sharing is the KV store's job, not the cache's.
"""

from __future__ import annotations

import threading
import time
from collections import OrderedDict
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from chronon_spark.operators.groupby import apply_derivations
from chronon_spark.operators.local_merge import (
    IRStore,
    StreamEvents,
    collect_events,
    epoch_ms,
    feature_fields,
    local_frame,
)
from chronon_spark.operators.upload import DAY_MS, StaleUploadError, read_upload_tables


# ---------------------------------------------------------------------------
# bounded LRU cache
# ---------------------------------------------------------------------------


class LRUCache:
    """Named, bounded, thread-safe LRU (reference LRUCache.scala: a named
    Caffeine cache with maximumSize). ``get_or_load`` is the single-flight
    read path; hit/miss counts feed Metrics via the owner."""

    def __init__(self, name: str, maximum_size: int = 10_000):
        if maximum_size < 1:
            raise ValueError(f"maximum_size must be >= 1; got {maximum_size}")
        self.name = name
        self.maximum_size = maximum_size
        self._d: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        self._load_lock = threading.Lock()
        self.hits = 0
        self.misses = 0
        self.evictions = 0

    def get(self, key):
        with self._lock:
            if key in self._d:
                self._d.move_to_end(key)
                self.hits += 1
                return self._d[key]
            self.misses += 1
            return None

    def put(self, key, value) -> None:
        with self._lock:
            self._d[key] = value
            self._d.move_to_end(key)
            while len(self._d) > self.maximum_size:
                self._d.popitem(last=False)
                self.evictions += 1

    def get_or_load(self, key, loader):
        """(value, hit). Single-flight: the load lock is held across the
        miss check and the load, so threads that miss the same key run
        ``loader`` once and share its value. Hits never take the load lock;
        loads (start-up, entries added later) run one at a time."""
        hit = self.get(key)
        if hit is not None:
            return hit, True
        with self._load_lock:
            with self._lock:
                value = self._d.get(key)
            if value is not None:
                return value, True
            value = loader()
            self.put(key, value)
            return value, False

    def __len__(self) -> int:
        with self._lock:
            return len(self._d)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Context:
    """Metric tag context (reference Metrics.scala Context: environment +
    entity tags prefixed onto every stat)."""

    environment: str
    group_by: str | None = None
    join: str | None = None
    extra: tuple = ()

    def tags(self) -> tuple:
        t = [("environment", self.environment)]
        if self.group_by:
            t.append(("group_by", self.group_by))
        if self.join:
            t.append(("join", self.join))
        t.extend(self.extra)
        return tuple(t)


@dataclass
class _Dist:
    n: int = 0
    total: float = 0.0
    min: float = float("inf")
    max: float = float("-inf")


class Metrics:
    """In-process tagged stats registry (reference Metrics.scala emits to
    statsd; offline there is no daemon, so this keeps the same shape —
    increment/count/gauge/distribution under (metric, tags) — and exposes
    ``snapshot()`` for export/assertion)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._counters: dict = {}
        self._gauges: dict = {}
        self._dists: dict[tuple, _Dist] = {}

    def increment(self, ctx: Context, metric: str, value: float = 1.0) -> None:
        k = (metric, ctx.tags())
        with self._lock:
            self._counters[k] = self._counters.get(k, 0) + value

    count = increment

    def increment_exception(self, ctx: Context, exc: BaseException) -> None:
        self.increment(ctx, f"exception.{type(exc).__name__}")

    def gauge(self, ctx: Context, metric: str, value: float) -> None:
        with self._lock:
            self._gauges[(metric, ctx.tags())] = value

    def distribution(self, ctx: Context, metric: str, value: float) -> None:
        k = (metric, ctx.tags())
        with self._lock:
            d = self._dists.setdefault(k, _Dist())
            d.n += 1
            d.total += value
            d.min = min(d.min, value)
            d.max = max(d.max, value)

    def counter(self, ctx: Context, metric: str) -> float:
        return self._counters.get((metric, ctx.tags()), 0)

    def snapshot(self) -> dict:
        def render(d):
            return {f"{m}{dict(t)}": v for (m, t), v in d.items()}

        with self._lock:
            return {
                "counters": render(self._counters),
                "gauges": render(self._gauges),
                "distributions": {
                    f"{m}{dict(t)}": {"n": d.n, "sum": d.total, "min": d.min, "max": d.max}
                    for (m, t), d in self._dists.items()
                },
            }


# ---------------------------------------------------------------------------
# caching fetcher
# ---------------------------------------------------------------------------

#: IR stores a Fetcher keeps, one per (GroupBy definition, batch day)
MAX_STORES = 128


def left_key_types(parts) -> dict[str, T.DataType]:
    """Left-key column -> type, read off each part's IR store (the uploaded
    collapsed IRs are the serving-side source of truth for key types; JSON
    numbers arrive untyped). ``parts``: (left keys, IRStore) pairs. Parts
    that disagree on a left key's type are a serving misconfiguration: a
    ``TypeError`` naming both."""
    seen: dict[str, tuple[T.DataType, str]] = {}
    for lks, store in parts:
        gb = store.gb
        for lk, rk in zip(lks, gb.keys):
            t = store.key_types[rk]
            first_type, first_part = seen.setdefault(lk, (t, gb.name))
            if first_type != t:
                raise TypeError(
                    f"left key '{lk}' is {first_type.simpleString()} in join part "
                    f"'{first_part}' but {t.simpleString()} in join part '{gb.name}'"
                )
    return {lk: t for lk, (t, _part) in seen.items()}


class Fetcher:
    """Serving-session fetch front-end (reference Fetcher + FetcherCache).
    ``store`` reads and verifies a GroupBy's upload tables (contract:
    ``operators/upload.py``) once per (definition, batch day) and collects
    them into a ``local_merge.IRStore``, the one serving cache: an LRU of
    at most ``MAX_STORES`` stores. ``fetch_features``/``fetch_join`` merge a
    request's keys against the stores in-process, so a fetch runs no Spark
    job once its stores and stream events are loaded (``load``);
    ``operators.upload.fetch_join`` stays the distributed (``fetch`` CLI)
    form. Metrics record requests, store hits/misses (``cache.hit``/
    ``cache.miss``), staleness rejections, loads (``fetch.load_ms``) and
    merges (``fetch.merge_ms``)."""

    def __init__(self, spark: SparkSession, upload_root: str, metrics: Metrics | None = None):
        self.spark = spark
        self.upload_root = upload_root
        self.metrics = metrics or Metrics()
        self._cache = LRUCache("ir_store", MAX_STORES)

    def _timed_load(self, gb, load):
        t0 = time.perf_counter()
        out = load()
        ctx = Context("group_by.fetching", group_by=gb.name)
        self.metrics.distribution(ctx, "fetch.load_ms", (time.perf_counter() - t0) * 1000)
        return out

    def _read_store(self, gb, batch_end_ds: str) -> IRStore:
        try:
            frames = read_upload_tables(self.spark, self.upload_root, gb, batch_end_ds)
        except StaleUploadError:
            ctx = Context("group_by.fetching", group_by=gb.name)
            self.metrics.increment(ctx, "fetch.stale_upload")
            raise
        return self._timed_load(gb, lambda: IRStore(gb, batch_end_ds, frames))

    def store(self, gb, batch_end_ds: str) -> IRStore:
        """``gb``'s key-indexed IR store at ``batch_end_ds``, read, verified
        and collected on its first call; a stale or unlineaged upload raises
        ``StaleUploadError`` and is not cached."""
        key = (gb.name, gb.semantic_hash(), batch_end_ds)
        store, was_hit = self._cache.get_or_load(key, lambda: self._read_store(gb, batch_end_ds))
        ctx = Context("group_by.fetching", group_by=gb.name)
        self.metrics.increment(ctx, "cache.hit" if was_hit else "cache.miss")
        return store

    def load(self, gb, batch_end_ds, stream, tiebreak, horizon_ms) -> tuple[IRStore, StreamEvents]:
        """``gb``'s store and ``stream``'s events cut to its horizon, each
        loaded on first use."""
        store = self.store(gb, batch_end_ds)
        key = (id(stream), tiebreak, horizon_ms)
        if key not in store.streams:
            store.streams[key] = (
                stream,
                self._timed_load(gb, lambda: collect_events(store, stream, tiebreak, horizon_ms)),
            )
        return store, store.streams[key][1]

    def _fields(self, store, stream, events, tiebreak, horizon_ms) -> dict[str, T.StructField]:
        if events.fields is None:
            events.fields = feature_fields(self.spark, store, stream, tiebreak, horizon_ms)
        return {f.name: f for f in events.fields}

    def _request_schema(self, rows, parts, tc: str) -> T.StructType:
        """Types of service request rows (keys typed like the uploaded IRs,
        the time column a timestamp) for the typed frames derivations and
        external parts run over; ``parts`` as in ``left_key_types``."""
        fields = {tc: T.StructField(tc, T.TimestampType())}
        for lk, t in left_key_types(parts).items():
            fields[lk] = T.StructField(lk, t)
        return T.StructType([fields[c] for c in (rows[0] if rows else fields)])

    @staticmethod
    def _merged(store, events, rows, cols, tc, horizon_ms) -> list[list]:
        """Feature values per request row, merging each distinct (keys, ts)
        once."""
        qs = [(tuple(r[c] for c in cols), epoch_ms(r[tc])) for r in rows]
        merged = store.merge(events, set(qs), horizon_ms)
        return [merged[q] for q in qs]

    def fetch_features(
        self,
        requests,
        stream: DataFrame,
        gb,
        batch_end_ds: str,
        horizon_ms: int = DAY_MS,
        left_time_column: str = "ts",
        tiebreak: str | None = None,
    ):
        """``operators.upload.fetch_features`` answered from the IR store.
        ``requests`` is a DataFrame (collected; returns a local DataFrame of
        the Spark plan's schema) or a list of row dicts (returns row
        dicts)."""
        ctx = Context("group_by.fetching", group_by=gb.name)
        self.metrics.increment(ctx, "fetch.requests")
        try:
            rows, schema = _collect(requests)
            store, events = self.load(gb, batch_end_ds, stream, tiebreak, horizon_ms)
            t0 = time.perf_counter()
            keys, tc = gb.keys, left_time_column
            names = store.names(horizon_ms)
            vals = self._merged(store, events, rows, keys, tc, horizon_ms)
            # the Spark plan's order: keys, the other request columns, features
            out = [
                {**{k: r[k] for k in keys}, **r, **dict(zip(names, v))}
                for r, v in zip(rows, vals)
            ]
            if schema is not None or gb.derivations:
                left = schema or self._request_schema(rows, [(keys, store)], tc)
                feats = self._fields(store, stream, events, tiebreak, horizon_ms)
                frame = local_frame(self.spark, out, T.StructType(
                    [left[k] for k in keys]
                    + [f for f in left.fields if f.name not in keys]
                    + [feats[n] for n in names]
                ))
                frame = apply_derivations(frame, gb.derivations, keep=left.names)
                out = frame if schema is not None else _dicts(frame)
        except Exception as exc:
            self.metrics.increment_exception(ctx, exc)
            raise
        self.metrics.distribution(ctx, "fetch.merge_ms", (time.perf_counter() - t0) * 1000)
        return out

    def fetch_join(
        self,
        requests,
        streams: dict[str, DataFrame],
        join,
        batch_end_ds: str,
        horizon_ms: int = DAY_MS,
        tiebreak: str | None = None,
        external_registry=None,
    ):
        """``operators.upload.fetch_join`` answered from the IR stores:
        each part merged in-process, then prefixed, key-flipped and joined
        onto the request rows in ``join.assemble_join``'s order. GroupBy or
        join derivations and external parts (with ``external_registry``)
        finish through ``apply_derivations`` and the registry's ``enrich``
        over a local frame of the merged rows. ``requests``: as in
        ``fetch_features``."""
        ctx = Context("join.fetching", join=join.name)
        self.metrics.increment(ctx, "fetch.requests")
        try:
            rows, schema = _collect(requests)
            parts = [
                (p, *self.load(p.group_by, batch_end_ds, streams[p.group_by.name], tiebreak, horizon_ms))
                for p in join.join_parts
            ]
            t0 = time.perf_counter()
            tc = join.time_column
            ext = bool(join.external_parts) and external_registry is not None
            typed = (
                schema is not None or ext or bool(join.derivations)
                or any(p.group_by.derivations for p in join.join_parts)
            )
            if typed and schema is None:
                schema = self._request_schema(
                    rows, [(p.left_keys(), store) for p, store, _ev in parts], tc
                )
            fields = {f.name: f for f in schema.fields} if typed else {}
            order = schema.names if typed else list(rows[0]) if rows else []
            left_cols = list(order)
            out = [dict(r) for r in rows]
            for part, store, events in parts:
                gb, lks = part.group_by, part.left_keys()
                stream = streams[gb.name]
                names = store.names(horizon_ms)
                vals = self._merged(store, events, rows, lks, tc, horizon_ms)
                if typed:
                    feats = self._fields(store, stream, events, tiebreak, horizon_ms)
                    types = [feats[n] for n in names]
                    if gb.derivations:
                        names, types, vals = self._derive(gb, lks, tc, fields, types, rows, vals)
                prefix = part.full_prefix()
                pnames = [f"{prefix}_{n}" for n in names]
                # join.coalesced_join: keys first, then the left columns, then
                # the part's columns; a column on both sides coalesces
                keys = [*lks, tc]
                shared = (set(order) & set(pnames)) - set(keys)
                order = keys + [c for c in order if c not in keys] + [
                    c for c in pnames if c not in shared
                ]
                for r, v in zip(out, vals):
                    for n, x in zip(pnames, v):
                        if n not in shared or r[n] is None:
                            r[n] = x
                if typed:
                    for n, f in zip(pnames, types):
                        fields.setdefault(n, T.StructField(n, f.dataType, True))
            out = [{c: r[c] for c in order} for r in out]
            if typed:
                frame = local_frame(self.spark, out, T.StructType([fields[c] for c in order]))
                if ext:
                    frame = external_registry.enrich(frame, join.external_parts, graceful=True)
                frame = apply_derivations(frame, join.derivations, keep=left_cols)
                out = frame if isinstance(requests, DataFrame) else _dicts(frame)
        except Exception as exc:
            self.metrics.increment_exception(ctx, exc)
            raise
        self.metrics.distribution(ctx, "fetch.merge_ms", (time.perf_counter() - t0) * 1000)
        return out

    def _derive(self, gb, lks, tc, fields, types, rows, vals):
        """A part's GroupBy derivations over a local frame of its query rows
        (GroupBy keys, time, features), as ``fetch_features`` applies them;
        returns the derived (names, fields, values)."""
        keys = gb.keys
        part_rows = [
            {**{rk: r[lk] for lk, rk in zip(lks, keys)}, tc: r[tc],
             **{f.name: x for f, x in zip(types, v)}}
            for r, v in zip(rows, vals)
        ]
        schema = T.StructType(
            [T.StructField(rk, fields[lk].dataType) for lk, rk in zip(lks, keys)]
            + [fields[tc], *types]
        )
        frame = apply_derivations(
            local_frame(self.spark, part_rows, schema), gb.derivations, keep=[*keys, tc]
        )
        derived = [f for f in frame.schema.fields if f.name not in (*keys, tc)]
        got = [[r[f.name] for f in derived] for r in frame.collect()]
        return [f.name for f in derived], derived, got


def _collect(requests) -> tuple[list[dict], T.StructType | None]:
    """(row dicts, schema): a DataFrame is collected; row dicts pass
    through with no schema."""
    if isinstance(requests, DataFrame):
        return [r.asDict(recursive=False) for r in requests.collect()], requests.schema
    return requests, None


def _dicts(frame: DataFrame) -> list[dict]:
    return [r.asDict(recursive=False) for r in frame.collect()]


# ---------------------------------------------------------------------------
# external source registry (fetch-time feature services)
# ---------------------------------------------------------------------------


class ExternalSourceHandler:
    """Fetch-time feature service (reference ExternalSourceHandler /
    ExternalSourceRegistry.scala:29-50). The reference hands a handler a
    batch of row requests; the Spark-first analog hands it ONE DataFrame of
    distinct key rows (columns = the source's key fields) and expects back a
    DataFrame carrying those key columns plus the source's value fields —
    the request "batch" is the frame, so a handler backed by a table, a dim
    join, or an mapInPandas RPC adapter all stay distributed."""

    def fetch(self, spark: SparkSession, keys: DataFrame) -> DataFrame:
        raise NotImplementedError


class _ContextualHandler(ExternalSourceHandler):
    """Echoes request keys back as values (reference ContextualHandler,
    ExternalSourceRegistry.scala:30-36): left request columns pass through
    as features."""

    def fetch(self, spark: SparkSession, keys: DataFrame) -> DataFrame:
        return keys


class ExternalSourceRegistry:
    """Named handler registry consulted at fetch time for a Join's
    external_parts (reference ExternalSourceRegistry.scala). Implements the
    validation the reference leaves as a TODO (keys match, missing/extra
    value fields, schema integrity): a handler frame missing a declared key
    or value field raises; extra columns are dropped; declared value types
    are enforced with casts. Requests whose keys the handler returned no row
    for carry typed-null values — exactly the offline padding contract
    (operators/bootstrap.pad_external_parts), so online and backfilled
    feature frames stay schema- and semantics-aligned."""

    def __init__(self, metrics: Metrics | None = None):
        from chronon_spark.api import CONTEXTUAL_SOURCE_NAME

        self.metrics = metrics or Metrics()
        self._handlers: dict[str, ExternalSourceHandler] = {
            CONTEXTUAL_SOURCE_NAME: _ContextualHandler()
        }

    def add(self, name: str, handler: ExternalSourceHandler) -> None:
        if name in self._handlers:
            raise ValueError(
                f"a handler named '{name}' already exists; registered: "
                f"[{', '.join(sorted(self._handlers))}]"
            )
        self._handlers[name] = handler

    def handler(self, name: str) -> ExternalSourceHandler:
        if name not in self._handlers:
            raise ValueError(
                f"'{name}' is not registered among handlers: "
                f"[{', '.join(sorted(self._handlers))}]"
            )
        return self._handlers[name]

    def _fetch_source(
        self,
        requests: DataFrame,
        part,
        source_cache: dict | None,
        eager: bool,
        ctx: "Context",
    ) -> DataFrame:
        """One batched handler fetch per (source, key_mapping) — parts
        attaching the same source under several prefixes share ONE handler
        call (the reference registry groups requests by source name the same
        way). Returns the validated/cast frame: key fields + ``__val_{n}``
        value columns. With ``eager`` the frame is persisted and counted so
        an execution-time handler failure (RPC down at action time) raises
        HERE, where graceful mode can catch it per part."""
        from pyspark.sql import functions as F

        src = part.source
        key_fields = [n for n, _ in src.key_schema]
        left_for = {v: k for k, v in part.key_mapping.items()}  # key -> left
        cache_key = (src.name, tuple(sorted(part.key_mapping.items())))
        if source_cache is not None and cache_key in source_cache:
            return source_cache[cache_key]

        keys = requests.select(
            *[F.col(left_for.get(k, k)).alias(k) for k in key_fields]
        ).distinct()
        t0 = time.time()
        fetched = self.handler(src.name).fetch(requests.sparkSession, keys)
        absent = [
            n for n, _ in [*src.key_schema, *src.value_schema]
            if n not in fetched.columns
        ]
        if absent:
            # failure accounting happens in enrich() (graceful mode) so this
            # raise isn't double-counted
            raise ValueError(
                f"handler '{src.name}' returned a frame missing declared "
                f"fields {absent}; declared keys {key_fields}, values "
                f"{[n for n, _ in src.value_schema]}, got {fetched.columns}"
            )
        # extra columns dropped; declared value types enforced; one row per
        # key (a handler returning duplicates would fan requests out)
        fetched = fetched.select(
            *[F.col(n).cast(t).alias(n) for n, t in src.key_schema],
            *[F.col(n).cast(t).alias(f"__val_{n}") for n, t in src.value_schema],
        ).dropDuplicates(key_fields)
        if eager:
            # force the handler plan now: a lazily-failing handler (RPC
            # adapter dead at action time) must fail inside this part, not
            # at the caller's final action after every part merged
            fetched = fetched.persist()
            try:
                fetched.count()
            except Exception:
                fetched.unpersist(blocking=False)
                raise
            from chronon_spark.plans import cache as _plan_cache

            _plan_cache.register(fetched)
            # honest latency: measured across the executed fetch
            self.metrics.distribution(
                ctx, "response.latency", (time.time() - t0) * 1000
            )
        if source_cache is not None:
            source_cache[cache_key] = fetched
        return fetched

    def _fetch_part(
        self,
        requests: DataFrame,
        part,
        source_cache: dict | None = None,
        eager: bool = False,
    ) -> DataFrame:
        from pyspark.sql import functions as F

        ctx = Context(
            "external.fetching", extra=(("external_source", part.full_name()),)
        )
        t0 = time.time()
        src = part.source
        full = part.full_name()

        if src.is_contextual:
            # contextual: left request columns become ext[_prefix]_contextual_
            # twins (Join.scala:104-120 naming via key_schema_full)
            out = requests
            for left_name, typ in part.key_schema_full():
                out = out.withColumn(
                    f"{full}_{left_name}", F.col(left_name).cast(typ)
                )
            self.metrics.increment(ctx, "response.successes")
            return out

        # left request columns -> source key fields (key_mapping: left -> key)
        key_fields = [n for n, _ in src.key_schema]
        left_for = {v: k for k, v in part.key_mapping.items()}  # key -> left
        missing_left = [
            left_for.get(k, k) for k in key_fields
            if left_for.get(k, k) not in requests.columns
        ]
        if missing_left:
            raise ValueError(
                f"external part '{full}': request frame lacks key columns "
                f"{missing_left} (have {requests.columns})"
            )
        fetched = self._fetch_source(requests, part, source_cache, eager, ctx)
        part_vals = fetched.select(
            *key_fields,
            *[
                F.col(f"__val_{n}").alias(f"{full}_{n}")
                for n, _ in src.value_schema
            ],
        )

        join_cond = [
            F.col(f"__req.{left_for.get(k, k)}").eqNullSafe(F.col(f"__ext.{k}"))
            for k in key_fields
        ]
        # no broadcast hint: point-serving key sets auto-broadcast under the
        # AQE threshold, while a 10^9-row batch-scoring request frame must be
        # allowed to shuffle-join
        out = (
            requests.alias("__req")
            .join(part_vals.alias("__ext"), on=join_cond, how="left")
            .drop(*[F.col(f"__ext.{k}") for k in key_fields])
        )
        self.metrics.increment(ctx, "response.successes")
        # plan-assembly cost only; executed-fetch latency is recorded in
        # _fetch_source when eager forces the handler plan
        self.metrics.distribution(ctx, "response.plan_ms", (time.time() - t0) * 1000)
        return out

    def enrich(
        self, requests: DataFrame, parts: list, graceful: bool = False
    ) -> DataFrame:
        """Apply every external part to a request/feature frame — one
        batched handler call per (source, key_mapping): parts re-attaching
        the same source under different prefixes share a single fetch (the
        reference registry groups requests by source name the same way).

        ``graceful=True`` is the reference's serving behavior
        (ExternalSourcesTest: an always-failing source yields an
        ``ext_{name}_exception`` value while every other part still
        enriches); it also EXECUTES each source's handler plan eagerly
        (persist + count, released via plans.cache) so a handler that only
        fails at action time still degrades to its exception column instead
        of killing the caller's final action. False fails fast and stays
        fully lazy — the right default for pipeline code, where a
        misconfigured part should stop the job."""
        from pyspark.sql import functions as F

        names = [p.full_name() for p in parts]
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            raise ValueError(
                f"external parts produce colliding column namespaces "
                f"{dupes}; attach the same source twice only with distinct "
                f"prefixes"
            )
        source_cache: dict = {}
        out = requests
        for part in parts:
            try:
                out = self._fetch_part(
                    out, part, source_cache=source_cache, eager=graceful
                )
            except Exception as exc:
                if not graceful:
                    raise
                full = part.full_name()
                ctx = Context(
                    "external.fetching", extra=(("external_source", full),)
                )
                self.metrics.increment(ctx, "response.failures")
                self.metrics.increment_exception(ctx, exc)
                out = out.withColumn(f"{full}_exception", F.lit(str(exc)))
        return out
