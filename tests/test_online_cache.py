"""Online-serving support layer: the LRU cache, tagged metrics, and the
Fetcher's IR-store cache (reference LRUCache.scala, FetcherCache.scala,
Metrics.scala). The behavioral bar: a second fetch of the same
(definition, batch day) must NOT re-read or re-verify the upload tables,
values stay identical to the uncached path, and a stale definition is
rejected before any lambda merge."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from chronon_spark.api import Aggregation, GroupBy, Op, TimeUnit, Window
from chronon_spark import online
from chronon_spark.online import (
    Context,
    Fetcher,
    LRUCache,
    Metrics,
    StaleUploadError,
)

W7D = Window(7, TimeUnit.DAYS)
W1D = Window(1, TimeUnit.DAYS)


# ---------------------------------------------------------------------------
# generic caches
# ---------------------------------------------------------------------------


def test_lru_cache_eviction_and_stats():
    c = LRUCache("t", maximum_size=2)
    c.put("a", 1)
    c.put("b", 2)
    assert c.get("a") == 1  # refreshes 'a'
    c.put("c", 3)  # evicts 'b' (LRU), not 'a'
    assert len(c) == 2
    assert c.get("b") is None and c.get("a") == 1 and c.get("c") == 3
    assert (c.hits, c.misses, c.evictions) == (3, 1, 1)
    v, hit = c.get_or_load("d", lambda: 4)
    assert (v, hit) == (4, False)
    v, hit = c.get_or_load("d", lambda: 99)
    assert (v, hit) == (4, True)
    with pytest.raises(ValueError):
        LRUCache("bad", maximum_size=0)


@pytest.mark.parametrize("n_threads", [2, 16])
def test_lru_cache_get_or_load_is_single_flight(n_threads):
    c = LRUCache("t")
    calls = []

    def loader():
        calls.append(1)
        time.sleep(0.2)
        return object()

    got = [None] * n_threads

    def fetch(i):
        got[i] = c.get_or_load("k", loader)[0]

    threads = [threading.Thread(target=fetch, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    assert len(calls) == 1
    assert got[0] is not None and all(g is got[0] for g in got)


def test_metrics_tagged_counters_and_distributions():
    m = Metrics()
    ctx_a = Context("group_by.fetching", group_by="a")
    ctx_b = Context("group_by.fetching", group_by="b")
    m.increment(ctx_a, "fetch.requests")
    m.increment(ctx_a, "fetch.requests")
    m.increment(ctx_b, "fetch.requests")
    m.gauge(ctx_a, "rows", 42)
    for v in (5.0, 1.0, 9.0):
        m.distribution(ctx_a, "latency_ms", v)
    m.increment_exception(ctx_a, ValueError("x"))
    assert m.counter(ctx_a, "fetch.requests") == 2
    assert m.counter(ctx_b, "fetch.requests") == 1  # tags separate series
    assert m.counter(ctx_a, "exception.ValueError") == 1
    snap = m.snapshot()
    d = snap["distributions"]["latency_ms{'environment': 'group_by.fetching', 'group_by': 'a'}"]
    assert d == {"n": 3, "sum": 15.0, "min": 1.0, "max": 9.0}
    assert snap["gauges"]["rows{'environment': 'group_by.fetching', 'group_by': 'a'}"] == 42


# ---------------------------------------------------------------------------
# caching fetcher over real upload tables
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def upload_env(spark, events, tmp_path_factory):
    """group-by-upload-shaped tables (IR frames + lineage hash) under a
    tmp upload root, plus the batch/stream/request split."""
    from chronon_spark.operators.upload import upload_batch_irs, write_upload_tables

    root = str(tmp_path_factory.mktemp("uploads"))
    d = F.date_format("ts", "yyyy-MM-dd")
    days = sorted(
        r["d"] for r in events.select(d.alias("d")).distinct().collect()
    )
    batch_end_ds, serve_day = days[7], days[8]
    batch = events.where(d <= batch_end_ds)
    stream = events.where(d == serve_day)
    requests = (
        events.where((d == serve_day) & (F.col("event_type") == "purchase"))
        .select("user_id", "ts")
        .distinct()
    )
    gb = GroupBy(
        name="cache_gb",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.COUNT, "value", windows=(W7D,)),
            Aggregation(Op.SUM, "value", windows=(W1D,)),
        ],
    )
    frames = upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
    write_upload_tables(spark, root, gb, batch_end_ds, frames)
    return root, gb, batch_end_ds, stream, requests


def _count_reads(monkeypatch) -> list:
    """Patch the Fetcher's upload-table reader to log each GroupBy it reads."""
    reads = []
    real = online.read_upload_tables

    def read(spark, root, gb, batch_end_ds):
        reads.append(gb.name)
        return real(spark, root, gb, batch_end_ds)

    monkeypatch.setattr(online, "read_upload_tables", read)
    return reads


def test_fetcher_caches_verified_batch_irs(spark, events, upload_env, monkeypatch):
    root, gb, batch_end_ds, stream, requests = upload_env
    f = Fetcher(spark, root)
    ctx = Context("group_by.fetching", group_by=gb.name)
    reads = _count_reads(monkeypatch)

    out1 = f.fetch_features(requests, stream, gb, batch_end_ds, tiebreak="event_id")
    assert f.metrics.counter(ctx, "cache.miss") == 1
    out2 = f.fetch_features(requests, stream, gb, batch_end_ds, tiebreak="event_id")
    assert f.metrics.counter(ctx, "cache.hit") == 1
    assert f.metrics.counter(ctx, "fetch.requests") == 2
    # the second fetch answers from the cached store: no table re-read
    assert reads == [gb.name]

    # values: cached == uncached == offline engine over the unified log
    from chronon_spark.operators.groupby import temporal_events

    want = temporal_events(requests, events, gb, tiebreak="event_id")
    cols = ["user_id", "ts", *gb.output_columns()]

    def rows(df):
        # round floats: double SUM merge order varies run-to-run at ulp
        # level (the earlier sorted(str(...)) compared the CHARACTER
        # multiset of the stringified list and flaked on exactly that)
        return sorted(
            tuple(round(x, 6) if isinstance(x, float) else x for x in r)
            for r in df.select(*cols).collect()
        )

    assert rows(out1) == rows(out2) == rows(want)


def test_fetcher_rejects_stale_definition(spark, upload_env):
    root, gb, batch_end_ds, stream, requests = upload_env
    changed = GroupBy(
        name=gb.name,
        keys=gb.keys,
        aggregations=[Aggregation(Op.COUNT, "value", windows=(W1D,))],  # edited
    )
    f = Fetcher(spark, root)
    with pytest.raises(StaleUploadError, match="re-run group-by-upload"):
        f.fetch_features(requests, stream, changed, batch_end_ds)
    ctx = Context("group_by.fetching", group_by=gb.name)
    assert f.metrics.counter(ctx, "fetch.stale_upload") == 1
    assert f.metrics.counter(ctx, "exception.StaleUploadError") == 1
    # the failure is NOT cached as a frame: a fixed definition loads fine
    out = f.fetch_features(requests, stream, gb, batch_end_ds, tiebreak="event_id")
    assert out.count() == requests.count()


def test_store_rejects_selection_groupby(spark, upload_env):
    """A selection GroupBy (no aggregations) has no upload tables: the
    reader says so instead of reporting a missing upload lineage."""
    root, _gb, batch_end_ds, *_ = upload_env
    sel = GroupBy(name="users", keys=["user_id"], aggregations=None)
    with pytest.raises(ValueError, match="selection part 'users'"):
        Fetcher(spark, root).store(sel, batch_end_ds)


def test_fetcher_evicts_least_recent_store(spark, events, upload_env, monkeypatch):
    """The Fetcher keeps at most ``MAX_STORES`` IR stores: a store past the
    bound evicts the least recently used one, which then reloads."""
    from chronon_spark.operators.upload import upload_batch_irs, write_upload_tables

    root, gb, batch_end_ds, *_ = upload_env
    other = GroupBy(
        name="cache_gb_other", keys=gb.keys,
        aggregations=[Aggregation(Op.COUNT, "value", windows=(W1D,))],
    )
    batch = events.where(F.date_format("ts", "yyyy-MM-dd") <= batch_end_ds)
    write_upload_tables(spark, root, other, batch_end_ds, upload_batch_irs(batch, other, batch_end_ds))
    monkeypatch.setattr(online, "MAX_STORES", 1)
    f = Fetcher(spark, root)
    reads = _count_reads(monkeypatch)
    first = f.store(gb, batch_end_ds)
    assert f.store(gb, batch_end_ds) is first  # a hit: no re-read
    f.store(other, batch_end_ds)  # evicts gb's store
    assert f.store(gb, batch_end_ds) is not first
    assert reads == [gb.name, other.name, gb.name]
    ctx = Context("group_by.fetching", group_by=gb.name)
    assert (f.metrics.counter(ctx, "cache.hit"), f.metrics.counter(ctx, "cache.miss")) == (1, 2)


def test_fetch_join_merges_external_parts(spark, upload_env):
    """Fetcher.fetch_join with an external_registry = batch/stream lambda
    features UNCHANGED + handler values merged under ext_ names, nulls for
    unmatched keys (reference Fetcher.fetchJoin combining fetchGroupBys with
    fetchExternal)."""
    from chronon_spark.api import ExternalPart, ExternalSource, Join, JoinPart
    from chronon_spark.online import ExternalSourceHandler, ExternalSourceRegistry

    root, gb, batch_end_ds, stream, requests = upload_env
    src = ExternalSource(
        name="risk",
        key_schema=(("user_id", "bigint"),),
        value_schema=(("score", "double"),),
    )
    join = Join(
        name="j_ext",
        left_keys=["user_id"],
        join_parts=[JoinPart(group_by=gb)],
        external_parts=[ExternalPart(source=src)],
    )

    class Half(ExternalSourceHandler):
        def fetch(self, _spark, keys):
            # serve only even user_ids so odd ones exercise null padding
            return keys.where(F.col("user_id") % 2 == 0).withColumn(
                "score", F.col("user_id") * 0.5
            )

    reg = ExternalSourceRegistry()
    reg.add("risk", Half())
    f = Fetcher(spark, root)
    plain = f.fetch_join(
        requests, {gb.name: stream}, join, batch_end_ds, tiebreak="event_id"
    )
    merged = f.fetch_join(
        requests, {gb.name: stream}, join, batch_end_ds,
        external_registry=reg, tiebreak="event_id",
    )
    assert set(merged.columns) == set(plain.columns) | {"ext_risk_score"}
    base_cols = sorted(plain.columns)
    assert sorted(str(r) for r in merged.select(*base_cols).collect()) == sorted(
        str(r) for r in plain.select(*base_cols).collect()
    )
    for r in merged.select("user_id", "ext_risk_score").collect():
        want = r["user_id"] * 0.5 if r["user_id"] % 2 == 0 else None
        assert r["ext_risk_score"] == want


def test_fetch_join_rejects_conflicting_left_key_types(spark, events, upload_env):
    """Two join parts whose uploads type ``user_id`` differently: the typed
    request rows a join derivation runs over raise ``TypeError`` naming
    both parts instead of taking the first part's type."""
    import datetime as dt

    from chronon_spark.api import Join, JoinPart
    from chronon_spark.operators.upload import upload_batch_irs, write_upload_tables

    root, gb, batch_end_ds, stream, _requests = upload_env
    by_str = GroupBy(
        name="cache_gb_str", keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(W1D,))],
    )
    as_str = F.col("user_id").cast("string").alias("user_id")
    batch = events.where(F.date_format("ts", "yyyy-MM-dd") <= batch_end_ds)
    batch = batch.select(as_str, *[c for c in batch.columns if c != "user_id"])
    write_upload_tables(spark, root, by_str, batch_end_ds, upload_batch_irs(batch, by_str, batch_end_ds))
    join = Join(
        name="j_conflict", left_keys=["user_id"],
        join_parts=[JoinPart(group_by=gb), JoinPart(group_by=by_str)],
        derivations={"*": "*", "n": "cache_gb_str_value_count_1d + 1"},
    )
    streams = {gb.name: stream, by_str.name: stream.select(as_str, *[c for c in stream.columns if c != "user_id"])}
    rows = [{"user_id": 1, "ts": dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc)}]
    with pytest.raises(TypeError, match="'user_id' is bigint in join part 'cache_gb' but string in join part 'cache_gb_str'"):
        Fetcher(spark, root).fetch_join(rows, streams, join, batch_end_ds)
