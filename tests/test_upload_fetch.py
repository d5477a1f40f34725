"""Batch IR upload + lambda fetch: the serving-path invariant.

fetch_features(collapsed + tail tiles + streaming day) must be
VALUE-IDENTICAL to temporal_events over the unified log — the reference's
lambda guarantee (GroupByUpload + SawtoothOnlineAggregator.lambdaAggregateIr
+ FetcherBase), checked differentially."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chronon_spark.api import Aggregation, GroupBy, Op, TimeUnit, Window
from chronon_spark.operators.groupby import temporal_events
from chronon_spark.operators.upload import (
    fetch_features,
    kv_event_rows,
    upload_batch_irs,
)

W7D = Window(7, TimeUnit.DAYS)
W1D = Window(1, TimeUnit.DAYS)
W6H = Window(6, TimeUnit.HOURS)


@pytest.fixture(scope="module")
def split(spark, events):
    """(batch_events, stream_events, requests, batch_end_ds): stream day =
    the 9th distinct day, so 7d windows reach across the boundary."""
    days = [
        r["d"]
        for r in events.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct()
        .orderBy("d")
        .collect()
    ]
    assert len(days) >= 9
    serve_day = days[8]
    batch_end_ds = days[7]
    d = F.date_format("ts", "yyyy-MM-dd")
    batch = events.where(d <= batch_end_ds)
    stream = events.where(d == serve_day)
    requests = (
        events.where((d == serve_day) & (F.col("event_type") == "purchase"))
        .select("user_id", "ts")
        .distinct()
    )
    return batch, stream, requests, batch_end_ds


GB = GroupBy(
    name="serve",
    keys=["user_id"],
    aggregations=[
        Aggregation(Op.COUNT, "value", windows=(W7D, W1D)),
        Aggregation(Op.SUM, "value", windows=(W6H,)),
        Aggregation(Op.AVERAGE, "value"),  # lifetime: collapsed-only
        Aggregation(Op.LAST_K, "event_type", k=3, windows=(W1D,)),
        Aggregation(Op.UNIQUE_COUNT, "event_type", windows=(W7D,)),
    ],
)


def _rows(df, cols):
    def c(v):
        if isinstance(v, float):
            return round(v, 9)
        if isinstance(v, list):
            return tuple(v)
        return v

    return sorted([tuple(c(r[x]) for x in cols) for r in df.collect()], key=repr)


def test_fetch_equals_full_log_temporal(spark, events, split):
    batch, stream, requests, batch_end_ds = split
    collapsed, tiles = upload_batch_irs(batch, GB, batch_end_ds, tiebreak="event_id")
    got = fetch_features(
        requests, collapsed, tiles, stream, GB, batch_end_ds, tiebreak="event_id"
    )
    want = temporal_events(requests, events, GB, tiebreak="event_id")
    cols = ["user_id", "ts", *GB.output_columns()]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() == requests.count()


def test_boundary_request_at_batch_end(spark, events, split):
    """A request exactly AT the batch boundary midnight sees only batch data
    (strict <) — the collapsed/tile split must not double- or drop-count."""
    batch, stream, _requests, batch_end_ds = split
    import datetime as dt

    midnight = dt.datetime.strptime(batch_end_ds, "%Y-%m-%d") + dt.timedelta(days=1)
    keys = batch.select("user_id").distinct().limit(5)
    requests = keys.withColumn("ts", F.lit(midnight).cast("timestamp"))
    collapsed, tiles = upload_batch_irs(batch, GB, batch_end_ds, tiebreak="event_id")
    got = fetch_features(
        requests, collapsed, tiles, stream, GB, batch_end_ds, tiebreak="event_id"
    )
    want = temporal_events(requests, events, GB, tiebreak="event_id")
    cols = ["user_id", "ts", *GB.output_columns()]
    assert _rows(got, cols) == _rows(want, cols)


def test_upload_ir_shapes_are_bounded(spark, split):
    """Normalized IR contract: one collapsed row per key; tail tiles only in
    each resolution's ambiguous band (size <= (w + horizon)/h per key)."""
    batch, _stream, _requests, batch_end_ds = split
    collapsed, tiles = upload_batch_irs(batch, GB, batch_end_ds, tiebreak="event_id")
    per_key = collapsed.groupBy("user_id").count().agg(F.max("count")).first()[0]
    assert per_key == 1
    from chronon_spark.operators.upload import _batch_end_ms

    end = _batch_end_ms(batch_end_ds)
    bands = tiles.groupBy("__res_ms").agg(
        F.min("__tile_ms").alias("lo"), F.max("__tile_ms").alias("hi")
    )
    for r in bands.collect():
        h = r["__res_ms"]
        assert r["lo"] >= end - 7 * 86_400_000
        assert r["hi"] < end  # tiles never cross the batch end
        # per-key tile count within the band is bounded by band/h
        n = (
            tiles.where(F.col("__res_ms") == h)
            .groupBy("user_id")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        assert n <= (7 * 86_400_000 + 86_400_000) // h + 2


def test_kv_event_rows_round_trip(spark, events):
    gb = GroupBy(
        name="kv", keys=["user_id"],
        aggregations=[Aggregation(Op.SUM, "value", windows=(W1D,))],
    )
    rows = kv_event_rows(events.limit(100), gb, tiebreak="event_id")
    assert rows.columns == ["key_json", "ts_ms", "payload_json"]
    decoded = rows.select(
        F.get_json_object("key_json", "$.user_id").cast("long").alias("user_id"),
        F.col("ts_ms"),
        F.get_json_object("payload_json", "$.value").cast("double").alias("value"),
    )
    src = events.limit(100).select(
        "user_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"), "value"
    )
    assert sorted(map(repr, decoded.collect())) == sorted(map(repr, src.collect()))


def test_fetch_join_equals_compute_join(spark, events, split):
    """fetch_join (per-part lambda fetch + prefix + coalesce) must equal
    compute_join over each part's unified batch+stream log — the online/
    offline twin invariant at the JOIN level (FetcherBase.fetchJoin)."""
    from chronon_spark.api import Join, JoinPart
    from chronon_spark.operators.join import compute_join
    from chronon_spark.operators.upload import fetch_join

    batch, stream, requests, batch_end_ds = split
    left = requests.withColumn("etype", F.lit("click"))
    gb_user = GroupBy(
        name="user_stats",
        keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(W7D,))],
    )
    gb_type = GroupBy(
        name="type_stats",
        keys=["event_type"],
        aggregations=[Aggregation(Op.SUM, "value", windows=(W1D,))],
    )
    j = Join(
        name="serve_join",
        left_keys=["user_id", "etype"],
        join_parts=[
            JoinPart(group_by=gb_user),
            JoinPart(group_by=gb_type, key_mapping={"etype": "event_type"}, prefix="ctx"),
        ],
    )
    batch_irs = {
        gb.name: upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
        for gb in (gb_user, gb_type)
    }
    got = fetch_join(
        left,
        batch_irs,
        {"user_stats": stream, "type_stats": stream},
        j,
        batch_end_ds,
        tiebreak="event_id",
    )
    want = compute_join(
        left, {"user_stats": events, "type_stats": events}, j, tiebreak="event_id"
    )
    cols = [
        "user_id", "etype", "ts",
        "user_stats_value_count_7d", "ctx_type_stats_value_sum_1d",
    ]
    assert _rows(got.select(*cols), cols) == _rows(want.select(*cols), cols)
    assert got.count() == left.count()


def test_fetch_join_applies_join_derivations(spark, events, split, tmp_path):
    """Join-level derivations run last online too: fetch_join and the
    caching Fetcher.fetch_join equal compute_join over the unified log in
    both columns and values."""
    from chronon_spark.api import Join, JoinPart
    from chronon_spark.online import Fetcher
    from chronon_spark.operators.join import compute_join
    from chronon_spark.operators.upload import fetch_join, write_upload_tables

    batch, stream, requests, batch_end_ds = split
    gb = GroupBy(
        name="user_stats",
        keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(W7D,))],
    )
    j = Join(
        name="derived_join",
        left_keys=["user_id"],
        join_parts=[JoinPart(group_by=gb)],
        derivations={"cnt_x2": "user_stats_value_count_7d * 2"},
    )
    frames = upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
    write_upload_tables(spark, str(tmp_path), gb, batch_end_ds, frames)
    want = compute_join(requests, {gb.name: events}, j, tiebreak="event_id")
    got = fetch_join(
        requests, {gb.name: frames}, {gb.name: stream}, j, batch_end_ds, tiebreak="event_id"
    )
    served = Fetcher(spark, str(tmp_path)).fetch_join(
        requests, {gb.name: stream}, j, batch_end_ds, tiebreak="event_id"
    )
    assert want.columns == ["user_id", "ts", "cnt_x2"]
    for out in (got, served):
        assert out.columns == want.columns
        assert _rows(out, want.columns) == _rows(want, want.columns)


def test_fetch_join_serves_selection_parts(spark, events, split):
    """A no-aggregation (selection) part in a served join reads the latest
    uploaded entity snapshot's fields (reference FetcherBase entity
    GroupBys). With requests one day after the uploaded snapshot's ds, the
    online serve equals the offline previous-day join exactly."""
    from chronon_spark.api import Join, JoinPart
    from chronon_spark.operators.join import compute_join
    from chronon_spark.operators.upload import fetch_join

    batch, stream, requests, batch_end_ds = split
    snap = (
        events.select("user_id").distinct()
        .withColumn("tier", F.concat(F.lit("t"), (F.col("user_id") % 3).cast("string")))
        .withColumn("ds", F.lit(batch_end_ds))
    )
    gb_user = GroupBy(
        name="user_stats",
        keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(W7D,))],
    )
    gb_sel = GroupBy(name="users", keys=["user_id"], aggregations=None)
    j = Join(
        name="serve_sel",
        left_keys=["user_id"],
        join_parts=[JoinPart(group_by=gb_user), JoinPart(group_by=gb_sel)],
    )
    got = fetch_join(
        requests,
        {
            "user_stats": upload_batch_irs(batch, gb_user, batch_end_ds, tiebreak="event_id"),
            "users": snap,
        },
        {"user_stats": stream},
        j,
        batch_end_ds,
        tiebreak="event_id",
    )
    want = compute_join(
        requests, {"user_stats": events, "users": snap}, j, tiebreak="event_id"
    )
    cols = ["user_id", "ts", "user_stats_value_count_7d", "users_tier"]
    assert _rows(got.select(*cols), cols) == _rows(want.select(*cols), cols)
    assert got.where(F.col("users_tier").isNull()).count() == 0


def test_fetch_join_selection_uses_latest_snapshot_partition(spark, events, split):
    """A multi-day snapshot table must reduce to the latest partition at or
    before batch end — no per-partition row duplication, latest value wins."""
    from chronon_spark.api import Join, JoinPart
    from chronon_spark.operators.upload import fetch_join

    batch, stream, requests, batch_end_ds = split
    users = events.select("user_id").distinct()
    snap = (
        users.withColumn("tier", F.lit("old")).withColumn("ds", F.lit("2024-01-02"))
        .unionByName(
            users.withColumn("tier", F.lit("new")).withColumn("ds", F.lit(batch_end_ds))
        )
        .unionByName(  # future partition must be ignored
            users.withColumn("tier", F.lit("future")).withColumn("ds", F.lit("2099-01-01"))
        )
    )
    gb_sel = GroupBy(name="users", keys=["user_id"], aggregations=None)
    j = Join(name="latest_sel", left_keys=["user_id"],
             join_parts=[JoinPart(group_by=gb_sel)])
    got = fetch_join(requests, {"users": snap}, {}, j, batch_end_ds)
    assert got.count() == requests.count()  # no duplication
    tiers = {r["users_tier"] for r in got.collect()}
    assert tiers == {"new"}


def test_upload_rejects_unaligned_windows(spark, events, split):
    """The serving tail-band math assumes hop-aligned windows; the offline
    router falls back to exact for those, but serving has no fallback — it
    must reject instead of silently under-counting the tail band."""
    batch, _stream, _requests, batch_end_ds = split
    gb = GroupBy(
        name="bad",
        keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value",
                                  windows=(Window(7, TimeUnit.MINUTES),))],
    )
    with pytest.raises(ValueError, match="hop-aligned"):
        upload_batch_irs(batch, gb, batch_end_ds)
    gb_ok = GroupBy(
        name="ok",
        keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(W1D,))],
    )
    with pytest.raises(ValueError, match="horizon"):
        upload_batch_irs(batch, gb_ok, batch_end_ds, horizon_ms=7 * 60_000)


@pytest.mark.parametrize("seed", [3, 77])
def test_random_config_fetch_equals_full_log(spark, seed):
    """Randomized serving sweep: random hop-mergeable GroupBys over a bursty
    synthetic stream (duplicate timestamps, nulls, hop-boundary clusters) —
    upload + lambda fetch must equal temporal_events over the unified log
    for every configuration, including requests exactly at tile boundaries."""
    import random

    from test_random_differential import (
        SWEEP_OPS,
        WINDOW_POOL,
        _assert_rows_close,
        _freeze,
        _random_events,
    )

    rng = random.Random(seed)
    ev = _random_events(spark, rng).cache()
    # upload-legal random GroupBy: scalar hop-mergeable ops, hop-aligned
    # windows (the WINDOW_POOL is hop-aligned by construction)
    aggs = []
    for op, needs_k, col in rng.sample(SWEEP_OPS, k=rng.randint(3, 5)):
        wins = rng.sample([w for w in WINDOW_POOL if w is not None], k=rng.randint(1, 2))
        if rng.random() < 0.25:
            wins = None  # lifetime: collapsed-only slot
        aggs.append(
            Aggregation(
                op, col,
                windows=tuple(wins) if wins else None,
                k=rng.randint(2, 4) if needs_k else None,
            )
        )
    if rng.random() < 0.7:
        # MG histogram slot at a LOSSLESS cap (>= the 3 distinct etypes):
        # the served map must equal the offline engine bit-for-bit
        hw = rng.sample([w for w in WINDOW_POOL if w is not None], k=1)
        aggs.append(
            Aggregation(
                Op.APPROX_HISTOGRAM_K, "etype",
                windows=None if rng.random() < 0.3 else tuple(hw),
                k=rng.randint(2, 4), mg_cap=32,
            )
        )
    gb = GroupBy(name=f"sv{seed}", keys=["k"], aggregations=aggs)

    days = [
        r["d"]
        for r in ev.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct().orderBy("d").collect()
    ]
    batch_end_ds, serve_day = days[-3], days[-2]
    import datetime as dt

    assert (
        dt.date.fromisoformat(serve_day) - dt.date.fromisoformat(batch_end_ds)
    ).days == 1, "need a contiguous serve day"
    d = F.date_format("ts", "yyyy-MM-dd")
    batch = ev.where(d <= batch_end_ds)
    stream = ev.where(d == serve_day)
    requests = (
        ev.where(d == serve_day).sample(0.5, seed=seed).select("k", "ts")
        # plus requests exactly at hop boundaries inside the horizon
        .unionByName(
            ev.where(d == serve_day).sample(0.2, seed=seed + 1).select(
                "k", F.to_timestamp(F.date_trunc("hour", "ts")).alias("ts")
            )
        )
        .distinct()
    )
    if requests.count() == 0:
        pytest.skip("no serve-day rows at this seed")

    collapsed, tiles = upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
    if seed == 3:
        # one seed rides the BYTE path: the random IR frames (incl. MG map
        # slots) encode to Avro KV bytes and decode back before the fetch —
        # any codec defect on a random config breaks the lambda invariant
        from chronon_spark.serde import decode_kv_df, upload_kv_bytes

        kvu = upload_kv_bytes(collapsed, tiles, gb)
        collapsed = decode_kv_df(kvu.collapsed, kvu.collapsed_schemas)
        tiles = decode_kv_df(kvu.tiles, kvu.tile_schemas)
    got_df = fetch_features(
        requests, collapsed, tiles, stream, gb, batch_end_ds, tiebreak="event_id"
    )
    want_df = temporal_events(requests, ev, gb, tiebreak="event_id")
    cols = ["k", "ts", *gb.output_columns()]
    key = lambda r: (str(r[0]), str(r[1]))  # noqa: E731
    got = sorted(
        (tuple(_freeze(v) for v in r) for r in got_df.select(*cols).collect()), key=key
    )
    want = sorted(
        (tuple(_freeze(v) for v in r) for r in want_df.select(*cols).collect()), key=key
    )
    _assert_rows_close(got, want, f"seed={seed}: fetch vs full-log")
    ev.unpersist()


def test_serving_percentile_lossless_equals_exact(spark, events, split):
    """APPROX_PERCENTILE rides the serving path via a KMV (bottom-k-by-hash)
    sample IR. At a lossless cap (accuracy >= any group size) the sample is
    the whole group, so upload + lambda fetch must equal the exact discrete
    quantiles from the full-log temporal engine."""
    batch, stream, requests, batch_end_ds = split
    gb = GroupBy(
        name="pq",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.APPROX_PERCENTILE, "value",
                        windows=(W7D,), percentiles=(0.25, 0.5, 0.9),
                        accuracy=2**31 - 1),
            Aggregation(Op.APPROX_PERCENTILE, "value",
                        percentiles=(0.5,), accuracy=2**31 - 1),  # lifetime
            # integer input: the KMV IR must keep the NATIVE type
            # (percentile_approx returns int quantiles for int columns)
            Aggregation(Op.APPROX_PERCENTILE, "event_id",
                        percentiles=(0.5,), accuracy=2**31 - 1, windows=(W1D,)),
            Aggregation(Op.COUNT, "value", windows=(W1D,)),
        ],
    )
    collapsed, tiles = upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
    got = fetch_features(
        requests, collapsed, tiles, stream, gb, batch_end_ds, tiebreak="event_id"
    )
    want = temporal_events(requests, events, gb, tiebreak="event_id")
    cols = ["user_id", "ts", *gb.output_columns()]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() == requests.count()


def test_serving_percentile_bounded_ir_and_sane_estimate(spark, events, split):
    """At a small accuracy the KMV IR is hard-bounded (<= accuracy rows per
    (key, region)) and the sampled median lands inside the exact p25..p75
    band — rank error ~ sqrt(0.25/64) ~ 6%, far inside the band."""
    batch, stream, requests, batch_end_ds = split
    gb = GroupBy(
        name="pqs",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.APPROX_PERCENTILE, "value", percentiles=(0.5,), accuracy=64)
        ],
    )
    collapsed, tiles = upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
    sizes = collapsed.select(F.size("p0__kmv").alias("s")).agg(F.max("s")).first()[0]
    assert sizes is not None and sizes <= 64
    got = fetch_features(
        requests, collapsed, tiles, stream, gb, batch_end_ds, tiebreak="event_id"
    )
    exact = temporal_events(
        requests,
        events,
        GroupBy(
            name="pqx", keys=["user_id"],
            aggregations=[
                Aggregation(Op.PERCENTILE, "value", percentiles=(0.25, 0.75))
            ],
        ),
        tiebreak="event_id",
    )
    chk = got.join(exact, ["user_id", "ts"])
    bad = chk.where(
        (F.element_at("value_approx_percentile", 1) < F.element_at("value_percentile", 1))
        | (F.element_at("value_approx_percentile", 1) > F.element_at("value_percentile", 2))
    ).count()
    n = chk.count()
    assert n > 0 and bad <= max(1, int(0.05 * n)), f"{bad}/{n} medians outside p25..p75"


def test_percentile_accuracy_validation_matches_exact_route(spark, events):
    """Bad accuracy is rejected identically on both routes: percentile_approx
    fails fast, and the KMV route must too (a negative slice length would
    otherwise die deep in execution)."""
    import pytest as _pt

    from chronon_spark.functions.ops import DEFAULT_KMV_SAMPLE, kmv_cap

    bad = Aggregation(Op.APPROX_PERCENTILE, "value", accuracy=-5)
    with _pt.raises(ValueError, match="must be positive"):
        kmv_cap(bad)
    zero = Aggregation(Op.APPROX_PERCENTILE, "value", accuracy=0)
    with _pt.raises(ValueError, match="must be positive"):
        kmv_cap(zero)
    assert kmv_cap(Aggregation(Op.APPROX_PERCENTILE, "value")) == DEFAULT_KMV_SAMPLE


def _mrows(df, cols):
    """Row compare that freezes map columns (APPROX_HISTOGRAM_K outputs)."""
    def c(v):
        if isinstance(v, dict):
            return tuple(sorted(v.items()))
        if isinstance(v, list):
            return tuple(v)
        if isinstance(v, float):
            return round(v, 9)
        return v

    return sorted([tuple(c(r[x]) for x in cols) for r in df.collect()], key=repr)


def test_serving_mg_histogram_lossless_equals_offline(spark, events, split):
    """APPROX_HISTOGRAM_K rides the serving path as a Misra-Gries
    map<string,bigint> IR column (collapsed + tail tiles + masked streaming
    head). At a lossless cap (mg_cap >= distinct values) no MG decrement
    ever fires, so upload + lambda fetch must equal the full-log temporal
    engine bit-for-bit — windowed, lifetime, and mixed with scalar slots
    (reference SawtoothOnlineAggregator.scala:83-155 serves every op)."""
    batch, stream, requests, batch_end_ds = split
    gb = GroupBy(
        name="mgh",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.APPROX_HISTOGRAM_K, "event_type",
                        windows=(W7D, W1D), k=3, mg_cap=64),
            Aggregation(Op.APPROX_HISTOGRAM_K, "event_type", k=2, mg_cap=64),
            Aggregation(Op.COUNT, "value", windows=(W1D,)),
        ],
    )
    collapsed, tiles = upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
    got = fetch_features(
        requests, collapsed, tiles, stream, gb, batch_end_ds, tiebreak="event_id"
    )
    want = temporal_events(requests, events, gb, tiebreak="event_id")
    cols = ["user_id", "ts", *gb.output_columns()]
    assert _mrows(got, cols) == _mrows(want, cols)
    assert got.count() == requests.count()


def test_serving_mg_histogram_boundary_and_mg_only(spark, events, split):
    """A GroupBy with ONLY histogram slots (no scalar pairs — the empty
    collapsed/head guards) fetched at the batch-end midnight boundary must
    still equal the offline engine."""
    batch, stream, _requests, batch_end_ds = split
    import datetime as dt

    midnight = dt.datetime.strptime(batch_end_ds, "%Y-%m-%d") + dt.timedelta(days=1)
    keys = batch.select("user_id").distinct().limit(5)
    requests = keys.withColumn("ts", F.lit(midnight).cast("timestamp"))
    gb = GroupBy(
        name="mgo",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.APPROX_HISTOGRAM_K, "event_type",
                        windows=(W7D,), k=3, mg_cap=64),
        ],
    )
    collapsed, tiles = upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
    got = fetch_features(
        requests, collapsed, tiles, stream, gb, batch_end_ds, tiebreak="event_id"
    )
    want = temporal_events(requests, events, gb, tiebreak="event_id")
    cols = ["user_id", "ts", *gb.output_columns()]
    assert _mrows(got, cols) == _mrows(want, cols)


def test_serving_mg_histogram_bounded_and_sound(spark, events, split):
    """At a SMALL cap the IR maps are hard-bounded (<= mg_cap entries per
    row everywhere: collapsed, tiles) and the fetched estimates obey the
    mergeable-summaries guarantees vs the exact histogram: never an
    overestimate, undercount <= n_window/(cap+1), and any value above that
    bound is present."""
    batch, stream, requests, batch_end_ds = split
    cap = 2
    gb = GroupBy(
        name="mgs",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.APPROX_HISTOGRAM_K, "event_type",
                        windows=(W7D,), k=10, mg_cap=cap),
        ],
    )
    collapsed, tiles = upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
    for frame, col in ((collapsed, "p0__mg"), (tiles, "p0__mg")):
        mx = frame.select(F.size(col).alias("s")).agg(F.max("s")).first()[0]
        assert mx is None or mx <= cap, f"{col} map exceeds cap: {mx}"
    got = fetch_features(
        requests, collapsed, tiles, stream, gb, batch_end_ds, tiebreak="event_id"
    )
    exact = temporal_events(
        requests,
        events,
        GroupBy(
            name="mgx", keys=["user_id"],
            aggregations=[Aggregation(Op.HISTOGRAM, "event_type", windows=(W7D,))],
        ),
        tiebreak="event_id",
    )
    gname = "event_type_approx_histogram10_7d"
    xname = "event_type_histogram_7d"
    joined = got.join(exact, ["user_id", "ts"]).collect()
    assert len(joined) > 0
    checked = 0
    for r in joined:
        est, true = r[gname] or {}, r[xname] or {}
        n = sum(true.values())
        # components are compressed with cap over DISJOINT regions whose
        # union covers the window, so the summed estimate keeps the bound
        bound = n / (cap + 1) * 3  # collapsed + tiles + head regions
        for v, e in est.items():
            assert v in true and e <= true[v], f"overestimate {v}: {e} > {true.get(v)}"
        for v, t in true.items():
            assert t - est.get(v, 0) <= bound, f"undercount {v}: {t} vs {est.get(v, 0)}"
            if t > bound:
                assert v in est, f"heavy value {v} (count {t} > {bound}) missing"
            checked += 1
    assert checked > 0


def test_serving_mg_histogram_requires_cap(spark, events, split):
    """KV rows must be hard-bounded: APPROX_HISTOGRAM_K without mg_cap is
    rejected with an actionable error (the offline engine tolerates it
    because its exact plan distributes the value dimension)."""
    batch, _stream, _requests, batch_end_ds = split
    gb = GroupBy(
        name="mgr",
        keys=["user_id"],
        aggregations=[Aggregation(Op.APPROX_HISTOGRAM_K, "event_type",
                                  windows=(W7D,), k=3)],
    )
    with pytest.raises(ValueError, match="mg_cap"):
        upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")


# ---------------------------------------------------------------------------
# TIME_DECAYED serving: halflife-bucket map (collapsed) + fetch-weighted
# tail tiles + pre-weighted streaming head
# ---------------------------------------------------------------------------

HL1D = Window(1, TimeUnit.DAYS)
HL12H = Window(12, TimeUnit.HOURS)
HL2D = Window(2, TimeUnit.DAYS)


def _with_v_int(df):
    return df.withColumn("v_int", F.floor("value").cast("long"))


GB_DK = GroupBy(
    name="serve_dk",
    keys=["user_id"],
    aggregations=[
        # mixed with a plain scalar pair to exercise slot coexistence
        Aggregation(Op.COUNT, "value", windows=(W7D,)),
        Aggregation(Op.TIME_DECAYED_COUNT, "value", windows=(W7D,), halflife=HL1D),
        Aggregation(Op.TIME_DECAYED_SUM, "v_int", windows=(W1D,), halflife=HL12H),
        Aggregation(Op.TIME_DECAYED_SUM, "v_int", halflife=HL2D),  # lifetime
    ],
)


def test_serving_decayed_equals_full_log(spark, events, split):
    """Lambda invariant for TIME_DECAYED: upload + fetch == the offline
    engine over the unified log, bit-exact (integer-scaled weights)."""
    batch, stream, requests, batch_end_ds = split
    batch, stream = _with_v_int(batch), _with_v_int(stream)
    collapsed, tails = upload_batch_irs(batch, GB_DK, batch_end_ds, tiebreak="event_id")
    served = fetch_features(
        requests, collapsed, tails, stream, GB_DK, batch_end_ds, tiebreak="event_id"
    )
    offline = temporal_events(
        requests,
        _with_v_int(batch.unionByName(stream, allowMissingColumns=True)),
        GB_DK,
        tiebreak="event_id",
    )
    cols = [
        "user_id",
        "value_count_7d",
        "value_time_decayed_count_hl1d_7d",
        "v_int_time_decayed_sum_hl12h_1d",
        "v_int_time_decayed_sum_hl2d",
    ]
    assert _rows(served, cols) == _rows(offline, cols)


def test_serving_decayed_only_groupby(spark, events, split):
    """A decayed-ONLY GroupBy (no scalar pairs): the dk path carries the
    whole fetch, including the head branch."""
    batch, stream, requests, batch_end_ds = split
    gb = GroupBy(
        name="serve_dk_only",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.TIME_DECAYED_COUNT, "value", windows=(W7D,), halflife=HL1D)
        ],
    )
    collapsed, tails = upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
    served = fetch_features(
        requests, collapsed, tails, stream, gb, batch_end_ds, tiebreak="event_id"
    )
    offline = temporal_events(
        requests, batch.unionByName(stream), gb, tiebreak="event_id"
    )
    cols = ["user_id", "value_time_decayed_count_hl1d_7d"]
    assert _rows(served, cols) == _rows(offline, cols)


def test_serving_decayed_collapsed_map_bounded(spark, split):
    """Lifetime decayed IR stays bounded on unbounded history: buckets
    already >= cap halflives old at batch end merge into ONE ancient bucket
    (their fetch-time weight is pinned at 2^-cap)."""
    _b, _s, _r, batch_end_ds = split
    DAY = 86_400_000
    import calendar
    import datetime as _dt

    end_ms = (
        calendar.timegm(_dt.datetime.strptime(batch_end_ds, "%Y-%m-%d").timetuple())
        * 1000
        + DAY
    )
    # one event per day for 400 days back — way past the cap horizon
    rows = [(i, 7, end_ms - 1 - i * DAY, 1.0) for i in range(400)]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts long, value double")
    gb = GroupBy(
        name="dk_bound",
        keys=["user_id"],
        aggregations=[
            Aggregation(
                Op.TIME_DECAYED_COUNT, "value", halflife=HL1D, decay_cap=20
            )
        ],
    )
    collapsed, _tails = upload_batch_irs(ev, gb, batch_end_ds, tiebreak="event_id")
    row = collapsed.collect()[0]
    dm = row["p0__dm"]
    # cap + current partial bucket (+1 slack for the ancient sentinel)
    assert len(dm) <= 22
    # the ancient bucket absorbed every old event: totals preserved
    assert sum(dm.values()) == 400


def test_serving_decayed_pure_tail_window(spark, events, split):
    """A 6h window's stable region is empty (the whole window is the
    ambiguous tail band): the decayed feature must be served entirely from
    5-minute tail tiles + head, with a NULL collapsed map everywhere."""
    batch, stream, requests, batch_end_ds = split
    gb = GroupBy(
        name="serve_dk_tail",
        keys=["user_id"],
        aggregations=[
            Aggregation(
                Op.TIME_DECAYED_COUNT,
                "value",
                windows=(W6H,),
                halflife=Window(6, TimeUnit.HOURS),
            )
        ],
    )
    collapsed, tails = upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
    assert collapsed.where(F.col("p0__dm").isNotNull()).count() == 0
    served = fetch_features(
        requests, collapsed, tails, stream, gb, batch_end_ds, tiebreak="event_id"
    )
    offline = temporal_events(
        requests, batch.unionByName(stream), gb, tiebreak="event_id"
    )
    cols = ["user_id", "value_time_decayed_count_hl6h_6h"]
    assert _rows(served, cols) == _rows(offline, cols)
