"""Differential tests for the point-in-time (TEMPORAL) GroupBy estimator:

1. exact estimator vs brute-force pandas NaiveAggregator oracle
   (pattern: aggregator/src/test/.../SawtoothAggregatorTest.scala)
2. hop-tile estimator ≡ exact estimator on the same data
3. zero temporal leakage: injecting future events changes nothing
   (pattern: JoinTest.scala:567-585 strict `queries.ts > events.ts`)
4. left row-count preservation incl. duplicate left rows
   (JoinTest.scala:589-590)
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from chronon_spark import Aggregation, GroupBy, Op, TimeUnit, Window
from chronon_spark.operators.groupby import temporal_events
from tests.naive_oracle import allclose, naive_features

WINDOWS = (Window(2, TimeUnit.HOURS), Window(1, TimeUnit.DAYS), Window(15, TimeUnit.DAYS))


def _queries(events, n=150):
    # include hop-boundary and exact-event timestamps (strict-< edge cases)
    base = events.where(F.col("event_id") % 7 == 0).select("user_id", "ts").limit(n)
    on_event = events.select("user_id", "ts").limit(20)  # ts == event ts exactly
    boundary = events.select(
        "user_id", F.to_timestamp(F.date_trunc("hour", "ts")).alias("ts")
    ).limit(20)
    return base.unionByName(on_event).unionByName(boundary)


AGGS = [
    Aggregation(Op.COUNT, "value", windows=WINDOWS),
    Aggregation(Op.SUM, "value", windows=WINDOWS),
    Aggregation(Op.AVERAGE, "value", windows=(Window(1, TimeUnit.DAYS),)),
    Aggregation(Op.MIN, "value"),
    Aggregation(Op.MAX, "value", windows=(Window(15, TimeUnit.DAYS),)),
    Aggregation(Op.VARIANCE, "value", windows=(Window(15, TimeUnit.DAYS),)),
    Aggregation(Op.UNIQUE_COUNT, "event_type", windows=(Window(1, TimeUnit.DAYS),)),
    Aggregation(Op.LAST, "event_type"),
    Aggregation(Op.FIRST, "event_type", windows=(Window(1, TimeUnit.DAYS),)),
    Aggregation(Op.LAST_K, "event_type", k=4, windows=(Window(1, TimeUnit.DAYS),)),
    Aggregation(Op.TOP_K, "value", k=3, windows=(Window(1, TimeUnit.DAYS),)),
    Aggregation(Op.PERCENTILE, "value", percentiles=(0.5,), windows=(Window(15, TimeUnit.DAYS),)),
    Aggregation(Op.HISTOGRAM, "event_type", windows=(Window(1, TimeUnit.DAYS),)),
]


@pytest.fixture(scope="module")
def gb():
    return GroupBy(name="user_events", keys=["user_id"], aggregations=AGGS)


def test_exact_vs_naive_oracle(spark, events, gb):
    q = _queries(events)
    out = temporal_events(q, events, gb, tiebreak="event_id", strategy="exact")
    out_pd = out.withColumn("q_ms", F.unix_millis("ts")).toPandas()

    ev_pd = events.select(
        "user_id", F.unix_millis("ts").alias("ts_ms"), "value", "event_type", "event_id"
    ).toPandas()
    q_pd = q.select("user_id", F.unix_millis("ts").alias("q_ms")).drop_duplicates().toPandas()

    for agg in gb.aggregations:
        oracle = naive_features(ev_pd, q_pd, "user_id", agg, tiebreak="event_id")
        merged = out_pd.merge(oracle, on=["user_id", "q_ms"], suffixes=("", "_o"))
        assert len(merged) == len(out_pd), agg  # dup left rows fan out 1:1
        for w, _ in agg.unpacked():
            name = agg.output_name(w, None)
            for _, r in merged.iterrows():
                got, want = _norm(r[name]), _norm(r[f"{name}_o"])
                assert allclose(got, want, 1e-9), (
                    f"{name} user={r['user_id']} q={r['q_ms']}: {got!r} != {want!r}"
                )


def _norm(v):
    import numpy as np

    if isinstance(v, np.ndarray):
        return [_norm(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if v is pd.NA or (isinstance(v, float) and pd.isna(v)):
        return None
    if pd.api.types.is_scalar(v) and pd.isna(v):
        return None
    return v


@pytest.mark.parametrize("strategy", ["hops", "auto"])
def test_tiled_strategies_equal_exact(spark, events, gb, strategy):
    hop_aggs = [
        a
        for a in gb.aggregations
        if a.operation
        in {Op.COUNT, Op.SUM, Op.AVERAGE, Op.MIN, Op.MAX, Op.VARIANCE, Op.UNIQUE_COUNT,
            Op.LAST, Op.FIRST, Op.LAST_K, Op.TOP_K}
    ]
    gb2 = GroupBy(name="g", keys=["user_id"], aggregations=hop_aggs)
    q = _queries(events, n=100)
    exact = temporal_events(q, events, gb2, tiebreak="event_id", strategy="exact")
    tiled = temporal_events(q, events, gb2, tiebreak="event_id", strategy=strategy)
    cols = sorted(set(exact.columns))
    e = [tuple(map(_freeze, r)) for r in exact.select(*cols).collect()]
    h = [tuple(map(_freeze, r)) for r in tiled.select(*cols).collect()]
    assert sorted(e, key=str) == sorted(h, key=str)


def _freeze(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, list):
        return tuple(_freeze(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    return v


def test_zero_leakage_future_events_ignored(spark, events, gb):
    """Shift a copy of all events +100 days into the future and append: no
    feature value may change (no feature observes ev.ts >= query ts)."""
    q = _queries(events, n=80)
    future = events.withColumn("ts", F.col("ts") + F.expr("INTERVAL 100 DAYS")).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    polluted = events.unionByName(future)
    a = temporal_events(q, events, gb, tiebreak="event_id", strategy="exact")
    b = temporal_events(q, polluted, gb, tiebreak="event_id", strategy="exact")
    cols = sorted(a.columns)
    ra = sorted([tuple(map(_freeze, r)) for r in a.select(*cols).collect()], key=str)
    rb = sorted([tuple(map(_freeze, r)) for r in b.select(*cols).collect()], key=str)
    assert ra == rb


def test_event_at_query_ts_excluded(spark, events):
    """Strict `<`: an event exactly at the query timestamp is not observed."""
    gb = GroupBy(
        name="g",
        keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value")],
    )
    q = events.select("user_id", "ts").limit(50)  # query ts == an event's ts
    out = temporal_events(q, events, gb, tiebreak="event_id")
    joined = (
        out.alias("o")
        .join(events.alias("e"), ["user_id", "ts"])
        .select("o.value_count", F.col("e.event_id"))
    )
    # recompute count with <= and require it to be strictly greater
    from chronon_spark.plans.windows import to_millis

    ev2 = events.select("user_id", to_millis(F.col("ts")).alias("ms"), "value")
    q2 = q.select("user_id", to_millis(F.col("ts")).alias("qms")).dropDuplicates()
    leq = (
        q2.join(ev2, "user_id")
        .groupBy("user_id", "qms")
        .agg(
            F.count(F.when(F.col("ms") < F.col("qms"), 1)).alias("lt"),
            F.count(F.when(F.col("ms") <= F.col("qms"), 1)).alias("leq"),
        )
    )
    for r in leq.collect():
        assert r["leq"] > r["lt"]  # the co-timestamped event exists
    out2 = out.withColumn("qms", F.unix_millis("ts")).select("user_id", "qms", "value_count")
    chk = out2.join(leq, ["user_id", "qms"])
    bad = chk.where(F.col("value_count") != F.col("lt")).count()
    assert bad == 0


def test_duplicate_left_rows_preserved(spark, events):
    gb = GroupBy(name="g", keys=["user_id"], aggregations=[Aggregation(Op.COUNT, "value")])
    q = events.select("user_id", "ts").limit(40)
    dup = q.unionByName(q)  # duplicated left rows must fan out
    out = temporal_events(dup, events, gb, tiebreak="event_id")
    assert out.count() == dup.count() == 80


def test_approx_percentile_rides_cascade_lossless(spark, events):
    """APPROX_PERCENTILE is hop-mergeable via the KMV sample IR: under
    "hops"/"auto" it rides the bounded cascade tiles (no quadratic range
    join at hot keys), and at a lossless cap the tiled result equals the
    exact estimator's discrete quantiles bit-for-bit."""
    gb = GroupBy(
        name="apxc",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.APPROX_PERCENTILE, "value",
                        windows=(Window(7, TimeUnit.DAYS),),
                        percentiles=(0.25, 0.5, 0.9), accuracy=2**31 - 1),
            Aggregation(Op.APPROX_PERCENTILE, "value",
                        percentiles=(0.5,), accuracy=2**31 - 1),  # lifetime
        ],
    )
    left = events.where(F.col("event_type") == "purchase").select("user_id", "ts").limit(300)
    frames = {
        s: temporal_events(left, events, gb, tiebreak="event_id", strategy=s)
        for s in ("exact", "hops", "auto")
    }
    cols = ["user_id", "ts", *gb.output_columns()]
    rows = {
        s: sorted((str(r) for r in df.select(*cols).collect()))
        for s, df in frames.items()
    }
    assert rows["hops"] == rows["exact"]
    assert rows["auto"] == rows["exact"]
    # and auto really routes percentile to the cascade: the exact pass (the
    # quadratic range join) must never be invoked for this GroupBy
    import chronon_spark.operators.groupby as G2

    orig = G2._temporal_pass_exact
    calls = []
    G2._temporal_pass_exact = lambda *a, **k: calls.append(1) or orig(*a, **k)
    try:
        temporal_events(left, events, gb, tiebreak="event_id", strategy="auto").count()
    finally:
        G2._temporal_pass_exact = orig
    assert not calls, "percentile fell back to the exact range join under auto"


@pytest.mark.parametrize("strategy", ["slidng", "hop", "", "AUTO", "sliding"])
def test_unknown_strategy_raises(spark, events, gb, strategy):
    """A misspelt or retired strategy must fail loudly, not fall back to the exact
    range join (the quadratic path on hot keys)."""
    q = events.select("user_id", "ts").limit(5)
    with pytest.raises(ValueError, match="auto.*hops.*exact"):
        temporal_events(q, events, gb, tiebreak="event_id", strategy=strategy)
