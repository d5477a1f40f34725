"""Tiled (sliding) bucketed + HISTOGRAM passes must be value-identical to
the exact range-join passes — the differential guarantee that lets the
router send hot-key bucketed features down the skew-proof plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from chronon_spark.api import Aggregation, GroupBy, Op, TimeUnit, Window
from chronon_spark.operators.groupby import temporal_events

W7D = (Window(7, TimeUnit.DAYS),)
W1D = (Window(1, TimeUnit.DAYS),)


def _left(events):
    return events.where(F.col("event_type") == "purchase").select("user_id", "ts").distinct()


def _rows(df, cols):
    def c(v):
        if isinstance(v, dict):
            return tuple(sorted((k, round(x, 9) if isinstance(x, float) else x) for k, x in v.items()))
        if isinstance(v, float):
            return round(v, 9)
        return v

    return sorted([tuple(c(r[x]) for x in cols) for r in df.collect()], key=repr)


def _compare(events, gb, cols):
    left = _left(events)
    a = temporal_events(left, events, gb, tiebreak="event_id", strategy="exact")
    b = temporal_events(left, events, gb, tiebreak="event_id", strategy="auto")
    ra, rb = _rows(a, cols), _rows(b, cols)
    assert ra == rb, f"first diff: {next((x, y) for x, y in zip(ra, rb) if x != y)}"


def test_bucketed_sliding_equals_exact_windowed(spark, events):
    gb = GroupBy(
        name="g",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.COUNT, "value", windows=W7D, buckets=("event_type",)),
            Aggregation(Op.SUM, "value", windows=W1D, buckets=("event_type",)),
        ],
    )
    _compare(
        events,
        gb,
        ["user_id", "ts", "value_count_7d_by_event_type", "value_sum_1d_by_event_type"],
    )


def test_bucketed_sliding_equals_exact_lifetime_mix(spark, events):
    """A lifetime aggregation in the GroupBy widens the presence bound to
    unbounded — the sliding pass must reproduce that too."""
    gb = GroupBy(
        name="g",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.COUNT, "value"),
            Aggregation(Op.SUM, "value", windows=W7D, buckets=("event_type",)),
        ],
    )
    _compare(events, gb, ["user_id", "ts", "value_count", "value_sum_7d_by_event_type"])


def test_histogram_sliding_equals_exact(spark, events):
    gb = GroupBy(
        name="g",
        keys=["user_id"],
        aggregations=[Aggregation(Op.HISTOGRAM, "event_type", windows=W7D)],
    )
    _compare(events, gb, ["user_id", "ts", "event_type_histogram_7d"])


def test_approx_histogram_k_sliding_equals_exact(spark, events):
    gb = GroupBy(
        name="g",
        keys=["user_id"],
        aggregations=[Aggregation(Op.APPROX_HISTOGRAM_K, "event_type", windows=W7D, k=2)],
    )
    _compare(events, gb, ["user_id", "ts", "event_type_approx_histogram2_7d"])


def test_auto_routes_hll_through_cascade_tiles(spark, events):
    """APPROX_UNIQUE_COUNT is hop-mergeable but not window-function-capable:
    auto must route it through the cascade tile estimator (identical output
    to strategy='hops' — HLL register-max merge is order-insensitive), not
    the exact range join."""
    gb = GroupBy(
        name="g",
        keys=["user_id"],
        aggregations=[Aggregation(Op.APPROX_UNIQUE_COUNT, "event_id", windows=W7D)],
    )
    left = _left(events).limit(100)
    auto = temporal_events(left, events, gb, tiebreak="event_id")
    hops = temporal_events(left, events, gb, tiebreak="event_id", strategy="hops")
    cols = ["user_id", "ts", "event_id_approx_unique_count_7d"]
    assert _rows(auto, cols) == _rows(hops, cols)


def test_bucketed_unaligned_window_falls_back(spark, events):
    """An unaligned minute window anywhere in the GroupBy must force the
    exact map passes (router guard) — and still be correct."""
    gb = GroupBy(
        name="g",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.COUNT, "value", windows=(Window(7, TimeUnit.MINUTES),), buckets=("event_type",)),
        ],
    )
    left = _left(events).limit(100)
    auto = temporal_events(left, events, gb, tiebreak="event_id")
    exact = temporal_events(left, events, gb, tiebreak="event_id", strategy="exact")
    cols = ["user_id", "ts", "value_count_7m_by_event_type"]
    assert _rows(auto, cols) == _rows(exact, cols)


def test_map_only_groupby_keeps_rows_missing_from_first_part(spark):
    """Assembly anchoring: with NO direct aggregations, a query row absent
    from the first (bucket) pass must still receive later parts' features —
    previously the left-join chain silently nulled them."""
    from chronon_spark.operators.groupby import snapshot_events, temporal_events

    ts0 = 1704067200000
    ev = spark.createDataFrame(
        [("u1", None, "itemA", 5.0, ts0 + 1000, 1),
         ("u2", "catX", "itemB", 3.0, ts0 + 1000, 2)],
        "user string, cat string, item string, amt double, ts long, eid long",
    )
    q = spark.createDataFrame(
        [("u1", ts0 + 10_000), ("u2", ts0 + 10_000)], "user string, ts long"
    )
    gb = GroupBy(
        name="g",
        keys=["user"],
        aggregations=[
            Aggregation(Op.SUM, "amt", windows=W1D, buckets=("cat",)),
            Aggregation(Op.HISTOGRAM, "item", windows=W1D),
        ],
    )
    for strat in ("exact", "auto"):
        out = temporal_events(q, ev, gb, tiebreak="eid", strategy=strat)
        rows = {r["user"]: r["item_histogram_1d"] for r in out.collect()}
        assert rows["u1"] == {"itemA": 1}, strat
        assert rows["u2"] == {"itemB": 1}, strat
    snap = snapshot_events(ev, gb, tiebreak="eid")
    srows = {r["user"]: r["item_histogram_1d"] for r in snap.collect()}
    assert srows["u1"] == {"itemA": 1} and srows["u2"] == {"itemB": 1}


def test_bucketed_map_op_rejected(spark):
    """HISTOGRAM with buckets (map-of-maps) is a structured config error in
    both the planner and the analyzer, never silent bucket-dropping."""
    import pytest as _pytest

    from chronon_spark.operators.analyzer import validate_group_by
    from chronon_spark.operators.groupby import temporal_events

    ts0 = 1704067200000
    ev = spark.createDataFrame(
        [("u1", "b1", "x", ts0, 1)], "user string, b string, v string, ts long, eid long"
    )
    q = spark.createDataFrame([("u1", ts0 + 1)], "user string, ts long")
    gb = GroupBy(
        name="g",
        keys=["user"],
        aggregations=[Aggregation(Op.HISTOGRAM, "v", windows=W1D, buckets=("b",))],
    )
    with _pytest.raises(ValueError, match="does not support buckets"):
        temporal_events(q, ev, gb, tiebreak="eid")
    assert any(
        e.code == "bucketed_map_op" for e in validate_group_by(ev, gb, check_data=False)
    )
