"""Misra-Gries bounded tile IR for APPROX_HISTOGRAM_K (Aggregation.mg_cap).

The tiled plan's TAIL-band tile tables are compressed to at most mg_cap
value rows per (keys, tile) before the window merge (reference hybrid:
aggregator/src/main/scala/ai/chronon/aggregator/base/
SimpleAggregators.scala:458-600). Guarantees under test:

- with cap >= distinct values the summary is exact (threshold 0), so the
  capped plan equals the uncapped/exact plan bit-for-bit;
- estimates never exceed true counts;
- after the tile merge tree, true - est <= n_window / (cap + 1), so any
  value with true count above that bound is guaranteed present;
- the compression helper itself hard-bounds rows per group and never drops
  probe (query-marker) rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chronon_spark.api import Aggregation, GroupBy, Op, TimeUnit, Window
from chronon_spark.operators.groupby import temporal_events
from chronon_spark.plans.sliding import PROBE, TILE, _mg_compress_tiles

W7D = (Window(7, TimeUnit.DAYS),)
OUT = "event_type_approx_histogram3_7d"


def _left(events):
    return events.where(F.col("event_type") == "purchase").select("user_id", "ts").distinct()


def _maps(df):
    return {
        (r["user_id"], r["ts"]): dict(r[OUT]) if r[OUT] is not None else None
        for r in df.collect()
    }


def _gb(cap):
    return GroupBy(
        name="g",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.APPROX_HISTOGRAM_K, "event_type", windows=W7D, k=3, mg_cap=cap)
        ],
    )


def test_mg_large_cap_equals_exact(spark, events):
    left = _left(events)
    capped = temporal_events(left, events, _gb(1000), tiebreak="event_id", strategy="auto")
    exact = temporal_events(left, events, _gb(None), tiebreak="event_id", strategy="exact")
    assert _maps(capped) == _maps(exact)


def _skewed_events(spark):
    """One hot value, one warm value, and a rotating rare value per day, all
    inside the day's first hour — >=3 distinct values per (user, 1h) tile
    (the 7d window's tail hop) so a cap of 2 must bite."""
    day = 86_400_000
    hour = 3_600_000
    base = 1_700_000_000_000
    rows = []
    eid = 0
    for u in ("u1", "u2"):
        for d in range(14):
            t0 = base + d * day
            mix = [("hot", 20), ("warm", 5), (f"rare{d}", 1)]
            for val, n in mix:
                for i in range(n):
                    rows.append((u, t0 + (i * 131) % hour, val, eid))
                    eid += 1
    return spark.createDataFrame(rows, ["user_id", "ts", "event_type", "event_id"])


def test_mg_small_cap_underestimates_within_bound(spark):
    cap = 2
    events = _skewed_events(spark)
    left = events.select("user_id", "ts").distinct().limit(300)
    capped = _maps(
        temporal_events(left, events, _gb(cap), tiebreak="event_id", strategy="auto")
    )
    # truth: full (uncapped, untruncated) histogram from the exact plan
    gb_full = GroupBy(
        name="g",
        keys=["user_id"],
        aggregations=[Aggregation(Op.HISTOGRAM, "event_type", windows=W7D)],
    )
    full = {
        (r["user_id"], r["ts"]): dict(r["event_type_histogram_7d"])
        if r["event_type_histogram_7d"] is not None
        else None
        for r in temporal_events(
            left, events, gb_full, tiebreak="event_id", strategy="exact"
        ).collect()
    }
    assert set(capped) == set(full)
    checked_rows = underestimated = 0
    for key, est_map in capped.items():
        true_map = full[key]
        if est_map is None:
            # every surviving estimate was 0 -> empty map -> NULL; legal only
            # when the window total is within the MG error bound
            if true_map:
                n = sum(true_map.values())
                assert max(true_map.values()) <= n / (cap + 1)
            continue
        n = sum(true_map.values())
        bound = n / (cap + 1)
        for v, est in est_map.items():
            assert v in true_map, f"{key}: value {v} not in exact histogram"
            assert est <= true_map[v], f"{key}/{v}: overestimate {est} > {true_map[v]}"
            underestimated += est < true_map[v]
        for v, true_n in true_map.items():
            if true_n > bound:
                assert v in est_map, f"{key}: heavy hitter {v} ({true_n} > {bound}) missing"
        checked_rows += 1
    assert checked_rows > 50
    # the cap must actually have bitten somewhere, or this test is vacuous
    assert underestimated > 0


def test_mg_compress_tiles_bounds_rows_and_keeps_probes(spark):
    rows = [
        # group A, one tile: 4 values + 1 probe-marked value row
        ("a", 1000, "v1", 50, 0),
        ("a", 1000, "v2", 30, 0),
        ("a", 1000, "v3", 10, 0),
        ("a", 1000, "v4", 5, 1),  # probe row, rank > cap -> must survive
        ("a", 1000, "v5", 2, 0),
        # group B: fewer than cap values -> exact
        ("b", 1000, "v1", 7, 0),
    ]
    df = spark.createDataFrame(rows, ["user_id", TILE, "val", "a0__n", PROBE])
    out = _mg_compress_tiles(df, ["user_id"], "val", "a0__n", cap=2)
    got = {(r["user_id"], r["val"]): (r["a0__n"], r[PROBE]) for r in out.collect()}
    # group A: thresh = 3rd count = 10; survivors v1 (50-10), v2 (30-10),
    # probe row v4 clamped to 0; v3/v5 dropped
    assert got[("a", "v1")] == (40, 0)
    assert got[("a", "v2")] == (20, 0)
    assert got[("a", "v4")] == (0, 1)
    assert ("a", "v3") not in got and ("a", "v5") not in got
    # group B exact (threshold 0)
    assert got[("b", "v1")] == (7, 0)
    # hard row bound: <= cap non-probe rows per group
    from collections import Counter

    per_group = Counter(k for (k, _v), (_n, probe) in got.items() if not probe)
    assert all(c <= 2 for c in per_group.values())
