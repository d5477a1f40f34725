"""Seeded randomized differential sweep over aggregation configurations.

The hand-picked configs in test_temporal_groupby.py cover each operator
once; this sweep samples random (op, window-set, k) combinations plus a
random synthetic event distribution (bursty keys, duplicate timestamps,
nulls) and asserts the exact, hops and auto (sliding + cascade) routes agree
bit-for-bit. Seeds are FIXED so failures reproduce; the generator varies
shape, not determinism.

Reference analog: the property sweep in
aggregator/src/test/scala/ai/chronon/aggregator/test/SawtoothAggregatorTest
(random event streams vs NaiveAggregator).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from chronon_spark import Aggregation, GroupBy, Op, TimeUnit, Window
from chronon_spark.operators.groupby import temporal_events

# ops the tile estimators support; (op, needs_k, input_col)
SWEEP_OPS = [
    (Op.COUNT, False, "value"),
    (Op.SUM, False, "value"),
    (Op.AVERAGE, False, "value"),
    (Op.VARIANCE, False, "value"),
    (Op.MIN, False, "value"),
    (Op.MAX, False, "value"),
    (Op.UNIQUE_COUNT, False, "etype"),
    (Op.LAST, False, "etype"),
    (Op.FIRST, False, "etype"),
    (Op.LAST_K, True, "etype"),
    (Op.FIRST_K, True, "etype"),
    (Op.TOP_K, True, "value"),
    (Op.BOTTOM_K, True, "value"),
]

# hop-aligned window pool (whole multiples of their sawtooth tail hop)
WINDOW_POOL = [
    Window(30, TimeUnit.MINUTES),  # 5min hop
    Window(2, TimeUnit.HOURS),     # 5min hop
    Window(6, TimeUnit.HOURS),     # 5min hop
    Window(1, TimeUnit.DAYS),      # 1h hop
    Window(3, TimeUnit.DAYS),      # 1h hop
    Window(15, TimeUnit.DAYS),     # 1d hop
    None,                          # lifetime
]


def _random_gb(rng: random.Random) -> GroupBy:
    aggs = []
    for op, needs_k, col in rng.sample(SWEEP_OPS, k=rng.randint(3, 6)):
        wins = rng.sample([w for w in WINDOW_POOL if w is not None], k=rng.randint(1, 3))
        if rng.random() < 0.3:
            wins = None  # lifetime aggregation
        aggs.append(
            Aggregation(
                op,
                col,
                windows=tuple(wins) if wins else None,
                k=rng.randint(2, 5) if needs_k else None,
            )
        )
    return GroupBy(name=f"g{rng.randint(0, 9999)}", keys=["k"], aggregations=aggs)


def _random_events(spark, rng: random.Random, base_ms: int = 1_700_000_000_000):
    """Bursty synthetic stream: few hot keys, duplicate timestamps, nulls,
    events clustered at hop boundaries. ``base_ms`` defaults to a fixed
    2023 anchor; pass a NEGATIVE anchor to exercise the pre-1970 regime the
    label engine's negated-time axis lives in (floor/pmod arithmetic on
    negative instants)."""
    rows = []
    eid = 0
    for _ in range(1200):
        k = rng.choice(["a", "a", "a", "b", "c", "d"])  # skew on 'a'
        day = rng.randint(0, 20)
        # half the events land exactly on 5-minute hop boundaries
        if rng.random() < 0.5:
            ms = base_ms + day * 86_400_000 + rng.randint(0, 287) * 300_000
        else:
            ms = base_ms + day * 86_400_000 + rng.randint(0, 86_399_999)
        if rng.random() < 0.1:
            ms = base_ms + day * 86_400_000  # duplicate-ts cluster at midnight
        val = None if rng.random() < 0.05 else round(rng.uniform(-50, 50), 2)
        et = None if rng.random() < 0.05 else rng.choice(["x", "y", "z"])
        rows.append((k, ms, val, et, eid))
        eid += 1
    df = spark.createDataFrame(rows, "k string, ts_ms long, value double, etype string, event_id long")
    return df.withColumn("ts", F.timestamp_millis("ts_ms")).drop("ts_ms")


def _freeze(v):
    """Hashable/orderable row cells. Floats stay RAW: rounding before the
    tolerant compare quantizes a 1e-9 summation-order difference into
    exactly 1e-6 (two adjacent 6dp grid points), which sits on isclose's
    boundary and flakes with shuffle-fetch merge order."""
    if isinstance(v, list):
        return tuple(_freeze(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((kk, _freeze(x)) for kk, x in v.items()))
    return v


def _close(a, b) -> bool:
    """Value equality with float tolerance: merged-tile moment sums
    (AVERAGE/VARIANCE finalize) legitimately differ from the exact engine's
    summation order by ~1e-9 relative — exact rounding flips at the
    boundary, so compare numerically instead."""
    import math

    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return set(a) == set(b) and all(_close(a[k2], b[k2]) for k2 in a)
    return a == b


def _assert_rows_close(got, want, label: str):
    assert len(got) == len(want), f"{label}: {len(got)} vs {len(want)} rows"
    for i, (ra, rb) in enumerate(zip(got, want)):
        assert _close(ra, rb), f"{label}: row {i} differs: {ra} != {rb}"


@pytest.mark.parametrize("seed", [11, 42, 1337, 2024, 777])
def test_random_config_estimators_agree(spark, seed):
    rng = random.Random(seed)
    ev = _random_events(spark, rng).cache()
    gb = _random_gb(rng)
    # queries: random event times (strict-< edges) + hop boundaries + times
    # with no prior events at all
    q = (
        ev.sample(0.15, seed=seed).select("k", "ts")
        .unionByName(
            ev.sample(0.05, seed=seed + 1).select(
                "k", F.to_timestamp(F.date_trunc("hour", "ts")).alias("ts")
            )
        )
        .distinct()
    )
    frames = {
        s: temporal_events(q, ev, gb, tiebreak="event_id", strategy=s)
        for s in ("exact", "hops", "auto")
    }
    cols = sorted(frames["exact"].columns)
    kidx, tidx = cols.index("k"), cols.index("ts")
    rows = {
        s: sorted(
            (tuple(_freeze(v) for v in r) for r in df.select(*cols).collect()),
            # sort on the (key, ts) identity only — float jitter in agg
            # columns must not reorder rows between estimators
            key=lambda r: (str(r[kidx]), str(r[tidx])),
        )
        for s, df in frames.items()
    }
    _assert_rows_close(rows["hops"], rows["exact"], f"seed={seed}: hops vs exact")
    _assert_rows_close(rows["auto"], rows["exact"], f"seed={seed}: auto vs exact")
    ev.unpersist()


@pytest.mark.parametrize("seed", [61])
def test_random_config_estimators_agree_negative_epoch(spark, seed):
    """Same three-estimator agreement, but anchored BEFORE 1970: negative
    epoch millis are the regime label_join's negated-time axis runs in — the
    tile identity floor(q, hop) - w must hold there too (pmod true floor,
    not C-style truncation, which rounds toward zero for negatives)."""
    rng = random.Random(seed)
    ev = _random_events(spark, rng, base_ms=-1_000_000_000_000).cache()
    gb = _random_gb(rng)
    q = (
        ev.sample(0.15, seed=seed).select("k", "ts")
        .unionByName(
            ev.sample(0.05, seed=seed + 1).select(
                "k", F.to_timestamp(F.date_trunc("hour", "ts")).alias("ts")
            )
        )
        .distinct()
    )
    frames = {
        s: temporal_events(q, ev, gb, tiebreak="event_id", strategy=s)
        for s in ("exact", "hops", "auto")
    }
    cols = sorted(frames["exact"].columns)
    kidx, tidx = cols.index("k"), cols.index("ts")
    rows = {
        s: sorted(
            (tuple(_freeze(v) for v in r) for r in df.select(*cols).collect()),
            key=lambda r: (str(r[kidx]), str(r[tidx])),
        )
        for s, df in frames.items()
    }
    _assert_rows_close(rows["hops"], rows["exact"], f"seed={seed} neg: hops vs exact")
    _assert_rows_close(rows["auto"], rows["exact"], f"seed={seed} neg: auto vs exact")
    ev.unpersist()


# ---------------------------------------------------------------------------
# join-orchestration sweep: a multi-part join routes same-(source, keys)
# TEMPORAL parts through ONE merged estimator pass (operators/join.py
# _merge_groups / _compute_merged_parts — agg slot dedup + prefixed fan-out);
# a single-part join takes the solo compute_join_part path. The two paths
# must agree column-for-column on every random configuration, and the join
# must preserve left duplicates.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [7, 23])
def test_random_join_orchestration_matches_solo_parts(spark, seed):
    from chronon_spark.api import Accuracy, Join, JoinPart
    from chronon_spark.operators.join import compute_join

    rng = random.Random(seed)
    ev = _random_events(spark, rng).cache()
    left = ev.sample(0.08, seed=seed).select(F.col("k").alias("uid"), "ts")
    dup = left.limit(5)
    left = left.unionByName(dup)  # duplicate left rows must be preserved

    parts, sources = [], {}
    for i in range(rng.randint(2, 4)):
        gb = _random_gb(rng)
        gb.name = f"gb{i}"
        if rng.random() < 0.25:
            gb.accuracy = Accuracy.SNAPSHOT  # not mergeable: solo branch
        parts.append(
            JoinPart(
                group_by=gb,
                key_mapping={"uid": "k"},
                prefix=rng.choice([None, f"p{i}"]),
            )
        )
        sources[gb.name] = ev
    j = Join(name="rj", left_keys=["uid"], join_parts=parts, time_column="ts")
    out = compute_join(left, sources, j, tiebreak="event_id").cache()

    assert out.count() == left.count(), f"seed={seed}: left rows not preserved"

    for part in parts:
        solo = compute_join(
            left.distinct(),
            {part.group_by.name: ev},
            Join(name="solo", left_keys=["uid"], join_parts=[part], time_column="ts"),
            tiebreak="event_id",
        )
        pcols = [
            f"{part.full_prefix()}_{c}" for c in part.group_by.output_columns()
        ]
        idkey = lambda r: (str(r[0]), str(r[1]))  # noqa: E731 — (uid, ts)
        got = sorted(
            (tuple(_freeze(v) for v in r)
             for r in out.select("uid", "ts", *pcols).distinct().collect()),
            key=idkey,
        )
        want = sorted(
            (tuple(_freeze(v) for v in r)
             for r in solo.select("uid", "ts", *pcols).collect()),
            key=idkey,
        )
        _assert_rows_close(got, want, f"seed={seed}: part {part.full_prefix()} vs solo")
    out.unpersist()
    ev.unpersist()


def test_overlapping_aggs_across_merged_parts(spark):
    """Two parts sharing a source may declare OVERLAPPING but non-identical
    aggregations (MIN value over (2h,) vs over (2h, 1d)): the merged pass
    must render each output column once and fan it out to both prefixes
    (regression: whole-Aggregation dedup made `value_min_2h` ambiguous)."""
    from chronon_spark.api import Join, JoinPart
    from chronon_spark.operators.join import compute_join

    rng = random.Random(5)
    ev = _random_events(spark, rng).cache()
    left = ev.sample(0.1, seed=5).select(F.col("k").alias("uid"), "ts").distinct()
    gb_a = GroupBy(
        name="ga", keys=["k"],
        aggregations=[Aggregation(Op.MIN, "value", windows=(Window(2, TimeUnit.HOURS),))],
    )
    gb_b = GroupBy(
        name="gb", keys=["k"],
        aggregations=[
            Aggregation(
                Op.MIN, "value",
                windows=(Window(2, TimeUnit.HOURS), Window(1, TimeUnit.DAYS)),
            )
        ],
    )
    j = Join(
        name="ov", left_keys=["uid"],
        join_parts=[
            JoinPart(group_by=gb_a, key_mapping={"uid": "k"}),
            JoinPart(group_by=gb_b, key_mapping={"uid": "k"}),
        ],
        time_column="ts",
    )
    out = compute_join(left, {"ga": ev, "gb": ev}, j, tiebreak="event_id")
    assert {"ga_value_min_2h", "gb_value_min_2h", "gb_value_min_1d"} <= set(out.columns)
    # the shared 2h column must be identical under both prefixes
    diff = out.where(
        F.col("ga_value_min_2h").eqNullSafe(F.col("gb_value_min_2h")) == False  # noqa: E712
    ).count()
    assert diff == 0 and out.count() == left.count()
    ev.unpersist()


def test_conflicting_sketch_knobs_split_groups(spark):
    """Same output column name, DIFFERENT definition (APPROX_UNIQUE_COUNT at
    lg_k 4 vs 12 renders the same column): such parts must not share a merged
    pass — one column cannot carry two definitions."""
    from chronon_spark.api import Join, JoinPart
    from chronon_spark.operators.join import _merge_groups, compute_join

    rng = random.Random(9)
    ev = _random_events(spark, rng).cache()
    gb_a = GroupBy(
        name="sa", keys=["k"],
        aggregations=[
            Aggregation(Op.APPROX_UNIQUE_COUNT, "etype",
                        windows=(Window(1, TimeUnit.DAYS),), lg_k=4)
        ],
    )
    gb_b = GroupBy(
        name="sb", keys=["k"],
        aggregations=[
            Aggregation(Op.APPROX_UNIQUE_COUNT, "etype",
                        windows=(Window(1, TimeUnit.DAYS),), lg_k=12)
        ],
    )
    parts = [
        JoinPart(group_by=gb_a, key_mapping={"uid": "k"}),
        JoinPart(group_by=gb_b, key_mapping={"uid": "k"}),
    ]
    j = Join(name="cf", left_keys=["uid"], join_parts=parts, time_column="ts")
    groups = _merge_groups(j, {"sa": ev, "sb": ev})
    assert len(groups) == 2, "conflicting knobs must split into two passes"

    left = ev.sample(0.05, seed=9).select(F.col("k").alias("uid"), "ts").distinct()
    out = compute_join(left, {"sa": ev, "sb": ev}, j, tiebreak="event_id")
    assert {"sa_etype_approx_unique_count_1d", "sb_etype_approx_unique_count_1d"} <= set(
        out.columns
    )
    assert out.count() == left.count()
    ev.unpersist()


def test_bucketed_aggs_across_merged_parts(spark, events):
    """Bucketed (map-valued) aggregations survive the merged-part pass: the
    shared map column fans out identically to both prefixes and equals the
    solo join (map columns cannot go through distinct/set-ops, so compare
    via sorted JSON entries)."""
    from chronon_spark.api import Join, JoinPart
    from chronon_spark.operators.join import compute_join

    ga = GroupBy(
        name="bka", keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value",
                                  windows=(Window(1, TimeUnit.DAYS),),
                                  buckets=("event_type",))],
    )
    gb = GroupBy(
        name="bkb", keys=["user_id"],
        aggregations=[
            Aggregation(Op.COUNT, "value", windows=(Window(1, TimeUnit.DAYS),),
                        buckets=("event_type",)),
            Aggregation(Op.SUM, "value", windows=(Window(1, TimeUnit.DAYS),)),
        ],
    )
    left = events.where(F.col("event_type") == "purchase").select("user_id", "ts").limit(300)
    j = Join(name="bkj", left_keys=["user_id"],
             join_parts=[JoinPart(group_by=ga), JoinPart(group_by=gb)])
    out = compute_join(left, {"bka": events, "bkb": events}, j, tiebreak="event_id")
    solo = compute_join(
        left, {"bka": events},
        Join(name="bks", left_keys=["user_id"], join_parts=[JoinPart(group_by=ga)]),
        tiebreak="event_id",
    )
    col = "bka_value_count_1d_by_event_type"
    mstr = lambda c: F.to_json(F.map_entries(F.col(c)))  # noqa: E731
    a = sorted(str(r) for r in out.select("user_id", "ts", mstr(col)).collect())
    b = sorted(str(r) for r in solo.select("user_id", "ts", mstr(col)).collect())
    assert a == b and len(a) > 0
    diff = out.select(
        (F.to_json(F.map_entries(col)) ==
         F.to_json(F.map_entries("bkb_value_count_1d_by_event_type"))).alias("same")
    ).where(~F.coalesce(F.col("same"), F.lit(True))).count()
    assert diff == 0


# ---------------------------------------------------------------------------
# label-side horizons: random forward windows + refresh offsets vs a naive
# pure-Python future-window oracle (reference LabelJoin.scala semantics
# through the negated-axis engine, operators/bootstrap.py:116-222).
# ---------------------------------------------------------------------------

LABEL_OPS = [
    (Op.COUNT, False, "value"),
    (Op.SUM, False, "value"),
    (Op.AVERAGE, False, "value"),
    (Op.MIN, False, "value"),
    (Op.MAX, False, "value"),
    (Op.UNIQUE_COUNT, False, "etype"),
    (Op.FIRST, False, "etype"),
    (Op.LAST, False, "etype"),
    (Op.LAST_K, True, "etype"),
    (Op.TOP_K, True, "value"),
]

HORIZON_POOL = [
    Window(30, TimeUnit.MINUTES),
    Window(90, TimeUnit.MINUTES),
    Window(2, TimeUnit.HOURS),
    Window(7, TimeUnit.HOURS),
    Window(1, TimeUnit.DAYS),
    Window(4, TimeUnit.DAYS),
]


@pytest.mark.parametrize("seed", [5, 83, 421])
def test_random_label_horizons_match_naive_oracle(spark, seed):
    """label_join(random horizon, random op set) == a brute-force oracle of
    the documented mirrored-sawtooth contract: a label aggregates events
    with ts strictly AFTER the feature row (head exactness on the negated
    axis) out to a horizon whose far edge rounds OUTWARD to the horizon's
    hop grid (tail rounding on the negated axis):
        include e  iff  e > q  and  -e >= floor((-q - horizon)/hop)*hop.
    Event timestamps are unique per key so the time-ordered ops are
    deterministic without a tiebreak."""
    from chronon_spark.operators.bootstrap import label_join

    rng = random.Random(seed)
    base = 1_700_000_000_000
    ev: dict = {}
    while len(ev) < 600:
        k = rng.choice(["a", "a", "b", "c"])  # skew on 'a' -> tile router path
        ms = base + rng.randint(0, 12 * 86_400_000)
        val = None if rng.random() < 0.06 else round(rng.uniform(-40, 40), 2)
        et = None if rng.random() < 0.06 else rng.choice(["x", "y", "z"])
        ev.setdefault((k, ms), (val, et))
    ev_list = sorted((k, ms, v, e) for (k, ms), (v, e) in ev.items())
    events = spark.createDataFrame(
        ev_list, "k string, ts_ms long, value double, etype string"
    ).select("k", F.timestamp_millis("ts_ms").alias("ts"), "value", "etype")

    horizon = rng.choice(HORIZON_POOL)
    hop = horizon.tail_hop_millis()
    picked = rng.sample(LABEL_OPS, k=rng.randint(3, 5))
    aggs = [
        Aggregation(
            op, col,
            windows=(Window(99, TimeUnit.DAYS),),  # rewritten to horizon
            k=rng.randint(2, 4) if needs_k else None,
        )
        for op, needs_k, col in picked
    ]
    gb = GroupBy(name="lab", keys=["k"], aggregations=aggs)

    # feature rows: random instants + boundary probes (exactly at an event
    # ts -> that event excluded by strict >; 1ms earlier -> included; at the
    # raw horizon edge) + one duplicate row (must fan out, not multiply)
    q_set = set()
    for _ in range(30):
        q_set.add((rng.choice(["a", "b", "c"]), base + rng.randint(0, 13 * 86_400_000)))
    for k, ms, _v, _e in rng.sample(ev_list, 8):
        q_set.update({(k, ms), (k, ms - 1), (k, ms - horizon.millis)})
    q_rows = sorted(q_set)
    features = spark.createDataFrame(
        q_rows + [q_rows[0]], "k string, ts_ms long"
    ).select("k", F.timestamp_millis("ts_ms").alias("ts"), "ts_ms")

    out = label_join(features, events, gb, horizon)
    rows = [r.asDict() for r in out.collect()]
    assert len(rows) == len(q_rows) + 1  # duplicate preserved

    def in_window(q, e):
        return e > q and -e >= ((-q - horizon.millis) // hop) * hop

    def expected(k, q, a, op, col):
        evs = [(ms, v, e) for kk, ms, v, e in ev_list if kk == k and in_window(q, ms)]
        vals = [(ms, (v if col == "value" else e)) for ms, v, e in evs]
        nn = [(ms, x) for ms, x in vals if x is not None]  # e-ascending
        xs = [x for _ms, x in nn]
        if op == Op.COUNT:
            return len(xs)
        if op == Op.SUM:
            return sum(xs) if xs else None
        if op == Op.AVERAGE:
            return sum(xs) / len(xs) if xs else None
        if op == Op.MIN:
            return min(xs) if xs else None
        if op == Op.MAX:
            return max(xs) if xs else None
        if op == Op.UNIQUE_COUNT:
            return len(set(xs))
        if op == Op.FIRST:  # min negated-ts == LATEST real event in horizon
            return xs[-1] if xs else None
        if op == Op.LAST:  # max negated-ts == EARLIEST future event
            return xs[0] if xs else None
        if op == Op.LAST_K:  # reverse of negated order == e-ascending
            return xs[: a.k] if xs else None
        if op == Op.TOP_K:
            return sorted(xs, reverse=True)[: a.k] if xs else None
        raise AssertionError(op)

    for r in rows:
        k, q = r["k"], r["ts_ms"]
        for a, (op, _nk, col) in zip(aggs, picked):
            got = r[f"label_{a.output_name(horizon, None)}"]
            want = expected(k, q, a, op, col)
            if op in (Op.COUNT, Op.UNIQUE_COUNT):
                got = got or 0
            if isinstance(got, list):
                got = got or None
            assert _close(got, want), (
                f"seed={seed} horizon={horizon} ({k},{q}) "
                f"{op}/{col}: {got!r} != {want!r}"
            )


@pytest.mark.parametrize("seed", [7, 99, 512])
def test_random_refresh_offsets_match_naive(spark, seed):
    """refresh_window(random inclusive offsets, incl. open bounds) keeps
    exactly the feature days a naive calendar filter keeps (reference
    LabelJoin.scala:52-54: offset o counts back o-1 days from label_ds)."""
    import datetime as _dt

    from chronon_spark.operators.bootstrap import refresh_window

    rng = random.Random(seed)
    epoch = _dt.date(1970, 1, 1)
    anchor = _dt.date(2023, 11, 1)
    rows = []
    for i in range(300):
        d = anchor + _dt.timedelta(days=rng.randint(0, 29))
        ms = (d - epoch).days * 86_400_000 + rng.randint(0, 86_399_999)
        rows.append((rng.choice("abc"), ms, i))
    features = spark.createDataFrame(rows, "k string, ts_ms long, rid long").select(
        "k", F.timestamp_millis("ts_ms").alias("ts"), "ts_ms", "rid"
    )
    label_d = anchor + _dt.timedelta(days=rng.randint(5, 29))
    end = rng.randint(1, 6)
    start = end + rng.randint(0, 8)
    if rng.random() < 0.25:
        start = None
    elif rng.random() < 0.25:
        end = None
    got = sorted(
        r["rid"]
        for r in refresh_window(features, label_d.isoformat(), start, end).collect()
    )
    lo = None if start is None else label_d - _dt.timedelta(days=start - 1)
    hi = None if end is None else label_d - _dt.timedelta(days=end - 1)
    want = sorted(
        rid
        for _k, ms, rid in rows
        if (lo is None or epoch + _dt.timedelta(days=ms // 86_400_000) >= lo)
        and (hi is None or epoch + _dt.timedelta(days=ms // 86_400_000) <= hi)
    )
    assert got == want and (start is None or end is None or len(want) > 0)
