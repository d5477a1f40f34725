"""SKEW / KURTOSIS on the tile estimators: per-tile CENTRAL-moment state
(n, mean, M2..M4) recovered from Spark's own numerically-stable streaming
aggregates, merged with the exact Chan et al. pairwise combination via a
deterministic sorted fold. Previously these two ops always fell back to
the exact quadratic range join — on a hot key that was the one remaining
straggler shape among scalar ops. (Raw power sums were tried first and
rejected: a 2-event cluster at ~500 loses 8+ digits of excess kurtosis to
cancellation; the Chan fold measures 7.5e-15 worst-case relative error vs
the exact estimator at sf0.01.) Checked here with a 1e-9 relative
tolerance; the auto strategy routes these ops through the cascade mid-tier
(a Chan fold is not a window-frame sum)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

import chronon_spark.operators.groupby as G
from chronon_spark.api import Aggregation, GroupBy, Op, TimeUnit, Window

DAY = 86_400_000


@pytest.fixture(scope="module")
def frames(spark):
    rng = random.Random(5)
    rows = []
    eid = 0
    for uid in range(5):
        for _ in range(200):
            rows.append((eid, uid, rng.randrange(0, 30 * DAY), float(rng.randrange(0, 1000))))
            eid += 1
    # a constant-value user (zero variance -> NaN skew) and a 1-event user
    rows += [(eid + i, 90, i * DAY + 5, 42.0) for i in range(4)]
    rows.append((eid + 10, 91, DAY, 7.0))
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts long, v double").cache()
    q = (
        ev.where((F.col("event_id") % 4 == 0) | (F.col("user_id") >= 90))
        .select("user_id", F.col("ts") + 1)  # +1: strict < admits own event
        .toDF("user_id", "ts")
        .distinct()
        .cache()
    )
    return ev, q


GB = GroupBy(
    name="mom",
    keys=["user_id"],
    aggregations=[
        Aggregation(Op.SKEW, "v", windows=(Window(7, TimeUnit.DAYS),)),
        Aggregation(Op.KURTOSIS, "v", windows=(Window(7, TimeUnit.DAYS),)),
        Aggregation(Op.SKEW, "v"),      # lifetime
        Aggregation(Op.KURTOSIS, "v"),  # lifetime
        Aggregation(Op.VARIANCE, "v", windows=(Window(7, TimeUnit.DAYS),)),
    ],
)


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def _by_key(df):
    return {
        (r["user_id"], r["ts"]): r.asDict() for r in df.collect()
    }


def test_tiled_moments_match_exact_everywhere(frames):
    ev, q = frames
    outs = {
        s: _by_key(G.temporal_events(q, ev, GB, tiebreak="event_id", strategy=s))
        for s in ("exact", "hops", "auto")
    }
    cols = [c for c in next(iter(outs["exact"].values())) if c.startswith("v_")]
    assert len(outs["exact"]) > 0
    for key, base in outs["exact"].items():
        for s in ("hops", "auto"):
            got = outs[s][key]
            for col in cols:
                assert _close(base[col], got[col]), (s, key, col, base[col], got[col])


def test_degenerate_groups_match_spark_semantics(frames):
    ev, q = frames
    # constant-value user 90 (variance 0) and one-event user 91: Spark's
    # F.skewness/F.kurtosis return NULL on m2 == 0, and the reconstruction
    # (numerically-tiny or exactly-zero m2) must agree engine-for-engine
    out = _by_key(G.temporal_events(q, ev, GB, tiebreak="event_id", strategy="hops"))
    exact = _by_key(G.temporal_events(q, ev, GB, tiebreak="event_id", strategy="exact"))
    seen_const = seen_single = False
    for (uid, ts), r in out.items():
        if uid == 90 and ts > DAY:  # queries that see >= 2 constant events
            for col in ("v_skew", "v_kurtosis", "v_skew_7d", "v_kurtosis_7d"):
                assert r[col] is None and exact[(uid, ts)][col] is None, (ts, col)
            seen_const = True
        if uid == 91:
            assert _close(r["v_skew"], exact[(uid, ts)]["v_skew"])
            seen_single = True
    assert seen_const and seen_single


def test_moments_serve_through_upload_fetch(spark, events):
    from chronon_spark.operators.upload import fetch_features, upload_batch_irs

    days = [
        r["d"]
        for r in events.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct()
        .orderBy("d")
        .collect()
    ]
    batch_end_ds, serve_day = days[7], days[8]
    d = F.date_format("ts", "yyyy-MM-dd")
    batch = events.where(d <= batch_end_ds)
    stream = events.where(d == serve_day)
    requests = (
        events.where((d == serve_day) & (F.col("event_type") == "purchase"))
        .select("user_id", "ts")
        .distinct()
    )
    gb = GroupBy(
        name="mom_serve",
        keys=["user_id"],
        aggregations=[
            Aggregation(Op.SKEW, "value", windows=(Window(7, TimeUnit.DAYS),)),
            Aggregation(Op.KURTOSIS, "value", windows=(Window(7, TimeUnit.DAYS),)),
        ],
    )
    collapsed, tails = upload_batch_irs(batch, gb, batch_end_ds, tiebreak="event_id")
    served = _by_key_req(
        fetch_features(requests, collapsed, tails, stream, gb, batch_end_ds, tiebreak="event_id")
    )
    offline = _by_key_req(
        G.temporal_events(requests, batch.unionByName(stream), gb, tiebreak="event_id")
    )
    assert served.keys() == offline.keys() and len(served) > 0
    for k in served:
        for col in ("value_skew_7d", "value_kurtosis_7d"):
            assert _close(served[k][col], offline[k][col]), (k, col)


def _by_key_req(df):
    return {(r["user_id"], str(r["ts"])): r.asDict() for r in df.collect()}


def test_chan_fold_partition_invariant_vs_numpy(spark):
    """Property sweep: for random value lists and random partitions into
    'tiles', the Chan fold reproduces numpy's direct central moments and is
    invariant (to ~1e-12) to how the list was partitioned."""
    rng = random.Random(17)
    from chronon_spark.functions.ops import chan_moment_fold

    cases = []
    for case in range(12):
        n = rng.randrange(2, 40)
        # include tight clusters far from zero — the raw-sum killer
        base = rng.choice([0.0, 500.0, 1e6])
        spread = rng.choice([1.0, 0.01])
        vals = [base + spread * rng.random() for _ in range(n)]
        # random partition into tiles
        tiles, i = [], 0
        while i < len(vals):
            j = min(len(vals), i + rng.randrange(1, 6))
            tiles.append(vals[i:j])
            i = j
        cases.append((case, vals, tiles))

    rows = []
    for cid, _vals, tiles in cases:
        for t in tiles:
            nt = float(len(t))
            mu = sum(t) / nt
            m2 = sum((x - mu) ** 2 for x in t)
            m3 = sum((x - mu) ** 3 for x in t)
            m4 = sum((x - mu) ** 4 for x in t)
            rows.append((cid, nt, mu, m2, m3, m4))
    df = spark.createDataFrame(
        rows, "case long, n double, mu double, m2 double, m3 double, m4 double"
    )
    st = F.struct("n", "mu", "m2", "m3", "m4")
    out = {
        r["case"]: r["st"]
        for r in df.groupBy("case")
        .agg(chan_moment_fold(F.collect_list(st)).alias("st"))
        .collect()
    }
    for cid, vals, _tiles in cases:
        n = len(vals)
        mu = sum(vals) / n
        want_m2 = sum((x - mu) ** 2 for x in vals)
        want_m3 = sum((x - mu) ** 3 for x in vals)
        want_m4 = sum((x - mu) ** 4 for x in vals)
        got = out[cid]
        assert got["n"] == n
        scale = max(1.0, abs(mu))
        assert abs(got["mu"] - mu) <= 1e-12 * scale
        for g, w, p in ((got["m2"], want_m2, 2), (got["m3"], want_m3, 3), (got["m4"], want_m4, 4)):
            # centered sums: tolerance relative to the centered magnitude
            tol = 1e-9 * max(1.0, abs(w), (1e-2) ** p)
            assert abs(g - w) <= tol, (cid, p, g, w)
