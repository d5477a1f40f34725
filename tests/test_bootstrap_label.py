"""Bootstrap join (provenance + covering-set skip) and forward-looking
label join (zero *feature* leakage inverted: labels see ONLY the future)."""

from __future__ import annotations

from pyspark.sql import functions as F

from chronon_spark import Aggregation, GroupBy, Op, TimeUnit, Window
from chronon_spark.operators.bootstrap import (
    PROVENANCE,
    backfill_with_bootstrap,
    bootstrap_join,
    label_join,
    uncovered_rows,
)
from chronon_spark.operators.groupby import temporal_events


def test_bootstrap_provenance_and_coalesce(spark, events):
    gb = GroupBy(
        name="u",
        keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(Window(7, TimeUnit.DAYS),))],
    )
    left = events.where(F.col("event_type") == "purchase").select("user_id", "ts").limit(60)
    # full backfill = ground truth
    full = temporal_events(left, events, gb, tiebreak="event_id")

    # bootstrap covers half the rows, with a sentinel value we can detect
    half = left.limit(30)
    boot = temporal_events(half, events, gb, tiebreak="event_id").withColumn(
        "value_count_7d", F.col("value_count_7d") + 1000000
    )
    out = backfill_with_bootstrap(left, events, gb, boot, ["user_id"], tiebreak="event_id")
    assert out.count() == left.count()
    covered = out.where(F.array_contains(F.col(PROVENANCE), "u"))
    uncov = out.where(~F.array_contains(F.col(PROVENANCE), "u"))
    assert covered.count() == 30 and uncov.count() == left.count() - 30
    # covered rows keep bootstrap values (sentinel), uncovered match backfill
    assert covered.where(F.col("value_count_7d") < 1000000).count() == 0
    truth = {
        (r["user_id"], r["ts"]): r["value_count_7d"] for r in full.collect()
    }
    for r in uncov.collect():
        assert r["value_count_7d"] == truth[(r["user_id"], r["ts"])]


def test_bootstrap_join_provenance_multi_part(spark, events):
    left = events.select("user_id", "ts").limit(10)
    p1 = left.limit(4).withColumn("f1", F.lit(1.0))
    p2 = left.limit(7).withColumn("f2", F.lit(2.0))
    out = bootstrap_join(left, [("a", p1), ("b", p2)], ["user_id", "ts"])
    rows = out.collect()
    n_a = sum(1 for r in rows if "a" in r[PROVENANCE])
    n_b = sum(1 for r in rows if "b" in r[PROVENANCE])
    assert n_a == 4 and n_b == 7
    assert uncovered_rows(out, "a").count() == 6


def test_label_join_forward_window(spark, events):
    """label = count of events in (ts, ts+2d]; oracle via plain SQL."""
    gb = GroupBy(name="lab", keys=["user_id"], aggregations=[Aggregation(Op.COUNT, "value")])
    feats = events.where(F.col("event_type") == "purchase").select("user_id", "ts").limit(50)
    out = label_join(
        feats, events, gb, horizon=Window(2, TimeUnit.DAYS), tiebreak="event_id"
    )
    col = "label_value_count_2d"
    assert col in out.columns and out.count() == feats.count()

    ev = events.select("user_id", F.unix_millis("ts").alias("ems"), "value")
    q = feats.select("user_id", F.unix_millis("ts").alias("qms")).dropDuplicates()
    # mirrored sawtooth: horizon end rounds on the negated axis; oracle uses
    # ceil(q+2d, 1h) == -round(-(q+2d), 1h)  (2d window -> 1h hop)
    horizon_end = -(F.floor((-(F.col("qms") + 2 * 86400000)) / 3600000) * 3600000)
    oracle = (
        q.join(ev, "user_id", "left")
        .groupBy("user_id", "qms")
        .agg(
            F.count(
                F.when((F.col("ems") > F.col("qms")) & (F.col("ems") <= horizon_end), 1)
            ).alias("want")
        )
    )
    got = out.select("user_id", F.unix_millis("ts").alias("qms"), F.col(col))
    chk = got.join(oracle, ["user_id", "qms"])
    bad = chk.where(F.col(col) != F.col("want")).collect()
    assert not bad, bad[:3]


def test_materialize_label_join_views(spark, events, tmp_path):
    """Two label runs (immature then matured labels) -> versioned label
    table partitions + `_labeled` (all versions) and `_labeled_latest`
    (max label_ds per row) views."""
    from chronon_spark.operators.bootstrap import materialize_label_join

    gb = GroupBy(name="lab", keys=["user_id"], aggregations=[Aggregation(Op.COUNT, "value")])
    feats = events.where(F.col("event_type") == "purchase").select("user_id", "ts").limit(20)
    cutoff = events.agg(F.min("ts")).first()[0]
    immature = events.where(F.col("ts") <= F.lit(cutoff))  # almost no label data yet
    horizon = Window(2, TimeUnit.DAYS)
    root = str(tmp_path / "lj")

    table, v_all, v_latest = materialize_label_join(
        spark, "train", feats, immature, gb, horizon, "2024-02-01", root, tiebreak="event_id"
    )
    table, v_all, v_latest = materialize_label_join(
        spark, "train", feats, events, gb, horizon, "2024-02-10", root, tiebreak="event_id"
    )
    assert table.partitions() == ["2024-02-01", "2024-02-10"]
    n_feats = feats.dropDuplicates(["user_id", "ts"]).count()
    labeled = spark.table(v_all)
    assert labeled.count() == 2 * n_feats  # every row x both versions
    latest = spark.table(v_latest)
    assert latest.count() == n_feats
    assert latest.where(F.col("label_ds") != "2024-02-10").count() == 0
    # matured labels: the latest version's values equal a direct label_join
    # over the full events
    direct = label_join(feats, events, gb, horizon, tiebreak="event_id")
    want = {
        (r["user_id"], r["ts"]): r["label_value_count_2d"] for r in direct.collect()
    }
    for r in latest.collect():
        assert r["label_value_count_2d"] == want[(r["user_id"], r["ts"])]


def test_label_join_never_sees_past_or_present(spark, events):
    """Shift all label events 100 days into the PAST: labels must be 0."""
    gb = GroupBy(name="lab", keys=["user_id"], aggregations=[Aggregation(Op.COUNT, "value")])
    feats = events.select("user_id", "ts").limit(30)
    past = events.withColumn("ts", F.col("ts") - F.expr("INTERVAL 100 DAYS"))
    out = label_join(feats, past, gb, horizon=Window(1, TimeUnit.DAYS), tiebreak="event_id")
    assert out.where(F.col("label_value_count_1d") != 0).count() == 0


def test_label_join_routes_to_tile_plan(spark, events):
    """Labels over a hot key must ride the sliding-tile plan: the physical
    plan has NO queries x raw-events range join (the exact pass's `__e_`
    aliasing and its non-equi ts predicate are absent) and no cartesian."""
    from chronon_spark.api import Aggregation, GroupBy, Op, TimeUnit, Window

    gb = GroupBy(
        name="lbl",
        keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value")],
    )
    feats = events.where(F.col("event_type") == "purchase").select("user_id", "ts")
    out = label_join(feats, events, gb, Window(1, TimeUnit.DAYS), tiebreak="event_id")
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__e_user_id" not in plan, "label side fell back to the exact range join"
    assert "Window" in plan  # sliding TAIL/HEAD window passes present


def test_bootstrap_backfill_preserves_duplicate_left_rows(spark, events):
    """Duplicate uncovered (keys, ts) left rows must come back exactly once
    each — not n x m multiplied by the covered/computed coalesce join."""
    from chronon_spark.operators.bootstrap import backfill_with_bootstrap

    left = (
        events.where("event_type = 'purchase'").select("user_id", "ts").limit(10)
    )
    left_dup = left.unionByName(left)  # every row twice
    gb = GroupBy(
        name="g",
        keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(Window(7, TimeUnit.DAYS),))],
    )
    empty_boot = left.limit(0).withColumn("g_value_count_7d", F.lit(None).cast("long"))
    out = backfill_with_bootstrap(
        left_dup, events, gb, empty_boot, ["user_id"], tiebreak="event_id"
    )
    assert out.count() == left_dup.count()


def test_label_join_long_millis_ts(spark):
    """label_join over LONG epoch-millis timestamps: the horizon must cover
    true milliseconds (a seconds-interpreting cast shrinks it 1000x)."""
    from chronon_spark.operators.bootstrap import label_join

    t0 = 1_700_000_000_000
    feats = spark.createDataFrame([("u", t0)], "user_id string, ts long")
    # label event 2 days after the feature row
    labels = spark.createDataFrame(
        [("u", 5.0, t0 + 2 * 86_400_000)], "user_id string, v double, ts long"
    )
    gb = GroupBy(
        name="lab", keys=["user_id"],
        aggregations=[Aggregation(Op.SUM, "v")],
    )
    out = label_join(feats, labels, gb, horizon=Window(7, TimeUnit.DAYS))
    row = out.first()
    assert row["label_v_sum_7d"] == 5.0


def test_label_join_parts_multi(spark, events):
    """Several label parts (reference LabelPart.labels list): each part's
    columns equal applying it solo; colliding prefixed namespaces raise."""
    from chronon_spark.api import LabelPart
    from chronon_spark.operators.bootstrap import label_join_parts

    gb_cnt = GroupBy(name="lc", keys=["user_id"],
                     aggregations=[Aggregation(Op.COUNT, "value")])
    gb_sum = GroupBy(name="ls", keys=["user_id"],
                     aggregations=[Aggregation(Op.SUM, "value")])
    feats = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id", "ts").distinct().limit(40)
    )
    parts = [
        LabelPart(group_by=gb_cnt, horizon=Window(1, TimeUnit.DAYS), prefix="l1"),
        LabelPart(group_by=gb_sum, horizon=Window(2, TimeUnit.DAYS), prefix="l2"),
    ]
    srcs = {"lc": events, "ls": events}
    out = label_join_parts(feats, srcs, parts, tiebreak="event_id")
    assert out.count() == feats.count()
    assert {"l1_value_count_1d", "l2_value_sum_2d"} <= set(out.columns)

    for p, col in ((parts[0], "l1_value_count_1d"), (parts[1], "l2_value_sum_2d")):
        solo = label_join(
            feats, events, p.group_by, p.horizon, tiebreak="event_id", prefix=p.prefix
        )
        got = {(r[0], r[1], r[2]) for r in out.select("user_id", "ts", col).collect()}
        want = {(r[0], r[1], r[2]) for r in solo.select("user_id", "ts", col).collect()}
        assert got == want, col

    # same GroupBy twice under ONE prefix -> column collision must raise
    import pytest as _pt

    clash = [
        LabelPart(group_by=gb_cnt, horizon=Window(1, TimeUnit.DAYS), prefix="x"),
        LabelPart(group_by=gb_cnt, horizon=Window(1, TimeUnit.DAYS), prefix="x"),
    ]
    with _pt.raises(ValueError, match="distinct prefix"):
        label_join_parts(feats, srcs, clash, tiebreak="event_id")

    # the check runs on RENDERED columns (window set is rewritten to the
    # horizon): different DECLARED windows + same horizon still collide ...
    gb_w1 = GroupBy(name="w1", keys=["user_id"],
                    aggregations=[Aggregation(Op.SUM, "value",
                                              windows=(Window(1, TimeUnit.DAYS),))])
    gb_w7 = GroupBy(name="w7", keys=["user_id"],
                    aggregations=[Aggregation(Op.SUM, "value",
                                              windows=(Window(7, TimeUnit.DAYS),))])
    rendered_clash = [
        LabelPart(group_by=gb_w1, horizon=Window(2, TimeUnit.DAYS), prefix="y"),
        LabelPart(group_by=gb_w7, horizon=Window(2, TimeUnit.DAYS), prefix="y"),
    ]
    with _pt.raises(ValueError, match="distinct prefix"):
        label_join_parts(feats, {"w1": events, "w7": events}, rendered_clash,
                         tiebreak="event_id")

    # ... while identical declared aggs at DIFFERENT horizons render distinct
    # columns and must be accepted
    ok_parts = [
        LabelPart(group_by=gb_cnt, horizon=Window(1, TimeUnit.DAYS), prefix="z"),
        LabelPart(group_by=gb_cnt, horizon=Window(2, TimeUnit.DAYS), prefix="z"),
    ]
    out2 = label_join_parts(feats, srcs, ok_parts, tiebreak="event_id")
    assert {"z_value_count_1d", "z_value_count_2d"} <= set(out2.columns)


def test_label_refresh_offsets(spark, events, tmp_path):
    """leftStartOffset/leftEndOffset: a run at label_ds only (re)labels
    feature days in [label_ds - (start-1), label_ds - (end-1)] — offsets
    are INCLUSIVE day counts (reference LabelJoin.scala:52-54: offset 3 at
    label_ds 04-03 refreshes 04-01); inverted offsets fail fast."""
    import datetime as dt

    from chronon_spark.operators.bootstrap import materialize_label_join

    gb = GroupBy(name="lr", keys=["user_id"],
                 aggregations=[Aggregation(Op.COUNT, "value")])
    feats = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id", "ts").distinct()
    )
    days = [
        r["d"]
        for r in feats.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct().orderBy("d").collect()
    ]
    label_ds = days[6]
    # inclusive offsets: refresh feature days [label_ds-3, label_ds-1]
    table, _v1, _v2 = materialize_label_join(
        spark, "lr", feats, events, gb, Window(1, TimeUnit.DAYS), label_ds,
        str(tmp_path / "lro"), tiebreak="event_id",
        left_start_offset=4, left_end_offset=2,
    )
    got_days = {
        r["d"]
        for r in table.read(spark)
        .select(F.date_format("ts", "yyyy-MM-dd").alias("d")).distinct().collect()
    }
    d0 = dt.date.fromisoformat(label_ds)
    lo = (d0 - dt.timedelta(days=3)).isoformat()
    hi = (d0 - dt.timedelta(days=1)).isoformat()
    assert got_days == {d for d in days if lo <= d <= hi}

    # the reference's single-day shape: start == end == 3 at 04-03 -> 04-01
    from chronon_spark.operators.bootstrap import refresh_window

    one = refresh_window(feats, label_ds, 3, 3)
    got_one = {
        r["d"]
        for r in one.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct().collect()
    }
    want = (d0 - dt.timedelta(days=2)).isoformat()
    assert got_one == ({want} if want in days else set())

    # inverted offsets would silently label zero days: fail fast instead
    import pytest as _pt

    with _pt.raises(ValueError, match="must be >= end offset"):
        refresh_window(feats, label_ds, 2, 4)


def test_label_join_fail_fast_validation(spark, events):
    """Misconfigured label joins raise actionable ValueErrors at build time,
    not cryptic engine AnalysisExceptions."""
    import pytest as _pt

    gb = GroupBy(name="lv", keys=["user_id"],
                 aggregations=[Aggregation(Op.COUNT, "value")])
    feats = events.select("user_id", "ts").limit(10)

    with _pt.raises(ValueError, match="positive Window"):
        label_join(feats, events, gb, horizon=None)
    with _pt.raises(ValueError, match="missing label key/time"):
        label_join(feats.drop("user_id"), events, gb, Window(1, TimeUnit.DAYS))
    with _pt.raises(ValueError, match="label_events frame is missing"):
        label_join(feats, events.drop("value").drop("user_id"), gb, Window(1, TimeUnit.DAYS))
    no_aggs = GroupBy(name="lv", keys=["user_id"], aggregations=[])
    with _pt.raises(ValueError, match="label GroupBy must declare aggregations"):
        label_join(feats, events, no_aggs, Window(1, TimeUnit.DAYS))
