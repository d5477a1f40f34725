"""The in-process lambda merge (operators/local_merge.py behind
online.Fetcher) against the Spark plan it replaces on the serving path
(operators.upload.fetch_join / fetch_features): same columns, same types,
same values (floats to 1e-9 relative), for every op it serves, over 5h
(5-minute tail hop), 1d, 7d and lifetime windows, without a tiebreak column
and, for the ops whose merge orders events (FIRST, LAST, FIRST_K, LAST_K),
with one. The request set covers keys with no history, request times
at the batch end and one millisecond before the horizon, a request at an
event's exact time, duplicate rows, a null key, long and string keys, a
two-part join with a key mapping and prefixes, GroupBy and join
derivations, and an external part."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from chronon_spark.api import (
    Aggregation,
    ExternalPart,
    ExternalSource,
    GroupBy,
    Join,
    JoinPart,
    Op,
    TimeUnit,
    Window,
)
from chronon_spark.online import ExternalSourceHandler, ExternalSourceRegistry, Fetcher
from chronon_spark.operators import upload as U
from chronon_spark.operators.local_merge import SERVED_OPS

DAY_MS = 86_400_000
T0 = 19723 * DAY_MS  # 2024-01-01T00:00Z
BATCH_END_DS = "2024-01-10"
BATCH_END = T0 + 10 * DAY_MS  # midnight after the batch end day
WINDOWS = (Window(5, TimeUnit.HOURS), Window(1, TimeUnit.DAYS), Window(7, TimeUnit.DAYS))
INPUT = {
    Op.COUNT: "v", Op.SUM: "x", Op.AVERAGE: "v", Op.VARIANCE: "x", Op.MIN: "s",
    Op.MAX: "v", Op.FIRST: "s", Op.LAST: "x", Op.FIRST_K: "s", Op.LAST_K: "v",
    Op.TOP_K: "x", Op.BOTTOM_K: "s", Op.UNIQUE_COUNT: "s",
}
K_OPS = {Op.FIRST_K, Op.LAST_K, Op.TOP_K, Op.BOTTOM_K}
ORDERED = [Op.FIRST, Op.LAST, Op.FIRST_K, Op.LAST_K]  # the ops a tiebreak orders


def _aggs(op):
    col, k = INPUT[op], 3 if op in K_OPS else None
    return [Aggregation(op, col, k=k, windows=WINDOWS), Aggregation(op, col, k=k)]


def _gb_all(tiebreak):
    """Every served op without a tiebreak; with one, only the ops it orders."""
    ops = ORDERED if tiebreak else list(INPUT)
    return GroupBy(name="all", keys=["uid"], aggregations=[a for op in ops for a in _aggs(op)])


GB_STR = GroupBy(
    name="by_name",
    keys=["sid"],
    aggregations=[
        Aggregation(Op.SUM, "v", windows=(Window(1, TimeUnit.DAYS),)),
        Aggregation(Op.LAST, "s", windows=(Window(7, TimeUnit.DAYS),)),
    ],
    derivations={"*": "*", "v_sum_1d_x2": "v_sum_1d * 2"},
)
RISK = ExternalSource(
    name="risk", key_schema=(("uid", "bigint"),), value_schema=(("score", "double"),)
)


def _join(gb_all):
    return Join(
        name="lm_join",
        left_keys=["uid", "user_name"],
        join_parts=[
            JoinPart(group_by=gb_all, prefix="a"),
            JoinPart(group_by=GB_STR, key_mapping={"user_name": "sid"}, prefix="b"),
        ],
        derivations={"*": "*", "first_s_x2": "concat(a_all_s_first_7d, a_all_s_first_7d)"},
        external_parts=[ExternalPart(source=RISK)],
    )


class _EvenRisk(ExternalSourceHandler):
    def fetch(self, _spark, keys):
        return keys.where(F.col("uid") % 2 == 0).withColumn("score", F.col("uid") * 0.5)


def _events(spark):
    """Seeded events for uids 1-6 over ten batch days (dense in the last 5
    hours, so 5-minute tail tiles fill) and the serve day; uid 7 has stream
    events only. Event times are distinct per key, so FIRST/LAST have no
    ties without a tiebreak; about one value in ten is null."""
    rng = random.Random(7)
    rows, eid = [], 0

    def val(make):
        return None if rng.random() < 0.1 else make()

    for uid in range(1, 8):
        seen = set()
        spans = [(BATCH_END, BATCH_END + DAY_MS, 20)]
        if uid <= 6:
            spans += [(T0, BATCH_END, 40), (BATCH_END - 5 * 3_600_000, BATCH_END, 12)]
        for lo, hi, n in spans:
            for _ in range(n):
                ts = rng.randrange(lo, hi)
                while ts in seen:
                    ts += 1
                seen.add(ts)
                eid += 1
                rows.append((
                    uid, f"u{uid}", val(lambda: rng.randrange(20)),
                    val(lambda: rng.randrange(-40, 40) * 0.25),
                    val(lambda: rng.choice(["a", "b", "c", "dd", "e"])), eid, ts,
                ))
    return spark.createDataFrame(
        rows, "uid long, sid string, v long, x double, s string, eid long, ts_ms long"
    ).select("uid", "sid", "v", "x", "s", "eid", F.timestamp_millis("ts_ms").alias("ts"))


def _requests(spark, events):
    """(rid, uid, user_name, ts) request rows over the serve day."""
    rng = random.Random(11)
    first_stream = min(
        r["ms"] for r in events.where("uid = 1")
        .select(F.unix_millis("ts").alias("ms")).where(F.col("ms") >= BATCH_END).collect()
    )
    rows, rid = [], 0
    for uid in [1, 2, 3, 4, 5, 6, 7, 99]:
        times = [BATCH_END, BATCH_END + DAY_MS - 1] + [
            rng.randrange(BATCH_END, BATCH_END + DAY_MS) for _ in range(3)
        ]
        for ts in times:
            rid += 1
            rows.append((rid, uid, f"u{uid}" if uid != 5 else "nobody", ts))
    rows += [rows[3], rows[3]]  # duplicate request rows
    rows += [(900, 1, "u1", first_stream), (901, None, None, BATCH_END + 3_600_000)]
    return spark.createDataFrame(
        rows, "rid long, uid long, user_name string, ts_ms long"
    ).select("rid", "uid", "user_name", F.timestamp_millis("ts_ms").alias("ts"))


@pytest.fixture(scope="module")
def fetched(spark, tmp_path_factory):
    """tiebreak -> Spark-plan and in-process answers for the join and for
    the all-ops GroupBy alone (computed once per tiebreak)."""
    events = _events(spark).cache()
    requests = _requests(spark, events).cache()
    done = {}

    def get(tiebreak):
        if tiebreak not in done:
            done[tiebreak] = _fetch(spark, tmp_path_factory, events, requests, tiebreak)
        return done[tiebreak]

    yield get
    events.unpersist()
    requests.unpersist()


def _fetch(spark, tmp_path_factory, events, requests, tiebreak):
    gb_all = _gb_all(tiebreak)
    join = _join(gb_all)
    batch = events.where(F.col("ts") < F.timestamp_millis(F.lit(BATCH_END)))
    stream = events.where(F.col("ts") >= F.timestamp_millis(F.lit(BATCH_END)))
    root = str(tmp_path_factory.mktemp("lm_uploads"))
    for gb in (gb_all, GB_STR):
        frames = U.upload_batch_irs(batch, gb, BATCH_END_DS, tiebreak=tiebreak)
        U.write_upload_tables(spark, root, gb, BATCH_END_DS, frames)
    uploads = {
        gb.name: U.read_upload_tables(spark, root, gb, BATCH_END_DS) for gb in (gb_all, GB_STR)
    }
    streams = {gb_all.name: stream, GB_STR.name: stream}
    reg = ExternalSourceRegistry()
    reg.add("risk", _EvenRisk())
    fetcher = Fetcher(spark, root)
    got = {
        "join": (
            U.fetch_join(requests, uploads, streams, join, BATCH_END_DS,
                         tiebreak=tiebreak, external_registry=reg),
            fetcher.fetch_join(requests, streams, join, BATCH_END_DS,
                               tiebreak=tiebreak, external_registry=reg),
        ),
        "group_by": (
            U.fetch_features(requests, *uploads[gb_all.name], stream, gb_all, BATCH_END_DS,
                             tiebreak=tiebreak),
            fetcher.fetch_features(requests, stream, gb_all, BATCH_END_DS, tiebreak=tiebreak),
        ),
    }
    return {
        kind: (spark_df.dtypes, local_df.dtypes, _rows(spark_df), _rows(local_df))
        for kind, (spark_df, local_df) in got.items()
    }


def _rows(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=lambda d: (d["rid"], repr(d)))


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b and type(a) is type(b)


def _assert_same(fetched, kind, columns=None):
    spark_types, local_types, want, got = fetched[kind]
    assert local_types == spark_types
    assert len(got) == len(want)
    for w, g in zip(want, got):
        for c in columns or w:
            assert _close(g[c], w[c]), (kind, w["rid"], c, g[c], w[c])


def test_served_ops_are_covered():
    assert set(INPUT) == SERVED_OPS


CASES = [(op, None) for op in sorted(INPUT, key=lambda o: o.value)] + [(op, "eid") for op in ORDERED]


@pytest.mark.parametrize(
    "op,tiebreak", CASES, ids=[f"{op.name}-{'tiebreak' if tb else 'no_tiebreak'}" for op, tb in CASES]
)
def test_op_matches_spark_plan(fetched, op, tiebreak):
    """Each op's columns, over every window, in the join and in the
    GroupBy-only fetch."""
    got = fetched(tiebreak)
    cols = [a.output_name(w, None) for a in _aggs(op) for w, _ in a.unpacked()]
    _assert_same(got, "group_by", cols)
    _assert_same(got, "join", [f"a_all_{c}" for c in cols])


@pytest.mark.parametrize("tiebreak", [None, "eid"], ids=["no_tiebreak", "tiebreak"])
def test_join_matches_spark_plan(fetched, tiebreak):
    """Every column of the two-part join: request columns in assembly
    order, the string-keyed part with its GroupBy derivation, the external
    part and the join derivation."""
    got = fetched(tiebreak)
    names = [n for n, _t in got["join"][0]]
    assert names[:4] == ["user_name", "ts", "uid", "rid"]
    assert {"b_by_name_v_sum_1d_x2", "ext_risk_score", "first_s_x2"} <= set(names)
    _assert_same(got, "join")
    _assert_same(got, "group_by")
