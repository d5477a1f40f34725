"""The shared IR algebra of functions/ops.py, tested without an estimator.

Tiles are built with ``partial_cols`` over a 20-row frame. For every
non-decayed hop-mergeable op, ``merge_cols`` (aggregate form) followed by
``finalize`` must equal ``direct_agg`` over the raw rows. For the sliding
estimator's ops the window form and the row-wise combine of band columns
must equal it too. Key ``b`` has no events in band 1 (a NULL band in the
row-wise form) and key ``c`` has only null values (every empty result).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as SW

from chronon_spark.api import Aggregation, Op
from chronon_spark.functions import ops as O
from chronon_spark.plans.sliding import SLIDING_OPS

# (key, ts, value): tile = ts // 10, band = tile % 3; (ts, tb) is unique
ROWS = [
    ("a", 1, 5), ("a", 3, 2), ("a", 7, None), ("a", 12, 5), ("a", 14, 9),
    ("a", 18, -1), ("a", 21, 2), ("a", 25, 7), ("a", 26, 5), ("a", 33, 0),
    ("a", 35, 11), ("a", 38, 3),
    ("b", 2, 4), ("b", 6, 4), ("b", 22, 8), ("b", 24, 1), ("b", 29, 6),
    ("c", 11, None), ("c", 13, None), ("c", 17, None),
]
BANDS = 3

AGGS = [
    Aggregation(
        op, "v", k=3, percentiles=(0.25, 0.5, 0.9),
        accuracy=1000 if op == Op.APPROX_PERCENTILE else None,
    )
    for op in sorted(O.HOP_MERGEABLE_OPS - O.DECAYED_OPS, key=lambda o: o.value)
] + [Aggregation(Op.APPROX_UNIQUE_COUNT, "v", accuracy=1000)]  # the KMV IR
SLIDING_AGGS = [a for a in AGGS if a.operation in SLIDING_OPS]


def _id(a: Aggregation) -> str:
    return a.operation.value + ("_kmv" if a.accuracy and a.operation == Op.APPROX_UNIQUE_COUNT else "")


def _by_key(df) -> dict[str, dict]:
    return {r["k"]: r.asDict() for r in df.collect()}


@pytest.fixture(scope="module")
def results(spark):
    raw = spark.createDataFrame(ROWS, "k string, ts long, v long").withColumn(
        "tb", F.monotonically_increasing_id()
    )
    slots = {_id(a): (a, f"a{i}") for i, a in enumerate(AGGS)}
    v, ts, tb = F.col("v"), F.col("ts"), F.col("tb")

    direct = raw.groupBy("k").agg(
        *[O.direct_agg(a, v, ts, tb).alias(n) for n, (a, _s) in slots.items()]
    )
    partials = {}
    for a, slot in slots.values():
        partials.update(O.partial_cols(a, v, ts, tb, slot))
    tiles = (
        raw.withColumn("tile", F.floor(ts / 10))
        .groupBy("k", "tile")
        .agg(*[c.alias(n) for n, c in partials.items()])
        .cache()
    )

    def merged(a, slot, **kw):
        return O.finalize(a, slot, O.merge_cols(a, slot, **kw))

    aggregate = tiles.groupBy("k").agg(
        *[merged(a, s).alias(n) for n, (a, s) in slots.items()]
    )
    sliding = {n: slots[n] for n in map(_id, SLIDING_AGGS)}
    window = tiles.select(
        "k",
        *[merged(a, s, over=SW.partitionBy("k")).alias(n) for n, (a, s) in sliding.items()],
    ).dropDuplicates(["k"])

    rowwise = raw.select("k").distinct()
    for b in range(BANDS):
        cols = {}
        for a, s in sliding.values():
            cols.update(
                {f"b{b}_{n}": c for n, c in O.merge_cols(a, s).items()}
            )
        band = (
            tiles.where(F.col("tile") % BANDS == b)
            .groupBy("k")
            .agg(*[c.alias(n) for n, c in cols.items()])
        )
        rowwise = rowwise.join(band, "k", "left")
    bands = [f"b{b}_" for b in range(BANDS)]
    rowwise = rowwise.select(
        "k",
        *[
            merged(a, s, bands=[p + s for p in bands]).alias(n)
            for n, (a, s) in sliding.items()
        ],
    )
    out = {
        form: _by_key(df)
        for form, df in (
            ("direct", direct),
            ("aggregate", aggregate),
            ("window", window),
            ("rowwise", rowwise),
        )
    }
    tiles.unpersist()
    return out


def _close(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(x, list) and isinstance(y, list):
        return len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y))
    return x == y


def _assert_form_equals_direct(results, form: str, name: str) -> None:
    want, got = results["direct"], results[form]
    assert set(got) == set(want) == {"a", "b", "c"}
    for k in want:
        assert _close(got[k][name], want[k][name]), (form, name, k, got[k][name], want[k][name])


@pytest.mark.parametrize("agg", AGGS, ids=_id)
def test_aggregate_merge_then_finalize_equals_direct(results, agg):
    _assert_form_equals_direct(results, "aggregate", _id(agg))


@pytest.mark.parametrize("agg", SLIDING_AGGS, ids=_id)
@pytest.mark.parametrize("form", ["window", "rowwise"])
def test_sliding_forms_equal_direct(results, form, agg):
    _assert_form_equals_direct(results, form, _id(agg))


def test_rowwise_merge_rejects_sketches():
    with pytest.raises(ValueError, match="row-wise"):
        O.merge_cols(Aggregation(Op.APPROX_UNIQUE_COUNT, "v"), "a0", bands=["b0", "b1"])
