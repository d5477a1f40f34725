"""The benchmark's ``--trace 1`` run (perfbench/spans.py) measures layers
by wrapping library attributes: ``IcebergTable.plan_scan``,
``IcebergTable.scan`` and ``IcebergPartitionedTable.insert_overwrite``
(sources), ``join.compute_join_part`` and ``tableio.backfill`` (join), and
``FeatureService._key_types``/``_requests_df``/``_render`` plus
``Fetcher.fetch_join`` (service). These tests wrap them the same way, so a
library refactor that routes calls around them fails here instead of
silently blinding the traced figures."""

from __future__ import annotations

import functools
import os
from collections import Counter

from pyspark.sql import functions as F

from chronon_spark.api import Aggregation, GroupBy, Join, JoinPart, Op, TimeUnit, Window
from chronon_spark.sources import iceberg as I
from chronon_spark.sources import tableio as T
from chronon_spark.sources.tableio import backfill, ds_range, resolve_table

GB = GroupBy(
    name="g",
    keys=["k"],
    aggregations=[Aggregation(Op.COUNT, "v", windows=(Window(1, TimeUnit.DAYS),))],
)
JOIN = Join(name="j", left_keys=["k"], join_parts=[JoinPart(group_by=GB)])
DAY_MS = 86_400_000
T0 = 19723 * DAY_MS  # 2024-01-01T00:00Z


def _events(spark, days):
    rows = [
        (k, float(i), T0 + d * DAY_MS + i * 3_600_000)
        for d in days for k in "ab" for i in range(3)
    ]
    return spark.createDataFrame(rows, "k string, v double, ts_ms long").select(
        "k", "v", F.timestamp_millis("ts_ms").alias("ts")
    )


def _frame(spark, lo, hi):
    return spark.createDataFrame(
        [(d, i) for d in ds_range(lo, hi) for i in range(5)], "ds string, v int"
    )


def test_iceberg_patch_points_see_every_write_and_range_read(spark, tmp_path, monkeypatch):
    calls: Counter = Counter()
    in_scan = [0]
    orig_plan = I.IcebergTable.plan_scan
    orig_scan = I.IcebergTable.scan
    orig_write = I.IcebergPartitionedTable.insert_overwrite

    @functools.wraps(orig_plan)
    def plan_scan(self, *a, **kw):
        calls["plan_scan_in_scan" if in_scan[0] else "plan_scan"] += 1
        return orig_plan(self, *a, **kw)

    @functools.wraps(orig_scan)
    def scan(self, *a, **kw):
        calls["scan"] += 1
        in_scan[0] += 1
        try:
            return orig_scan(self, *a, **kw)
        finally:
            in_scan[0] -= 1

    @functools.wraps(orig_write)
    def insert_overwrite(self, df, *a, **kw):
        # the tracer lists the files added under .path
        assert isinstance(self.table, I.IcebergTable) and self.table.location == self.path
        calls["insert_overwrite"] += 1
        return orig_write(self, df, *a, **kw)

    monkeypatch.setattr(I.IcebergTable, "plan_scan", plan_scan)
    monkeypatch.setattr(I.IcebergTable, "scan", scan)
    monkeypatch.setattr(I.IcebergPartitionedTable, "insert_overwrite", insert_overwrite)

    t = resolve_table(spark, f"iceberg:{tmp_path}", "tbl")
    recs = backfill(
        spark, t, lambda s, lo, hi: _frame(s, lo, hi), "2024-01-01", "2024-01-04", "h", step_days=2
    )
    assert len(recs) == 2 and calls["insert_overwrite"] == 2

    calls.clear()
    rows = t.read_range(spark, "2024-01-02", "2024-01-03").collect()
    assert calls == {"scan": 1, "plan_scan_in_scan": 1}
    assert len(rows) == 10


def test_join_patch_points_see_every_part_and_table(spark, tmp_path, monkeypatch):
    """One-part materialize_join: ``backfill`` once per table written (the
    part table, then the final table, told apart by ``.path``) and
    ``compute_join_part`` once, inside the part table's backfill."""
    from chronon_spark.operators import join as J

    calls: list = []
    depth = [0]
    orig_part, orig_backfill = J.compute_join_part, T.backfill

    @functools.wraps(orig_part)
    def compute_join_part(*a, **kw):
        calls.append(("compute_join_part", depth[0]))
        return orig_part(*a, **kw)

    @functools.wraps(orig_backfill)
    def traced_backfill(spark, table, *a, **kw):
        calls.append((os.path.basename(table.path), depth[0]))
        depth[0] += 1
        try:
            return orig_backfill(spark, table, *a, **kw)
        finally:
            depth[0] -= 1

    monkeypatch.setattr(J, "compute_join_part", compute_join_part)
    monkeypatch.setattr(T, "backfill", traced_backfill)
    left = _events(spark, [0, 1]).select("k", "ts")
    J.materialize_join(
        spark, left, {"g": _events(spark, [0, 1])}, JOIN, f"iceberg:{tmp_path}",
        "2024-01-01", "2024-01-02",
    )
    assert calls == [("j_g", 0), ("compute_join_part", 1), ("j", 0)]


def test_service_patch_points_see_one_join_request(spark, tmp_path, monkeypatch):
    """One in-process ``fetch_join_rows`` reaches each wrapped service
    method exactly once, the first three while holding the request lock
    (the tracer's ``service.lock_wait`` span wraps that lock), and records
    only ``cache.hit``s."""
    from chronon_spark.online import Context, Fetcher
    from chronon_spark.operators.upload import upload_batch_irs, write_upload_tables
    from chronon_spark.service import FeatureService

    class Lock:
        held = False

        def __enter__(self):
            Lock.held = True

        def __exit__(self, *exc):
            Lock.held = False

    calls: Counter = Counter()
    for cls, name in (
        (FeatureService, "_key_types"),
        (FeatureService, "_requests_df"),
        (FeatureService, "_render"),
        (Fetcher, "fetch_join"),
    ):
        fn = getattr(cls, name)

        @functools.wraps(fn)
        def wrapper(*a, _fn=fn, _name=name, **kw):
            calls[f"{_name}@{'locked' if Lock.held else 'free'}"] += 1
            return _fn(*a, **kw)

        monkeypatch.setattr(cls, name, wrapper)

    write_upload_tables(
        spark, str(tmp_path), GB, "2024-01-02",
        upload_batch_irs(_events(spark, [0, 1]), GB, "2024-01-02"),
    )
    svc = FeatureService(
        spark, Fetcher(spark, str(tmp_path)), "2024-01-02",
        joins={JOIN.name: JOIN}, streams={GB.name: _events(spark, [2])},
    )
    svc._lock = Lock()
    # the counters the benchmark's online.ir_cache_hit_ratio reads: the
    # store loads (one miss) at construction, requests only hit it
    counter = functools.partial(svc.fetcher.metrics.counter, Context("group_by.fetching", group_by=GB.name))
    assert (counter("cache.miss"), counter("cache.hit")) == (1, 0)
    rows = svc.fetch_join_rows(JOIN.name, [{"k": "a", "ts": T0 + 2 * DAY_MS + 7_200_000}])
    assert list(rows[0]["features"]) == ["g_v_count_1d"]
    assert calls == {
        "_key_types@locked": 1,
        "_requests_df@locked": 1,
        "fetch_join@locked": 1,
        "_render@free": 1,
    }
    hits = counter("cache.hit")
    assert counter("cache.miss") == 1 and hits > 0
    svc.fetch_join_rows(JOIN.name, [{"k": "b", "ts": T0 + 2 * DAY_MS}])
    assert counter("cache.miss") == 1 and counter("cache.hit") == 2 * hits
