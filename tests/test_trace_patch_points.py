"""The benchmark's ``--trace 1`` run (perfbench/spans.py instrument_batch)
measures the sources layer by wrapping three class attributes:
``IcebergTable.plan_scan``, ``IcebergTable.scan`` and
``IcebergPartitionedTable.insert_overwrite``. This test wraps them the same
way, so a library refactor that routes writes or range reads around them
fails here instead of silently blinding the traced figures."""

from __future__ import annotations

import functools
from collections import Counter

from chronon_spark.sources import iceberg as I
from chronon_spark.sources.tableio import backfill, ds_range, resolve_table


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
