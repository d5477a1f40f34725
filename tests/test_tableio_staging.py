"""Incremental backfill, resume, write layout, staging macros."""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from chronon_spark.sources.tableio import (
    PartitionedTable,
    backfill,
    ds_range,
    insert_overwrite_partitions,
    resolve_table,
    unfilled_ranges,
)
from chronon_spark.staging import backfill_staging_query, render


def test_ds_range_and_unfilled():
    assert ds_range("2024-01-30", "2024-02-02") == [
        "2024-01-30", "2024-01-31", "2024-02-01", "2024-02-02",
    ]
    req = ds_range("2024-01-01", "2024-01-10")
    have = ["2024-01-03", "2024-01-04", "2024-01-08"]
    chunks = unfilled_ranges(req, have)
    assert chunks == [
        ("2024-01-01", "2024-01-02"),
        ("2024-01-05", "2024-01-07"),
        ("2024-01-09", "2024-01-10"),
    ]
    # step chunking
    assert unfilled_ranges(req, [], step_days=4) == [
        ("2024-01-01", "2024-01-04"),
        ("2024-01-05", "2024-01-08"),
        ("2024-01-09", "2024-01-10"),
    ]


@pytest.fixture()
def tmp_table(tmp_path):
    return PartitionedTable(str(tmp_path / "tbl"))


def _mk(spark, lo, hi, tag="a"):
    days = ds_range(lo, hi)
    return spark.createDataFrame(
        [(d, i, tag) for d in days for i in range(5)], "ds string, v int, tag string"
    )


def test_backfill_resume_and_hash_invalidation(spark, tmp_table):
    calls = []

    def compute(s, lo, hi):
        calls.append((lo, hi))
        return _mk(s, lo, hi)

    recs = backfill(spark, tmp_table, compute, "2024-01-01", "2024-01-06", "h1", step_days=3)
    assert [r["range"] for r in recs] == [["2024-01-01", "2024-01-03"], ["2024-01-04", "2024-01-06"]]
    assert tmp_table.partitions() == ds_range("2024-01-01", "2024-01-06")

    # resume: nothing recomputed
    recs2 = backfill(spark, tmp_table, compute, "2024-01-01", "2024-01-06", "h1", step_days=3)
    assert recs2 == [] and len(calls) == 2

    # extend: only the new tail computed
    backfill(spark, tmp_table, compute, "2024-01-01", "2024-01-08", "h1", step_days=30)
    assert calls[-1] == ("2024-01-07", "2024-01-08")

    # semantic-hash change invalidates everything
    backfill(spark, tmp_table, compute, "2024-01-01", "2024-01-02", "h2", step_days=30)
    assert calls[-1] == ("2024-01-01", "2024-01-02")
    assert tmp_table.lineage("2024-01-01")["semantic_hash"] == "h2"


def test_dynamic_partition_overwrite(spark, tmp_table):
    insert_overwrite_partitions(_mk(spark, "2024-01-01", "2024-01-03", "a"), tmp_table)
    insert_overwrite_partitions(_mk(spark, "2024-01-02", "2024-01-02", "b"), tmp_table)
    df = tmp_table.read(spark)
    tags = {r["ds"]: r["tag"] for r in df.select("ds", "tag").distinct().collect()}
    assert tags == {"2024-01-01": "a", "2024-01-02": "b", "2024-01-03": "a"}
    # partition-pruned read
    pruned = tmp_table.read_range(spark, "2024-01-02", "2024-01-03")
    assert pruned.select("ds").distinct().count() == 2


@pytest.mark.parametrize("root", ["", "iceberg:", "delta:"])
def test_insert_overwrite_writes_one_file_per_small_ds(spark, tmp_path, root):
    """One write layout for every table kind: a small day lands in exactly
    one data file however many tasks produced it, and no row changes."""
    t = resolve_table(spark, f"{root}{tmp_path}", "tbl")
    df = _mk(spark, "2024-01-01", "2024-01-03").repartition(4)  # days span tasks
    insert_overwrite_partitions(df, t)
    if root:
        file_days = [e["partition"]["ds"] for e in t.table.plan_scan()]
    else:
        file_days = [
            os.path.basename(os.path.dirname(p))[len("ds="):]
            for p in glob.glob(os.path.join(t.path, "ds=*", "*.parquet"))
        ]
    assert Counter(file_days) == {d: 1 for d in ds_range("2024-01-01", "2024-01-03")}
    got = t.read(spark).select(*df.columns).collect()
    assert sorted(got) == sorted(df.collect())


@pytest.mark.parametrize("root", ["", "iceberg:", "delta:"])
def test_hash_change_archives_lineage_sidecars(spark, tmp_path, root):
    """A semantic-hash change moves every stale day's lineage sidecar to
    ``_archive/pre_<hash>/<ds>.lineage.json``; the table then lists and
    reads only the days recomputed under the new hash."""
    t = resolve_table(spark, f"{root}{tmp_path}", "tbl")
    backfill(spark, t, lambda s, lo, hi: _mk(s, lo, hi, "h1"), "2024-01-01", "2024-01-04", "h1")
    backfill(spark, t, lambda s, lo, hi: _mk(s, lo, hi, "h2"), "2024-01-02", "2024-01-03", "h2")

    archived = os.path.join(t.path, "_archive", "pre_h2")
    for d in ds_range("2024-01-01", "2024-01-04"):
        with open(os.path.join(archived, f"{d}.lineage.json")) as f:
            assert json.load(f)["semantic_hash"] == "h1"
    assert sorted(os.listdir(os.path.join(t.path, "_lineage"))) == [
        "2024-01-02.json", "2024-01-03.json",
    ]
    assert t.partitions() == ["2024-01-02", "2024-01-03"]
    got = t.read_range(spark, "2024-01-01", "2024-01-04").select("ds", "tag").collect()
    assert sorted(got) == sorted(
        (d, "h2") for d in ["2024-01-02", "2024-01-03"] for _ in range(5)
    )


def test_write_layout_splits_a_hot_ds_by_measured_size(spark, tmp_table):
    """Files per day follow the measured shuffle bytes: under a small
    advisory partition size the hot day is split over several files while
    the small day stays one."""
    hot = spark.range(200_000).select(F.lit("2024-01-01").alias("ds"), F.col("id").alias("v"))
    cold = spark.range(5).select(F.lit("2024-01-02").alias("ds"), F.col("id").alias("v"))
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    default = spark.conf.get(key)
    spark.conf.set(key, "256k")
    try:
        insert_overwrite_partitions(hot.unionByName(cold).repartition(4), tmp_table)
    finally:
        spark.conf.set(key, default)

    def n_files(d):
        return len(glob.glob(os.path.join(tmp_table.path, f"ds={d}", "*.parquet")))

    assert n_files("2024-01-01") > 1 and n_files("2024-01-02") == 1
    assert tmp_table.read(spark).count() == 200_005


def test_staging_macros_and_backfill(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.createOrReplaceTempView("events_v")
    sql = """
      SELECT CAST(CAST(ts AS DATE) AS STRING) AS ds, count(*) AS n
      FROM events_v
      WHERE CAST(ts AS DATE) >= CAST({{ start_date }} AS DATE)
        AND CAST(ts AS DATE) <= CAST({{ end_date }} AS DATE)
      GROUP BY 1
    """
    rendered = render(spark, sql, "2024-01-01", "2024-01-03")
    assert "'2024-01-01'" in rendered and "{{" not in rendered

    tbl = PartitionedTable(str(tmp_path / "sq"))
    recs = backfill_staging_query(spark, sql, tbl, "2024-01-01", "2024-01-04", "h")
    assert tbl.partitions() == ds_range("2024-01-01", "2024-01-04")
    total = tbl.read(spark).agg(F.sum("n")).first()[0]
    oracle = ev.where(F.col("ts") < F.lit("2024-01-05").cast("timestamp")).count()
    assert total == oracle


def test_backfill_single_job_per_chunk(spark, tmp_table, monkeypatch):
    """The chunk plan must execute ONCE (the write); the lineage row count is
    an observed metric of that same job, not a separate count() action."""
    import pyspark.sql

    def no_count(self, *a, **k):
        raise AssertionError("backfill must not run a separate count() action")

    monkeypatch.setattr(pyspark.sql.DataFrame, "count", no_count)
    recs = backfill(
        spark, tmp_table, lambda s, lo, hi: _mk(s, lo, hi), "2024-02-01", "2024-02-03", "h1"
    )
    monkeypatch.undo()
    assert [r["rows"] for r in recs] == [15]  # 3 days x 5 rows, observed at write
    assert tmp_table.partitions() == ["2024-02-01", "2024-02-02", "2024-02-03"]
    assert tmp_table.read(spark).count() == 15


def test_backfill_counts_a_chunk_aqe_proves_empty(spark, tmp_table):
    """A chunk whose rows AQE finds empty at run time (the empty side of a
    left join) records 0 rows instead of failing on the observed count."""
    keys = spark.range(100).withColumn("k", F.col("id") % 10)

    def compute(s, lo, hi):
        empty = keys.where("id < 0").withColumn("ds", F.lit(lo))
        return empty.join(keys.select("k", F.col("id").alias("x")), "k", "left")

    recs = backfill(spark, tmp_table, compute, "2024-01-01", "2024-01-01", "h")
    assert [r["rows"] for r in recs] == [0]


def test_schema_evolution_append_only(spark, tmp_table):
    """Adding a column is fine (old partitions read null via mergeSchema);
    dropping or retyping one is rejected BEFORE any data moves (reference
    ALTER TABLE ADD COLUMNS append-only contract, TableUtils.scala:970-1031)."""
    import pytest

    from chronon_spark.sources.tableio import SchemaEvolutionError, insert_overwrite_partitions

    v1 = spark.createDataFrame([("2024-01-01", 1, "x")], "ds string, v int, tag string")
    insert_overwrite_partitions(v1, tmp_table)

    # append-only: new column lands; old partition reads it as NULL
    v2 = spark.createDataFrame(
        [("2024-01-02", 2, "y", 9.5)], "ds string, v int, tag string, score double"
    )
    insert_overwrite_partitions(v2, tmp_table)
    out = tmp_table.read(spark)
    assert set(out.columns) == {"ds", "v", "tag", "score"}
    rows = {r["ds"]: r["score"] for r in out.collect()}
    assert rows["2024-01-01"] is None and rows["2024-01-02"] == 9.5

    # dropping a column is rejected
    v3 = spark.createDataFrame([("2024-01-03", 3)], "ds string, v int")
    with pytest.raises(SchemaEvolutionError, match="dropped"):
        insert_overwrite_partitions(v3, tmp_table)

    # retyping a column is rejected
    v4 = spark.createDataFrame(
        [("2024-01-03", "3", "z", 1.0)], "ds string, v string, tag string, score double"
    )
    with pytest.raises(SchemaEvolutionError, match="changes type"):
        insert_overwrite_partitions(v4, tmp_table)

    # and the rejected writes left the table untouched
    assert tmp_table.partitions() == ["2024-01-01", "2024-01-02"]


def test_cumulative_source_reads_latest_valid_partition(spark, tmp_table):
    """EventSource.isCumulative: every ds partition holds full history up to
    end-of-ds, so reads select ONE partition — the latest at or before the
    requested end — never a day range (reference GroupBy.scala:576-580)."""
    from chronon_spark.sources.tableio import cumulative_latest, read_cumulative

    # partition ds holds ds_range('2024-01-01', ds) rows (cumulative layout:
    # _mk's per-day ds column is overridden with the constant partition ds)
    for ds in ("2024-01-02", "2024-01-05", "2024-01-08"):
        insert_overwrite_partitions(
            _mk(spark, "2024-01-01", ds).withColumn("ds", F.lit(ds)), tmp_table
        )
    latest = read_cumulative(spark, tmp_table)
    assert latest.count() == 5 * len(ds_range("2024-01-01", "2024-01-08"))
    assert "ds" not in latest.columns
    mid = read_cumulative(spark, tmp_table, end_ds="2024-01-06")
    assert mid.count() == 5 * len(ds_range("2024-01-01", "2024-01-05"))
    with pytest.raises(ValueError):
        read_cumulative(spark, tmp_table, end_ds="2024-01-01")
    # DataFrame-level variant agrees with the table-level one
    df = tmp_table.read(spark)
    assert cumulative_latest(df, end_ds="2024-01-06").count() == mid.count()
    with pytest.raises(ValueError):
        cumulative_latest(df, end_ds="2024-01-01")


def test_cumulative_read_prunes_partitions_at_plan_time(spark, tmp_table):
    """The latest-partition selection must reach PartitionFilters on the
    scan (directory pruning), not a post-scan row filter over every
    partition — the point of cumulative sources at 100TB."""
    from chronon_spark.sources.tableio import read_cumulative

    for ds in ("2024-01-02", "2024-01-05"):
        insert_overwrite_partitions(
            _mk(spark, "2024-01-01", ds).withColumn("ds", F.lit(ds)), tmp_table
        )
    out = read_cumulative(spark, tmp_table)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "2024-01-05" in seg
