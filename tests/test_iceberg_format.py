"""Executed Iceberg v2 format (sources/iceberg.py): real metadata.json +
Avro manifests written/planned with the repo's own Avro codec — closing the
"layout contract only" gap from tests/test_iceberg_contract.py with actual
spec-conforming metadata I/O (public Apache Iceberg table spec, v2).

Reference parity: TableUtils.scala:104-282 (Iceberg provider handling,
metadata-driven partition listing)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from chronon_spark.serde import AvroSchema, read_ocf, write_ocf
from chronon_spark.sources.iceberg import (
    IcebergTable,
    append,
    create_table,
)


def _df(spark, n=100, shift=0):
    return spark.range(0, n).select(
        (F.col("id") % 4).cast("int").alias("bucket"),
        (F.col("id") + shift).alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("2024-03-0"), ((F.col("id") % 3) + 1).cast("string")).alias("ds"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    create_table(_df(spark), loc, partition_by=["ds"])
    return IcebergTable(loc)


# --- OCF layer ---------------------------------------------------------------


def test_ocf_round_trip_and_structure(tmp_path):
    s = AvroSchema(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "a", "type": "long"},
                {"name": "b", "type": ["null", "string"], "default": None},
            ],
        }
    )
    recs = [{"a": i, "b": None if i % 2 else f"s{i}"} for i in range(10)]
    p = str(tmp_path / "f.avro")
    n = write_ocf(p, s, recs, metadata={"content": b"data"})
    assert n == os.path.getsize(p)
    with open(p, "rb") as f:
        assert f.read(4) == b"Obj\x01"  # spec magic
    out, meta = read_ocf(p)
    assert out == recs
    assert meta["content"] == b"data"
    assert json.loads(meta["avro.schema"].decode())["name"] == "r"
    # evolved reader: resolution rules apply through the container framing
    r2 = AvroSchema(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "a", "type": "long"},
                {"name": "c", "type": "string", "default": "d"},
            ],
        }
    )
    out2, _ = read_ocf(p, reader=r2)
    assert out2 == [{"a": i, "c": "d"} for i in range(10)]


# --- metadata structure vs the public spec -----------------------------------


def test_metadata_json_spec_shape(table):
    md = table.metadata()
    assert md["format-version"] == 2
    assert md["current-schema-id"] == 0
    fields = md["schemas"][0]["fields"]
    assert [(f["id"], f["name"]) for f in fields] == [
        (1, "bucket"), (2, "k"), (3, "v"), (4, "ds"),
    ]
    spec = md["partition-specs"][md["default-spec-id"]]
    assert spec["fields"] == [
        {"name": "ds", "transform": "identity", "source-id": 4, "field-id": 1000}
    ]
    snap = table.snapshot()
    assert snap["sequence-number"] == 1 and snap["summary"]["operation"] == "append"
    assert os.path.exists(snap["manifest-list"])
    # atomic pointer protocol
    assert table.current_version() == 1
    assert os.path.exists(os.path.join(table.metadata_dir, "v1.metadata.json"))


def test_manifest_avro_spec_field_ids_and_stats(spark, table):
    mlist, _ = read_ocf(table.snapshot()["manifest-list"])
    assert all(m["added_data_files_count"] > 0 for m in mlist)
    entries, meta = read_ocf(mlist[0]["manifest_path"])
    # OCF metadata keys the java reader requires
    assert meta["format-version"] == b"2" and meta["content"] == b"data"
    schema_json = json.loads(meta["avro.schema"].decode())
    by_name = {f["name"]: f for f in schema_json["fields"]}
    assert by_name["status"]["field-id"] == 0
    assert by_name["data_file"]["field-id"] == 2
    dfields = {f["name"]: f for f in by_name["data_file"]["type"]["fields"]}
    assert dfields["file_path"]["field-id"] == 100
    assert dfields["partition"]["field-id"] == 102
    assert dfields["record_count"]["field-id"] == 103
    # stats: record counts in manifests equal actual data
    assert sum(e["data_file"]["record_count"] for e in entries) == 100
    e = entries[0]["data_file"]
    lowers = {kv["key"]: kv["value"] for kv in e["lower_bounds"]}
    assert 2 in lowers  # field-id of k carries a bound
    assert all(x["status"] == 1 for x in entries)  # ADDED


# --- scan correctness + pruning ----------------------------------------------


def test_scan_equals_source(spark, table):
    got = sorted(table.scan(spark).collect())
    exp = sorted(_df(spark).collect())
    assert got == exp


def test_partition_pruning_reads_fewer_files_same_answer(spark, table):
    audit: dict = {}
    got = table.scan(spark, filters=[("ds", "=", "2024-03-02")], _audit=audit)
    exp = _df(spark).where(F.col("ds") == "2024-03-02")
    assert sorted(got.collect()) == sorted(exp.collect())
    assert 0 < audit["files_kept"] < audit["files_total"]


def test_column_bounds_pruning(spark, tmp_path):
    """Range-clustered writes give files disjoint k-bounds: a k filter must
    prune files via footer stats, never change the answer."""
    loc = str(tmp_path / "rng")
    df = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("m"))
    create_table(df.repartitionByRange(8, "k"), loc, partition_by=[])
    t = IcebergTable(loc)
    audit: dict = {}
    got = t.scan(spark, filters=[("k", ">=", 900)], _audit=audit)
    assert got.count() == 100
    assert 0 < audit["files_kept"] < audit["files_total"]
    # conservative direction: a filter matching everything keeps every file
    audit2: dict = {}
    assert t.scan(spark, filters=[("k", ">=", 0)], _audit=audit2).count() == 1000
    assert audit2["files_kept"] == audit2["files_total"]


def test_append_time_travel_and_lineage(spark, table):
    snap1 = table.snapshot()["snapshot-id"]
    append(_df(spark, n=50, shift=10_000), table.location)
    assert table.current_version() == 2
    md = table.metadata()
    assert md["last-sequence-number"] == 2
    snap2 = table.snapshot()
    assert snap2["parent-snapshot-id"] == snap1
    # current sees both batches; time travel sees only the first
    assert table.scan(spark).count() == 150
    tt = table.scan(spark, snapshot_id=snap1)
    assert sorted(tt.collect()) == sorted(_df(spark).collect())
    # prior manifests preserved with their ORIGINAL sequence number
    mlist, _ = read_ocf(snap2["manifest-list"])
    assert sorted(m["sequence_number"] for m in mlist) == [1, 2]


def test_partitions_listed_from_metadata(spark, table):
    assert table.partitions() == [
        {"ds": "2024-03-01"}, {"ds": "2024-03-02"}, {"ds": "2024-03-03"},
    ]
    # metadata listing, not filesystem: removing a stray dir doesn't matter,
    # but adding one must NOT appear
    os.makedirs(os.path.join(table.data_dir, "ds=2099-01-01"), exist_ok=True)
    assert len(table.partitions()) == 3


def test_null_partition_values(spark, tmp_path):
    loc = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", None), (3, "c", None)],
        "k long, s string, ds string",
    )
    create_table(df, loc, partition_by=["ds"])
    t = IcebergTable(loc)
    got = sorted(t.scan(spark).collect())
    assert got == sorted(df.collect())
    mlist, _ = read_ocf(t.snapshot()["manifest-list"])
    assert mlist[0]["partitions"][0]["contains_null"] is True


def test_guards(spark, table, tmp_path):
    with pytest.raises(FileExistsError):
        create_table(_df(spark), table.location, partition_by=["ds"])
    bad = _df(spark).withColumn("k", F.col("k").cast("string"))
    with pytest.raises(ValueError, match="append schema mismatch"):
        append(bad, table.location)
    with pytest.raises(ValueError, match="unknown filter column"):
        table.plan_scan(filters=[("nope", "=", 1)])
    with pytest.raises(ValueError, match="unsupported filter op"):
        table.plan_scan(filters=[("k", "!=", 1)])
    with pytest.raises(NotImplementedError, match="primitive columns only"):
        create_table(
            _df(spark).withColumn("arr", F.array(F.lit(1))), str(tmp_path / "x")
        )


def test_overwrite_partitions_replaces_only_those_days(spark, table):
    from chronon_spark.sources.iceberg import overwrite_partitions

    snap1 = table.snapshot()["snapshot-id"]
    repl = (
        _df(spark)
        .where(F.col("ds") == "2024-03-02")
        .withColumn("v", F.lit(-1.0))
    )
    overwrite_partitions(repl, table.location)
    cur = table.scan(spark)
    # replaced day carries only new values; other days untouched
    assert cur.where((F.col("ds") == "2024-03-02") & (F.col("v") != -1.0)).count() == 0
    exp_other = _df(spark).where(F.col("ds") != "2024-03-02")
    got_other = cur.where(F.col("ds") != "2024-03-02")
    assert sorted(got_other.collect()) == sorted(exp_other.collect())
    # time travel still reads the pre-overwrite day
    old = table.scan(spark, snapshot_id=snap1)
    assert sorted(old.collect()) == sorted(_df(spark).collect())
    # survivors ride as EXISTING entries with their ORIGINAL sequence number
    mlist, _ = read_ocf(table.snapshot()["manifest-list"])
    existing = [m for m in mlist if m["existing_data_files_count"] > 0]
    assert existing and existing[0]["min_sequence_number"] == 1
    entries, _ = read_ocf(existing[0]["manifest_path"])
    assert all(e["status"] == 0 and e["sequence_number"] == 1 for e in entries)
    assert table.snapshot()["summary"]["operation"] == "overwrite"


def test_append_only_schema_evolution(spark, table):
    evolved = _df(spark, n=30, shift=5_000).withColumn("extra", F.lit("x"))
    append(evolved, table.location)
    md = table.metadata()
    assert md["current-schema-id"] == 1
    new_field = md["schemas"][1]["fields"][-1]
    assert (new_field["name"], new_field["id"], new_field["required"]) == ("extra", 5, False)
    out = table.scan(spark)
    assert out.columns == ["bucket", "k", "v", "ds", "extra"]
    # old files pad the new column with nulls; new rows carry it
    assert out.where(F.col("extra").isNull()).count() == 100
    assert out.where(F.col("extra") == "x").count() == 30
    with pytest.raises(ValueError, match="append-only"):
        append(_df(spark).withColumn("k", F.col("k").cast("string")), table.location)
    with pytest.raises(ValueError, match="append-only"):
        append(_df(spark).drop("v"), table.location)


def test_backfill_machinery_over_iceberg_adapter(spark, tmp_path):
    """tableio.backfill runs unchanged over the Iceberg adapter: resume
    skips present partitions, a semantic-hash change archives via a DELETE
    commit (time travel keeps the old data), recompute refills."""
    from chronon_spark.sources.tableio import backfill, resolve_table

    t = resolve_table(spark, f"iceberg:{tmp_path}", "feats")
    calls: list[tuple] = []

    def compute(spark_, lo, hi):
        calls.append((lo, hi))
        days = spark.createDataFrame(
            [(d,) for d in ["2024-03-01", "2024-03-02", "2024-03-03"]], "ds string"
        ).where((F.col("ds") >= lo) & (F.col("ds") <= hi))
        return days.crossJoin(spark.range(0, 5).select(F.col("id").alias("k")))

    backfill(spark, t, compute, "2024-03-01", "2024-03-03", semantic_hash="h1")
    assert t.partitions() == ["2024-03-01", "2024-03-02", "2024-03-03"]
    assert t.read(spark).count() == 15
    n_calls = len(calls)
    # resume: nothing recomputed
    backfill(spark, t, compute, "2024-03-01", "2024-03-03", semantic_hash="h1")
    assert len(calls) == n_calls
    snap_before = t.table.snapshot()["snapshot-id"]
    # hash change: archive (delete commit) + full recompute
    backfill(spark, t, compute, "2024-03-01", "2024-03-03", semantic_hash="h2")
    assert len(calls) > n_calls
    assert t.partitions() == ["2024-03-01", "2024-03-02", "2024-03-03"]
    assert (t.lineage("2024-03-02") or {}).get("semantic_hash") == "h2"
    # the archived state is still reachable through the old snapshot
    assert t.table.scan(spark, snapshot_id=snap_before).count() == 15
    # range read is metadata-pruned
    assert t.read_range(spark, "2024-03-02", "2024-03-02").count() == 5


def test_adopt_hive_dir_zero_copy_import(spark, tmp_path):
    """add_files executed: a tableio-written hive-layout table becomes an
    Iceberg table without moving a byte — same rows, files referenced in
    place, partition values imported as strings, appends land in the
    adopted directory."""
    from chronon_spark.sources.iceberg import adopt_hive_dir
    from chronon_spark.sources.tableio import PartitionedTable, insert_overwrite_partitions

    pt = PartitionedTable(str(tmp_path / "hive"))
    df = _df(spark)
    insert_overwrite_partitions(df, pt)
    before_files = sorted(
        p for p in __import__("glob").glob(f"{pt.path}/**/*.parquet", recursive=True)
    )

    t = adopt_hive_dir(spark, pt.path, str(tmp_path / "ice"))
    assert sorted(t.scan(spark).select(*df.columns).collect()) == sorted(df.collect())
    assert dict(t.scan(spark).dtypes)["ds"] == "string"
    # zero copy: manifests reference the original files, nothing moved
    entries = t.plan_scan()
    assert sorted(e["path"] for e in entries) == before_files
    assert t.metadata()["properties"]["write.data.path"] == pt.path
    assert t.snapshot()["summary"]["added-via"] == "add_files"
    # partition pruning works over the adopted layout
    audit: dict = {}
    t.scan(spark, filters=[("ds", "=", "2024-03-01")], _audit=audit)
    assert 0 < audit["files_kept"] < audit["files_total"]
    # later snapshot commits keep targeting the adopted directory
    append(_df(spark, n=10, shift=90_000), str(tmp_path / "ice"))
    assert t.scan(spark).count() == 110
    assert all(e["path"].startswith(pt.path) for e in t.plan_scan())


def test_expire_snapshots_and_orphan_cleanup(spark, table):
    from chronon_spark.sources.iceberg import expire_snapshots, overwrite_partitions

    repl = _df(spark).where(F.col("ds") == "2024-03-02").withColumn("v", F.lit(-1.0))
    overwrite_partitions(repl, table.location)  # snapshot 2 replaces a day
    snap1 = table.metadata()["snapshots"][0]["snapshot-id"]
    cur_before = sorted(table.scan(spark).collect())
    n_files_before = len(_parquet_under(table.data_dir))

    res = expire_snapshots(table.location, keep_last=1)
    assert res["expired_snapshots"] == 1 and res["deleted_manifests"] >= 1
    assert res["deleted_data_files"] > 0  # the replaced day's files are gone
    assert len(_parquet_under(table.data_dir)) < n_files_before
    # current snapshot reads exactly as before the expiry
    assert sorted(table.scan(spark).collect()) == cur_before
    # the expired snapshot is no longer reachable
    with pytest.raises(KeyError):
        table.snapshot(snap1)
    # idempotent once only one snapshot remains
    assert expire_snapshots(table.location, keep_last=1)["expired_snapshots"] == 0
    with pytest.raises(ValueError, match="keep_last must be"):
        expire_snapshots(table.location, keep_last=0)


def test_expire_never_deletes_adopted_files(spark, tmp_path):
    from chronon_spark.sources.iceberg import adopt_hive_dir, expire_snapshots, overwrite_partitions
    from chronon_spark.sources.tableio import PartitionedTable, insert_overwrite_partitions

    pt = PartitionedTable(str(tmp_path / "hive"))
    insert_overwrite_partitions(_df(spark), pt)
    adopted = sorted(_parquet_under(pt.path))
    t = adopt_hive_dir(spark, pt.path, str(tmp_path / "ice"))
    # overwrite one day (new files land in the adopted dir), then expire
    repl = _df(spark).where(F.col("ds") == "2024-03-01").withColumn("v", F.lit(-9.0))
    overwrite_partitions(repl, t.location)
    expire_snapshots(t.location, keep_last=1)
    # every originally-adopted file still exists: the source table is intact
    assert all(os.path.exists(p) for p in adopted)


def _parquet_under(root):
    out = []
    for dirpath, _d, names in os.walk(root):
        out += [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
    return out


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_filter_pruning_differential(spark, tmp_path, seed):
    """Pruning is an optimization, never a semantic: for random tables and
    random filters over partition AND data columns (null partitions
    included), the pruned scan must equal full-scan-then-filter exactly."""
    import random

    rng = random.Random(seed)
    from chronon_spark.sources.iceberg import IcebergTable, create_table

    rows = [
        (
            rng.randrange(0, 50),
            rng.uniform(-5, 5),
            rng.choice(["a", "b", "c"]),
            rng.choice(["2024-03-01", "2024-03-02", "2024-03-03", None]),
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "k long, v double, s string, ds string")
    loc = str(tmp_path / f"rnd{seed}")
    create_table(df.repartitionByRange(6, "k"), loc, partition_by=["ds"])
    t = IcebergTable(loc)

    ops = ["=", "<", "<=", ">", ">="]
    for _ in range(8):
        col = rng.choice(["k", "v", "s", "ds"])
        op = rng.choice(ops)
        val = {
            "k": rng.randrange(0, 50),
            "v": rng.uniform(-5, 5),
            "s": rng.choice(["a", "b", "c"]),
            "ds": rng.choice(["2024-03-01", "2024-03-02", "2024-03-03"]),
        }[col]
        flt = [(col, op, val)]
        got = sorted(map(repr, t.scan(spark, filters=flt).collect()))
        import operator as O

        o = {"=": O.eq, "<": O.lt, "<=": O.le, ">": O.gt, ">=": O.ge}[op]
        exp = sorted(map(repr, t.scan(spark).where(o(F.col(col), F.lit(val))).collect()))
        assert got == exp, (col, op, val)


def test_empty_frame_create_and_scan(spark, tmp_path):
    loc = str(tmp_path / "empty")
    create_table(_df(spark).where(F.lit(False)), loc, partition_by=["ds"])
    t = IcebergTable(loc)
    out = t.scan(spark)
    assert out.count() == 0
    assert out.columns == ["bucket", "k", "v", "ds"]
    assert t.partitions() == []


# --- compaction ---------------------------------------------------------------


def test_compact_data_files_rows_identical_fewer_files(spark, tmp_path):
    from chronon_spark.sources.iceberg import compact_data_files

    loc = str(tmp_path / "ctbl")
    create_table(_df(spark, 60).repartition(6), loc, partition_by=["ds"])
    append(_df(spark, 60, shift=1000).repartition(6), loc)
    t = IcebergTable(loc)
    pre = sorted(tuple(r) for r in t.scan(spark).collect())
    pre_files = {e["path"] for e in t.plan_scan()}
    assert len(pre_files) > 3  # genuinely fragmented

    stats = compact_data_files(spark, loc, min_input_files=2)
    assert stats["compacted_partitions"] == 3  # ds has 3 values
    assert stats["rewritten_files"] == len(pre_files)

    post_entries = t.plan_scan()
    post_files = {e["path"] for e in post_entries}
    assert len(post_files) == 3  # one file per ds partition
    assert post_files.isdisjoint(pre_files)
    assert sorted(tuple(r) for r in t.scan(spark).collect()) == pre
    # replace commit carries the spec summary
    assert t.snapshot()["summary"]["operation"] == "replace"


def test_compact_time_travel_and_partial(spark, tmp_path):
    """Untouched partitions carry forward as EXISTING with original files;
    the pre-compaction snapshot still reads the old layout."""
    from chronon_spark.sources.iceberg import compact_data_files

    loc = str(tmp_path / "ptbl")
    # ds=2024-03-01 fragmented (2 appends), others single-file: write a df
    # per ds so fragmentation is partition-targeted
    d1 = _df(spark, 90).where(F.col("ds") == "2024-03-01")
    d_rest = _df(spark, 90).where(F.col("ds") != "2024-03-01")
    create_table(d_rest.repartition(1), loc, partition_by=["ds"])
    append(d1.repartition(1), loc)
    append(d1.withColumn("k", F.col("k") + 500).repartition(1), loc)
    t = IcebergTable(loc)
    pre_snap = t.metadata()["current-snapshot-id"]
    pre_rows = sorted(tuple(r) for r in t.scan(spark).collect())
    rest_files = {
        e["path"] for e in t.plan_scan() if e["partition"]["ds"] != "2024-03-01"
    }

    stats = compact_data_files(spark, loc, min_input_files=2)
    assert stats["compacted_partitions"] == 1
    post = t.plan_scan()
    assert {e["path"] for e in post if e["partition"]["ds"] != "2024-03-01"} == rest_files
    assert len([e for e in post if e["partition"]["ds"] == "2024-03-01"]) == 1
    assert sorted(tuple(r) for r in t.scan(spark).collect()) == pre_rows
    # survivors keep their original sequence numbers (spec inheritance)
    assert sorted(tuple(r) for r in t.scan(spark, snapshot_id=pre_snap).collect()) == pre_rows
    # noop second pass
    assert compact_data_files(spark, loc, min_input_files=2)["compacted_partitions"] == 0


def test_compact_materializes_evolved_schema_and_expiry_reclaims(spark, tmp_path):
    from chronon_spark.sources.iceberg import compact_data_files, expire_snapshots

    loc = str(tmp_path / "etbl")
    create_table(_df(spark, 30).repartition(2), loc, partition_by=["ds"])
    append(_df(spark, 30, shift=100).withColumn("extra", F.lit("x")).repartition(2), loc)
    t = IcebergTable(loc)
    pre_rows = sorted(tuple(r) for r in t.scan(spark).collect())
    pre_files = {e["path"] for e in t.plan_scan()}

    compact_data_files(spark, loc, min_input_files=2)
    assert sorted(tuple(r) for r in t.scan(spark).collect()) == pre_rows
    # every post-compaction file carries the evolved column materialized
    import pyarrow.parquet as pq

    for e in t.plan_scan():
        assert "extra" in pq.read_schema(e["path"]).names
    # expiry reclaims the rewritten small files
    expire_snapshots(loc, keep_last=1)
    assert not any(os.path.exists(p) for p in pre_files)
    assert sorted(tuple(r) for r in t.scan(spark).collect()) == pre_rows


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_lifecycle_sweep(spark, tmp_path, seed):
    """Randomized op sequences (append / dynamic-partition-overwrite /
    compact / expire) against an in-memory expected table: after every op
    the current snapshot must read exactly the expected rows, and a time
    travel handle taken at a random earlier point must keep reading its
    frozen state until expiry invalidates it."""
    import random

    rng = random.Random(seed)
    from chronon_spark.sources.iceberg import (
        IcebergTable,
        append,
        compact_data_files,
        create_table,
        expire_snapshots,
        overwrite_partitions,
    )

    DS = ["2024-05-01", "2024-05-02", "2024-05-03"]

    def mk(n, base):
        rows = [(base + i, rng.choice(DS)) for i in range(n)]
        return rows, spark.createDataFrame(rows, "k long, ds string")

    loc = str(tmp_path / f"life{seed}")
    rows0, df0 = mk(rng.randint(5, 20), 0)
    create_table(df0.repartition(2), loc, partition_by=["ds"])
    expected = list(rows0)
    t = IcebergTable(loc)
    frozen = None  # (snapshot_id, rows at that time)

    base = 1000
    for step in range(8):
        op = rng.choice(["append", "overwrite", "compact", "expire", "freeze"])
        if op == "append":
            rows, df = mk(rng.randint(1, 15), base)
            base += 1000
            append(df.repartition(rng.randint(1, 3)), loc)
            expected += rows
        elif op == "overwrite":
            rows, df = mk(rng.randint(1, 15), base)
            base += 1000
            touched = {ds for _, ds in rows}
            overwrite_partitions(df.repartition(rng.randint(1, 3)), loc)
            expected = [r for r in expected if r[1] not in touched] + rows
        elif op == "compact":
            compact_data_files(spark, loc, min_input_files=2)
        elif op == "expire":
            keep = rng.randint(1, 2)
            n_before = len(t.metadata()["snapshots"])
            expire_snapshots(loc, keep_last=keep)
            if frozen is not None and n_before > keep:
                kept_ids = {s["snapshot-id"] for s in t.metadata()["snapshots"]}
                if frozen[0] not in kept_ids:
                    frozen = None  # time travel handle invalidated, as designed
        else:
            frozen = (t.metadata()["current-snapshot-id"], list(expected))

        got = sorted(tuple(r) for r in t.scan(spark).collect())
        assert got == sorted(expected), f"step {step} op {op}"
        if frozen is not None:
            tg = sorted(tuple(r) for r in t.scan(spark, snapshot_id=frozen[0]).collect())
            assert tg == sorted(frozen[1]), f"time travel broken at step {step} ({op})"
