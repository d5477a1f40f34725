"""CLI surface: ``python -m chronon_spark <subcommand>`` drives the library
lifecycles the way the reference's Driver.scala subcommands + run.py wrapper
do (Driver.scala:1016-1091, run.py:390-599) — incremental backfill with
resume, join materialization, staging queries, analyze."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from chronon_spark.__main__ import main

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

GB_CONF = f"""
from chronon_spark.api import Aggregation, GroupBy, Op, TimeUnit, Window

group_by = GroupBy(
    name="cli_gb",
    keys=["user_id"],
    aggregations=[Aggregation(Op.COUNT, "value", windows=(Window(1, TimeUnit.DAYS),))],
)
tiebreak = "event_id"

def source(spark):
    return spark.read.parquet("{SF_DIR}/events.parquet")
"""

JOIN_CONF = f"""
from chronon_spark.api import Aggregation, GroupBy, Join, JoinPart, Op, TimeUnit, Window
from pyspark.sql import functions as F

_gb = GroupBy(
    name="cli_part",
    keys=["user_id"],
    aggregations=[Aggregation(Op.SUM, "value", windows=(Window(7, TimeUnit.DAYS),))],
)
join = Join(name="cli_join", left_keys=["user_id"], join_parts=[JoinPart(group_by=_gb)])
tiebreak = "event_id"

def left(spark):
    ev = spark.read.parquet("{SF_DIR}/events.parquet")
    return ev.where(F.col("event_type") == "purchase").select("user_id", "ts")

def sources(spark):
    return {{"cli_part": spark.read.parquet("{SF_DIR}/events.parquet")}}
"""

STAGING_CONF = f"""
name = "cli_staging"
staging_sql = '''
  SELECT user_id, count(*) AS n, date_format(ts, 'yyyy-MM-dd') AS ds
  FROM cli_events
  WHERE date_format(ts, 'yyyy-MM-dd') BETWEEN {{{{ start_date }}}} AND {{{{ end_date }}}}
  GROUP BY user_id, date_format(ts, 'yyyy-MM-dd')
'''

def setup(spark):
    spark.read.parquet("{SF_DIR}/events.parquet").createOrReplaceTempView("cli_events")
"""

BAD_CONF = f"""
from chronon_spark.api import Aggregation, GroupBy, Op

group_by = GroupBy(
    name="bad",
    keys=["user_id"],
    aggregations=[Aggregation(Op.SUM, "no_such_column")],
)

def source(spark):
    return spark.read.parquet("{SF_DIR}/events.parquet")
"""


@pytest.fixture(scope="module")
def day_range(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    lo = ev.select(F.date_format(F.min("ts"), "yyyy-MM-dd")).first()[0]
    days = (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("d")).distinct().orderBy("d")
    )
    ds = [r["d"] for r in days.limit(3).collect()]
    assert ds[0] == lo
    return ds[0], ds[-1]


def _run(spark, argv, capsys):
    rc = main(argv, spark=spark)
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return rc, json.loads(out)


def test_cli_group_by_backfill_and_resume(spark, tmp_path, capsys, day_range):
    conf = tmp_path / "gb_conf.py"
    conf.write_text(GB_CONF)
    lo, hi = day_range
    argv = [
        "group-by-backfill", "--conf", str(conf),
        "--out-root", str(tmp_path / "out"), "--start-ds", lo, "--end-ds", hi,
    ]
    rc, res = _run(spark, argv, capsys)
    assert rc == 0
    assert res["partitions"] == sorted(res["partitions"]) and len(res["partitions"]) >= 3
    assert len(res["chunks"]) == 1 and res["chunks"][0]["rows"] > 0

    # resume: identical definition -> nothing recomputed
    rc2, res2 = _run(spark, argv, capsys)
    assert rc2 == 0 and res2["chunks"] == []

    # the written table matches a direct library run
    from chronon_spark.operators.groupby import snapshot_events
    from chronon_spark.api import Aggregation, GroupBy, Op, TimeUnit, Window

    gb = GroupBy(
        name="cli_gb", keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(Window(1, TimeUnit.DAYS),))],
    )
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = snapshot_events(ev, gb, lo, hi, tiebreak="event_id")
    got = spark.read.option("basePath", str(tmp_path / "out" / "cli_gb")).parquet(
        str(tmp_path / "out" / "cli_gb")
    )
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_cli_join_backfill(spark, tmp_path, capsys, day_range):
    conf = tmp_path / "join_conf.py"
    conf.write_text(JOIN_CONF)
    lo, hi = day_range
    rc, res = _run(
        spark,
        [
            "join", "--conf", str(conf),
            "--out-root", str(tmp_path / "jout"), "--start-ds", lo, "--end-ds", hi,
        ],
        capsys,
    )
    assert rc == 0
    assert res["partitions"]
    assert "cli_part" in res["part_tables"]
    got = spark.read.option("basePath", res["output_table"]).parquet(res["output_table"])
    assert "cli_part_value_sum_7d" in got.columns
    assert got.count() > 0


def test_cli_staging_query_backfill(spark, tmp_path, capsys, day_range):
    conf = tmp_path / "staging_conf.py"
    conf.write_text(STAGING_CONF)
    lo, hi = day_range
    rc, res = _run(
        spark,
        [
            "staging-query-backfill", "--conf", str(conf),
            "--out-root", str(tmp_path / "sout"), "--start-ds", lo, "--end-ds", hi,
        ],
        capsys,
    )
    assert rc == 0 and res["partitions"]


def test_cli_analyze_good_and_bad(spark, tmp_path, capsys):
    good = tmp_path / "good.py"
    good.write_text(GB_CONF)
    rc, res = _run(spark, ["analyze", "--conf", str(good)], capsys)
    assert rc == 0 and res["errors"] == []
    assert any(n == "value_count_1d" for n, _ in map(tuple, res["output_schema"]))

    bad = tmp_path / "bad.py"
    bad.write_text(BAD_CONF)
    rc, res = _run(spark, ["analyze", "--conf", str(bad)], capsys)
    assert rc == 1
    assert any(e["code"] == "missing_input_column" for e in res["errors"])


def test_cli_subprocess_spark_submit_semantics(tmp_path, day_range):
    """The real entry point: a separate process (its own SparkSession, as
    spark-submit would run it) executes a tiny backfill end-to-end."""
    conf = tmp_path / "gb_conf.py"
    conf.write_text(GB_CONF)
    lo, _ = day_range
    env = dict(os.environ, SPARK_MASTER="local[4]", PYTHONPATH=REPO)
    proc = subprocess.run(
        [
            sys.executable, "-m", "chronon_spark", "group-by-backfill",
            "--conf", str(conf), "--out-root", str(tmp_path / "out2"),
            "--start-ds", lo, "--end-ds", lo,
        ],
        capture_output=True, text=True, timeout=420, env=env, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["partitions"] and res["chunks"][0]["rows"] > 0


def test_cli_analyze_join(spark, tmp_path, capsys):
    conf = tmp_path / "join_conf.py"
    conf.write_text(JOIN_CONF)
    rc, res = _run(spark, ["analyze-join", "--conf", str(conf)], capsys)
    assert rc == 0 and res["errors"] == []
    assert any(n == "cli_part_value_sum_7d" for n, _ in map(tuple, res["output_schema"]))


LABEL_CONF = f"""
from chronon_spark.api import Aggregation, GroupBy, Op, TimeUnit, Window
from pyspark.sql import functions as F

label_group_by = GroupBy(
    name="cli_label",
    keys=["user_id"],
    aggregations=[Aggregation(Op.COUNT, "value")],
)
horizon = Window(1, TimeUnit.DAYS)
tiebreak = "event_id"

def features(spark):
    ev = spark.read.parquet("{SF_DIR}/events.parquet")
    return ev.where(F.col("event_type") == "purchase").select("user_id", "ts").distinct()

def label_events(spark):
    return spark.read.parquet("{SF_DIR}/events.parquet")
"""

FLAT_CONF = """
schemas = {"v1": ("user_id bigint", "score double"),
           "v2": ("user_id bigint", "score double, extra string")}
join_name = "cli_j"

def logs(spark):
    return spark.createDataFrame(
        [("cli_j", "v1", 1700000000000, '{"user_id": 1}', '{"score": 0.5}'),
         ("cli_j", "v2", 1700086400000, '{"user_id": 2}', '{"score": 1.5, "extra": "x"}'),
         ("other", "v1", 1700000100000, '{"user_id": 9}', '{"score": 9.0}')],
        "join_name string, schema_hash string, ts_ms long, key_json string, value_json string",
    )
"""

CONSIST_CONF = """
keys = ["user_id"]

def flattened(spark):
    return spark.createDataFrame(
        [(1, 1700000000000, 0.5), (2, 1700000060000, 2.0)],
        "user_id bigint, ts_ms long, score double",
    )

def offline(spark):
    from pyspark.sql import functions as F
    return spark.createDataFrame(
        [(1, 1700000000000, 0.5), (2, 1700000060000, 3.0)],
        "user_id bigint, ms long, score double",
    ).select("user_id", F.timestamp_millis("ms").alias("ts"), "score")
"""

COMPARE_CONF = """
keys = ["user_id"]

def left(spark):
    return spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], "user_id bigint, v double")

def right(spark):
    return spark.createDataFrame(
        [(1, 10.0), (2, 25.0), (3, 3.0)], "user_id bigint, v double")
"""


def test_cli_label_join(spark, tmp_path, capsys, day_range):
    conf = tmp_path / "label_conf.py"
    conf.write_text(LABEL_CONF)
    rc, res = _run(
        spark,
        [
            "label-join", "--conf", str(conf),
            "--out-root", str(tmp_path / "lout"), "--label-ds", "2024-02-01",
        ],
        capsys,
    )
    assert rc == 0
    assert res["label_versions"] == ["2024-02-01"]
    latest = spark.table(res["labeled_latest_view"])
    assert "label_value_count_1d" in latest.columns
    assert latest.count() > 0


def test_cli_log_flattener(spark, tmp_path, capsys):
    conf = tmp_path / "flat_conf.py"
    conf.write_text(FLAT_CONF)
    rc, res = _run(
        spark,
        ["log-flattener", "--conf", str(conf), "--out-root", str(tmp_path / "fout")],
        capsys,
    )
    assert rc == 0
    # only the two cli_j rows decode (the 'other' join's row is filtered)
    assert res["flattened_rows"] == 2 and res["raw_rows"] == 3
    got = spark.read.option("basePath", res["output_table"]).parquet(res["output_table"])
    assert {"user_id", "score", "extra", "ds"} <= set(got.columns)
    assert sorted(r.ds for r in got.collect()) == ["2023-11-14", "2023-11-15"]


def test_cli_consistency_metrics(spark, tmp_path, capsys):
    conf = tmp_path / "cons_conf.py"
    conf.write_text(CONSIST_CONF)
    rc, res = _run(spark, ["consistency-metrics-compute", "--conf", str(conf)], capsys)
    assert rc == 0
    m = res["metrics"]
    assert m["score_total"] == 2 and m["score_mismatch"] == 1


def test_cli_compare(spark, tmp_path, capsys):
    conf = tmp_path / "cmp_conf.py"
    conf.write_text(COMPARE_CONF)
    rc, res = _run(spark, ["compare", "--conf", str(conf)], capsys)
    assert rc == 0
    m = res["metrics"]
    assert m["v_total"] == 3 and m["v_mismatch"] == 1 and m["v_left_null"] == 1


def test_cli_group_by_upload(spark, tmp_path, capsys, day_range):
    conf = tmp_path / "up_conf.py"
    conf.write_text(GB_CONF)
    lo, hi = day_range
    rc, res = _run(
        spark,
        [
            "group-by-upload", "--conf", str(conf),
            "--out-root", str(tmp_path / "uout"), "--batch-end-ds", hi,
        ],
        capsys,
    )
    assert rc == 0
    coll = spark.read.option("basePath", res["tables"]["upload_collapsed"]).parquet(
        res["tables"]["upload_collapsed"]
    )
    assert coll.count() > 0 and "user_id" in coll.columns


def test_cli_backfill_to_catalog_table(spark, tmp_path, capsys, day_range):
    """--out-root catalog:<db> routes the SAME backfill through the
    catalog-managed writer (SHOW PARTITIONS resume, TBLPROPERTIES lineage)."""
    import uuid

    db = f"clidb_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/wh'")
    try:
        conf = tmp_path / "gb_conf.py"
        conf.write_text(GB_CONF)
        lo, hi = day_range
        argv = [
            "group-by-backfill", "--conf", str(conf),
            "--out-root", f"catalog:{db}", "--start-ds", lo, "--end-ds", hi,
        ]
        rc, res = _run(spark, argv, capsys)
        assert rc == 0
        assert res["output_table"] == f"{db}.cli_gb"
        assert len(res["partitions"]) >= 3
        assert spark.table(f"{db}.cli_gb").count() > 0
        # resume through the catalog: lineage in TBLPROPERTIES matches
        rc2, res2 = _run(spark, argv, capsys)
        assert rc2 == 0 and res2["chunks"] == []
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_cli_spark_submit_py_files(tmp_path, day_range):
    """The north-rule launch mode for real: package chronon_spark into a
    zip, ship it with ``spark-submit --py-files``, and run a backfill in a
    driver that can ONLY import the package from that zip (cwd and
    PYTHONPATH point nowhere near the repo)."""
    import shutil
    import zipfile

    if not shutil.which("spark-submit"):
        pytest.skip("spark-submit not on PATH")

    pkg_zip = tmp_path / "chronon_spark.zip"
    pkg_root = os.path.join(REPO, "chronon_spark")
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for root, _dirs, files in os.walk(pkg_root):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))

    job = tmp_path / "job.py"
    job.write_text(
        "import sys\n"
        "from chronon_spark.__main__ import main\n"
        "sys.exit(main(sys.argv[1:]))\n"
    )
    conf = tmp_path / "gb_conf.py"
    conf.write_text(GB_CONF)
    lo, _ = day_range

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", str(pkg_zip), str(job),
            "group-by-backfill", "--conf", str(conf),
            "--out-root", str(tmp_path / "out3"),
            "--start-ds", lo, "--end-ds", lo,
        ],
        capture_output=True, text=True, timeout=420, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["partitions"] and res["chunks"][0]["rows"] > 0


FETCH_CONF = f"""
from chronon_spark.api import Aggregation, GroupBy, Join, JoinPart, Op, TimeUnit, Window
from pyspark.sql import functions as F

group_by = GroupBy(
    name="cli_gb",
    keys=["user_id"],
    aggregations=[Aggregation(Op.COUNT, "value", windows=(Window(1, TimeUnit.DAYS),))],
)
join = Join(name="cli_fetch", left_keys=["user_id"], join_parts=[JoinPart(group_by=group_by)])
tiebreak = "event_id"

BATCH_END = "__BATCH_END__"
SERVE = "__SERVE__"

def source(spark):
    ev = spark.read.parquet("{SF_DIR}/events.parquet")
    return ev.where(F.date_format("ts", "yyyy-MM-dd") <= BATCH_END)

def requests(spark):
    ev = spark.read.parquet("{SF_DIR}/events.parquet")
    d = F.date_format("ts", "yyyy-MM-dd")
    return (ev.where((d == SERVE) & (F.col("event_type") == "purchase"))
              .select("user_id", "ts").distinct())

def streams(spark):
    ev = spark.read.parquet("{SF_DIR}/events.parquet")
    return {{"cli_gb": ev.where(F.date_format("ts", "yyyy-MM-dd") == SERVE)}}
"""


def test_cli_fetch_over_uploaded_irs(spark, tmp_path, capsys):
    """group-by-upload then fetch: the fetched frame must equal compute_join
    over the full log — the serving lifecycle end-to-end through the CLI.
    batch end and serve day are consecutive UTC days (the fetch horizon)."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    days = [
        r["d"]
        for r in ev.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct().orderBy("d").limit(4).collect()
    ]
    batch_end, serve = days[2], days[3]
    import datetime as _dt

    assert (_dt.date.fromisoformat(serve) - _dt.date.fromisoformat(batch_end)).days == 1
    conf = tmp_path / "fetch_conf.py"
    conf.write_text(
        FETCH_CONF.replace("__BATCH_END__", batch_end).replace("__SERVE__", serve)
    )
    rc, _res = _run(
        spark,
        [
            "group-by-upload", "--conf", str(conf),
            "--out-root", str(tmp_path / "ups"), "--batch-end-ds", batch_end,
        ],
        capsys,
    )
    assert rc == 0
    rc, res = _run(
        spark,
        [
            "fetch", "--conf", str(conf),
            "--upload-root", str(tmp_path / "ups"),
            "--out-root", str(tmp_path / "fout"), "--batch-end-ds", batch_end,
        ],
        capsys,
    )
    assert rc == 0 and res["rows"] > 0

    from chronon_spark.api import Aggregation, GroupBy, Join, JoinPart, Op, TimeUnit, Window
    from chronon_spark.operators.join import compute_join

    gb = GroupBy(
        name="cli_gb", keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(Window(1, TimeUnit.DAYS),))],
    )
    j = Join(name="cli_fetch", left_keys=["user_id"], join_parts=[JoinPart(group_by=gb)])
    d = F.date_format("ts", "yyyy-MM-dd")
    reqs = (
        ev.where((d == serve) & (F.col("event_type") == "purchase"))
        .select("user_id", "ts").distinct()
    )
    want = compute_join(reqs, {"cli_gb": ev}, j, tiebreak="event_id")
    got = (
        spark.read.option("basePath", res["output_table"]).parquet(res["output_table"])
        .where(F.col("ds") == batch_end).drop("ds")
    )
    cols = sorted(want.columns)
    w = sorted(map(repr, want.select(*cols).collect()))
    g = sorted(map(repr, got.select(*cols).collect()))
    assert g == w and res["rows"] == len(w)


def test_cli_metadata_export(spark, tmp_path, capsys):
    conf = tmp_path / "meta_conf.py"
    conf.write_text(JOIN_CONF + GB_CONF)
    rc, res = _run(spark, ["metadata-export", "--conf", str(conf)], capsys)
    assert rc == 0
    assert res["group_by"]["semantic_hash"] and res["group_by"]["output_columns"]
    assert res["join"]["semantic_hash"] and res["join"]["parts"][0]["group_by"] == "cli_part"
    # the exported hash is the resume key: identical defs export identically
    rc2, res2 = _run(spark, ["metadata-export", "--conf", str(conf)], capsys)
    assert res2 == res


STREAM_CONF = """
from chronon_spark.api import Aggregation, GroupBy, Op

group_by = GroupBy(
    name="cli_stream_gb",
    keys=["user_id"],
    aggregations=[Aggregation(Op.COUNT, "value"), Aggregation(Op.SUM, "value")],
)
tiebreak = "event_id"
hop = "5 minutes"

SRC = "__SRC__"
SCHEMA = "user_id long, event_id long, event_type string, value double, ts timestamp"

def stream(spark):
    return spark.readStream.schema(SCHEMA).json(SRC)
"""


def test_cli_group_by_streaming(spark, tmp_path, capsys):
    """group-by-streaming drains a file-source stream and persists tiles
    identical to the batch tile computation over the same files."""
    import json as _json

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src = tmp_path / "stream_src"
    src.mkdir()
    rows = ev.limit(300).select(
        "user_id", "event_id", "event_type", "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSS").alias("ts"),
    ).collect()
    with open(src / "part-0.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r.asDict()) + "\n")

    conf = tmp_path / "stream_conf.py"
    conf.write_text(STREAM_CONF.replace("__SRC__", str(src)))
    rc, res = _run(
        spark,
        [
            "group-by-streaming", "--conf", str(conf),
            "--out-root", str(tmp_path / "tiles"),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ],
        capsys,
    )
    assert rc == 0 and res["tile_rows"] > 0 and res["partitions"]

    from chronon_spark.api import Aggregation, GroupBy, Op
    from chronon_spark.plans.windows import to_millis
    from chronon_spark.streaming.tiles import tile_aggregates

    gb = GroupBy(
        name="cli_stream_gb", keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value"), Aggregation(Op.SUM, "value")],
    )
    schema = "user_id long, event_id long, event_type string, value double, ts timestamp"
    batch_in = spark.read.schema(schema).json(str(src))
    exprs = tile_aggregates(gb, "event_id")
    want = (
        batch_in.withColumn("__ts_ms", to_millis(F.col("ts")))
        .withColumn("tile_start_ms", (F.col("__ts_ms") / 300000).cast("long") * 300000)
        .groupBy("user_id", "tile_start_ms")
        .agg(*[c.alias(n) for n, c in exprs.items()])
    )
    got = spark.read.option(
        "basePath", res["output_table"]
    ).parquet(res["output_table"])
    w = {(r["user_id"], r["tile_start_ms"]) for r in want.collect()}
    g = {(r["user_id"], r["tile_start_ms"]) for r in got.collect()}
    assert g == w and len(g) == res["tile_rows"]


def test_cli_daily_stats(spark, tmp_path, capsys):
    conf = tmp_path / "stats_conf.py"
    conf.write_text(f"""
from pyspark.sql import functions as F
name = "cli_feats"

def frame(spark):
    ev = spark.read.parquet("{SF_DIR}/events.parquet")
    return ev.withColumn("ds", F.date_format("ts", "yyyy-MM-dd"))
""")
    rc, res = _run(
        spark,
        ["daily-stats", "--conf", str(conf), "--out-root", str(tmp_path / "stats")],
        capsys,
    )
    assert rc == 0 and len(res["partitions"]) > 5
    got = spark.read.option("basePath", res["output_table"]).parquet(res["output_table"])
    one = got.orderBy("ds").first()
    # spot-check against a direct computation for that ds
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").where(
        F.date_format("ts", "yyyy-MM-dd") == one["ds"]
    )
    want_n = ev.count()
    want_mean = ev.select(F.round(F.avg("value"), 6)).first()[0]
    assert one["row_count"] == want_n
    assert abs(one["value_mean"] - want_mean) < 1e-9
    assert one["value_null_rate"] == 0.0


def test_cli_join_left_then_final(spark, tmp_path, capsys, day_range):
    """Split-phase backfill (reference join-left -> computeLeft, join-final
    -> computeFinal): the left table materializes once, join-final runs the
    parts + assembly over it, and the result equals the one-shot `join`
    subcommand on the same conf."""
    conf = tmp_path / "join_conf.py"
    conf.write_text(JOIN_CONF)
    lo, hi = day_range
    root = str(tmp_path / "split")

    # final before left -> structured error, rc 1
    rc, res = _run(
        spark,
        ["join-final", "--conf", str(conf), "--out-root", root,
         "--start-ds", lo, "--end-ds", hi],
        capsys,
    )
    assert rc == 1 and res["errors"][0]["code"] == "MISSING_LEFT_TABLE"

    rc, res = _run(
        spark,
        ["join-left", "--conf", str(conf), "--out-root", root,
         "--start-ds", lo, "--end-ds", hi],
        capsys,
    )
    assert rc == 0 and res["partitions"]
    left_tbl = res["output_table"]
    left_rows = spark.read.option("basePath", left_tbl).parquet(left_tbl)
    # phase 1 wrote exactly the skew-filtered left rows, day-stamped
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want_left = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .withColumn("ds", F.date_format("ts", "yyyy-MM-dd"))
        .where(F.col("ds").between(lo, hi))
    )
    assert left_rows.count() == want_left.count()

    # re-running join-left resumes (no chunks recomputed -> same partitions)
    rc, res2 = _run(
        spark,
        ["join-left", "--conf", str(conf), "--out-root", root,
         "--start-ds", lo, "--end-ds", hi],
        capsys,
    )
    assert rc == 0 and res2["partitions"] == res["partitions"]

    rc, resf = _run(
        spark,
        ["join-final", "--conf", str(conf), "--out-root", root,
         "--start-ds", lo, "--end-ds", hi],
        capsys,
    )
    assert rc == 0 and "cli_part" in resf["part_tables"]
    got = spark.read.option("basePath", resf["output_table"]).parquet(resf["output_table"])

    # one-shot `join` over the same conf = identical feature rows
    rc, res1 = _run(
        spark,
        ["join", "--conf", str(conf), "--out-root", str(tmp_path / "oneshot"),
         "--start-ds", lo, "--end-ds", hi],
        capsys,
    )
    assert rc == 0
    want = spark.read.option("basePath", res1["output_table"]).parquet(res1["output_table"])
    assert sorted(map(repr, got.select(*sorted(got.columns)).collect())) == sorted(
        map(repr, want.select(*sorted(want.columns)).collect())
    )


def test_cli_log_summary(spark, tmp_path, capsys):
    """log-summary == daily-stats over the flattened log frame, but sampled;
    at --sample 1.0 the stats match a direct computation exactly."""
    conf = tmp_path / "logsum_conf.py"
    conf.write_text(f"""
from pyspark.sql import functions as F
name = "cli_logs"

def flattened(spark):
    ev = spark.read.parquet("{SF_DIR}/events.parquet")
    return ev.withColumn("ds", F.date_format("ts", "yyyy-MM-dd"))
""")
    rc, res = _run(
        spark,
        ["log-summary", "--conf", str(conf), "--out-root", str(tmp_path / "ls"),
         "--sample", "1.0"],
        capsys,
    )
    assert rc == 0 and res["sample"] == 1.0 and len(res["partitions"]) > 5
    got = spark.read.option("basePath", res["output_table"]).parquet(res["output_table"])
    one = got.orderBy("ds").first()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").where(
        F.date_format("ts", "yyyy-MM-dd") == one["ds"]
    )
    assert one["sampled_row_count"] == ev.count()
    assert one["sample_fraction"] == 1.0
    want_mean = ev.select(F.round(F.avg("value"), 6)).first()[0]
    assert abs(one["value_mean"] - want_mean) < 1e-9

    # sampled run: fewer rows counted, partitions still day-complete
    rc, res2 = _run(
        spark,
        ["log-summary", "--conf", str(conf), "--out-root", str(tmp_path / "ls2"),
         "--sample", "0.2"],
        capsys,
    )
    assert rc == 0
    got2 = spark.read.option("basePath", res2["output_table"]).parquet(res2["output_table"])
    tot = got2.select(F.sum("sampled_row_count")).first()[0]
    full = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert 0 < tot < full


def test_cli_join_final_incomplete_and_stale_left(spark, tmp_path, capsys, day_range):
    """join-final refuses a left table that does not cover the requested
    range (INCOMPLETE_LEFT_TABLE) or was built under a different left
    definition (STALE_LEFT_TABLE) — silent truncation is the failure mode
    both guard against."""
    import datetime as _dt

    conf = tmp_path / "join_conf.py"
    conf.write_text(JOIN_CONF)
    lo, hi = day_range
    root = str(tmp_path / "guard")

    rc, res = _run(
        spark,
        ["join-left", "--conf", str(conf), "--out-root", root,
         "--start-ds", lo, "--end-ds", hi],
        capsys,
    )
    assert rc == 0

    # ask join-final for one day MORE than join-left covered
    hi_plus = (
        _dt.date.fromisoformat(hi) + _dt.timedelta(days=1)
    ).isoformat()
    rc, res = _run(
        spark,
        ["join-final", "--conf", str(conf), "--out-root", root,
         "--start-ds", lo, "--end-ds", hi_plus],
        capsys,
    )
    assert rc == 1
    assert res["errors"][0]["code"] == "INCOMPLETE_LEFT_TABLE"
    assert hi_plus in res["errors"][0]["message"]

    # change the left definition (add a skew exclusion) without re-running
    # join-left -> stale
    stale_conf = tmp_path / "join_conf_stale.py"
    stale_conf.write_text(
        JOIN_CONF.replace(
            'join = Join(name="cli_join", left_keys=["user_id"], join_parts=[JoinPart(group_by=_gb)])',
            'join = Join(name="cli_join", left_keys=["user_id"], join_parts=[JoinPart(group_by=_gb)], skew_keys={"user_id": [1]})',
        )
    )
    rc, res = _run(
        spark,
        ["join-final", "--conf", str(stale_conf), "--out-root", root,
         "--start-ds", lo, "--end-ds", hi],
        capsys,
    )
    assert rc == 1
    assert any(e["code"] == "STALE_LEFT_TABLE" for e in res["errors"])

    # the staleness scan is RANGE-SCOPED: re-materialize a sub-range under
    # the new definition and join-final over exactly that sub-range must
    # succeed even though partitions OUTSIDE it are still stale
    import datetime as _dt2

    mid = (_dt2.date.fromisoformat(lo) + _dt2.timedelta(days=1)).isoformat()
    if mid <= hi:
        rc, res = _run(
            spark,
            ["join-left", "--conf", str(stale_conf), "--out-root", root,
             "--start-ds", mid, "--end-ds", hi],
            capsys,
        )
        assert rc == 0
        rc, res = _run(
            spark,
            ["join-final", "--conf", str(stale_conf), "--out-root", root,
             "--start-ds", mid, "--end-ds", hi],
            capsys,
        )
        assert rc == 0, res.get("errors")
        # and the full range still fails: the sub-range join-left archived
        # every stale partition (backfill's hash invalidation) but only
        # recomputed [mid, hi], so the lo day is now ABSENT -> incomplete
        rc, res = _run(
            spark,
            ["join-final", "--conf", str(stale_conf), "--out-root", root,
             "--start-ds", lo, "--end-ds", hi],
            capsys,
        )
        assert rc == 1
        assert any(e["code"] == "INCOMPLETE_LEFT_TABLE" for e in res["errors"])


def test_cli_metadata_upload_registry_and_latest_wins(spark, tmp_path, capsys):
    """metadata-upload publishes one JSON document per (kind, name) to the
    {out_root}/_metadata registry; re-uploading after a definition change
    overwrites that name's document (latest-wins KV-put)."""
    import json as _json

    conf = tmp_path / "mu_conf.py"
    conf.write_text(GB_CONF)
    root = str(tmp_path / "reg")
    rc, res = _run(
        spark,
        ["metadata-upload", "--conf", str(conf), "--out-root", root],
        capsys,
    )
    assert rc == 0 and res["entries"][0]["name"] == "cli_gb"
    # filename carries a short hash of the RAW name, so 'a/b', 'a.b' and
    # 'a_b' can never collide onto one sanitized latest-wins document
    assert res["entries"][0]["doc"].startswith("group_by__cli_gb__")
    doc_path = os.path.join(res["registry"], res["entries"][0]["doc"])
    with open(doc_path) as f:
        doc1 = _json.load(f)
    assert doc1["semantic_hash"] == res["entries"][0]["semantic_hash"]
    assert doc1["output_columns"]

    # change the definition -> re-upload -> document replaced, hash moves
    conf2 = tmp_path / "mu_conf2.py"
    conf2.write_text(GB_CONF.replace("Window(1, TimeUnit.DAYS)", "Window(7, TimeUnit.DAYS)"))
    rc, res2 = _run(
        spark,
        ["metadata-upload", "--conf", str(conf2), "--out-root", root],
        capsys,
    )
    assert rc == 0
    with open(doc_path) as f:
        doc2 = _json.load(f)
    assert doc2["semantic_hash"] != doc1["semantic_hash"]
    assert doc2["semantic_hash"] == res2["entries"][0]["semantic_hash"]

    # distinct raw names that sanitize identically get distinct documents
    import hashlib as _hl

    for raw in ("cli/gb", "cli.gb"):
        safe = "".join(c if c.isalnum() or c == "_" else "_" for c in raw)
        assert safe == "cli_gb"
        sha8 = _hl.sha256(raw.encode()).hexdigest()[:8]
        assert f"group_by__cli_gb__{sha8}.json" != res["entries"][0]["doc"]

    # catalog out-roots would become a literal './catalog:db' directory:
    # rejected with an actionable error instead
    rc3, res3 = _run(
        spark,
        ["metadata-upload", "--conf", str(conf), "--out-root", "catalog:md_db"],
        capsys,
    )
    assert rc3 == 1
    assert res3["errors"][0]["code"] == "CATALOG_OUT_ROOT"
    assert not os.path.exists("catalog:md_db")


def test_cli_fetch_rejects_stale_upload(spark, tmp_path, capsys):
    """Serving-time hash check: fetch must refuse to lambda-merge IR tables
    uploaded under a DIFFERENT GroupBy definition (silently serving stale
    features is the failure mode)."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    days = [
        r["d"]
        for r in ev.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct().orderBy("d").limit(4).collect()
    ]
    batch_end, serve = days[2], days[3]
    conf = tmp_path / "sf_conf.py"
    conf.write_text(
        FETCH_CONF.replace("__BATCH_END__", batch_end).replace("__SERVE__", serve)
    )
    rc, _ = _run(
        spark,
        ["group-by-upload", "--conf", str(conf),
         "--out-root", str(tmp_path / "sups"), "--batch-end-ds", batch_end],
        capsys,
    )
    assert rc == 0

    # definition changes AFTER the upload (1d window -> 7d)
    stale_conf = tmp_path / "sf_conf2.py"
    stale_conf.write_text(
        FETCH_CONF.replace("__BATCH_END__", batch_end)
        .replace("__SERVE__", serve)
        .replace("Window(1, TimeUnit.DAYS)", "Window(7, TimeUnit.DAYS)")
    )
    rc, res = _run(
        spark,
        ["fetch", "--conf", str(stale_conf),
         "--upload-root", str(tmp_path / "sups"),
         "--out-root", str(tmp_path / "sfout"), "--batch-end-ds", batch_end],
        capsys,
    )
    assert rc == 1
    assert all(e["code"] == "STALE_UPLOAD" for e in res["errors"]) and res["errors"]


def test_cli_fetch_missing_upload_lineage(spark, tmp_path, capsys):
    """Upload tables without a lineage stamp (pre-lineage writers) get a
    distinct MISSING_UPLOAD_LINEAGE code + remedy, not a misleading
    'hash None' staleness claim."""
    import shutil

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    days = [
        r["d"]
        for r in ev.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .distinct().orderBy("d").limit(4).collect()
    ]
    batch_end, serve = days[2], days[3]
    conf = tmp_path / "ml_conf.py"
    conf.write_text(
        FETCH_CONF.replace("__BATCH_END__", batch_end).replace("__SERVE__", serve)
    )
    root = tmp_path / "mlups"
    rc, _ = _run(
        spark,
        ["group-by-upload", "--conf", str(conf),
         "--out-root", str(root), "--batch-end-ds", batch_end],
        capsys,
    )
    assert rc == 0
    # simulate a pre-lineage upload table
    for d in root.iterdir():
        lin = d / "_lineage"
        if lin.is_dir():
            shutil.rmtree(lin)
    rc, res = _run(
        spark,
        ["fetch", "--conf", str(conf), "--upload-root", str(root),
         "--out-root", str(tmp_path / "mlout"), "--batch-end-ds", batch_end],
        capsys,
    )
    assert rc == 1
    assert all(e["code"] == "MISSING_UPLOAD_LINEAGE" for e in res["errors"])
    assert "re-run" in res["errors"][0]["message"]


def test_cli_compile_validates_conf_tree(spark, tmp_path, capsys):
    """``compile --conf-root`` (reference repo/compile.py): loads every conf
    in a tree, validates with the analyzer where data callables exist, emits
    one semantic-hash manifest, and exits 1 when any conf is broken."""
    root = tmp_path / "confs"
    (root / "team_a").mkdir(parents=True)
    (root / "team_a" / "gb.py").write_text(GB_CONF)
    (root / "team_a" / "join.py").write_text(JOIN_CONF)
    (root / "staging.py").write_text(STAGING_CONF)
    (root / "_helpers.py").write_text("raise RuntimeError('must be skipped')")
    (root / "team_a" / "bad.py").write_text(BAD_CONF)
    (root / "team_a" / "syntax_err.py").write_text("def broken(:\n")

    manifest_path = tmp_path / "manifest.json"
    rc, res = _run(
        spark,
        ["compile", "--conf-root", str(root), "--manifest-out", str(manifest_path)],
        capsys,
    )
    assert rc == 1  # one analyzer failure + one load failure
    assert res["confs"] == 5 and res["ok"] == 3
    codes = {(e["conf"], e["code"]) for e in res["errors"]}
    assert any(c == "LOAD_ERROR" and p.endswith("syntax_err.py") for p, c in codes)
    assert any(p.endswith("bad.py") for p, c in codes if c not in ("LOAD_ERROR",))

    manifest = json.loads(manifest_path.read_text())
    by_conf = {e["conf"]: e for e in manifest["entries"]}
    gb_entry = by_conf[os.path.join("team_a", "gb.py")]
    assert gb_entry["status"] == "ok"
    # the manifest carries the same semantic hash the registry/resume key on
    from chronon_spark.api import Aggregation, GroupBy, Op, TimeUnit, Window

    want = GroupBy(
        name="cli_gb", keys=["user_id"],
        aggregations=[Aggregation(Op.COUNT, "value", windows=(Window(1, TimeUnit.DAYS),))],
    ).semantic_hash()
    assert gb_entry["entities"]["group_by"]["semantic_hash"] == want
    join_entry = by_conf[os.path.join("team_a", "join.py")]
    assert join_entry["status"] == "ok" and "join" in join_entry["kinds"]
    assert by_conf["staging.py"]["entities"]["staging_query"]["semantic_hash"]
    assert by_conf[os.path.join("team_a", "bad.py")]["status"] == "error"

    # a clean tree exits 0
    clean = tmp_path / "clean"
    clean.mkdir()
    (clean / "gb.py").write_text(GB_CONF)
    rc2, res2 = _run(spark, ["compile", "--conf-root", str(clean)], capsys)
    assert rc2 == 0 and res2["errors"] == [] and res2["ok"] == 1
    assert os.path.exists(clean / "_compiled" / "manifest.json")


def test_cli_backfill_into_iceberg_out_root(spark, tmp_path, capsys, day_range):
    """`--out-root iceberg:<root>` routes the CLI backfill through the
    jar-free Iceberg format: each chunk is a snapshot commit, resume skips,
    and the current snapshot matches a parquet-root run row for row."""
    conf = tmp_path / "gb_conf.py"
    conf.write_text(GB_CONF)
    lo, hi = day_range
    argv = [
        "group-by-backfill", "--conf", str(conf),
        "--out-root", f"iceberg:{tmp_path / 'ice'}",
        "--start-ds", lo, "--end-ds", hi,
    ]
    rc, res = _run(spark, argv, capsys)
    assert rc == 0 and res["partitions"] and res["chunks"][0]["rows"] > 0
    rc2, res2 = _run(spark, argv, capsys)  # resume
    assert rc2 == 0 and res2["chunks"] == []

    rc3, res3 = _run(spark, [
        "group-by-backfill", "--conf", str(conf),
        "--out-root", str(tmp_path / "pq"), "--start-ds", lo, "--end-ds", hi,
    ], capsys)
    assert rc3 == 0

    from chronon_spark.sources.iceberg import IcebergTable

    ice = IcebergTable(str(tmp_path / "ice" / "cli_gb")).scan(spark)
    pq = spark.read.option("basePath", str(tmp_path / "pq" / "cli_gb")).parquet(
        str(tmp_path / "pq" / "cli_gb")
    )
    assert sorted(map(repr, ice.select(*sorted(ice.columns)).collect())) == sorted(
        map(repr, pq.select(*sorted(pq.columns)).collect())
    )
    # it is a real v2 table with one snapshot per chunk write
    md = IcebergTable(str(tmp_path / "ice" / "cli_gb")).metadata()
    assert md["format-version"] == 2 and md["snapshots"]


def test_cli_expire_snapshots(spark, tmp_path, capsys, day_range):
    """Table maintenance subcommand: metadata-only, no conf, no Spark
    session of its own; expired snapshots and their orphan files go away
    while the current snapshot keeps reading identically."""
    conf = tmp_path / "gb_conf.py"
    conf.write_text(GB_CONF)
    lo, hi = day_range
    for end in (lo, hi):  # two commits -> two snapshots
        rc, _ = _run(spark, [
            "group-by-backfill", "--conf", str(conf),
            "--out-root", f"iceberg:{tmp_path / 'ice'}",
            "--start-ds", lo, "--end-ds", end,
        ], capsys)
        assert rc == 0

    from chronon_spark.sources.iceberg import IcebergTable

    loc = str(tmp_path / "ice" / "cli_gb")
    before = sorted(map(repr, IcebergTable(loc).scan(spark).collect()))
    assert len(IcebergTable(loc).metadata()["snapshots"]) == 2
    rc, res = _run(spark, ["expire-snapshots", "--location", loc, "--keep-last", "1"], capsys)
    assert rc == 0 and res["expired_snapshots"] == 1
    assert len(IcebergTable(loc).metadata()["snapshots"]) == 1
    assert sorted(map(repr, IcebergTable(loc).scan(spark).collect())) == before


def test_cli_compact_table(spark, tmp_path, capsys):
    """Compaction subcommand: incremental chunked backfills fragment the
    iceberg partitions; compact-table folds each back to one file with
    identical rows."""
    from pyspark.sql import functions as F

    from chronon_spark.sources.iceberg import IcebergTable, append, create_table

    loc = str(tmp_path / "ice" / "cli_frag")

    def _d(shift):
        return spark.range(0, 30).select(
            (F.col("id") + shift).alias("k"),
            F.concat(F.lit("2024-01-0"), ((F.col("id") % 3) + 1).cast("string")).alias("ds"),
        )

    create_table(_d(0).repartition(2), loc, partition_by=["ds"])
    append(_d(100).repartition(2), loc)  # micro-batches fragment partitions
    t = IcebergTable(loc)
    before = sorted(map(repr, t.scan(spark).collect()))
    frag = {}
    for e in t.plan_scan():
        frag[tuple(e["partition"].items())] = frag.get(tuple(e["partition"].items()), 0) + 1
    assert any(c >= 2 for c in frag.values()), frag

    rc, res = _run(spark, ["compact-table", "--location", loc], capsys)
    assert rc == 0 and res["compacted_partitions"] >= 1
    post = {}
    for e in t.plan_scan():
        post[tuple(e["partition"].items())] = post.get(tuple(e["partition"].items()), 0) + 1
    assert all(c == 1 for c in post.values()), post
    assert sorted(map(repr, t.scan(spark).collect())) == before


def test_cli_log_flattener_all_rows_dropped(spark, tmp_path, capsys):
    """A flatten whose rows are all filtered out writes nothing and reports
    0 flattened rows: the observed count of an empty write is 0, not an
    error."""
    conf = tmp_path / "flat_none_conf.py"
    conf.write_text(FLAT_CONF.replace('join_name = "cli_j"', 'join_name = "no_such_join"'))
    rc, res = _run(
        spark,
        ["log-flattener", "--conf", str(conf), "--out-root", str(tmp_path / "fout")],
        capsys,
    )
    assert rc == 0
    assert res["flattened_rows"] == 0 and res["raw_rows"] == 3


def test_cli_fetch_with_no_requests_reports_zero_rows(spark, tmp_path, capsys):
    """A fetch whose request frame is empty reports 0 rows instead of
    failing on the empty write's observation."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch_end = (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("d")).distinct().orderBy("d").first()["d"]
    )
    conf = tmp_path / "fetch_none_conf.py"
    conf.write_text(
        FETCH_CONF.replace("__BATCH_END__", batch_end).replace("__SERVE__", "1999-01-01")
    )
    rc, _res = _run(
        spark,
        [
            "group-by-upload", "--conf", str(conf),
            "--out-root", str(tmp_path / "ups"), "--batch-end-ds", batch_end,
        ],
        capsys,
    )
    assert rc == 0
    rc, res = _run(
        spark,
        [
            "fetch", "--conf", str(conf), "--upload-root", str(tmp_path / "ups"),
            "--out-root", str(tmp_path / "fout"), "--batch-end-ds", batch_end,
        ],
        capsys,
    )
    assert rc == 0 and res["rows"] == 0
