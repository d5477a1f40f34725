"""The ``backfill`` workload: a full materialized join backfill over the
seeded Iceberg transcript table, written to a fresh ``iceberg:`` output root
each repetition.

Left side: assistant turns after gap sessionization and lag(role). One
conv_id-keyed part with sliding-tier COUNT / SUM / AVERAGE over 1d and 7d.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import time

import common
import oracle
import spans as S


def build_left(src, tracer: S.Tracer | None):
    """Assistant turns with their session id and the previous turn's role."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as SW

    from chronon_spark.operators.sessionize import sessionize

    s = sessionize(src, ["conv_id"], ts_column="ts", gap="30 minutes", order_by=["ts", "turn_idx"])
    s = s.withColumn(
        "prev_role", F.lag("role").over(SW.partitionBy("conv_id").orderBy("ts", "turn_idx"))
    )
    if tracer is not None:
        s = tracer.stage(s, "sessionize.exec")
    return s.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ts", "session_id", "prev_role"
    )


def backfill_once(spark, source_location: str, out_root: str, start: str, end: str,
                  tracer: S.Tracer | None = None):
    """One full backfill; returns the final table's IcebergTable."""
    from chronon_spark.api import EventSource, Query
    from chronon_spark.operators.join import materialize_join
    from chronon_spark.sources.scan import scan_source

    gb, join = common.definitions()
    src = scan_source(
        spark,
        EventSource(
            table=f"iceberg:{source_location}",
            query=Query(start_partition=start, end_partition=end),
        ),
    )
    if tracer is None:
        left = build_left(src, None)
    else:
        with tracer.span("sessionize"):
            left = build_left(src, tracer)
    with contextlib.nullcontext() if tracer is None else tracer.span("join"):
        final, _ = materialize_join(spark, left, {gb.name: src}, join, out_root, start, end,
                                    tiebreak=common.TIEBREAK)
    if tracer is not None:
        tracer.release()
    return final.table


def check(table, source_location: str, start: str, end: str, sample: list[str]):
    """(problems, feature rows): the row count must equal the assistant turns
    in range, and the sampled conversations must match the DuckDB oracle."""
    lo, hi = common.day_start_ms(start), common.day_start_ms(end) + common.DAY_MS
    entries = table.plan_scan()
    rows = sum(e["record_count"] for e in entries)
    want_rows = oracle.expected_rows(source_location, lo, hi)
    problems = [] if rows == want_rows else [f"{rows} feature rows, want {want_rows}"]
    got = oracle.output_sample([e["path"] for e in entries], sample)
    want = oracle.expected_sample(source_location, lo, hi, sample)
    if not want:
        problems.append("the oracle sample holds no assistant turns")
    return problems + oracle.compare(want, got), rows


def run(args, shape: dict, work: str) -> tuple[dict, dict]:
    from chronon_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(common.spark_env(common.host(), tmp))
    # the traced run reads stage metrics from the UI server's REST API
    extra = {"spark.ui.enabled": "true", "spark.ui.port": "0"} if args.trace else None
    spark = get_spark("perfbench-backfill", master=os.environ["SPARK_MASTER"], extra_conf=extra)
    try:
        return _run(spark, args, shape, work)
    finally:
        common.stop_spark(spark)


def _run(spark, args, shape: dict, work: str):
    start, end = common.ds(0), common.ds(shape["n_days"] - 1)
    setup = []
    for r in range(1 if args.smoke else 3):
        t0 = time.perf_counter()
        common.commit_source(spark, shape, args.seed, f"{work}/source{r}")
        setup.append(time.perf_counter() - t0)
    source = f"{work}/source0"
    for r in range(1, len(setup)):
        shutil.rmtree(f"{work}/source{r}")

    rng = random.Random(args.seed)
    normal = [f"conv_{i:06d}" for i in range(shape["n_conversations"])]
    sample = sorted(rng.sample(normal, min(20, len(normal)))) + common.hot_conv_ids(shape)[:1]

    times, problems, attempted, failed, rows, heap = [], [], 0, 0, 0, []

    def once(timed: bool) -> None:
        nonlocal attempted, failed, rows
        out_root = f"iceberg:{work}/out{attempted}"
        attempted += 1
        t0 = time.perf_counter()
        try:
            table = backfill_once(spark, source, out_root, start, end)
        except Exception as e:  # noqa: BLE001 - a failed repetition is counted, not fatal
            failed += 1
            problems.append(f"rep {attempted}: {type(e).__name__}: {e}")
            return
        if timed:
            times.append(time.perf_counter() - t0)
        if not heap:
            # after the run's first backfill (the untimed warm-up in a full
            # run), so every run measures it after the same work
            heap.append(common.retained_heap_mb(spark._jvm))
        bad, rows = check(table, source, start, end, sample)
        if bad:
            failed += 1
            problems.extend(f"rep {attempted}: {p}" for p in bad[:5])
        shutil.rmtree(out_root.split(":", 1)[1])

    if not args.smoke:
        # the first backfill in a JVM runs ~40% slower while the JIT and
        # Spark's codegen warm up; it is checked but not timed
        once(timed=False)
    deadline = time.perf_counter() + args.seconds
    once(timed=True)
    while not args.smoke and time.perf_counter() < deadline:
        once(timed=True)
    if not times:
        raise SystemExit(f"perfbench: every timed backfill failed: {problems[:3]}")

    info = {
        "backfill_s": statistics.median(times),
        "backfill_rows_per_s": rows / statistics.median(times),
        "backfill_runs_s": times,
        "backfill_rows": rows,
        "setup_runs_s": setup,
        "problems": problems[:20],
    }
    if args.trace:
        metrics = traced(spark, source, start, end, work, info["backfill_s"], info)
    else:
        metrics = {
            "op_median_ms": 1000 * info["backfill_s"],
            "items_per_s": info["backfill_rows_per_s"],
            "setup_s": statistics.median(setup),
            "peak_rss_mb": common.tree_peak_rss_mb(),
            "retained_heap_mb": heap[0],
        }
    return {"attempted": attempted, "failed": failed, "metrics": metrics}, info


def traced(spark, source: str, start: str, end: str, work: str, untraced_s: float, info: dict):
    tracer = S.Tracer(f"backfill-{os.getpid()}")
    t0 = time.perf_counter()
    with S.instrument_batch(tracer, common.definitions()[1].name), \
            tracer.span("backfill", request="traced"):
        backfill_once(spark, source, f"iceberg:{work}/traced_out", start, end, tracer)
    traced_s = time.perf_counter() - t0
    spans = tracer.spans
    groups = [s["attrs"]["job_group"] for s in spans if "job_group" in s["attrs"]]
    gm = S.group_stage_metrics(spark, groups)

    def group_sum(name: str, key: str) -> float:
        return sum(gm[s["attrs"]["job_group"]][key] for s in spans if s["name"] == name)

    def subtree_self(root: str, layer: str) -> float:
        mine = [s for s in spans if s["name"] == root] + S.under(spans, root)
        own = S.self_times(spans)
        return sum(own[s["id"]] for s in mine if s["name"].split(".")[0] == layer)

    sess = [s for s in spans if s["name"] == "sessionize.exec"]
    gexec = [s for s in spans if s["name"] == "groupby.exec"]
    path = os.path.join(work, "spans.jsonl")
    tracer.write(path)
    info["span_file"] = path
    info["traced_s"] = traced_s
    metrics = {
        **S.sources_metrics(spans),
        "sessionize.self_s": S.layer_self_s(spans, "sessionize"),
        "sessionize.shuffle_mb": group_sum("sessionize.exec", "shuffle_mb"),
        "sessionize.rows_in": sum(s["attrs"]["rows"] for s in sess),
        "groupby.self_s": S.layer_self_s(spans, "groupby"),
        "groupby.cpu_s": group_sum("groupby.exec", "cpu_s"),
        "groupby.plan_ms": 1000 * sum(S.duration(s) for s in spans if s["name"] == "groupby.plan"),
        "groupby.shuffle_mb": group_sum("groupby.exec", "shuffle_mb"),
        "groupby.spill_mb": group_sum("groupby.exec", "spill_mb"),
        "groupby.gc_s": group_sum("groupby.exec", "gc_s"),
        "groupby.task_skew": max((gm[s["attrs"]["job_group"]]["task_skew"] for s in gexec), default=0.0),
        "join.part_s": subtree_self("join.part", "join"),
        "join.assemble_s": subtree_self("join.assemble", "join"),
        "join.plan_ms": 1000 * S.layer_self_s(spans, "join", ("join.plan",)),
        "trace.overhead_ms": 1000 * (traced_s - untraced_s),
    }
    return metrics
