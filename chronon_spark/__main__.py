"""Job-orchestration CLI: ``python -m chronon_spark <command> ...``.

The reference ships its entry points as Driver.scala subcommands wrapped by
run.py in spark-submit (spark/src/main/scala/ai/chronon/spark/
Driver.scala:1016-1091; api/py/ai/chronon/repo/run.py:390-599). This CLI is
the same surface over the library: feature definitions live in a plain
Python conf file (our analog of the compiled thrift conf), loaded by path,
and each subcommand maps onto the corresponding library lifecycle.

Conf-module contract (only the names a given subcommand needs):

    join                  -> ``join`` (api.Join), ``left(spark)``,
                             ``sources(spark) -> {group_by_name: DataFrame}``
    join-left             -> ``join``, ``left(spark)`` (phase 1: materialize
                             the skew-filtered left table once)
    join-final            -> ``join``, ``sources(spark)`` (phase 2: parts +
                             assembly over the join-left table; errors if
                             phase 1 hasn't run)
    group-by-backfill     -> ``group_by`` (api.GroupBy), ``source(spark)``
    staging-query-backfill-> ``staging_sql`` (str with {{ start_date }} /
                             {{ end_date }} / {{ latest_date }} /
                             {{ max_date(table=...) }} macros), optional
                             ``setup(spark)`` registering views it reads
    analyze               -> ``group_by``, ``source(spark)``
    label-join            -> ``features(spark)``, ``label_events(spark)``,
                             ``label_group_by`` (api.GroupBy), ``horizon``
                             (api.Window), optional ``left_start_offset``/
                             ``left_end_offset`` (refresh-window days);
                             args --out-root --label-ds
    log-flattener         -> ``logs(spark)``, ``schemas`` (hash ->
                             (key_ddl, value_ddl)), optional ``join_name``
    consistency-metrics-compute -> ``flattened(spark)``, ``offline(spark)``,
                             ``keys`` (list[str])
    compare               -> ``left(spark)``, ``right(spark)``, ``keys``,
                             optional ``mapping``
    group-by-upload       -> ``group_by``, ``source(spark)``;
                             args --out-root --batch-end-ds
    fetch                 -> ``join``, ``requests(spark)``, ``streams(spark)
                             -> {group_by_name: DataFrame}``; reads the
                             upload tables group-by-upload wrote; args
                             --upload-root --out-root --batch-end-ds
    metadata-export       -> ``group_by`` and/or ``join`` (semantic hashes,
                             output schema — what resume keys on)
    metadata-upload       -> same conf; publishes the export payload to the
                             ``{out_root}/_metadata`` registry (KV-put
                             analog, latest-wins per name); args --out-root
    group-by-streaming    -> ``group_by``, ``stream(spark)`` (a readStream
                             frame), optional ``hop``/``watermark``; args
                             --out-root --checkpoint-dir
    daily-stats           -> ``frame(spark)`` (day-partitioned features),
                             optional ``name``; args --out-root
    log-summary           -> ``flattened(spark)`` (day-partitioned flattened
                             log), optional ``name``; args --out-root
                             [--sample 0.1]

    curate                -> ``source(spark)`` + ``curation_stages``
                             (declarative [(name, params)] specs over the
                             CURATION_STAGES vocabulary: scrub_pii, c4,
                             gopher, dedup_exact, decontaminate,
                             transcript_quality, classifier_select),
                             optional ``name``/
                             ``snapshot_ds``/``id_col``; args --out-root.
                             Lands survivors as a snapshot table + writes
                             the per-stage lineage report

    serve                 -> ``join`` and/or ``group_by`` + ``streams(spark)
                             -> {group_by_name: DataFrame}`` (each part's
                             post-batch-end events); args --upload-root
                             --batch-end-ds [--port 0] [--host]. Announces
                             the bound port as one stdout JSON line, then
                             serves POST /v1/features/{join|groupby}/<name>
                             (service.py; reference WebServiceVerticle +
                             FeaturesHandler)

    compile               -> no conf module; ``--conf-root <dir>`` walks a
                             whole conf TREE, validates every module (the
                             analyzer where data callables exist), and
                             writes the semantic-hash manifest CI gates on
                             (``--manifest-out``; exit 1 on any bad conf)

    optional everywhere: ``tiebreak`` (str)

Backfill-style subcommands accept ``--out-root catalog:<db>`` to write
catalog-managed tables (sources/catalog.py) instead of parquet paths.

Every backfill subcommand is incremental + resumable: written day
partitions with a matching semantic hash are skipped on re-run (the library
backfill contract, sources/tableio.py). Run under spark-submit or plain
python — the session comes from session.get_spark ($SPARK_MASTER /
$SPARK_GRAFT_CPUS govern master selection).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import sys


def _load_conf(path: str):
    spec = importlib.util.spec_from_file_location("chronon_conf", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _opt(conf, name, default=None):
    return getattr(conf, name, default)


def _table_id(table) -> str:
    """Stable display id for either table flavor (path or catalog name)."""
    return getattr(table, "path", None) or table.name


def cmd_join(spark, conf, args) -> dict:
    from chronon_spark.operators.join import materialize_join

    final, parts = materialize_join(
        spark,
        conf.left(spark),
        conf.sources(spark),
        conf.join,
        args.out_root,
        args.start_ds,
        args.end_ds,
        tiebreak=_opt(conf, "tiebreak"),
        step_days=args.step_days,
    )
    return {
        "command": "join",
        "output_table": _table_id(final),
        "partitions": final.partitions(),
        "part_tables": {p: _table_id(t) for p, t in parts.items()},
    }


def cmd_join_left(spark, conf, args) -> dict:
    """Phase 1 of the split backfill (reference Driver.scala:402-425
    ``join-left`` -> computeLeft): materialize the skew-filtered left query
    table once, so part/final runs share one left scan."""
    from chronon_spark.operators.join import materialize_join_left

    table = materialize_join_left(
        spark, conf.left(spark), conf.join, args.out_root,
        args.start_ds, args.end_ds, step_days=args.step_days,
    )
    return {
        "command": "join-left",
        "output_table": _table_id(table),
        "partitions": table.partitions(),
    }


def cmd_join_final(spark, conf, args) -> dict:
    """Phase 2 (reference Driver.scala:426-449 ``join-final`` ->
    computeFinal): read the ``join-left`` table and run join parts + final
    assembly against it. Fails with a structured error if phase 1 has not
    covered the requested range."""
    from chronon_spark.operators.join import materialize_join
    from chronon_spark.sources.tableio import resolve_table

    from chronon_spark.operators.join import left_semantic_hash
    from chronon_spark.sources.tableio import ds_range

    join = conf.join
    left_table = resolve_table(spark, args.out_root, f"{join.name}_left")
    have = set(left_table.partitions())
    if not have:
        return {
            "command": "join-final",
            "errors": [
                {
                    "code": "MISSING_LEFT_TABLE",
                    "message": f"run join-left first: {_table_id(left_table)} has no partitions",
                }
            ],
        }
    # phase-order safety: every requested day must be covered by phase 1
    # (partition present, or lineage present for legitimately-empty days),
    # under the CURRENT left definition — a stale or partial left table
    # would silently truncate/skew the final output
    want_hash = left_semantic_hash(join)
    errors = []
    # only the REQUESTED range gates this run: a stale partition outside
    # [start_ds, end_ds] belongs to some other range's re-materialization
    # and must not block a range that was itself fully refreshed
    wanted = set(ds_range(args.start_ds, args.end_ds))
    stale = sorted(
        d
        for d in have
        if d in wanted
        and (left_table.lineage(d) or {}).get("semantic_hash") != want_hash
    )
    if stale:
        errors.append(
            {
                "code": "STALE_LEFT_TABLE",
                "message": (
                    f"left definition changed (skew keys / time column): re-run "
                    f"join-left; stale partitions: {stale[:5]}"
                    + ("..." if len(stale) > 5 else "")
                ),
            }
        )
    missing = [
        d
        for d in ds_range(args.start_ds, args.end_ds)
        if d not in have and left_table.lineage(d) is None
    ]
    if missing:
        errors.append(
            {
                "code": "INCOMPLETE_LEFT_TABLE",
                "message": (
                    f"join-left has not covered {missing[:5]}"
                    + ("..." if len(missing) > 5 else "")
                    + " — re-run join-left over the requested range"
                ),
            }
        )
    if errors:
        return {"command": "join-final", "errors": errors}
    left = left_table.read_range(spark, args.start_ds, args.end_ds).drop("ds")
    selected = (
        [s for s in args.selected_parts.split(",") if s]
        if getattr(args, "selected_parts", None)
        else None
    )
    final, parts = materialize_join(
        spark, left, conf.sources(spark), join, args.out_root,
        args.start_ds, args.end_ds,
        tiebreak=_opt(conf, "tiebreak"),
        step_days=args.step_days,
        selected_parts=selected,
    )
    out = {
        "command": "join-final",
        "part_tables": {p: _table_id(t) for p, t in parts.items()},
    }
    if final is not None:
        out["output_table"] = _table_id(final)
        out["partitions"] = final.partitions()
    else:
        out["selected_parts"] = selected
    return out


def cmd_group_by_backfill(spark, conf, args) -> dict:
    from chronon_spark.operators.groupby import snapshot_events
    from chronon_spark.sources.tableio import backfill, resolve_table

    gb = conf.group_by
    src = conf.source(spark)
    table = resolve_table(spark, args.out_root, gb.name)

    def compute(s, lo, hi):
        from chronon_spark.operators.join import narrow_events

        ev = narrow_events(src, gb, lo, hi)
        return snapshot_events(ev, gb, lo, hi, tiebreak=_opt(conf, "tiebreak"))

    recs = backfill(
        spark, table, compute, args.start_ds, args.end_ds,
        semantic_hash=gb.semantic_hash(), step_days=args.step_days,
    )
    return {
        "command": "group-by-backfill",
        "output_table": _table_id(table),
        "partitions": table.partitions(),
        "chunks": recs,
    }


def cmd_staging_query_backfill(spark, conf, args) -> dict:
    from chronon_spark.sources.tableio import resolve_table
    from chronon_spark.staging import backfill_staging_query

    if hasattr(conf, "setup"):
        conf.setup(spark)
    sql = conf.staging_sql
    name = _opt(conf, "name", "staging")
    table = resolve_table(spark, args.out_root, name)
    recs = backfill_staging_query(
        spark, sql, table, args.start_ds, args.end_ds,
        semantic_hash=hashlib.sha256(sql.encode()).hexdigest()[:16],
        step_days=args.step_days,
    )
    return {
        "command": "staging-query-backfill",
        "output_table": _table_id(table),
        "partitions": table.partitions(),
        "chunks": recs,
    }


def cmd_analyze(spark, conf, args) -> dict:
    from chronon_spark.operators.analyzer import analyze_group_by

    res = analyze_group_by(conf.source(spark), conf.group_by)
    return {
        "command": "analyze",
        "output_schema": res.output_schema,
        "key_columns": res.key_columns,
        "hot_keys": res.hot_keys,
        "errors": [
            {"code": e.code, "column": e.column, "message": e.message}
            for e in res.errors
        ],
    }


def cmd_analyze_join(spark, conf, args) -> dict:
    from chronon_spark.operators.analyzer import analyze_join

    res = analyze_join(conf.left(spark), conf.sources(spark), conf.join)
    return {
        "command": "analyze-join",
        "output_schema": res.output_schema,
        "part_schemas": res.part_schemas,
        "hot_keys": res.hot_keys,
        "errors": [
            {"code": e.code, "column": e.column, "message": e.message}
            for e in res.errors
        ],
    }


def cmd_label_join(spark, conf, args) -> dict:
    from chronon_spark.operators.bootstrap import materialize_label_join

    table, labeled_view, latest_view = materialize_label_join(
        spark,
        _opt(conf, "name", conf.label_group_by.name),
        conf.features(spark),
        conf.label_events(spark),
        conf.label_group_by,
        conf.horizon,
        args.label_ds,
        args.out_root,
        time_column=_opt(conf, "time_column", "ts"),
        tiebreak=_opt(conf, "tiebreak"),
        # LabelPart refresh window (optional conf fields; None = open bound)
        left_start_offset=_opt(conf, "left_start_offset"),
        left_end_offset=_opt(conf, "left_end_offset"),
    )
    return {
        "command": "label-join",
        "labels_table": _table_id(table),
        "label_versions": table.partitions(),
        "labeled_view": labeled_view,
        "labeled_latest_view": latest_view,
    }


def cmd_log_flattener(spark, conf, args) -> dict:
    """Decode fetcher log rows into a flat day-partitioned table
    (reference LogFlattenerJob.scala wrapped by Driver.scala)."""
    from pyspark.sql import functions as F

    from chronon_spark.operators.logflatten import flatten_logs
    from chronon_spark.sources.tableio import (
        insert_overwrite_partitions,
        observed_rows,
        resolve_table,
    )

    logs = conf.logs(spark)
    flat = flatten_logs(logs, conf.schemas, join_name=_opt(conf, "join_name"))
    flat = flat.withColumn(
        "ds", F.date_format(F.timestamp_millis(F.col("ts_ms")), "yyyy-MM-dd")
    )
    name = _opt(conf, "name", _opt(conf, "join_name", "logs")) + "_flattened"
    table = resolve_table(spark, args.out_root, name)
    # the flattened count rides the write job as an observed metric — a
    # post-write count() would re-run the whole decode plan; raw_rows stays a
    # plain count over the UNDECODED input (the drop-lineage signal: raw
    # minus flattened = rows lost to unregistered schema hashes)
    from pyspark.sql import Observation

    obs = Observation("flatten_rows")
    flat = flat.observe(obs, F.count(F.lit(1)).alias("flattened_rows"))
    insert_overwrite_partitions(flat, table)
    return {
        "command": "log-flattener",
        "output_table": _table_id(table),
        "partitions": table.partitions(),
        "raw_rows": logs.count(),
        "flattened_rows": observed_rows(obs, "flattened_rows"),
    }


def cmd_consistency_metrics(spark, conf, args) -> dict:
    """Online/offline consistency over a flattened log vs the offline
    backfill (reference stats/ConsistencyJob.scala)."""
    from chronon_spark.operators.logflatten import consistency_job

    metrics = consistency_job(
        conf.flattened(spark),
        conf.offline(spark),
        conf.keys,
        time_column=_opt(conf, "time_column", "ts"),
    ).collect()[0].asDict()
    return {"command": "consistency-metrics-compute", "metrics": metrics}


def cmd_compare(spark, conf, args) -> dict:
    """Side-by-side diff of two frames (reference CompareJob /
    Comparison.sideBySide): per-column null splits, mismatches, smape."""
    from chronon_spark.operators.drift import compare_metrics

    metrics = compare_metrics(
        conf.left(spark),
        conf.right(spark),
        conf.keys,
        mapping=_opt(conf, "mapping"),
    ).collect()[0].asDict()
    return {"command": "compare", "metrics": metrics}


def cmd_group_by_upload(spark, conf, args) -> dict:
    """Batch IR upload tables for online serving (reference
    GroupByUpload.scala:38-105): collapsed IRs + tail-hop tiles as of the
    batch end, both partial/merge-able by a fetcher."""
    from chronon_spark.operators.upload import upload_batch_irs, write_upload_tables

    gb = conf.group_by
    frames = upload_batch_irs(
        conf.source(spark), gb, args.batch_end_ds, tiebreak=_opt(conf, "tiebreak")
    )
    tables = write_upload_tables(spark, args.out_root, gb, args.batch_end_ds, frames)
    return {
        "command": "group-by-upload",
        "batch_end_ds": args.batch_end_ds,
        "semantic_hash": gb.semantic_hash(),
        "tables": {suffix: _table_id(t) for suffix, t in tables.items()},
    }


def cmd_fetch(spark, conf, args) -> dict:
    """Offline-simulated Fetcher.fetchJoin over PREVIOUSLY UPLOADED IR
    tables (reference Driver.scala ``fetch``): read each part's upload under
    the upload-table contract of ``operators/upload.py`` (one error per
    stale or unstamped part), lambda-merge each part with its stream, write
    the enriched request frame."""
    from pyspark.sql import functions as F

    from chronon_spark.operators.upload import StaleUploadError, fetch_join, read_upload_tables
    from chronon_spark.sources.tableio import (
        insert_overwrite_partitions,
        observed_rows,
        resolve_table,
    )

    join = conf.join
    batch, errors = {}, []
    for part in join.join_parts:
        gb = part.group_by
        try:
            batch[gb.name] = read_upload_tables(spark, args.upload_root, gb, args.batch_end_ds)
        except StaleUploadError as e:
            errors.append({"code": e.code, "message": str(e)})
    if errors:
        return {"command": "fetch", "errors": errors}
    out = fetch_join(
        conf.requests(spark), batch, conf.streams(spark), join,
        args.batch_end_ds, tiebreak=_opt(conf, "tiebreak"),
    )
    table = resolve_table(spark, args.out_root, f"{join.name}_fetched")
    # row count rides the write job as an observed metric — a separate
    # count() would execute the whole fetch plan a second time
    from pyspark.sql import Observation

    obs = Observation("fetch_rows")
    out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
    insert_overwrite_partitions(out.withColumn("ds", F.lit(args.batch_end_ds)), table)
    return {
        "command": "fetch",
        "output_table": _table_id(table),
        "batch_end_ds": args.batch_end_ds,
        "rows": observed_rows(obs, "rows"),
    }


def cmd_group_by_streaming(spark, conf, args) -> dict:
    """Streaming tile maintenance (reference Driver.scala group-by-streaming
    wrapping streaming/GroupBy.scala): drain the conf's stream with an
    availableNow trigger, maintain hop-tile partial IRs, and persist them
    day-partitioned. ``conf.stream(spark)`` builds the readStream — a file
    source here; Kafka is the same call with connector jars."""
    from pyspark.sql import functions as F

    from chronon_spark.sources.tableio import insert_overwrite_partitions, resolve_table
    from chronon_spark.streaming.ingest import run_to_completion
    from chronon_spark.streaming.tiles import streaming_tiles

    gb = conf.group_by
    tiles = streaming_tiles(
        conf.stream(spark),
        gb,
        hop=_opt(conf, "hop", "5 minutes"),
        watermark=_opt(conf, "watermark", "0 seconds"),
        tiebreak=_opt(conf, "tiebreak"),
    )
    qname = f"{gb.name}_tiles_drain"
    run_to_completion(tiles, args.checkpoint_dir, query_name=qname)
    drained = spark.table(qname).withColumn(
        "ds", F.date_format(F.timestamp_millis(F.col("tile_start_ms")), "yyyy-MM-dd")
    )
    table = resolve_table(spark, args.out_root, f"{gb.name}_tiles")
    insert_overwrite_partitions(drained, table)
    return {
        "command": "group-by-streaming",
        "output_table": _table_id(table),
        "partitions": table.partitions(),
        "tile_rows": drained.count(),
    }


def _daily_stat_aggs(frame, count_alias: str):
    """The shared per-day stat set (row count + null rate / mean / approx
    p50 / p90 per numeric column) used by both daily-stats and log-summary
    — one definition so the two reports cannot drift."""
    from pyspark.sql import functions as F

    numeric = [
        f.name
        for f in frame.schema.fields
        if f.dataType.typeName() in ("integer", "long", "double", "float", "short")
        and f.name != "ds"
    ]
    aggs = [F.count(F.lit(1)).alias(count_alias)]
    for c in numeric:
        aggs += [
            F.round(F.avg(F.col(c).isNull().cast("double")), 6).alias(f"{c}_null_rate"),
            F.round(F.avg(c), 6).alias(f"{c}_mean"),
            F.round(F.percentile_approx(c, 0.5), 6).alias(f"{c}_p50"),
            F.round(F.percentile_approx(c, 0.9), 6).alias(f"{c}_p90"),
        ]
    return aggs, numeric


def cmd_daily_stats(spark, conf, args) -> dict:
    """Per-day summary statistics of a features table (reference
    Driver.scala daily-stats wrapping stats/StatsCompute): row count plus
    null rate / mean / approx p50 / p90 for every numeric column, one row
    per ds, persisted day-partitioned."""
    from chronon_spark.sources.tableio import insert_overwrite_partitions, resolve_table

    frame = conf.frame(spark)
    aggs, numeric = _daily_stat_aggs(frame, "row_count")
    stats = frame.groupBy("ds").agg(*aggs)
    name = _opt(conf, "name", "features") + "_daily_stats"
    table = resolve_table(spark, args.out_root, name)
    insert_overwrite_partitions(stats, table)
    return {
        "command": "daily-stats",
        "output_table": _table_id(table),
        "partitions": table.partitions(),
        "columns": numeric,
    }


def cmd_metadata_export(spark, conf, args) -> dict:
    """Definition metadata + semantic hashes (reference Driver.scala
    ``metadata-export``): exactly what the incremental-resume machinery keys
    on, exported for inspection and change diffing."""
    return {"command": "metadata-export", **_metadata_payload(spark, conf)}


def _metadata_payload(spark, conf) -> dict:
    """Shared payload builder for metadata-export/metadata-upload."""
    from chronon_spark.lineage import (
        LineageMetaData,
        group_by_lineage,
        join_lineage,
        sql_lineage,
    )

    lineage = LineageMetaData()
    out: dict = {}
    if hasattr(conf, "staging_sql"):
        name = getattr(conf, "name", "staging")
        out["staging_query"] = {
            "name": name,
            "semantic_hash": hashlib.sha256(conf.staging_sql.encode()).hexdigest()[:16],
        }
        lineage.store(sql_lineage(spark, conf.staging_sql, name))
    if hasattr(conf, "group_by"):
        gb = conf.group_by
        out["group_by"] = {
            "name": gb.name,
            "keys": gb.keys,
            "accuracy": gb.accuracy.value,
            "semantic_hash": gb.semantic_hash(),
            "output_columns": gb.output_columns(),
            "max_window_millis": gb.max_window_millis(),
        }
        lineage.store(group_by_lineage(spark, gb, f"source:{gb.name}"))
    if hasattr(conf, "join"):
        from chronon_spark.operators.join import join_semantic_hash

        j = conf.join
        out["join"] = {
            "name": j.name,
            "left_keys": j.left_keys,
            "semantic_hash": join_semantic_hash(j),
            "parts": [
                {
                    "group_by": p.group_by.name,
                    "prefix": p.full_prefix(),
                    "key_mapping": p.key_mapping,
                    "semantic_hash": p.group_by.semantic_hash(),
                }
                for p in j.join_parts
            ],
        }
        lineage.store(
            join_lineage(
                spark, j, f"left:{j.name}",
                sources={p.group_by.name: f"source:{p.group_by.name}" for p in j.join_parts},
            )
        )
    if lineage.edges:
        # column-level lineage (reference lineage_parser.py exports
        # ColumnTransform edges per output table): output_col -> input_col
        # with the root-first transform chain, parsed by Catalyst itself
        out["lineage"] = lineage.as_dict()
    return out


def cmd_metadata_upload(spark, conf, args) -> dict:
    """Publish definition metadata to the serving registry (reference
    Driver.scala:851-888 ``metadata-upload`` -> MetadataUploader putConf):
    one KV-style row per entity (kind, name, semantic_hash, payload JSON,
    upload time) in ``{out_root}/_metadata``, latest-upload-wins per name.
    Fetchers and ops tooling resolve definitions (and the hash the serving
    check verifies) from this table instead of shipping conf files."""
    import datetime as _dt
    import os

    payload = _metadata_payload(spark, conf)
    if not payload:
        return {
            "command": "metadata-upload",
            "errors": [
                {"code": "EMPTY_CONF", "message": "conf exposes neither group_by nor join"}
            ],
        }
    if args.out_root.startswith("catalog:"):
        # every other subcommand routes 'catalog:<db>' through resolve_table;
        # the registry is plain JSON files, so a catalog root would silently
        # become a literal local './catalog:db/_metadata' directory — reject
        # with direction instead
        return {
            "command": "metadata-upload",
            "errors": [
                {
                    "code": "CATALOG_OUT_ROOT",
                    "message": (
                        "metadata-upload writes a file registry and does not "
                        "support 'catalog:' out-roots; pass a filesystem path"
                    ),
                }
            ],
        }
    now = _dt.datetime.now(_dt.timezone.utc).isoformat()
    registry = os.path.join(args.out_root, "_metadata")
    os.makedirs(registry, exist_ok=True)
    # KV-put analog: one JSON document per (kind, name), latest upload wins
    # by overwrite — the registry is tiny definition metadata, file-per-key
    # is the simple durable shape (and trivially mirrors to a real KV store)
    entries = []
    lineage = payload.pop("lineage", None)
    for kind, meta in payload.items():
        doc = {**meta, "kind": kind, "uploaded_at": now}
        if lineage is not None:
            # column lineage rides inside each definition's document (the
            # governance consumer reads edges next to the hash they describe)
            doc["lineage"] = {
                "edges": [
                    e for e in lineage["edges"]
                    if e["output_table"] == meta["name"]
                    or e["output_table"].startswith(f"{meta['name']}__")
                ],
            }
        # definition names are arbitrary strings: sanitize like
        # tableio.resolve_table so a name with '/' or '..' cannot escape
        # (or crash out of) the registry directory; a short hash of the RAW
        # name keeps distinct names ('a/b' vs 'a.b' vs 'a_b') from colliding
        # onto one sanitized document under latest-wins
        safe = "".join(c if c.isalnum() or c == "_" else "_" for c in meta["name"])
        sha8 = hashlib.sha256(meta["name"].encode()).hexdigest()[:8]
        fname = f"{kind}__{safe}__{sha8}.json"
        with open(os.path.join(registry, fname), "w") as f:
            json.dump(doc, f, sort_keys=True)
        entries.append(
            {
                "kind": kind,
                "name": meta["name"],
                "semantic_hash": meta["semantic_hash"],
                "doc": fname,
            }
        )
    return {"command": "metadata-upload", "registry": registry, "entries": entries}


def cmd_log_summary(spark, conf, args) -> dict:
    """Daily summary statistics over the FLATTENED LOG table, sampled
    (reference Driver.scala:615-633 ``log-summary`` wrapping
    stats/SummaryJob.loggingRun): same stat set as daily-stats, computed on
    a ``--sample`` fraction of the logged rows — the logged stream is
    usually far bigger than any backfill output, sampling keeps the summary
    job cheap at scale."""
    from pyspark.sql import functions as F

    from chronon_spark.sources.tableio import insert_overwrite_partitions, resolve_table

    frame = conf.flattened(spark)
    if args.sample < 1.0:
        frame = frame.sample(fraction=args.sample, seed=42)
    aggs, _ = _daily_stat_aggs(frame, "sampled_row_count")
    stats = frame.groupBy("ds").agg(*aggs).withColumn(
        "sample_fraction", F.lit(float(args.sample))
    )
    name = _opt(conf, "name", "logs") + "_log_summary"
    table = resolve_table(spark, args.out_root, name)
    insert_overwrite_partitions(stats, table)
    return {
        "command": "log-summary",
        "output_table": _table_id(table),
        "partitions": table.partitions(),
        "sample": args.sample,
    }


def cmd_compile(spark, conf, args) -> dict:
    """Repo-wide compile + validate (reference api/py/ai/chronon/repo/
    compile.py + extract_objects.py: Python confs -> validated manifest):
    walk every ``*.py`` conf under ``--conf-root``, load each module, run
    the deepest validation its contents allow — the group-by/join analyzer
    when the conf supplies its data callables (``source`` / ``left`` +
    ``sources``), structural checks otherwise — and emit ONE semantic-hash
    manifest (``--manifest-out``, default ``<conf-root>/_compiled/
    manifest.json``): the document the metadata registry consumes and a CI
    gate runs (exit code 1 if ANY conf fails to load or validate)."""
    import datetime as _dt
    import os

    from chronon_spark.operators.analyzer import analyze_group_by, analyze_join

    root = args.conf_root
    paths = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for fn in filenames:
            if fn.endswith(".py") and not fn.startswith(("_", ".")):
                paths.append(os.path.join(dirpath, fn))
    if not paths:
        return {
            "command": "compile",
            "errors": [{"code": "EMPTY_CONF_ROOT",
                        "message": f"no conf modules under {root}"}],
        }

    def _res_errors(rel, res):
        return [
            {"code": e.code, "conf": rel, "column": e.column, "message": e.message}
            for e in res.errors
        ]

    entries, errors = [], []
    for path in sorted(paths):
        rel = os.path.relpath(path, root)
        try:
            mod = _load_conf(path)
        except Exception as e:  # noqa: BLE001 — a broken conf must not stop the sweep
            errors.append({"code": "LOAD_ERROR", "conf": rel,
                           "message": f"{type(e).__name__}: {e}"})
            entries.append({"conf": rel, "kinds": [], "status": "error"})
            continue
        conf_errors: list[dict] = []
        payload: dict = {}
        try:
            payload = _metadata_payload(spark, mod)
            if "group_by" in payload and hasattr(mod, "source"):
                conf_errors += _res_errors(
                    rel, analyze_group_by(mod.source(spark), mod.group_by)
                )
            if "join" in payload and hasattr(mod, "left") and hasattr(mod, "sources"):
                conf_errors += _res_errors(
                    rel, analyze_join(mod.left(spark), mod.sources(spark), mod.join)
                )
            if hasattr(mod, "label_group_by"):
                h = _opt(mod, "horizon")
                if h is None or h.millis <= 0:
                    conf_errors.append({
                        "code": "BAD_HORIZON", "conf": rel, "column": None,
                        "message": "label conf requires a positive horizon Window",
                    })
                payload["label_join"] = {
                    "name": mod.label_group_by.name,
                    "semantic_hash": mod.label_group_by.semantic_hash(),
                    "horizon_ms": h.millis if h is not None else None,
                }
            if hasattr(mod, "staging_sql"):
                payload["staging_query"] = {
                    "name": _opt(mod, "name", os.path.splitext(rel)[0]),
                    "semantic_hash": hashlib.sha256(
                        mod.staging_sql.encode()
                    ).hexdigest(),
                }
            if hasattr(mod, "curation_stages"):
                from chronon_spark.operators.curation import build_stages

                # resolves every stage name + params against the registry —
                # an unknown stage or malformed params fails the compile
                build_stages(mod.curation_stages)
                if not hasattr(mod, "source"):
                    conf_errors.append({
                        "code": "MISSING_SOURCE", "conf": rel, "column": None,
                        "message": "curation conf requires source(spark)",
                    })
                specs = [
                    [s, {}] if isinstance(s, str) else [s[0], dict(s[1] or {})]
                    for s in mod.curation_stages
                ]
                payload["curation"] = {
                    "name": _opt(mod, "name", os.path.splitext(rel)[0]),
                    "stages": [s[0] for s in specs],
                    "semantic_hash": hashlib.sha256(
                        json.dumps(specs, sort_keys=True).encode()
                    ).hexdigest(),
                }
        except Exception as e:  # noqa: BLE001
            conf_errors.append({"code": "VALIDATION_ERROR", "conf": rel,
                                "column": None,
                                "message": f"{type(e).__name__}: {e}"})
        if not payload:
            conf_errors.append({
                "code": "UNKNOWN_CONF", "conf": rel, "column": None,
                "message": "conf defines none of group_by / join / "
                           "label_group_by / staging_sql",
            })
        errors += conf_errors
        entries.append({
            "conf": rel,
            "kinds": sorted(payload),
            "entities": payload,
            "status": "error" if conf_errors else "ok",
        })

    manifest = {
        "conf_root": os.path.abspath(root),
        "compiled_at": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        "entries": entries,
        "errors": errors,
    }
    out_path = args.manifest_out or os.path.join(root, "_compiled", "manifest.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(manifest, f, sort_keys=True, indent=1)
    return {
        "command": "compile",
        "manifest": out_path,
        "confs": len(entries),
        "ok": sum(1 for e in entries if e["status"] == "ok"),
        "errors": errors,
    }


def cmd_expire_snapshots(spark, conf, args) -> dict:
    """Iceberg table maintenance (Iceberg's expire_snapshots +
    remove_orphan_files procedures): keep the last ``--keep-last`` snapshots
    of the table at ``--location`` and delete everything no surviving
    snapshot reaches. The ops counterpart of ``iceberg:`` output roots —
    without it, daily overwrite commits keep every replaced partition alive
    behind time travel forever."""
    from chronon_spark.sources.iceberg import expire_snapshots

    res = expire_snapshots(
        args.location,
        keep_last=args.keep_last,
        delete_orphan_data=not args.keep_orphan_data,
    )
    return {"location": args.location, **res}


def cmd_compact_table(spark, conf, args) -> dict:
    """Iceberg table maintenance: rewrite_data_files (binpack compaction).
    Partitions fragmented into >= ``--min-input-files`` data files are
    rewritten under the backfill writer's one layout rule (one file for a
    small partition, split by measured size for a large one) in one
    ``replace`` snapshot — rows identical, old layout readable via time
    travel until expire-snapshots reclaims it. The ops counterpart of the streaming
    Iceberg sink and small-batch backfills, which fragment partitions."""
    from chronon_spark.sources.iceberg import compact_data_files

    res = compact_data_files(
        spark,
        args.location,
        min_input_files=args.min_input_files,
    )
    return {"location": args.location, **res}


def cmd_curate(spark, conf, args) -> dict:
    """Declarative corpus curation as a first-class platform job: resolve
    the conf's stage specs against operators/curation.CURATION_STAGES, run
    curate_pipeline (stage-true lineage), land the survivors as a
    ds-partitioned snapshot table, and publish the lineage report both in
    the CLI JSON and as a _curation_report.json sidecar next to the data."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from chronon_spark.operators.curation import build_stages, curate_pipeline
    from chronon_spark.sources.tableio import insert_overwrite_partitions, resolve_table

    docs = conf.source(spark)
    stages = build_stages(conf.curation_stages)
    id_col = _opt(conf, "id_col", "doc_id")
    out, report = curate_pipeline(docs, stages, id_col=id_col)

    ds = _opt(conf, "snapshot_ds", "1970-01-01")
    name = _opt(conf, "name", "curated")
    table = resolve_table(spark, args.out_root, name)
    insert_overwrite_partitions(out.withColumn("ds", F.lit(ds)), table)
    drift_row = None
    if _opt(conf, "report_drift", False):
        # what did curation do to the token distribution? One summary row
        # (TVD + JSD, drift.corpus_drift) of input vs survivors — the
        # data-shift receipt a curation job should ship with its output
        from chronon_spark.operators.drift import corpus_drift

        text_col = _opt(conf, "text_col", "text")
        (d,) = corpus_drift(docs, out, text_col=text_col).collect()
        drift_row = {k: d[k] for k in d.asDict()}
    payload = {"stages": report, "drift_vs_input": drift_row}
    root = getattr(table, "path", None)
    if root and os.path.isdir(root):
        with open(os.path.join(root, "_curation_report.json"), "w") as f:
            _json.dump(payload, f)
    return {
        "command": "curate",
        "output_table": _table_id(table),
        "ds": ds,
        "rows_in": report[0]["rows_in"] if report else out.count(),
        "rows_out": report[-1]["rows_out"] if report else out.count(),
        "report": report,
        "drift_vs_input": drift_row,
    }


def cmd_serve(spark, conf, args) -> dict:
    """HTTP feature service over online.Fetcher (reference
    service/src/main/java/ai/chronon/service/WebServiceVerticle.java +
    handlers/FeaturesHandler.java): POST /v1/features/{join|groupby}/<name>
    with a JSON array of entity-key maps; GET /ping, GET /v1/metrics.
    Binds --port (0 = ephemeral), prints ONE json announce line with the
    bound port, then blocks serving until the process is stopped. The conf
    provides ``join`` and/or ``group_by`` plus ``streams(spark)`` (each
    part's post-batch-end event frame — the lambda's online leg)."""
    from chronon_spark.online import Fetcher
    from chronon_spark.service import FeatureService

    join = getattr(conf, "join", None)
    gb = getattr(conf, "group_by", None)
    if join is None and gb is None:
        raise SystemExit("serve: conf must define 'join' and/or 'group_by'")
    streams = conf.streams(spark)
    svc = FeatureService(
        spark,
        Fetcher(spark, args.upload_root),
        args.batch_end_ds,
        joins={join.name: join} if join is not None else None,
        group_bys={gb.name: gb} if gb is not None else None,
        streams=streams,
        tiebreak=_opt(conf, "tiebreak"),
    )
    try:
        svc.serve_forever(host=args.host, port=args.port)
    except KeyboardInterrupt:
        pass
    return {"command": "serve", "stopped": True}


COMMANDS = {
    "join": (cmd_join, True),
    "join-left": (cmd_join_left, True),
    "join-final": (cmd_join_final, True),
    "group-by-backfill": (cmd_group_by_backfill, True),
    "staging-query-backfill": (cmd_staging_query_backfill, True),
    "analyze": (cmd_analyze, False),
    "analyze-join": (cmd_analyze_join, False),
    "label-join": (cmd_label_join, False),
    "log-flattener": (cmd_log_flattener, False),
    "consistency-metrics-compute": (cmd_consistency_metrics, False),
    "compare": (cmd_compare, False),
    "group-by-upload": (cmd_group_by_upload, False),
    "fetch": (cmd_fetch, False),
    "metadata-export": (cmd_metadata_export, False),
    "metadata-upload": (cmd_metadata_upload, False),
    "group-by-streaming": (cmd_group_by_streaming, False),
    "daily-stats": (cmd_daily_stats, False),
    "log-summary": (cmd_log_summary, False),
    "curate": (cmd_curate, False),
    "compile": (cmd_compile, False),
    "expire-snapshots": (cmd_expire_snapshots, False),
    "compact-table": (cmd_compact_table, False),
    "serve": (cmd_serve, False),
}


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(prog="python -m chronon_spark")
    sub = p.add_subparsers(dest="command", required=True)
    extra = {
        "label-join": ["--out-root", "--label-ds"],
        "log-flattener": ["--out-root"],
        "group-by-upload": ["--out-root", "--batch-end-ds"],
        "fetch": ["--upload-root", "--out-root", "--batch-end-ds"],
        "group-by-streaming": ["--out-root", "--checkpoint-dir"],
        "daily-stats": ["--out-root"],
        "log-summary": ["--out-root"],
        "metadata-upload": ["--out-root"],
        "curate": ["--out-root"],
        "serve": ["--upload-root", "--batch-end-ds"],
    }
    for name, (_, needs_range) in COMMANDS.items():
        sp = sub.add_parser(name)
        if name == "compile":
            # repo-wide: a conf TREE, not one module
            sp.add_argument("--conf-root", required=True,
                            help="directory of Python conf modules")
            sp.add_argument("--manifest-out", default=None)
            continue
        if name == "expire-snapshots":
            # table maintenance: a table location, not a conf module
            sp.add_argument("--location", required=True,
                            help="iceberg table root (the resolve_table "
                                 "'iceberg:<root>/<name>' directory)")
            sp.add_argument("--keep-last", type=int, default=2)
            sp.add_argument("--keep-orphan-data", action="store_true")
            continue
        if name == "compact-table":
            sp.add_argument("--location", required=True,
                            help="iceberg table root to compact")
            sp.add_argument("--min-input-files", type=int, default=2)
            continue
        sp.add_argument("--conf", required=True, help="path to a Python conf module")
        # reference run.py local mode (--local-data-path): load csv/json/jsonl
        # files under this directory as catalog tables BEFORE the command runs,
        # so conf modules can reference them via spark.table(...)
        sp.add_argument("--local-data-path", default=None)
        if needs_range:
            sp.add_argument("--out-root", required=True)
            sp.add_argument("--start-ds", required=True)
            sp.add_argument("--end-ds", required=True)
            sp.add_argument("--step-days", type=int, default=30)
        for flag in extra.get(name, []):
            sp.add_argument(flag, required=True)
        if name == "log-summary":
            sp.add_argument("--sample", type=float, default=0.1)
        if name == "serve":
            sp.add_argument("--port", type=int, default=0,
                            help="0 binds an ephemeral port (announced on stdout)")
            sp.add_argument("--host", default="127.0.0.1")
        if name == "join-final":
            # scheduler fan-out unit: materialize only these part tables,
            # skip final assembly (a later full run resumes + assembles)
            sp.add_argument("--selected-parts", default=None,
                            help="comma-separated part prefixes")
    args = p.parse_args(argv)

    no_conf = args.command in ("compile", "expire-snapshots", "compact-table")
    conf = _load_conf(args.conf) if not no_conf else None
    # expire-snapshots is pure metadata I/O — no Spark session needed
    own_session = spark is None and args.command != "expire-snapshots"
    if own_session:
        from chronon_spark.session import get_spark

        spark = get_spark(f"chronon_spark-{args.command}")
    try:
        if getattr(args, "local_data_path", None):
            from chronon_spark.devtools import load_data_recursively

            load_data_recursively(spark, args.local_data_path)
        fn, _ = COMMANDS[args.command]
        result = fn(spark, conf, args)
    finally:
        if own_session:
            spark.stop()
    print(json.dumps(result, sort_keys=True))
    return 1 if result.get("errors") else 0


if __name__ == "__main__":
    sys.exit(main())
