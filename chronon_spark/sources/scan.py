"""Source scanning: compile a declarative EventSource / EntitySource +
Query into the DataFrame the engines consume.

Reference: renderDataSourceQuery (spark/.../GroupBy.scala:608-680) renders
``SELECT (expr) as col ... FROM table WHERE wheres AND partition-range`` as a
SQL string; here the same spec compiles to ``where`` + ``selectExpr`` calls so
Catalyst sees the predicates and projections natively (predicate pushdown and
column pruning reach the parquet scan — check ``PushedFilters``/``ReadSchema``
in ``.explain``). Cumulative event tables collapse to their latest valid
partition before any row work (GroupBy.scala:576-580).

Column normalization (the reference hardcodes standard names,
Constants.scala:22): the declared ``time_column`` is renamed to ``ts``, the
declared ``partition_column`` to ``ds``, and CDC bookkeeping columns to
``mutation_ts`` / ``is_before`` — so GroupBys over scanned sources use the
engine defaults. selects/wheres run FIRST and refer to the raw column names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api import EntitySource, EventSource, Query
from chronon_spark.sources.tableio import format_of


def _resolve(spark: SparkSession, table, q: Query | None = None) -> DataFrame:
    """DataFrame passes through; ``iceberg:/path`` and ``delta:/path``
    resolve through the jar-free format (tableio.FORMATS) — when the
    declarative Query carries partition bounds on one of the table's
    partition columns, they are pushed into METADATA-ONLY scan planning
    (manifest or log partition values prune the file list before Spark sees
    it — the analog of PushedFilters); anything else is a catalog table."""
    if isinstance(table, DataFrame):
        return table
    fmt = format_of(table)
    if fmt is not None:
        adapter, location = fmt
        t = adapter.format_table(location)
        return t.scan(spark, filters=_partition_bounds(t, q) or None)
    return spark.table(table)


def _partition_bounds(t, q: Query | None) -> list[tuple]:
    filters: list[tuple] = []
    if q is not None and q.partition_column in t.partition_columns():
        if q.start_partition is not None:
            filters.append((q.partition_column, ">=", q.start_partition))
        if q.end_partition is not None:
            filters.append((q.partition_column, "<=", q.end_partition))
    return filters


def _apply_query(df: DataFrame, q: Query, keep: tuple[str, ...] = ()) -> DataFrame:
    """setups -> partition bounds -> wheres -> selects, in scan order —
    selects/wheres see the RAW column names. ``keep`` columns (e.g. the
    partition column for snapshot serving) survive an explicit select list
    without the user naming them."""
    if q.setups:
        from chronon_spark.operators.groupby import run_setups

        run_setups(df, q.setups)
    pc = q.partition_column
    if q.start_partition is not None and pc in df.columns:
        df = df.where(F.col(pc) >= q.start_partition)
    if q.end_partition is not None and pc in df.columns:
        df = df.where(F.col(pc) <= q.end_partition)
    for w in q.wheres:
        df = df.where(w)
    if q.selects is not None:
        exprs = [f"{e} AS {n}" for n, e in q.selects.items()]
        exprs += [c for c in keep if c in df.columns and c not in q.selects]
        df = df.selectExpr(*exprs)
    return df


def _normalize_names(df: DataFrame, q: Query, time: bool = True) -> DataFrame:
    """Rename the declared time/partition columns to the engine-standard
    ``ts`` / ``ds`` (reference scan SQL renders ``(timeColumn) as ts``;
    Constants.scala:22 hardcodes the names). No-ops when already standard,
    absent (e.g. consumed by an explicit select list), or colliding."""
    if time and q.time_column != "ts" and q.time_column in df.columns and "ts" not in df.columns:
        df = df.withColumnRenamed(q.time_column, "ts")
    pc = q.partition_column
    if pc != "ds" and pc in df.columns and "ds" not in df.columns:
        df = df.withColumnRenamed(pc, "ds")
    return df


def scan_source(spark: SparkSession, source, schema_only: bool = False):
    """EventSource -> DataFrame; EntitySource -> DataFrame (snapshot-only) or
    (snapshots, mutations) pair for the CDC temporal engine. The result is
    exactly what ``compute_join``'s ``sources`` dict expects.

    ``schema_only=True`` (validation / dry-run callers): produce a frame with
    the post-scan SCHEMA without running any job — in particular the
    cumulative latest-partition probe (an aggregation over non-partition-
    backed sources) is replaced by a lazy drop of the partition column."""
    if isinstance(source, EventSource):
        q = source.query
        # cumulative tables pick the LATEST valid partition <= end, which may
        # legitimately precede start_partition — push only the end bound
        rq = q if not source.is_cumulative else Query(
            end_partition=q.end_partition, partition_column=q.partition_column
        )
        df = _resolve(spark, source.table, rq)
        if source.is_cumulative:
            if schema_only:
                if q.end_partition is not None and q.partition_column in df.columns:
                    df = df.where(F.col(q.partition_column) <= q.end_partition)
                df = df.drop(q.partition_column)
            else:
                from chronon_spark.sources.tableio import cumulative_latest

                df = cumulative_latest(
                    df, ds_col=q.partition_column, end_ds=q.end_partition
                )
            # partition bounds are consumed by the cumulative selection
            q = Query(
                selects=q.selects,
                wheres=q.wheres,
                time_column=q.time_column,
                setups=q.setups,
                partition_column=q.partition_column,
            )
        return _normalize_names(_apply_query(df, q), q)
    if isinstance(source, EntitySource):
        q = source.query
        snaps = _normalize_names(
            _apply_query(
                _resolve(spark, source.snapshot_table, q), q, keep=(q.partition_column,)
            ),
            q,
        )
        if source.mutation_table is None:
            return snaps
        # selects/wheres run against the RAW names; the engine-standard CDC
        # names (mutation_ts / is_before) are applied after, like ts/ds
        muts = _apply_query(
            _resolve(spark, source.mutation_table, q),
            q,
            keep=(q.partition_column, q.mutation_time_column, q.reversal_column),
        )
        if q.mutation_time_column != "mutation_ts" and q.mutation_time_column in muts.columns:
            muts = muts.withColumnRenamed(q.mutation_time_column, "mutation_ts")
        if q.reversal_column != "is_before" and q.reversal_column in muts.columns:
            muts = muts.withColumnRenamed(q.reversal_column, "is_before")
        return (snaps, _normalize_names(muts, q))
    raise TypeError(f"unknown source type: {type(source).__name__}")


def scan_sources(spark: SparkSession, sources: list) -> DataFrame:
    """Union several event sources column-aligned — a GroupBy may draw from
    multiple sources whose Queries project onto the same schema (reference
    GroupBy.scala:484-488: per-source rendered scans unioned by name). CDC
    entity sources can't be unioned (the mutation pair is a different shape);
    pass those as a single source instead."""
    frames = []
    for s in sources:
        out = scan_source(spark, s)
        if isinstance(out, tuple):
            raise TypeError(
                "scan_sources cannot union a CDC entity source "
                "(snapshots+mutations); scan it alone"
            )
        frames.append(out)
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)
    return df
