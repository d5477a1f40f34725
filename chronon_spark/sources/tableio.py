"""Day-partitioned tables: the one contract every output table keeps, and
the incremental backfill built on it.

The contract (reference TableUtils.scala, JoinBase.scala, SemanticHashUtils):

- a table is partitioned by one day column (``ds``, ``DS_FMT``);
  ``partitions()`` lists the written days without a data scan
  (TableUtils.scala:791-858), and ``read_range`` prunes to a day range
  before the first task runs;
- ``insert_overwrite`` is a dynamic partition overwrite: it replaces exactly
  the days present in the frame (TableUtils.scala:480-534), under one
  write-layout rule, :func:`write_layout` (files per day follow the bytes
  written, as in TableUtils.scala:673-697 — a small day is one file), and
  append-only schema evolution, :func:`check_schema_evolution`
  (TableUtils.scala:970-1031);
- lineage: one JSON record per day, ``<path>/_lineage/<ds>.json``, carrying
  the chunk's semantic hash, rows and wall time. :func:`backfill` treats a
  written day as the checkpoint: days with a matching hash are skipped, the
  rest are archived and recomputed. ``archive_partitions`` drops the stale
  days from the live table and moves their lineage to
  ``<path>/_archive/<tag>/<ds>.lineage.json``; the leading underscore keeps
  both sidecars invisible to Spark's reader and to ``partitions()``.

Table kinds, chosen by output root in :func:`resolve_table`:

- ``PartitionedTable`` (a plain path): hive-style ``ds=`` parquet
  directories; partitions are listed from the directory layout, and archive
  moves the day directories under ``_archive/<tag>/``.
- ``MetadataPartitionedTable`` (``iceberg:`` / ``delta:`` roots, see
  ``FORMATS``): the format's own metadata lists and prunes partitions, every
  write is a commit, and archive is a metadata-only partition drop, so time
  travel keeps the old data readable. A format supplies only
  ``create_table``, ``overwrite_partitions`` and ``drop_partitions``.
- ``catalog.CatalogTable`` (``catalog:<db>``): the same contract through
  catalog DDL, with lineage in table properties.

Both file formats also share the metadata-only scan path: filter checks
(:func:`check_filters`), conservative file pruning (:func:`file_may_match`),
the exact read of the planned files (:func:`read_files`), and the data-file
writer (:func:`append_files`).
"""

from __future__ import annotations

import datetime as dt
import importlib
import json
import operator
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DS_FMT = "%Y-%m-%d"


def _ds(d: dt.date) -> str:
    return d.strftime(DS_FMT)


def _date(ds: str) -> dt.date:
    return dt.datetime.strptime(ds, DS_FMT).date()


def ds_range(start_ds: str, end_ds: str) -> list[str]:
    """Inclusive day range, reference PartitionRange semantics
    (spark/.../DataRange.scala:29-208)."""
    out, d, end = [], _date(start_ds), _date(end_ds)
    while d <= end:
        out.append(_ds(d))
        d += dt.timedelta(days=1)
    return out


# --- tables ---------------------------------------------------------------


@dataclass
class PartitionedTable:
    """Path-backed table: hive-style ``ds=`` parquet directories."""

    path: str
    ds_col: str = "ds"

    def exists(self) -> bool:
        return os.path.isdir(self.path)

    def partitions(self) -> list[str]:
        """List written day partitions from the directory layout (constant
        metadata cost — no data scan)."""
        if not self.exists():
            return []
        out = []
        for name in sorted(os.listdir(self.path)):
            if name.startswith(f"{self.ds_col}="):
                part_dir = os.path.join(self.path, name)
                if os.path.isdir(part_dir) and any(
                    f.endswith(".parquet") for f in os.listdir(part_dir)
                ):
                    out.append(name.split("=", 1)[1])
        return out

    def read(self, spark: SparkSession) -> DataFrame:
        # mergeSchema: partitions written before an append-only schema
        # evolution surface the union schema with nulls for the new columns
        # (the parquet analog of the reference's ALTER TABLE ADD COLUMNS
        # evolution, TableUtils.scala:970-1031)
        return (
            spark.read.option("basePath", self.path)
            .option("mergeSchema", "true")
            .parquet(self.path)
        )

    def read_range(self, spark: SparkSession, start_ds: str, end_ds: str) -> DataFrame:
        """Partition-pruned scan: the ds predicate prunes directories at plan
        time (PushedFilters on the partition column)."""
        return self.read(spark).where(
            (F.col(self.ds_col) >= start_ds) & (F.col(self.ds_col) <= end_ds)
        )

    # -- lineage ----------------------------------------------------------

    def _lineage_dir(self) -> str:
        return os.path.join(self.path, "_lineage")

    def lineage(self, ds: str) -> dict | None:
        p = os.path.join(self._lineage_dir(), f"{ds}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def write_lineage(self, ds: str, meta: dict) -> None:
        os.makedirs(self._lineage_dir(), exist_ok=True)
        with open(os.path.join(self._lineage_dir(), f"{ds}.json"), "w") as f:
            json.dump(meta, f, sort_keys=True)

    def _archive_dir(self, tag: str) -> str:
        dest = os.path.join(self.path, "_archive", tag)
        os.makedirs(dest, exist_ok=True)
        return dest

    def _archive_lineage(self, ds_list: list[str], tag: str) -> None:
        """Move the days' lineage aside so a stale hash cannot resurrect."""
        dest = self._archive_dir(tag)
        for ds in ds_list:
            lin = os.path.join(self._lineage_dir(), f"{ds}.json")
            if os.path.exists(lin):
                shutil.move(lin, os.path.join(dest, f"{ds}.lineage.json"))

    # -- writes -----------------------------------------------------------

    def archive_partitions(self, ds_list: list[str], tag: str) -> None:
        """Move partitions (and their lineage) under ``_archive/<tag>/`` —
        the reference's archive-then-recompute on semantic-hash change
        (JoinBase.scala:60-68, SemanticHashUtils)."""
        dest = self._archive_dir(tag)
        for ds in ds_list:
            part = os.path.join(self.path, f"{self.ds_col}={ds}")
            if os.path.isdir(part):
                shutil.move(part, os.path.join(dest, f"{self.ds_col}={ds}"))
        self._archive_lineage(ds_list, tag)

    def insert_overwrite(self, df: DataFrame) -> None:
        """Dynamic partition overwrite of the ``ds=`` directories. The conf
        is pinned here (runtime-settable) rather than relying on the session
        factory: with a caller-supplied SparkSession a STATIC overwrite would
        silently delete all previously backfilled partitions. Schema
        evolution is validated append-only BEFORE any data moves
        (metadata-only footer read)."""
        if self.partitions():
            existing = {
                f.name: f.dataType.simpleString()
                # mergeSchema: without it Spark infers from ONE arbitrary
                # footer, so columns added by a previous evolution could be
                # missed and a dropped-column write would slip through
                for f in df.sparkSession.read.option("mergeSchema", "true")
                .parquet(self.path)
                .schema.fields
                if f.name != self.ds_col
            }
            incoming = {
                f.name: f.dataType.simpleString()
                for f in df.schema.fields
                if f.name != self.ds_col
            }
            check_schema_evolution(existing, incoming, self.path)
        df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        df.write.mode("overwrite").partitionBy(self.ds_col).parquet(self.path)


class MetadataPartitionedTable(PartitionedTable):
    """A table whose own metadata (Iceberg manifests, the Delta log) lists
    and prunes partitions — never a filesystem walk. ``table`` is the
    format's handle (``format_table(path)``); a subclass supplies the three
    format calls below. The lineage sidecars stay JSON files beside the
    format's metadata."""

    format_table: type

    def __init__(self, path: str, ds_col: str = "ds"):
        super().__init__(path, ds_col)
        self.table = self.format_table(path)

    def exists(self) -> bool:
        return self.table.exists()

    def partitions(self) -> list[str]:
        if not self.exists():
            return []
        return sorted(
            {
                p[self.ds_col]
                for p in self.table.partitions()
                if p.get(self.ds_col) is not None
            }
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return self.table.scan(spark)

    def read_range(self, spark: SparkSession, start_ds: str, end_ds: str) -> DataFrame:
        """Partition-pruned through metadata, not directory globbing."""
        return self.table.scan(
            spark,
            filters=[(self.ds_col, ">=", start_ds), (self.ds_col, "<=", end_ds)],
        )

    def archive_partitions(self, ds_list: list[str], tag: str) -> None:
        """Semantic-hash invalidation (reference JoinBase.scala:60-68): a
        metadata-only commit drops the stale days from the current version;
        their data files stay on disk, readable through time travel."""
        if not ds_list or not self.exists():
            return
        have = self.table.partition_columns()
        if have != [self.ds_col]:
            raise ValueError(
                f"archive_partitions expects a [{self.ds_col}]-partitioned "
                f"table; spec has {have}"
            )
        self.drop_partitions(ds_list, tag)
        self._archive_lineage(ds_list, tag)

    def insert_overwrite(self, df: DataFrame) -> None:
        """Dynamic partition overwrite as one commit; the format enforces
        append-only schema evolution inside it."""
        if not self.exists():
            self.create_table(df)
        else:
            self.overwrite_partitions(df)

    # -- format calls ---------------------------------------------------------

    def create_table(self, df: DataFrame) -> None:
        """Create the table from ``df``, partitioned by ``ds_col``."""
        raise NotImplementedError

    def overwrite_partitions(self, df: DataFrame) -> None:
        """Replace exactly the days present in ``df``, in one commit."""
        raise NotImplementedError

    def drop_partitions(self, ds_list: list[str], tag: str) -> None:
        """Drop the days from the current version without touching data."""
        raise NotImplementedError


# output-root prefix -> (module, MetadataPartitionedTable subclass); imported
# on use, since both format modules import this one
FORMATS = {
    "iceberg:": ("chronon_spark.sources.iceberg", "IcebergPartitionedTable"),
    "delta:": ("chronon_spark.sources.delta", "DeltaPartitionedTable"),
}


def format_of(ref: str) -> tuple[type[MetadataPartitionedTable], str] | None:
    """``(adapter class, location)`` for an ``iceberg:``/``delta:`` prefixed
    reference; None for anything else."""
    for prefix, (module, cls) in FORMATS.items():
        if ref.startswith(prefix):
            return getattr(importlib.import_module(module), cls), ref[len(prefix):]
    return None


def resolve_table(
    spark: SparkSession, out_root: str, name: str, ds_col: str = "ds"
):
    """Map an output root to a table handle: ``catalog:<db>`` roots yield a
    catalog-managed ``CatalogTable`` (``<db>.<name>``, real DDL), ``iceberg:``
    and ``delta:`` roots the format's adapter (``<root>/<name>``); anything
    else is a path-backed ``PartitionedTable`` (``<root>/<name>``)."""
    if out_root.startswith("catalog:"):
        from chronon_spark.sources.catalog import CatalogTable

        db = out_root.split(":", 1)[1]
        safe = "".join(c if c.isalnum() or c == "_" else "_" for c in name)
        return CatalogTable(spark, f"{db}.{safe}", ds_col)
    fmt = format_of(out_root)
    if fmt is not None:
        adapter, root = fmt
        return adapter(os.path.join(root, name), ds_col)
    return PartitionedTable(os.path.join(out_root, name), ds_col)


# --- metadata-only scans (both file formats) ------------------------------

_OPS = {"=": operator.eq, "<": operator.lt, "<=": operator.le, ">": operator.gt, ">=": operator.ge}


def check_filters(filters: list[tuple] | None, columns) -> list[tuple]:
    """Validate ``(column, op, value)`` scan filters against the table's
    columns; returns the filter list (empty for None)."""
    filters = filters or []
    for col, op, _ in filters:
        if col not in columns:
            raise ValueError(f"unknown filter column {col!r}; have {sorted(columns)}")
        if op not in _OPS:
            raise ValueError(f"unsupported filter op {op!r}")
    return filters


def _cmp_match(op: str, lo, hi, v) -> bool:
    """Can any value in [lo, hi] satisfy (x op v)? None bound = unknown."""
    if op == "=":
        return (lo is None or lo <= v) and (hi is None or hi >= v)
    if op == "<":
        return lo is None or lo < v
    if op == "<=":
        return lo is None or lo <= v
    if op == ">":
        return hi is None or hi > v
    if op == ">=":
        return hi is None or hi >= v
    return True


def file_may_match(filters: list[tuple], part: dict, bounds) -> bool:
    """Can a data file hold a row matching every filter? ``part`` holds the
    file's partition values (exact), ``bounds(col)`` its (lo, hi) column
    stats. Conservative: a file is dropped only when a partition value or
    the bounds PROVE no row matches; a null partition value is kept."""
    for col, op, val in filters:
        if col in part:
            if part[col] is None:
                continue
            lo = hi = part[col]
        else:
            lo, hi = bounds(col)
        if not _cmp_match(op, lo, hi, val):
            return False
    return True


def read_files(
    spark: SparkSession,
    entries: list[dict],
    schema: T.StructType,
    base_path: str,
    part_cols: list[str],
    filters: list[tuple] | None = None,
) -> DataFrame:
    """Read the planned data files (``entries``' paths) at the table's
    current ``schema`` and apply ``filters`` EXACTLY: planning prunes I/O,
    correctness never depends on stats."""
    if not entries:
        return spark.createDataFrame([], schema)
    df = (
        spark.read.option("basePath", base_path)
        # mergeSchema: files written before an append-only schema evolution
        # lack the new columns; the union schema surfaces them
        .option("mergeSchema", "true")
        .parquet(*[e["path"] for e in entries])
    )
    for f in schema.fields:  # pad columns no surviving file carries yet
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    dtypes = {f.name: f.dataType for f in schema.fields}
    for pc in part_cols:  # path inference may retype; restore
        df = df.withColumn(pc, F.col(pc).cast(dtypes[pc]))
    for col, op, val in filters or []:
        df = df.where(_OPS[op](F.col(col), F.lit(val)))
    return df.select(*[f.name for f in schema.fields])


def _list_parquet(root: str) -> list[str]:
    """Every parquet file under ``root``, skipping a Delta ``_delta_log``."""
    files = []
    for dirpath, _dirs, names in os.walk(root):
        if "_delta_log" in dirpath.split(os.sep):
            continue
        for n in names:
            if n.endswith(".parquet"):
                files.append(os.path.join(dirpath, n))
    return sorted(files)


def append_files(df: DataFrame, location: str, part_cols: list[str]) -> list[str]:
    """Append ``df`` as hive-layout parquet under ``location`` and return
    the data files the write added — the input to a format's commit."""
    before = set(_list_parquet(location)) if os.path.isdir(location) else set()
    writer = df.write.mode("append")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(location)
    return [p for p in _list_parquet(location) if p not in before]


# --- backfill -------------------------------------------------------------


def unfilled_ranges(
    requested: list[str], existing: list[str], step_days: int = 30
) -> list[tuple[str, str]]:
    """Missing day partitions grouped into contiguous [start, end] chunks of
    at most ``step_days`` (the reference's stepDays chunking + hole skipping,
    TableUtils.scala:791-858, JoinBase.scala:348-369)."""
    have = set(existing)
    missing = [d for d in requested if d not in have]
    out: list[tuple[str, str]] = []
    run: list[str] = []
    for d in missing:
        if run and (
            _date(d) != _date(run[-1]) + dt.timedelta(days=1) or len(run) >= step_days
        ):
            out.append((run[0], run[-1]))
            run = []
        run.append(d)
    if run:
        out.append((run[0], run[-1]))
    return out


def read_cumulative(
    spark: SparkSession, table: PartitionedTable, end_ds: str | None = None
) -> DataFrame:
    """Cumulative event source: each ds partition holds the FULL history up
    to the end of ds (reference EventSource.isCumulative,
    api/thrift/api.thrift:70; scan-range collapse GroupBy.scala:576-580), so
    a backfill reads ONLY the latest valid partition — ``end_ds`` if given,
    else the last available — instead of a day range. At 100TB this replaces
    a many-partition union scan with a single partition read; partition
    selection is a directory listing, no data job."""
    parts = table.partitions()
    if end_ds is not None:
        parts = [p for p in parts if p <= end_ds]
    if not parts:
        raise ValueError(
            f"no cumulative partition available in {table.path}"
            + (f" at or before {end_ds}" if end_ds else "")
        )
    latest = parts[-1]
    return (
        table.read(spark)
        .where(F.col(table.ds_col) == latest)
        .drop(table.ds_col)
    )


def cumulative_latest(
    df: DataFrame, ds_col: str = "ds", end_ds: str | None = None
) -> DataFrame:
    """DataFrame-level variant of :func:`read_cumulative` for sources that
    arrive as frames (catalog tables, views): keep only the latest eligible
    ``ds`` partition's rows. The max-ds probe is one tiny job — against a
    hive-partitioned parquet scan it folds to partition-directory metadata
    (the ds predicate prunes at plan time)."""
    eligible = df if end_ds is None else df.where(F.col(ds_col) <= end_ds)
    latest = eligible.agg(F.max(ds_col)).first()[0]
    if latest is None:
        raise ValueError(
            "no cumulative partition available"
            + (f" at or before {end_ds}" if end_ds else "")
        )
    return eligible.where(F.col(ds_col) == latest).drop(ds_col)


def write_layout(df: DataFrame, part_cols: list[str]) -> DataFrame:
    """The one rule for how many files each partition value gets: rebalance
    by the partition columns. AQE splits a hot value and coalesces small
    ones by measured shuffle bytes against its advisory partition size;
    with AQE off each value still lands in one task (one file)."""
    return df.hint("rebalance", *part_cols)


class SchemaEvolutionError(ValueError):
    """Raised when a write would evolve the table schema non-append-only."""


def check_schema_evolution(
    existing: dict[str, str], incoming: dict[str, str], table: str
) -> list[str]:
    """Append-only evolution contract (reference TableUtils.scala:970-1031:
    the only allowed DDL is ALTER TABLE ADD COLUMNS), over {column: type}
    maps. Returns the NEW columns, in ``incoming`` order (old partitions
    read them as null); dropping a column or changing its type raises
    ``SchemaEvolutionError`` naming every problem, before any data moves."""
    problems = []
    for name, typ in existing.items():
        if name not in incoming:
            problems.append(f"column '{name}' ({typ}) dropped")
        elif incoming[name] != typ:
            problems.append(f"column '{name}' changes type {typ} -> {incoming[name]}")
    if problems:
        raise SchemaEvolutionError(
            f"append schema mismatch, write to {table} rejected: "
            + "; ".join(problems) + " (evolution is append-only)"
        )
    return [n for n in incoming if n not in existing]


def insert_overwrite_partitions(df: DataFrame, table: PartitionedTable) -> None:
    """Dynamic partition overwrite: replaces exactly the ds partitions present
    in ``df``. Every table kind (``PartitionedTable`` and its metadata
    subclasses, ``catalog.CatalogTable``) gets the one file layout,
    :func:`write_layout`, then writes through its own ``insert_overwrite``,
    which validates append-only schema evolution before any data moves."""
    table.insert_overwrite(write_layout(df, [table.ds_col]))


def observed_rows(obs, name: str) -> int:
    """The count metric ``name`` of an Observation whose observed frame was
    just written. When AQE proves the written rows empty mid-query it drops
    the observed node from the write plan, and the observation completes
    with an empty row instead of a zero count."""
    return obs.get[name] if obs._jo.getRow().length() else 0


def backfill(
    spark: SparkSession,
    table: PartitionedTable,
    compute_range,  # Callable[[SparkSession, str, str], DataFrame]
    start_ds: str,
    end_ds: str,
    semantic_hash: str = "",
    step_days: int = 30,
) -> list[dict]:
    """Incremental, resumable backfill: the written partition IS the
    checkpoint (reference JoinBase.scala:348-369 range planning). Present
    partitions with a matching semantic hash are skipped; a hash change
    invalidates and recomputes everything (SemanticHashUtils semantics).
    Returns one lineage record per computed chunk."""
    requested = ds_range(start_ds, end_ds)
    stale = [
        p
        for p in table.partitions()
        if (table.lineage(p) or {}).get("semantic_hash") != semantic_hash
    ]
    if stale:
        # definition changed: archive-then-recompute (reference
        # JoinBase.scala:60-68) — stale-schema files must not shadow the new
        # definition's output or trip the append-only evolution check
        table.archive_partitions(stale, tag=f"pre_{semantic_hash or 'nohash'}")
    existing = table.partitions()
    chunks = unfilled_ranges(requested, existing, step_days)
    records = []
    from pyspark.sql import Observation

    for lo, hi in chunks:
        t0 = time.time()
        out = compute_range(spark, lo, hi)
        # row count rides the WRITE job as an observed metric — a pre-write
        # count() would execute the whole chunk plan twice (at 100TB that
        # doubles the backfill cost)
        obs = Observation(f"backfill_{lo}_{hi}")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
        insert_overwrite_partitions(out, table)
        rows = observed_rows(obs, "rows")
        # the chunk is materialized: release estimator-internal cached frames
        # (tile tables, query frames) so a long chunked backfill does not
        # accumulate dead cache blocks across chunks
        from chronon_spark.plans.cache import release_plan_caches

        release_plan_caches()
        meta = {
            "range": [lo, hi],
            "rows": rows,
            "wall_sec": round(time.time() - t0, 3),
            "semantic_hash": semantic_hash,
            "written_at": dt.datetime.now(dt.timezone.utc).isoformat(),
        }
        for d in ds_range(lo, hi):
            table.write_lineage(d, meta)
        records.append(meta)
    return records
