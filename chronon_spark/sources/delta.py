"""Delta Lake table format, implemented purely from the public protocol spec
(github.com/delta-io/delta PROTOCOL.md) — no delta-spark jar, no delta-rs.
The spec's storage contract, re-expressed for the engine's needs:

- ``_delta_log/%020d.json`` commit files, one JSON action per line
  (``protocol`` / ``metaData`` / ``add`` / ``remove`` / ``commitInfo``),
  created atomically with put-if-absent semantics (hard link; concurrent
  writers collide on the version number and retry against fresh state —
  the spec's optimistic concurrency).
- per-file ``stats`` JSON (numRecords / minValues / maxValues / nullCount)
  harvested from parquet footers at commit time — no data re-scan.
- metadata-only scan planning: ``partitionValues`` and stats bounds prune
  files before Spark opens any footer.
- classic checkpoints (``%020d.checkpoint.parquet`` + ``_last_checkpoint``)
  every N commits, so log replay cost stays O(N) regardless of table age;
  the reader starts from the newest checkpoint at or below the requested
  version.
- time travel by version, dynamic partition overwrite (replaced files become
  ``remove`` tombstones in the same commit), append-only schema evolution
  (new ``metaData`` action; drops/retypes raise), and ``vacuum`` honoring
  tombstone retention.

The day-partitioned table contract and the scan/write helpers shared with
Iceberg live in sources/tableio.py; ``DeltaPartitionedTable`` supplies only
the Delta commits behind a ``delta:<root>`` output root.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from chronon_spark.sources.tableio import (
    MetadataPartitionedTable,
    _list_parquet,
    append_files,
    check_filters,
    check_schema_evolution,
    file_may_match,
    read_files,
)

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
CHECKPOINT_INTERVAL = 10  # delta.checkpointInterval default


# --- log primitives ----------------------------------------------------------


def _log_dir(location: str) -> str:
    return os.path.join(location, "_delta_log")


def _commit_path(location: str, version: int) -> str:
    return os.path.join(_log_dir(location), f"{version:020d}.json")


def _checkpoint_path(location: str, version: int) -> str:
    return os.path.join(_log_dir(location), f"{version:020d}.checkpoint.parquet")


def _put_if_absent(path: str, payload: str) -> bool:
    """Atomic commit-file creation: write a temp file, hard-link it to the
    final name (POSIX link(2) fails with EEXIST if another writer won the
    version), unlink the temp. Returns False on collision."""
    tmp = path + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _now_ms() -> int:
    return int(time.time() * 1000)


# --- value serialization ------------------------------------------------------

_NUMERIC = (T.IntegerType, T.LongType, T.ShortType, T.ByteType)


def _part_str(v) -> str | None:
    """Partition value serialization (spec: 'Partition Value Serialization'
    — strings verbatim, numbers via str, booleans lowercase, null -> null)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "time") else v.isoformat()
    return str(v)


def _part_typed(raw: str | None, dt: T.DataType):
    """Inverse of _part_str for the types the engine partitions by."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if isinstance(dt, _NUMERIC):
        return int(raw)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dt, T.BooleanType):
        return raw == "true"
    return raw


def _stats_scalar(v):
    """Parquet footer stat -> JSON-serializable scalar (bytes are utf-8
    string stats; timestamps/dates isoformat)."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "time") else v.isoformat()
    return v


def _file_stats_json(path: str, schema: T.StructType) -> str:
    """Per-file stats from the parquet footer only (spec 'Per-file
    Statistics'): numRecords + per-leaf-column minValues/maxValues/nullCount.
    Nested/binary columns are skipped — stats are an optimization, never a
    correctness dependency."""
    import pyarrow.parquet as pq

    leaf_ok = {
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.StringType, T.BooleanType, T.DateType,
                                   T.TimestampType, T.FloatType, T.DoubleType,
                                   *_NUMERIC))
    }
    meta = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if name not in leaf_ok or "." in name:
                continue
            st = c.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if st.has_min_max:
                mn, mx = _stats_scalar(st.min), _stats_scalar(st.max)
                if mn is not None and (name not in mins or mn < mins[name]):
                    mins[name] = mn
                if mx is not None and (name not in maxs or mx > maxs[name]):
                    maxs[name] = mx
    return json.dumps(
        {
            "numRecords": meta.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        },
        sort_keys=True,
    )


# --- schema -------------------------------------------------------------------


# --- the table ---------------------------------------------------------------


class DeltaTable:
    """Path-backed Delta table: log replay, metadata-only planning, scans."""

    def __init__(self, location: str):
        self.location = location

    # -- versions --

    def versions(self) -> list[int]:
        d = _log_dir(self.location)
        if not os.path.isdir(d):
            return []
        out = []
        for n in os.listdir(d):
            if n.endswith(".json") and not n.endswith(".tmp"):
                stem = n[: -len(".json")]
                if stem.isdigit():
                    out.append(int(stem))
        return sorted(out)

    def exists(self) -> bool:
        return bool(self.versions()) or os.path.exists(
            os.path.join(_log_dir(self.location), "_last_checkpoint")
        )

    def current_version(self) -> int | None:
        vs = self.versions()
        if vs:
            return vs[-1]
        cp = self._last_checkpoint()
        return cp["version"] if cp else None

    def _last_checkpoint(self) -> dict | None:
        p = os.path.join(_log_dir(self.location), "_last_checkpoint")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    # -- state reconstruction --

    def snapshot(self, version: int | None = None) -> dict:
        """Replay the log up to ``version`` (default: latest): returns
        {version, protocol, metadata, files: {path: add}, tombstones:
        {path: remove}}. Starts from the newest checkpoint <= version when
        one exists — replay cost is bounded by the checkpoint interval, not
        table age."""
        if version is None:
            version = self.current_version()
        if version is None:
            raise FileNotFoundError(f"not a Delta table: {self.location}")
        state = {
            "version": version,
            "protocol": None,
            "metadata": None,
            "files": {},
            "tombstones": {},
        }
        start = 0
        cp = self._best_checkpoint(version)
        if cp is not None:
            self._apply_checkpoint(state, cp)
            start = cp + 1
        for v in range(start, version + 1):
            p = _commit_path(self.location, v)
            if not os.path.exists(p):
                raise FileNotFoundError(
                    f"missing commit {v} for {self.location}@{version}"
                )
            with open(p) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        self._apply_action(state, json.loads(line))
        if state["metadata"] is None:
            raise ValueError(f"log replay found no metaData action: {self.location}")
        return state

    def _best_checkpoint(self, version: int) -> int | None:
        d = _log_dir(self.location)
        if not os.path.isdir(d):
            return None
        best = None
        for n in os.listdir(d):
            if n.endswith(".checkpoint.parquet"):
                v = int(n.split(".", 1)[0])
                if v <= version and (best is None or v > best):
                    best = v
        return best

    def _apply_checkpoint(self, state: dict, version: int) -> None:
        import pyarrow.parquet as pq

        rows = pq.read_table(_checkpoint_path(self.location, version)).to_pylist()
        for r in rows:
            for kind in ("protocol", "metaData", "add", "remove"):
                a = r.get(kind)
                if a is not None:
                    if kind == "add" and isinstance(a.get("partitionValues"), list):
                        a["partitionValues"] = dict(a["partitionValues"])
                    self._apply_action(state, {kind: a})

    @staticmethod
    def _apply_action(state: dict, action: dict) -> None:
        if "protocol" in action:
            state["protocol"] = action["protocol"]
        elif "metaData" in action:
            state["metadata"] = action["metaData"]
        elif "add" in action:
            a = action["add"]
            state["files"][a["path"]] = a
            state["tombstones"].pop(a["path"], None)
        elif "remove" in action:
            r = action["remove"]
            state["files"].pop(r["path"], None)
            state["tombstones"][r["path"]] = r
        # commitInfo / txn: informational

    # -- schema / partitions --

    def spark_schema(self, version: int | None = None) -> T.StructType:
        md = self.snapshot(version)["metadata"]
        return T.StructType.fromJson(json.loads(md["schemaString"]))

    def partition_columns(self, version: int | None = None) -> list[str]:
        return list(self.snapshot(version)["metadata"]["partitionColumns"])

    def partitions(self, version: int | None = None) -> list[dict]:
        """Distinct partition tuples from LOG metadata — never a filesystem
        walk."""
        snap = self.snapshot(version)
        schema = T.StructType.fromJson(json.loads(snap["metadata"]["schemaString"]))
        by_name = {f.name: f.dataType for f in schema.fields}
        pcols = snap["metadata"]["partitionColumns"]
        seen: dict[str, dict] = {}
        for a in snap["files"].values():
            pv = {
                c: _part_typed(a.get("partitionValues", {}).get(c), by_name[c])
                for c in pcols
            }
            seen[repr(sorted(pv.items()))] = pv
        return [seen[k] for k in sorted(seen)]

    def history(self) -> list[dict]:
        """commitInfo per version (operation + summary), oldest first."""
        out = []
        for v in self.versions():
            with open(_commit_path(self.location, v)) as f:
                info = {}
                for line in f:
                    a = json.loads(line)
                    if "commitInfo" in a:
                        info = a["commitInfo"]
                        break
            out.append({"version": v, **info})
        return out

    # -- planning --

    def plan_scan(
        self,
        filters: list[tuple] | None = None,
        version: int | None = None,
        _audit: dict | None = None,
    ) -> list[dict]:
        """Metadata-only planning: surviving add entries as {path (absolute),
        partition (typed), record_count}. Pruning is conservative — a file
        drops only when its partitionValues or stats bounds PROVE no row
        matches; correctness never depends on stats presence."""
        snap = self.snapshot(version)
        schema = T.StructType.fromJson(json.loads(snap["metadata"]["schemaString"]))
        by_name = {f.name: f.dataType for f in schema.fields}
        pcols = snap["metadata"]["partitionColumns"]
        filters = check_filters(filters, by_name)
        audit = {"files_total": len(snap["files"]), "files_kept": 0}
        out = []
        for a in snap["files"].values():
            part = {
                c: _part_typed(a.get("partitionValues", {}).get(c), by_name[c])
                for c in pcols
            }
            stats = json.loads(a["stats"]) if a.get("stats") else {}
            lo, hi = stats.get("minValues", {}), stats.get("maxValues", {})
            if not file_may_match(filters, part, lambda c: (lo.get(c), hi.get(c))):
                continue
            audit["files_kept"] += 1
            out.append(
                {
                    "path": os.path.join(self.location, a["path"]),
                    "partition": part,
                    "record_count": stats.get("numRecords"),
                    "file_size_in_bytes": a.get("size"),
                }
            )
        if _audit is not None:
            _audit.update(audit)
        return out

    # -- reading --

    def scan(
        self,
        spark: SparkSession,
        filters: list[tuple] | None = None,
        version: int | None = None,
        _audit: dict | None = None,
    ) -> DataFrame:
        """Plan from the log, read only surviving files, apply the filters
        exactly (tableio.read_files)."""
        entries = self.plan_scan(filters=filters, version=version, _audit=_audit)
        return read_files(
            spark,
            entries,
            self.spark_schema(version),
            self.location,
            self.partition_columns(version),
            filters,
        )

    # -- committing --

    def _commit(self, actions: list[dict], op: str, params: dict | None = None) -> int:
        """Optimistic-concurrency commit: serialize actions, put-if-absent at
        version+1; on collision re-read the version and retry (the caller's
        actions are position-independent for our blind-append/overwrite ops)."""
        info = {
            "commitInfo": {
                "timestamp": _now_ms(),
                "operation": op,
                "operationParameters": params or {},
                "engineInfo": "chronon_spark-delta/1.0",
            }
        }
        payload = "\n".join(json.dumps(a, sort_keys=True) for a in [info, *actions]) + "\n"
        os.makedirs(_log_dir(self.location), exist_ok=True)
        for _ in range(64):
            cur = self.current_version()
            v = 0 if cur is None else cur + 1
            if _put_if_absent(_commit_path(self.location, v), payload):
                if (v + 1) % CHECKPOINT_INTERVAL == 0:
                    self._write_checkpoint(v)
                return v
        raise RuntimeError(f"commit contention: 64 losing races at {self.location}")

    def _write_checkpoint(self, version: int) -> None:
        """Classic single-file checkpoint: the replayed state (protocol +
        metaData + live adds + retained tombstones) as one parquet file,
        then _last_checkpoint points readers at it."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot(version)
        add_t = pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
                ("stats", pa.string()),
            ]
        )
        remove_t = pa.struct(
            [
                ("path", pa.string()),
                ("deletionTimestamp", pa.int64()),
                ("dataChange", pa.bool_()),
            ]
        )
        meta_t = pa.struct(
            [
                ("id", pa.string()),
                ("name", pa.string()),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("createdTime", pa.int64()),
            ]
        )
        proto_t = pa.struct(
            [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
        )

        rows: list[dict] = [
            {"protocol": snap["protocol"] or PROTOCOL},
            {
                "metaData": {
                    k: snap["metadata"].get(k)
                    for k in ("id", "name", "schemaString", "partitionColumns",
                              "createdTime")
                }
            },
        ]
        for a in snap["files"].values():
            rows.append(
                {
                    "add": {
                        "path": a["path"],
                        "partitionValues": sorted(
                            (a.get("partitionValues") or {}).items()
                        ),
                        "size": a.get("size"),
                        "modificationTime": a.get("modificationTime"),
                        "dataChange": False,
                        "stats": a.get("stats"),
                    }
                }
            )
        for r in snap["tombstones"].values():
            rows.append(
                {
                    "remove": {
                        "path": r["path"],
                        "deletionTimestamp": r.get("deletionTimestamp"),
                        "dataChange": False,
                    }
                }
            )
        cols = {"protocol": proto_t, "metaData": meta_t, "add": add_t, "remove": remove_t}
        arrays = {
            k: pa.array([r.get(k) for r in rows], type=t) for k, t in cols.items()
        }
        table = pa.table(arrays)
        pq.write_table(table, _checkpoint_path(self.location, version))
        with open(os.path.join(_log_dir(self.location), "_last_checkpoint"), "w") as f:
            json.dump({"version": version, "size": len(rows)}, f)


# --- write paths --------------------------------------------------------------


def _adds_for(
    location: str, new_files: list[str], pcols: list[str], schema: T.StructType
) -> list[dict]:
    by_name = {f.name: f.dataType for f in schema.fields}
    adds = []
    for path in new_files:
        rel = os.path.relpath(path, location)
        pv: dict[str, str | None] = {}
        for seg in rel.split(os.sep)[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                if k in pcols:
                    pv[k] = (
                        None if v == "__HIVE_DEFAULT_PARTITION__"
                        else _part_str(_part_typed(v, by_name[k]))
                    )
        adds.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {c: pv.get(c) for c in pcols},
                    "size": os.path.getsize(path),
                    "modificationTime": int(os.path.getmtime(path) * 1000),
                    "dataChange": True,
                    "stats": _file_stats_json(path, schema),
                }
            }
        )
    return adds


def create_table(
    df: DataFrame, location: str, partition_by: list[str] | None = None
) -> DeltaTable:
    t = DeltaTable(location)
    if t.exists():
        raise FileExistsError(f"Delta table already exists: {location}")
    pcols = list(partition_by or [])
    new_files = append_files(df, location, pcols)
    md = {
        "metaData": {
            "id": str(uuid.uuid4()),
            "name": os.path.basename(location.rstrip("/")),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df.schema.json(),
            "partitionColumns": pcols,
            "configuration": {},
            "createdTime": _now_ms(),
        }
    }
    t._commit(
        [{"protocol": PROTOCOL}, md, *_adds_for(location, new_files, pcols, df.schema)],
        op="CREATE TABLE AS SELECT",
        params={"partitionBy": json.dumps(pcols)},
    )
    return t


def _evolve(location: str, snap: dict, df: DataFrame) -> list[dict]:
    """The metaData action an append-only schema evolution needs (none when
    the columns are unchanged): new columns append as nullable; drops and
    retypes raise before any write (tableio.check_schema_evolution)."""
    prior = T.StructType.fromJson(json.loads(snap["metadata"]["schemaString"]))
    new_cols = check_schema_evolution(
        {f.name: f.dataType.simpleString() for f in prior.fields},
        {f.name: f.dataType.simpleString() for f in df.schema.fields},
        location,
    )
    if not new_cols:
        return []
    added = [T.StructField(n, df.schema[n].dataType, nullable=True) for n in new_cols]
    merged = T.StructType([*prior.fields, *added])
    return [{"metaData": {**snap["metadata"], "schemaString": merged.json()}}]


def _removes(snap: dict, pcols: list[str], parts: set[tuple]) -> list[dict]:
    """remove tombstones for every live file in the partition tuples
    ``parts`` (serialized partition values)."""
    now = _now_ms()
    return [
        {
            "remove": {
                "path": a["path"],
                "deletionTimestamp": now,
                "dataChange": True,
                "extendedFileMetadata": True,
                "partitionValues": a.get("partitionValues", {}),
                "size": a.get("size"),
            }
        }
        for a in snap["files"].values()
        if tuple((a.get("partitionValues") or {}).get(c) for c in pcols) in parts
    ]


def append(df: DataFrame, location: str) -> DeltaTable:
    """Blind append; append-only schema evolution rides a new metaData
    action in the same commit."""
    t = DeltaTable(location)
    snap = t.snapshot()
    evolve = _evolve(location, snap, df)
    pcols = snap["metadata"]["partitionColumns"]
    new_files = append_files(df, location, pcols)
    adds = _adds_for(location, new_files, pcols, df.schema)
    t._commit(evolve + adds, op="WRITE", params={"mode": "Append"})
    return t


def overwrite_partitions(df: DataFrame, location: str) -> DeltaTable:
    """Dynamic partition overwrite: ONE commit whose remove tombstones cover
    every prior file in the partitions the new data touches — the previous
    version still reads them (time travel)."""
    t = DeltaTable(location)
    snap = t.snapshot()
    evolve = _evolve(location, snap, df)
    pcols = snap["metadata"]["partitionColumns"]
    if not pcols:
        raise ValueError("overwrite_partitions needs a partitioned table")
    new_files = append_files(df, location, pcols)
    adds = _adds_for(location, new_files, pcols, df.schema)
    touched = {
        tuple(a["add"]["partitionValues"].get(c) for c in pcols) for a in adds
    }
    t._commit(
        evolve + _removes(snap, pcols, touched) + adds,
        op="WRITE",
        params={"mode": "Overwrite", "partitionBy": json.dumps(pcols)},
    )
    return t


def remove_partitions(location: str, parts: list[dict], tag: str = "") -> DeltaTable:
    """Metadata-only delete of whole partitions (the archive primitive):
    remove tombstones, no data I/O."""
    t = DeltaTable(location)
    snap = t.snapshot()
    pcols = snap["metadata"]["partitionColumns"]
    want = {tuple(_part_str(p.get(c)) for c in pcols) for p in parts}
    t._commit(_removes(snap, pcols, want), op="DELETE", params={"archiveTag": tag} if tag else {})
    return t


def vacuum(location: str, retain_hours: float = 168.0) -> dict:
    """Physically delete data files that are (a) tombstoned longer ago than
    the retention window, or (b) orphans no log version ever referenced
    (failed-write leftovers). Files still reachable by ANY version's replay
    within retention are kept — time travel keeps working."""
    t = DeltaTable(location)
    cutoff = _now_ms() - int(retain_hours * 3600 * 1000)
    snap = t.snapshot()
    live = {os.path.join(location, p) for p in snap["files"]}
    expired = {
        os.path.join(location, p)
        for p, r in snap["tombstones"].items()
        if (r.get("deletionTimestamp") or 0) <= cutoff
    }
    referenced: set[str] = set()
    for v in t.versions():
        with open(_commit_path(location, v)) as f:
            for line in f:
                a = json.loads(line)
                if "add" in a:
                    referenced.add(os.path.join(location, a["add"]["path"]))
    deleted = []
    for path in _list_parquet(location):
        if path in live:
            continue
        is_orphan = path not in referenced and (
            os.path.getmtime(path) * 1000 <= cutoff
        )
        if path in expired or is_orphan:
            os.unlink(path)
            deleted.append(path)
    return {"deleted_files": len(deleted), "retained_live": len(live)}


# --- table adapter -----------------------------------------------------------


class DeltaPartitionedTable(MetadataPartitionedTable):
    """The ``delta:`` output root (tableio.MetadataPartitionedTable): every
    write is one log commit, and archive is a tombstone-only commit, so the
    files stay readable via time travel until vacuum's retention passes."""

    format_table = DeltaTable

    def create_table(self, df: DataFrame) -> None:
        create_table(df, self.path, partition_by=[self.ds_col])

    def overwrite_partitions(self, df: DataFrame) -> None:
        overwrite_partitions(df, self.path)

    def drop_partitions(self, ds_list: list[str], tag: str) -> None:
        remove_partitions(self.path, [{self.ds_col: d} for d in ds_list], tag=tag)
