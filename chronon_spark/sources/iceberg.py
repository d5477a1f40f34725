"""Jar-free Iceberg v2 table format, executed for real: metadata.json +
Avro manifests written and planned with the repo's own pure-spec Avro codec
(chronon_spark/serde.py write_ocf/read_ocf).

Implements the PUBLIC Apache Iceberg table spec (iceberg.apache.org/spec),
format-version 2, identity partition transforms — exactly the partition
contract the rest of the repo already pins (tests/test_iceberg_contract.py,
sources/tableio.py hive layout):

- ``create_table`` / ``append``: Spark writes hive-layout parquet data files
  (partition values live in the path, never in the files); per-file stats
  (record count, null counts, lower/upper bounds) are lifted from the
  parquet FOOTERS via pyarrow — no data scan; a manifest (Avro OCF, spec
  field-ids) records the files, a manifest list records the manifests, and
  an atomic version-hint swap commits the new metadata.json (the spec's
  HadoopTableOperations pointer protocol).
- ``scan``: query planning reads ONLY metadata — manifest-list partition
  summaries prune whole manifests, manifest-entry partition values and
  column bounds prune files — then hands Spark the surviving file list.
  At 100TB this is the difference between a filesystem listing of millions
  of files and a few KB of Avro: planning cost scales with metadata, not
  data, and partition/min-max pruning happens before the first executor
  task launches.
- snapshots: appends preserve prior manifests under spec sequence numbers;
  ``scan(snapshot_id=...)`` time-travels; ``partitions()`` reads partition
  tuples from the manifests.

Scope: primitive column types, identity partitioning, no delete files or
row-level deletes. The day-partitioned table contract and the scan/write
helpers shared with Delta live in sources/tableio.py;
``IcebergPartitionedTable`` supplies only the Iceberg commits behind an
``iceberg:<root>`` output root.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from chronon_spark.serde import AvroSchema, read_ocf, write_ocf
from chronon_spark.sources.tableio import (
    MetadataPartitionedTable,
    _cmp_match,
    _list_parquet,
    append_files,
    check_filters,
    check_schema_evolution,
    file_may_match,
    read_files,
    write_layout,
)

# --- Iceberg <-> Spark type bridge (spec "Schemas and Data Types") ---------

_ICEBERG_OF_SPARK: dict[type, str] = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "binary",
    T.DateType: "date",
    T.TimestampType: "timestamptz",
}

_SPARK_OF_ICEBERG = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamptz": T.TimestampType(),
}

# avro primitive carrying each iceberg primitive inside manifests
_AVRO_OF_ICEBERG = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
    "date": {"type": "int", "logicalType": "date"},
    "timestamptz": {"type": "long", "logicalType": "timestamp-micros"},
}


def _iceberg_type(dt: T.DataType, col: str) -> str:
    for klass, name in _ICEBERG_OF_SPARK.items():
        if isinstance(dt, klass):
            return name
    raise NotImplementedError(
        f"iceberg-py supports primitive columns only; {col!r} is {dt.simpleString()}"
    )


def _iceberg_schema(schema: T.StructType) -> dict:
    """Iceberg JSON schema with assigned field-ids (1..N, schema order)."""
    return {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {
                "id": i + 1,
                "name": f.name,
                "required": not f.nullable,
                "type": _iceberg_type(f.dataType, f.name),
            }
            for i, f in enumerate(schema.fields)
        ],
    }


def _single_value_bytes(ice_type: str, v) -> bytes | None:
    """Spec Appendix D 'Single-value serialization' for bound values."""
    if v is None:
        return None
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "int":
        return struct.pack("<i", int(v))
    if ice_type == "long":
        return struct.pack("<q", int(v))
    if ice_type == "float":
        return struct.pack("<f", float(v))
    if ice_type == "double":
        return struct.pack("<d", float(v))
    if ice_type == "string":
        return str(v).encode()
    if ice_type == "binary":
        return bytes(v)
    if ice_type == "date":
        import datetime as _dt

        epoch = _dt.date(1970, 1, 1)
        return struct.pack("<i", (v - epoch).days)
    if ice_type == "timestamptz":
        ts = getattr(v, "timestamp", None)
        micros = int(ts() * 1_000_000) if callable(ts) else int(v)
        return struct.pack("<q", micros)
    return None


def _single_value_parse(ice_type: str, b: bytes):
    if b is None:
        return None
    if ice_type == "boolean":
        return b != b"\x00"
    if ice_type == "int":
        return struct.unpack("<i", b)[0]
    if ice_type == "long":
        return struct.unpack("<q", b)[0]
    if ice_type == "float":
        return struct.unpack("<f", b)[0]
    if ice_type == "double":
        return struct.unpack("<d", b)[0]
    if ice_type == "string":
        return b.decode()
    return b


# --- manifest Avro schemas (spec field-ids preserved as 'field-id') --------


def _int_map_avro(name: str, value_avro, kid: int, vid: int) -> dict:
    """Iceberg encodes map<int, T> as an array of key/value records because
    Avro map keys must be strings (spec: 'Avro arrays of key-value records,
    the logical map type')."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": kid},
                {"name": "value", "type": value_avro, "field-id": vid},
            ],
        },
    }


def _partition_record_schema(part_fields: list[dict]) -> dict:
    """r102: one optional field per partition column, spec field-ids 1000+."""
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": pf["name"],
                "type": ["null", _AVRO_OF_ICEBERG[pf["_ice_type"]]],
                "default": None,
                "field-id": pf["field-id"],
            }
            for pf in part_fields
        ],
    }


def _manifest_entry_schema(part_fields: list[dict]) -> AvroSchema:
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": _partition_record_schema(part_fields), "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {
                "name": "value_counts",
                "type": ["null", _int_map_avro("k119_v120", "long", 119, 120)],
                "default": None,
                "field-id": 109,
            },
            {
                "name": "null_value_counts",
                "type": ["null", _int_map_avro("k121_v122", "long", 121, 122)],
                "default": None,
                "field-id": 110,
            },
            {
                "name": "lower_bounds",
                "type": ["null", _int_map_avro("k126_v127", "bytes", 126, 127)],
                "default": None,
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": ["null", _int_map_avro("k129_v130", "bytes", 129, 130)],
                "default": None,
                "field-id": 128,
            },
        ],
    }
    return AvroSchema(
        {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int", "field-id": 0},
                {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
                {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
                {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
                {"name": "data_file", "type": data_file, "field-id": 2},
            ],
        }
    )


_FIELD_SUMMARY = {
    "type": "record",
    "name": "r508",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "contains_nan", "type": ["null", "boolean"], "default": None, "field-id": 518},
        {"name": "lower_bound", "type": ["null", "bytes"], "default": None, "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"], "default": None, "field-id": 511},
    ],
}

_MANIFEST_FILE_SCHEMA = AvroSchema(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_data_files_count", "type": "int", "field-id": 504},
            {"name": "existing_data_files_count", "type": "int", "field-id": 505},
            {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {"name": "existing_rows_count", "type": "long", "field-id": 513},
            {"name": "deleted_rows_count", "type": "long", "field-id": 514},
            {
                "name": "partitions",
                "type": ["null", {"type": "array", "items": _FIELD_SUMMARY}],
                "default": None,
                "field-id": 507,
            },
        ],
    }
)


# --- table handle -----------------------------------------------------------


class IcebergTable:
    """Handle on an iceberg-py table rooted at ``location``."""

    def __init__(self, location: str):
        self.location = location
        self.metadata_dir = os.path.join(location, "metadata")
        self._default_data_dir = os.path.join(location, "data")
        self._md_cache: dict[int, dict] = {}

    @property
    def data_dir(self) -> str:
        """Where data files live: ``<location>/data`` by default, or the
        adopted directory recorded in the ``write.data.path`` table property
        (adopt_hive_dir registers existing files in place)."""
        if self.exists():
            p = self.metadata().get("properties", {}).get("write.data.path")
            if p:
                return p
        return self._default_data_dir

    # -- metadata pointer (HadoopTableOperations protocol) --

    def _hint_path(self) -> str:
        return os.path.join(self.metadata_dir, "version-hint.text")

    def current_version(self) -> int | None:
        try:
            with open(self._hint_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def exists(self) -> bool:
        return self.current_version() is not None

    def metadata(self, version: int | None = None) -> dict:
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"no iceberg table at {self.location}")
        if v not in self._md_cache:
            # committed metadata files are immutable (commits write vN+1 and
            # swap the hint), so caching by version is always safe
            with open(os.path.join(self.metadata_dir, f"v{v}.metadata.json")) as f:
                self._md_cache[v] = json.load(f)
        return self._md_cache[v]

    def _commit(self, md: dict) -> int:
        """Write v{N}.metadata.json then atomically swap the version hint —
        readers always see a complete metadata file."""
        os.makedirs(self.metadata_dir, exist_ok=True)
        v = (self.current_version() or 0) + 1
        path = os.path.join(self.metadata_dir, f"v{v}.metadata.json")
        with open(path, "w") as f:
            json.dump(md, f, indent=1)
        tmp = self._hint_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._hint_path())
        return v

    # -- introspection --

    def snapshot(self, snapshot_id: int | None = None) -> dict:
        md = self.metadata()
        sid = snapshot_id if snapshot_id is not None else md.get("current-snapshot-id")
        for s in md.get("snapshots", []):
            if s["snapshot-id"] == sid:
                return s
        raise KeyError(f"snapshot {sid} not found in {self.location}")

    def partition_columns(self) -> list[str]:
        md = self.metadata()
        spec = md["partition-specs"][md["default-spec-id"]]
        return [pf["name"] for pf in spec["fields"]]

    def spark_schema(self) -> T.StructType:
        md = self.metadata()
        ice = md["schemas"][md["current-schema-id"]]
        return T.StructType(
            [
                T.StructField(f["name"], _SPARK_OF_ICEBERG[f["type"]], not f["required"])
                for f in ice["fields"]
            ]
        )

    def partitions(self, snapshot_id: int | None = None) -> list[dict]:
        """Distinct partition tuples from MANIFEST metadata — never a
        filesystem listing (reference TableUtils partition listing via
        Iceberg metadata)."""
        seen: dict[str, dict] = {}
        for e in self.plan_scan(snapshot_id=snapshot_id):
            p = e["partition"]
            seen[repr(sorted(p.items(), key=lambda kv: kv[0]))] = p
        return [seen[k] for k in sorted(seen)]

    # -- planning --

    def plan_scan(
        self,
        filters: list[tuple] | None = None,
        snapshot_id: int | None = None,
        _audit: dict | None = None,
    ) -> list[dict]:
        """Metadata-only scan planning: returns surviving data-file entries
        ({path, partition, record_count, bounds}). ``filters`` is a list of
        (column, op, value) with op in = < <= > >=; pruning is conservative
        (a file is dropped only when its partition value or column bounds
        PROVE no row can match). ``_audit`` collects pruning counters for
        tests/benchmarks."""
        md = self.metadata()
        snap = self.snapshot(snapshot_id)
        ice_fields = {
            f["name"]: f for f in md["schemas"][md["current-schema-id"]]["fields"]
        }
        spec = md["partition-specs"][md["default-spec-id"]]
        part_names = [pf["name"] for pf in spec["fields"]]
        filters = check_filters(filters, ice_fields)

        manifests, _ = read_ocf(snap["manifest-list"])
        audit = {"manifests_total": len(manifests), "manifests_read": 0,
                 "files_total": 0, "files_kept": 0}
        part_filters = [f for f in filters if f[0] in part_names]
        entries: list[dict] = []
        for mf in manifests:
            if not self._manifest_may_match(mf, part_filters, part_names, ice_fields):
                continue
            audit["manifests_read"] += 1
            recs, _meta = read_ocf(mf["manifest_path"])
            for e in recs:
                if e["status"] == 2:  # DELETED
                    continue
                audit["files_total"] += 1
                dfile = e["data_file"]
                part = dict(dfile["partition"])
                if not self._entry_may_match(dfile, part, filters, ice_fields):
                    continue
                audit["files_kept"] += 1
                entries.append(
                    {
                        "path": dfile["file_path"],
                        "partition": part,
                        "record_count": dfile["record_count"],
                        "file_size_in_bytes": dfile["file_size_in_bytes"],
                    }
                )
        if _audit is not None:
            _audit.update(audit)
        return entries

    def _manifest_may_match(self, mf, part_filters, part_names, ice_fields) -> bool:
        """Manifest-list partition summaries (field_summary per partition
        field, spec field-id 507): prune a whole manifest when no partition
        in it can satisfy the filters."""
        summaries = mf.get("partitions")
        if not part_filters or not summaries:
            return True
        for col, op, val in part_filters:
            idx = part_names.index(col)
            if idx >= len(summaries):
                continue
            s = summaries[idx]
            t = ice_fields[col]["type"]
            lo = _single_value_parse(t, s.get("lower_bound"))
            hi = _single_value_parse(t, s.get("upper_bound"))
            if not _cmp_match(op, lo, hi, val):
                return False
        return True

    @staticmethod
    def _entry_may_match(dfile, part, filters, ice_fields) -> bool:
        lowers = {kv["key"]: kv["value"] for kv in (dfile.get("lower_bounds") or [])}
        uppers = {kv["key"]: kv["value"] for kv in (dfile.get("upper_bounds") or [])}

        def bounds(col):
            fid, t = ice_fields[col]["id"], ice_fields[col]["type"]
            return _single_value_parse(t, lowers.get(fid)), _single_value_parse(t, uppers.get(fid))

        return file_may_match(filters, part, bounds)

    # -- reading --

    def scan(
        self,
        spark: SparkSession,
        filters: list[tuple] | None = None,
        snapshot_id: int | None = None,
        _audit: dict | None = None,
    ) -> DataFrame:
        """Plan from metadata, read only surviving files, apply the filters
        exactly (tableio.read_files)."""
        entries = self.plan_scan(filters=filters, snapshot_id=snapshot_id, _audit=_audit)
        return read_files(
            spark, entries, self.spark_schema(), self.data_dir, self.partition_columns(), filters
        )


# --- stats from parquet footers (no data scan) ------------------------------


def _file_stats(path: str, ice_fields: dict[str, dict]):
    """record_count + per-column null counts and min/max bounds, aggregated
    across row groups, straight from the parquet footer."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    nrows = meta.num_rows
    value_counts: dict[int, int] = {}
    null_counts: dict[int, int] = {}
    mins: dict[int, object] = {}
    maxs: dict[int, object] = {}
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            f = ice_fields.get(name)
            if f is None or "." in name:
                continue
            fid = f["id"]
            value_counts[fid] = value_counts.get(fid, 0) + c.num_values
            st = c.statistics
            if st is None:
                continue
            if st.null_count is not None:
                null_counts[fid] = null_counts.get(fid, 0) + st.null_count
            if st.has_min_max:
                mn, mx = st.min, st.max
                if fid not in mins or mn < mins[fid]:
                    mins[fid] = mn
                if fid not in maxs or mx > maxs[fid]:
                    maxs[fid] = mx
    return nrows, value_counts, null_counts, mins, maxs


def _bounds_kv(vals: dict[int, object], ice_by_id: dict[int, str]) -> list[dict]:
    out = []
    for fid in sorted(vals):
        b = _single_value_bytes(ice_by_id[fid], vals[fid])
        if b is not None:
            out.append({"key": fid, "value": b})
    return out


# --- writing ----------------------------------------------------------------


def _partition_of_path(path: str, data_dir: str, part_fields: list[dict]):
    """Identity transform: partition values verbatim in the hive path."""
    rel = os.path.relpath(path, data_dir)
    kv = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            kv[k] = v
    out = {}
    for pf in part_fields:
        raw = kv.get(pf["name"])
        if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
            out[pf["name"]] = None
        elif pf["_ice_type"] == "int":
            out[pf["name"]] = int(raw)
        elif pf["_ice_type"] == "long":
            out[pf["name"]] = int(raw)
        elif pf["_ice_type"] in ("float", "double"):
            out[pf["name"]] = float(raw)
        else:
            out[pf["name"]] = raw
    return out


def _evolve_schema(md: dict | None, schema: T.StructType) -> dict:
    """Create or append-only-evolve the table schema (the repo-wide
    evolution contract, tableio.check_schema_evolution): NEW columns get
    fresh field-ids and become optional; drops / retypes raise."""
    if md is None:
        return _iceberg_schema(schema)
    prior = md["schemas"][md["current-schema-id"]]
    got = {f.name: _iceberg_type(f.dataType, f.name) for f in schema.fields}
    new_cols = check_schema_evolution(
        {f["name"]: f["type"] for f in prior["fields"]}, got, md["location"]
    )
    if not new_cols:
        return prior
    next_id = md["last-column-id"]
    fields = list(prior["fields"])
    for i, n in enumerate(new_cols):
        fields.append(
            {"id": next_id + i + 1, "name": n, "required": False, "type": got[n]}
        )
    return {"type": "struct", "schema-id": prior["schema-id"] + 1, "fields": fields}


def _write_snapshot(
    table: IcebergTable,
    df: DataFrame | None,
    partition_by: list[str],
    md: dict | None,
    operation: str = "append",
    replace_partitions: set[tuple] | None = None,
    summary_extra: dict | None = None,
    adopt: tuple[list[str], T.StructType, str] | None = None,
):
    """Shared commit: write data files (df=None for metadata-only deletes;
    ``adopt`` registers pre-existing files in place — the add_files import),
    build the new manifest, carry prior manifests forward (append) or
    rewrite them dropping replaced partitions (overwrite/delete), write the
    manifest list, commit metadata.json vN+1."""
    if adopt is not None:
        _files, adopt_schema, data_dir = adopt
        ice_schema = _evolve_schema(md, adopt_schema)
    else:
        data_dir = table.data_dir
        if df is not None:
            ice_schema = _evolve_schema(md, df.schema)
        else:
            ice_schema = md["schemas"][md["current-schema-id"]]
    ice_fields = {f["name"]: f for f in ice_schema["fields"]}
    ice_by_id = {f["id"]: f["type"] for f in ice_schema["fields"]}
    part_fields = [
        {
            "name": c,
            "transform": "identity",
            "source-id": ice_fields[c]["id"],
            "field-id": 1000 + i,
            "_ice_type": ice_fields[c]["type"],
        }
        for i, c in enumerate(partition_by)
    ]

    new_files: list[str] = []
    if adopt is not None:
        new_files = adopt[0]
    elif df is not None:
        new_files = append_files(df, data_dir, partition_by)

    snapshot_id = uuid.uuid4().int % (1 << 62)
    seq = (md.get("last-sequence-number", 0) if md else 0) + 1
    entry_schema = _manifest_entry_schema(part_fields)
    entries, added_rows = [], 0
    for path in new_files:
        part = _partition_of_path(path, data_dir, part_fields)
        nrows, vcounts, ncounts, mins, maxs = _file_stats(path, ice_fields)
        added_rows += nrows
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "partition": part,
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(path),
                    "value_counts": [
                        {"key": k, "value": v} for k, v in sorted(vcounts.items())
                    ],
                    "null_value_counts": [
                        {"key": k, "value": v} for k, v in sorted(ncounts.items())
                    ],
                    "lower_bounds": _bounds_kv(mins, ice_by_id),
                    "upper_bounds": _bounds_kv(maxs, ice_by_id),
                },
            }
        )

    os.makedirs(table.metadata_dir, exist_ok=True)
    spec_fields_json = [
        {k: v for k, v in pf.items() if not k.startswith("_")} for pf in part_fields
    ]
    manifest_meta = {
        "schema": json.dumps(ice_schema).encode(),
        "partition-spec": json.dumps(spec_fields_json).encode(),
        "partition-spec-id": b"0",
        "format-version": b"2",
        "content": b"data",
    }

    def _write_manifest(ents, n_added, n_existing, rows_added, rows_existing, min_seq):
        path = os.path.join(table.metadata_dir, f"{uuid.uuid4().hex}-m0.avro")
        mlen = write_ocf(path, entry_schema, ents, metadata=manifest_meta)
        summaries = []  # per-partition-field summaries for manifest-list pruning
        for pf in part_fields:
            vals = [e["data_file"]["partition"].get(pf["name"]) for e in ents]
            nonnull = [v for v in vals if v is not None]
            summaries.append(
                {
                    "contains_null": any(v is None for v in vals),
                    "contains_nan": None,
                    "lower_bound": _single_value_bytes(pf["_ice_type"], min(nonnull)) if nonnull else None,
                    "upper_bound": _single_value_bytes(pf["_ice_type"], max(nonnull)) if nonnull else None,
                }
            )
        return {
            "manifest_path": path,
            "manifest_length": mlen,
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": min_seq,
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": n_added,
            "existing_data_files_count": n_existing,
            "deleted_data_files_count": 0,
            "added_rows_count": rows_added,
            "existing_rows_count": rows_existing,
            "deleted_rows_count": 0,
            "partitions": summaries if part_fields else None,
        }

    if operation == "overwrite" and replace_partitions is None:
        # dynamic partition overwrite: replace exactly the partitions the
        # new files landed in (tableio.insert_overwrite_partitions contract)
        part_names = [pf["name"] for pf in part_fields]
        replace_partitions = {
            tuple(e["data_file"]["partition"].get(n) for n in part_names)
            for e in entries
        }

    manifests_out = []
    if entries:
        manifests_out.append(
            _write_manifest(entries, len(entries), 0, added_rows, 0, min_seq=seq)
        )
    if md and md.get("current-snapshot-id") is not None:
        cur = next(
            s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
        )
        prior_manifests, _ = read_ocf(cur["manifest-list"])
        if not replace_partitions:
            # plain append: prior manifest FILES carry forward untouched
            manifests_out.extend(prior_manifests)
        else:
            # overwrite/delete: rewrite prior entries, dropping replaced
            # partitions; survivors carry status EXISTING with their
            # ORIGINAL sequence numbers (spec manifest-entry inheritance)
            part_names = [pf["name"] for pf in part_fields]
            kept = []
            for pm in prior_manifests:
                recs, _m = read_ocf(pm["manifest_path"])
                for e in recs:
                    if e["status"] == 2:
                        continue
                    pt = tuple(e["data_file"]["partition"].get(n) for n in part_names)
                    if pt in replace_partitions:
                        continue
                    kept.append({**e, "status": 0})
            if kept:
                manifests_out.append(
                    _write_manifest(
                        kept,
                        0,
                        len(kept),
                        0,
                        sum(e["data_file"]["record_count"] for e in kept),
                        min_seq=min(e["sequence_number"] or seq for e in kept),
                    )
                )

    mlist_path = os.path.join(
        table.metadata_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
    )
    write_ocf(
        mlist_path,
        _MANIFEST_FILE_SCHEMA,
        manifests_out,
        metadata={"format-version": b"2"},
    )

    if md is None:
        schemas, cur_schema_id = [ice_schema], 0
    elif ice_schema["schema-id"] != md["schemas"][md["current-schema-id"]]["schema-id"]:
        schemas = [*md["schemas"], ice_schema]
        cur_schema_id = len(schemas) - 1
    else:
        schemas, cur_schema_id = md["schemas"], md["current-schema-id"]

    now_ms = int(time.time() * 1000)
    snap = {
        "snapshot-id": snapshot_id,
        "parent-snapshot-id": md.get("current-snapshot-id") if md else None,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": mlist_path,
        "summary": {
            "operation": operation,
            "added-data-files": str(len(entries)),
            "added-records": str(added_rows),
            **(summary_extra or {}),
        },
        "schema-id": ice_schema["schema-id"],
    }
    new_md = {
        "format-version": 2,
        "table-uuid": md["table-uuid"] if md else str(uuid.uuid4()),
        "location": table.location,
        "last-sequence-number": seq,
        "last-updated-ms": now_ms,
        "last-column-id": max(f["id"] for f in ice_schema["fields"]),
        "current-schema-id": cur_schema_id,
        "schemas": schemas,
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields_json}],
        "last-partition-id": 999 + len(part_fields),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"write.format.default": "parquet", "write.data.path": data_dir},
        "current-snapshot-id": snapshot_id,
        "snapshots": (md.get("snapshots", []) if md else []) + [snap],
        "snapshot-log": (md.get("snapshot-log", []) if md else [])
        + [{"timestamp-ms": now_ms, "snapshot-id": snapshot_id}],
        "metadata-log": [],
    }
    table._commit(new_md)
    return table


def create_table(df: DataFrame, location: str, partition_by: list[str] | None = None) -> IcebergTable:
    """Create an iceberg-py table at ``location`` from ``df`` (identity
    partitioning on ``partition_by``). Fails if a table already exists."""
    table = IcebergTable(location)
    if table.exists():
        raise FileExistsError(f"iceberg table already exists at {location}")
    return _write_snapshot(table, df, partition_by or [], None)


def append(df: DataFrame, location: str) -> IcebergTable:
    """Append ``df`` as a new snapshot: prior manifests are preserved in the
    new manifest list (sequence numbers per spec), so old snapshots stay
    readable (time travel)."""
    table = IcebergTable(location)
    md = table.metadata()  # raises if absent
    return _write_snapshot(table, df, table.partition_columns(), md)


def adopt_hive_dir(
    spark: SparkSession,
    data_dir: str,
    location: str,
    partition_by: tuple[str, ...] = ("ds",),
) -> IcebergTable:
    """The Iceberg ``add_files`` / migrate import, executed: register an
    EXISTING hive-layout parquet directory (exactly the
    tableio.PartitionedTable layout — identity partition values in the path,
    never in the files) as a new Iceberg table with ZERO data movement.
    Manifests reference the files in place (stats lifted from footers), the
    ``write.data.path`` table property points reads and later commits at the
    adopted directory, and partition values import as strings (the repo's
    ds contract, tests/test_iceberg_contract.py). Underscore-prefixed
    sidecars (_lineage, _archive) are excluded, matching Spark's reader.
    Reference: TableUtils.scala:104-282 (the format-migration seam)."""
    table = IcebergTable(location)
    if table.exists():
        raise FileExistsError(f"iceberg table already exists at {location}")
    files = [
        f
        for f in _list_parquet(data_dir)
        if not any(
            seg.startswith(("_", "."))
            for seg in os.path.relpath(f, data_dir).split(os.sep)
        )
    ]
    if not files:
        raise FileNotFoundError(f"no parquet files to adopt under {data_dir}")
    inferred = (
        spark.read.option("basePath", data_dir)
        .option("mergeSchema", "true")
        .parquet(data_dir)
        .schema
    )
    fields = [
        T.StructField(f.name, T.StringType(), True)
        if f.name in partition_by
        else f
        for f in inferred.fields
    ]
    return _write_snapshot(
        table,
        None,
        list(partition_by),
        None,
        summary_extra={"added-via": "add_files"},
        adopt=(files, T.StructType(fields), data_dir),
    )


def overwrite_partitions(df: DataFrame, location: str) -> IcebergTable:
    """Dynamic partition overwrite as a snapshot commit: exactly the
    partitions present in ``df`` are replaced — prior manifests are
    rewritten dropping those partitions' files (survivors ride as EXISTING
    entries with their original sequence numbers), so the previous snapshot
    still reads the replaced data (time travel). Schema evolution is
    append-only (_evolve_schema)."""
    table = IcebergTable(location)
    return _write_snapshot(
        table, df, table.partition_columns(), table.metadata(), operation="overwrite"
    )


def expire_snapshots(
    location: str, keep_last: int = 2, delete_orphan_data: bool = True
) -> dict:
    """Table maintenance (Iceberg's expire_snapshots + remove_orphan_files):
    keep only the last ``keep_last`` snapshots, commit a new metadata
    version without the expired ones, and delete metadata/data files no
    surviving snapshot reaches. At 100TB this is what bounds storage growth
    under daily overwrite commits — every replaced partition otherwise
    lives forever behind time travel.

    Data files are only ever deleted under the table's OWN ``<location>/
    data`` directory — files registered in place by adopt_hive_dir belong
    to the source table and are never touched. Returns deletion counts."""
    table = IcebergTable(location)
    md = table.metadata()
    snaps = sorted(md["snapshots"], key=lambda s: s["sequence-number"])
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    kept, expired = snaps[-keep_last:], snaps[:-keep_last]
    if not any(s["snapshot-id"] == md["current-snapshot-id"] for s in kept):
        raise ValueError("expire_snapshots cannot expire the current snapshot")
    if not expired:
        return {"expired_snapshots": 0, "deleted_manifests": 0, "deleted_data_files": 0}

    def _reachable(snapshots):
        mlists, manifests, data = set(), set(), set()
        for s in snapshots:
            mlists.add(s["manifest-list"])
            mans, _ = read_ocf(s["manifest-list"])
            for mf in mans:
                manifests.add(mf["manifest_path"])
                recs, _m = read_ocf(mf["manifest_path"])
                data.update(e["data_file"]["file_path"] for e in recs)
        return mlists, manifests, data

    keep_ml, keep_m, keep_d = _reachable(kept)
    drop_ml, drop_m, drop_d = _reachable(expired)
    kept_ids = {s["snapshot-id"] for s in kept}
    new_md = {
        **md,
        "snapshots": [s for s in md["snapshots"] if s["snapshot-id"] in kept_ids],
        "snapshot-log": [
            e for e in md.get("snapshot-log", []) if e["snapshot-id"] in kept_ids
        ],
    }
    table._commit(new_md)

    deleted_manifests = 0
    for p in sorted((drop_ml - keep_ml) | (drop_m - keep_m)):
        if os.path.exists(p):
            os.remove(p)
            deleted_manifests += 1
    deleted_data = 0
    if delete_orphan_data:
        own_data = os.path.join(location, "data") + os.sep
        for p in sorted(drop_d - keep_d):
            if p.startswith(own_data) and os.path.exists(p):
                os.remove(p)
                deleted_data += 1
    return {
        "expired_snapshots": len(expired),
        "deleted_manifests": deleted_manifests,
        "deleted_data_files": deleted_data,
    }


class IcebergPartitionedTable(MetadataPartitionedTable):
    """The ``iceberg:`` output root (tableio.MetadataPartitionedTable): every
    write is a snapshot commit, and archive is a metadata-only ``delete``
    snapshot, so replaced partitions stay readable via time travel."""

    format_table = IcebergTable

    def create_table(self, df: DataFrame) -> None:
        create_table(df, self.path, partition_by=[self.ds_col])

    def overwrite_partitions(self, df: DataFrame) -> None:
        overwrite_partitions(df, self.path)

    def drop_partitions(self, ds_list: list[str], tag: str) -> None:
        _write_snapshot(
            self.table,
            None,
            [self.ds_col],
            self.table.metadata(),
            operation="delete",
            replace_partitions={(d,) for d in ds_list},
            summary_extra={
                "archive-tag": tag,
                "deleted-partitions": ",".join(sorted(ds_list)),
            },
        )


def compact_data_files(
    spark: SparkSession,
    location: str,
    min_input_files: int = 2,
) -> dict:
    """Table maintenance: rewrite_data_files (Iceberg's binpack compaction,
    public spec/procedures). Every partition holding at least
    ``min_input_files`` data files is rewritten under ``tableio.write_layout``
    and committed as ONE ``replace`` snapshot: rewritten partitions'
    old files drop out of the new manifest set, untouched partitions carry
    forward as EXISTING entries with their original sequence numbers, and
    the previous snapshot still reads the pre-compaction files (time
    travel) until expire_snapshots reclaims them. Rows are bit-identical by
    construction — the commit only reorganizes file boundaries.

    This is what keeps scan planning cheap under a streaming sink or
    small-batch backfills: at 100TB a daily micro-batched partition
    accumulates thousands of tiny files whose per-file manifest entries and
    open costs dominate; compaction folds them back to near-target sizes.
    Older files missing append-only-evolved columns are read with
    mergeSchema and rewritten at the CURRENT schema (nulls materialized),
    so compaction also retires schema-resolution debt.

    Returns {compacted_partitions, rewritten_files, added_files, rows}.
    """
    table = IcebergTable(location)
    part_names = table.partition_columns()
    groups: dict[tuple, list[dict]] = {}
    for e in table.plan_scan():
        pt = tuple(e["partition"].get(n) for n in part_names)
        groups.setdefault(pt, []).append(e)
    cands = {pt: es for pt, es in groups.items() if len(es) >= min_input_files}
    if not cands:
        return {
            "compacted_partitions": 0,
            "rewritten_files": 0,
            "added_files": 0,
            "rows": 0,
        }

    entries = [e for es in cands.values() for e in es]
    df = read_files(spark, entries, table.spark_schema(), table.data_dir, part_names)
    df = write_layout(df, part_names)

    before_rows = sum(e["record_count"] for e in entries)
    _write_snapshot(
        table,
        df,
        part_names,
        table.metadata(),
        operation="replace",
        replace_partitions=set(cands),
        summary_extra={
            "compacted-partitions": str(len(cands)),
            "rewritten-data-files": str(len(entries)),
        },
    )
    new_groups: dict[tuple, int] = {}
    for e in table.plan_scan():
        pt = tuple(e["partition"].get(n) for n in part_names)
        if pt in cands:
            new_groups[pt] = new_groups.get(pt, 0) + 1
    return {
        "compacted_partitions": len(cands),
        "rewritten_files": len(entries),
        "added_files": sum(new_groups.values()),
        "rows": before_rows,
    }
