"""Declarative feature-definition API.

Small dataclasses mirroring the reference's thrift surface (GroupBy / Join /
Aggregation / Window; reference: api/thrift/api.thrift:136-336 and python
surface api/py/ai/chronon/group_by.py:57-83) that *compile to DataFrame
plans* (see operators/groupby.py, operators/join.py). No thrift, no codegen.
"""

from __future__ import annotations

import enum
import hashlib
import json
from dataclasses import dataclass, field


class Op(str, enum.Enum):
    """The 19 aggregation operations of the reference engine.

    Reference enum: api/thrift/api.thrift:136-165; dispatch:
    aggregator/src/main/scala/ai/chronon/aggregator/row/ColumnAggregator.scala:220-417.
    """

    COUNT = "count"
    SUM = "sum"
    AVERAGE = "average"
    VARIANCE = "variance"
    SKEW = "skew"
    KURTOSIS = "kurtosis"
    MIN = "min"
    MAX = "max"
    UNIQUE_COUNT = "unique_count"
    APPROX_UNIQUE_COUNT = "approx_unique_count"
    APPROX_PERCENTILE = "approx_percentile"
    PERCENTILE = "percentile"  # exact variant (ours; oracle-friendly)
    HISTOGRAM = "histogram"
    APPROX_HISTOGRAM_K = "approx_histogram_k"
    FIRST = "first"
    LAST = "last"
    FIRST_K = "first_k"
    LAST_K = "last_k"
    TOP_K = "top_k"
    BOTTOM_K = "bottom_k"
    # Recency-weighted aggregations (beyond the reference's 19 ops — the
    # classic ranking-feature primitive the reference lacks; e.g. "decayed
    # purchase count, halflife 1 day"). An event aged ``a`` halflives at
    # query time contributes weight 2^-min(floor(a), decay_cap), with age
    # quantized to whole halflife buckets (floor(q/H) - floor(t/H)) so the
    # op is tile-mergeable AND bit-reproducible: weights are exact powers
    # of two applied to integer-scaled sums, so every estimator — exact
    # range join, hop-cascade tiles — and a SQL oracle agree exactly on
    # integral inputs. Requires ``halflife``; see ``decay_cap``.
    TIME_DECAYED_SUM = "time_decayed_sum"
    TIME_DECAYED_COUNT = "time_decayed_count"


class TimeUnit(str, enum.Enum):
    MINUTES = "m"
    HOURS = "h"
    DAYS = "d"


_UNIT_MS = {TimeUnit.MINUTES: 60_000, TimeUnit.HOURS: 3_600_000, TimeUnit.DAYS: 86_400_000}
DEFAULT_DECAY_CAP = 20  # TIME_DECAYED_* age cap, in halflives (see Aggregation)


@dataclass(frozen=True)
class Window:
    """A trailing event-time window, e.g. Window(7, TimeUnit.DAYS).

    Output-name suffix convention `_{length}{unit}` mirrors the reference
    (api/src/main/scala/ai/chronon/api/Extensions.scala:62-72).
    """

    length: int
    unit: TimeUnit = TimeUnit.DAYS

    @property
    def millis(self) -> int:
        return self.length * _UNIT_MS[self.unit]

    @property
    def suffix(self) -> str:
        return f"{self.length}{self.unit.value}"

    def tail_hop_millis(self) -> int:
        """Sawtooth tail resolution: 5min (<12h), 1h (<12d), 1d (>=12d).

        Reference: aggregator/src/main/scala/ai/chronon/aggregator/windowing/
        Resolution.scala:37-47 (FiveMinuteResolution).
        """
        ms = self.millis
        if ms >= 12 * 86_400_000:
            return 86_400_000
        if ms >= 12 * 3_600_000:
            return 3_600_000
        return 300_000


class Accuracy(str, enum.Enum):
    """TEMPORAL = millisecond-exact point-in-time; SNAPSHOT = midnight as-of.

    Reference: api/thrift/api.thrift:219-222.
    """

    TEMPORAL = "temporal"
    SNAPSHOT = "snapshot"


@dataclass(frozen=True)
class Aggregation:
    """operation + input column, auto-exploded to one output column per
    (window x bucket) pair (reference: api/thrift/api.thrift:182-208; explode
    at api/src/main/scala/ai/chronon/api/Extensions.scala:185-207).

    ``windows=None`` means a single unwindowed (lifetime) output.
    ``k`` parameterizes the *_K ops; ``percentiles`` the percentile ops.
    """

    operation: Op
    input_column: str
    windows: tuple[Window, ...] | None = None
    buckets: tuple[str, ...] | None = None
    k: int | None = None
    percentiles: tuple[float, ...] | None = None
    lg_k: int = 8  # approx_unique_count sketch size knob (rsd mapping)
    # APPROX_PERCENTILE only: the error/memory budget (reference KLL `k`,
    # SimpleAggregators.scala:654-694). None = engine default (10000). Its
    # exact interpretation is per-route — percentile_approx accuracy
    # (relative rank error ~1/accuracy) on the exact estimator; KMV sample
    # size (rank error ~0.5/sqrt(accuracy)) on the tiled/serving routes —
    # error decreases in the knob on both. At accuracy >= the group size the
    # sample is the whole group and the op returns the exact discrete
    # quantile — the oracle-gating parameterization; tiled/serving routes
    # hard-cap stored samples at ~4.2M events (ops.MAX_KMV_SAMPLE), above
    # which they are a uniform sample rather than bit-lossless.
    # On APPROX_UNIQUE_COUNT, a non-None accuracy switches every route
    # (exact/cascade/serving) from the HLL sketch to a KMV bottom-k
    # distinct-hash sample of that size: exact whenever accuracy >= the
    # distinct count (the oracle-gating parameterization), classic
    # (k-1)/u_k estimate above it. lg_k governs only the HLL route.
    accuracy: int | None = None
    # APPROX_HISTOGRAM_K only: Misra-Gries cap on per-(keys, tile) IR rows in
    # the tiled plan (reference ItemsSketch size, SimpleAggregators.scala:
    # 458-600). None = exact counts (unbounded tile state, truncate-at-end).
    mg_cap: int | None = None
    # TIME_DECAYED_* only (required for those ops): the decay halflife. An
    # event's weight is 2^-min(age, decay_cap) with age = whole halflives
    # elapsed, bucket-quantized as floor(q_ts/H) - floor(event_ts/H) — the
    # quantization that makes the op tile-mergeable: every tile whose
    # resolution divides H has a single weight relative to any query. On
    # the tile estimator the halflife must be a whole multiple of every
    # cascade resolution the window uses (1d halflife always qualifies);
    # otherwise the op transparently falls back to the exact estimator.
    halflife: Window | None = None
    # TIME_DECAYED_* only: ages >= decay_cap halflives all take weight
    # 2^-decay_cap (~1e-6 at the default 20) instead of decaying further.
    # This keeps the integer-scaled sum (sum of value<<(cap-age)) inside
    # int64 — raise it only if inputs are small; 1 <= decay_cap <= 40.
    decay_cap: int = DEFAULT_DECAY_CAP

    def output_name(self, window: Window | None, bucket: str | None) -> str:
        """`{input}_{op}[{k}][_{window}][_by_{bucket}]` — reference naming
        convention (api/.../Extensions.scala:154-179 outputColumnName; k-ops
        render without the `_k`, e.g. `text_last10`)."""
        opname = self.operation.value
        if self.k is not None and opname.endswith("_k"):
            opname = opname[:-2]
        name = f"{self.input_column}_{opname}"
        if self.k is not None:
            name += str(self.k)
        if self.halflife is not None:
            # decayed ops with different halflives must not collide
            name += f"_hl{self.halflife.suffix}"
            if self.decay_cap != DEFAULT_DECAY_CAP:
                # non-default caps change the value — keep names distinct too
                name += f"_cap{self.decay_cap}"
        if window is not None:
            name += f"_{window.suffix}"
        if bucket is not None:
            name += f"_by_{bucket}"
        return name

    def unpacked(self) -> list[tuple[Window | None, str | None]]:
        """All (window, bucket) combinations this aggregation explodes to."""
        windows: list[Window | None] = list(self.windows) if self.windows else [None]
        buckets: list[str | None] = list(self.buckets) if self.buckets else [None]
        return [(w, b) for w in windows for b in buckets]


@dataclass
class GroupBy:
    """A keyed feature set: keys + aggregations (+ accuracy + derivations).

    Reference: api/thrift/api.thrift:266-282. ``name`` feeds join-part column
    prefixes. ``derivations`` are post-agg Spark SQL select expressions
    (name -> expr), applied after aggregation like the reference's
    derivationProjection (api/.../Extensions.scala:1069-1120).
    """

    name: str
    keys: list[str]
    # None = no-aggregation selection GroupBy (reference quickstart users:
    # GroupBy(aggregations=None) over an EntitySource — the snapshot's
    # non-key fields pass through as features, served from the previous
    # day's partition in a join part)
    aggregations: list[Aggregation] | None
    accuracy: Accuracy = Accuracy.TEMPORAL
    time_column: str = "ts"
    derivations: dict[str, str] = field(default_factory=dict)
    # DDL statements run before planning (UDF registration etc.), the
    # reference's Query.setups (api/py/ai/chronon/query.py:59-61, executed at
    # JoinBase.scala:410). Spark SQL scalar UDFs (`CREATE TEMPORARY FUNCTION
    # f(x T) RETURNS T RETURN expr`) make these portable without jars.
    setups: list[str] = field(default_factory=list)

    def output_columns(self) -> list[str]:
        cols = []
        for agg in self.aggregations or []:
            for w, b in agg.unpacked():
                cols.append(agg.output_name(w, b))
        return cols

    def max_window_millis(self) -> int | None:
        """Largest trailing window; None if any aggregation is unwindowed
        (then the scan can never be narrowed)."""
        if self.aggregations is None:
            return None
        out: int = 0
        for agg in self.aggregations:
            if agg.windows is None:
                return None
            out = max(out, max(w.millis for w in agg.windows))
        return out

    def semantic_hash(self) -> str:
        """Stable hash of the definition — change detection for incremental
        recompute (reference: spark/.../SemanticHashUtils.scala)."""
        payload = json.dumps(
            {
                "name": self.name,
                "keys": self.keys,
                # engine IR version: bumped whenever estimator ROUTING
                # changes results for an unchanged definition (e.g. round 3
                # moved default-accuracy APPROX_PERCENTILE under 'auto' from
                # percentile_approx onto the KMV sample), so resumed tables
                # never mix two systematically different estimators across
                # ds partitions — stale ones archive instead
                "engine_ir": 2,
                "accuracy": self.accuracy.value,
                "time_column": self.time_column,
                "derivations": self.derivations,
                # setups feed derivations (UDF definitions): changing one must
                # invalidate materialized partitions like any other change
                "setups": self.setups,
                "aggs": [
                    {
                        "op": a.operation.value,
                        "col": a.input_column,
                        "windows": [w.suffix for w in a.windows] if a.windows else None,
                        "buckets": list(a.buckets) if a.buckets else None,
                        "k": a.k,
                        "percentiles": list(a.percentiles) if a.percentiles else None,
                        # sketch knobs change output values, so they must
                        # invalidate materialized partitions too
                        "lg_k": a.lg_k,
                        "mg_cap": a.mg_cap,
                        "accuracy": a.accuracy,
                        # conditional so pre-existing definitions keep their
                        # materialized-partition hashes
                        **(
                            {"halflife": a.halflife.suffix, "decay_cap": a.decay_cap}
                            if a.halflife is not None
                            else {}
                        ),
                        # SKEW/KURTOSIS moved onto the tile estimators under
                        # 'auto' (raw-power-sum IRs; ulp-level differences
                        # vs the exact streaming central moments) — resumed
                        # tables with these ops recompute instead of mixing
                        # estimator routes across ds partitions
                        **(
                            {"moment_route": "tiled-v1"}
                            if a.operation in (Op.SKEW, Op.KURTOSIS)
                            else {}
                        ),
                    }
                    for a in self.aggregations or []
                ],
            },
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


@dataclass
class JoinPart:
    """One GroupBy attached to a Join, with left->right key mapping and a
    column prefix (reference: api/thrift/api.thrift:284-288; key flipping
    api/.../Extensions.scala:745-755)."""

    group_by: GroupBy
    key_mapping: dict[str, str] = field(default_factory=dict)  # left col -> right key
    prefix: str | None = None

    def full_prefix(self) -> str:
        base = self.group_by.name
        return f"{self.prefix}_{base}" if self.prefix else base

    def left_keys(self) -> list[str]:
        inv = {v: k for k, v in self.key_mapping.items()}
        return [inv.get(k, k) for k in self.group_by.keys]


@dataclass
class LabelPart:
    """One label GroupBy attached to a Join's label side (reference
    api/thrift/api.thrift:348-357 LabelPart.labels — a LIST of parts — with
    leftStartOffset/leftEndOffset refresh-window days). ``horizon`` is the
    forward-looking window labels aggregate over; ``prefix`` namespaces the
    label columns when several parts attach."""

    group_by: GroupBy
    horizon: Window
    prefix: str = "label"


@dataclass
class Query:
    """Row-level scan spec (reference api/thrift/api.thrift:7-17; SQL
    rendering QueryUtils.scala:23-56): ``selects`` maps output name -> Spark
    SQL expression (None = pass every column through), ``wheres`` are
    AND-joined predicates, the partition bounds prune the ``partition_column``
    at plan time, and ``setups`` is DDL run before scanning (UDF
    registration). Expressions are Spark SQL verbatim — the reference defines
    select/where semantics AS Spark SQL (CatalystUtil), so nothing is
    translated."""

    selects: dict[str, str] | None = None
    wheres: list[str] = field(default_factory=list)
    start_partition: str | None = None
    end_partition: str | None = None
    time_column: str = "ts"
    setups: list[str] = field(default_factory=list)
    partition_column: str = "ds"
    # CDC bookkeeping column names on the mutation table (api.thrift:15-16);
    # scanning normalizes them to the engine's standard mutation_ts /
    # is_before names
    mutation_time_column: str = "mutation_ts"
    reversal_column: str = "is_before"


@dataclass
class EventSource:
    """Immutable, timestamped fact log (reference api.thrift:51-71).
    ``table`` is a catalog table name or a DataFrame. ``is_cumulative``
    marks tables whose every ds partition holds the full history up to
    end-of-ds — scans then collapse to the single latest valid partition
    (api.thrift:70; GroupBy.scala:576-580)."""

    table: object  # str (catalog name) | DataFrame
    query: Query = field(default_factory=Query)
    is_cumulative: bool = False


@dataclass
class EntitySource:
    """Mutable dimension: daily ``snapshot_table`` + optional CDC
    ``mutation_table`` (reference api.thrift:81-101). With mutations the
    scanned source is the (snapshots, mutations) pair the temporal-entity
    engine consumes (operators/mutations.py)."""

    snapshot_table: object  # str | DataFrame
    mutation_table: object | None = None
    query: Query = field(default_factory=Query)


CONTEXTUAL_SOURCE_NAME = "contextual"  # reference Constants.scala:58
EXTERNAL_PREFIX = "ext"  # reference Constants.scala:57


@dataclass(frozen=True)
class ExternalSource:
    """A feature source fetched from an external service at serving time
    (reference api/thrift/api.thrift ExternalSource; Extensions.scala:667-682).

    Offline it has no table: values only enter a backfill through bootstrap
    (logged rows), and unbootstrapped fields are padded with typed nulls so
    derivations depending on them still compile (Join.scala:76-123).
    The reserved name ``contextual`` passes left-side request columns through
    as features (Constants.ContextualSourceName)."""

    name: str
    key_schema: tuple[tuple[str, str], ...] = ()  # (field, spark type ddl)
    value_schema: tuple[tuple[str, str], ...] = ()

    @property
    def is_contextual(self) -> bool:
        return self.name == CONTEXTUAL_SOURCE_NAME


@dataclass
class ExternalPart:
    """ExternalSource attached to a Join (reference api.thrift ExternalPart;
    naming Extensions.scala:698-736: full name ``ext[_{prefix}]_{source}``,
    value columns ``{full_name}_{field}``)."""

    source: ExternalSource
    key_mapping: dict[str, str] = field(default_factory=dict)  # left col -> key field
    prefix: str | None = None

    def full_name(self) -> str:
        sanitized = "".join(c if c.isalnum() else "_" for c in self.source.name)
        parts = [EXTERNAL_PREFIX] + ([self.prefix] if self.prefix else []) + [sanitized]
        return "_".join(parts)

    def key_schema_full(self) -> list[tuple[str, str]]:
        """Key fields under their LEFT column names (Extensions.scala:729-730)."""
        right_to_left = {v: k for k, v in self.key_mapping.items()}
        return [(right_to_left.get(n, n), t) for n, t in self.source.key_schema]

    def value_schema_full(self) -> list[tuple[str, str]]:
        """Value fields under ``{full_name}_{field}`` (Extensions.scala:733-734)."""
        return [(f"{self.full_name()}_{n}", t) for n, t in self.source.value_schema]


@dataclass
class Join:
    """left query rows enriched point-in-time by many GroupBys.

    Reference: api/thrift/api.thrift:304-336; engine spark/.../Join.scala.
    """

    name: str
    left_keys: list[str]  # informational; parts declare their own mapping
    join_parts: list[JoinPart]
    time_column: str = "ts"
    derivations: dict[str, str] = field(default_factory=dict)
    setups: list[str] = field(default_factory=list)
    # declared hot keys to EXCLUDE from the backfill, keyed by LEFT column
    # name (reference Join.skewKeys, api.thrift:304-336; exclusion SQL
    # Extensions.scala:950-1000): the left scan drops those rows and every
    # part's source drops the mapped right-key rows, so a pathological key
    # can't straggle the whole job
    skew_keys: dict[str, list] = field(default_factory=dict)
    # online-only feature slots, realized offline via bootstrap + null padding
    # (reference Join.onlineExternalParts, api.thrift:304-336)
    external_parts: list[ExternalPart] = field(default_factory=list)
