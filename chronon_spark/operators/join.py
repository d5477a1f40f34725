"""Join orchestration: a left query table enriched by many GroupBys.

Reference lifecycle: spark/src/main/scala/ai/chronon/spark/Join.scala /
JoinBase.scala — per-part backfill + coalesced left join + prefixing
(column prefix `{prefix}_{group_by_name}_{value_col}`:
api/.../Extensions.scala:739-766, JoinBase.scala:87-101).

Spark-first differences: each join part is an independent DataFrame branch
(Catalyst dedups the shared left scan); at scale parts can optionally be
materialized to intermediate tables (sources/tableio.write_partitioned) for
lineage + resume, mirroring the reference's per-part tables
(JoinBase.scala:139,196-213).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronon_spark.api import Accuracy, Join, JoinPart
from chronon_spark.operators import groupby as G


def coalesced_join(
    left: DataFrame, right: DataFrame, keys: list[str], how: str = "left"
) -> DataFrame:
    """Equi-join where non-key columns present on BOTH sides are merged via
    ``coalesce(left, right)``; output order keys -> left -> right.
    Reference: spark/.../JoinUtils.scala:137-168 (coalescedJoin)."""
    shared = (set(left.columns) & set(right.columns)) - set(keys)
    r = right
    for c in shared:
        r = r.withColumnRenamed(c, f"__r_{c}")
    out = left.join(r, keys, how)
    for c in shared:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__r_{c}"))).drop(f"__r_{c}")
    ordered = keys + [c for c in left.columns if c not in keys]
    ordered += [c for c in out.columns if c not in ordered]
    return out.select(*ordered)


def snapshot_serve_ds(df: DataFrame, time_column: str) -> "F.Column":
    """UTC day label of the PREVIOUS day of each row's timestamp — the daily
    snapshot partition the row reads (partition ds holds end-of-ds state;
    reference JoinBase.scala:70-130 ts_ds + 1 shift). Uses the same
    epoch-millis day arithmetic as snapshot_events' grid so the labels join
    exactly; pmod keeps pre-1970 instants on the correct day."""
    from chronon_spark.plans.windows import ts_to_millis

    DAY_MS = 86_400_000
    ms = ts_to_millis(df, time_column)
    mid = ms - F.pmod(ms, F.lit(DAY_MS))
    return F.date_format(F.timestamp_millis(mid - F.lit(DAY_MS)), "yyyy-MM-dd")


def snapshot_equijoin(
    q: DataFrame, snap: DataFrame, gb, left_time_column: str
) -> DataFrame:
    """Equi-join a query frame (gb key names + the left time column) against
    a daily-snapshot frame keyed (keys, ds): each row reads the PREVIOUS
    day's partition. (key, day) cells absent from the coverage grid take
    each aggregation's empty state (functions/ops.empty_state) — the grid
    omits fully-empty cells (reference GroupBy.scala:155-160), but a left
    row over such a cell must still render COUNT 0 / empty *_K arrays, the
    values the temporal engine produces at that midnight."""
    from chronon_spark.functions import ops as O

    snap2 = snap.withColumnRenamed("ds", "__serve_ds").withColumn(
        "__hit", F.lit(True)
    )
    out = (
        q.withColumn("__serve_ds", snapshot_serve_ds(q, left_time_column))
        .join(snap2, [*gb.keys, "__serve_ds"], "left")
        .drop("__serve_ds")
    )
    schema = {f.name: f.dataType for f in out.schema.fields}
    for a in gb.aggregations:
        for w, b in a.unpacked():
            col = a.output_name(w, b)
            fill = O.empty_state(a, b, schema[col])
            if fill is not None:
                out = out.withColumn(
                    col, F.when(F.col("__hit").isNull(), fill).otherwise(F.col(col))
                )
    return out.drop("__hit")


def _snapshot_part_features(
    q: DataFrame,
    events: DataFrame,
    gb,
    left_time_column: str,
    tiebreak: str | None,
    snapshot_frame: DataFrame | None = None,
) -> DataFrame:
    """SNAPSHOT-accuracy features for a query frame.

    With ``snapshot_frame`` (a pre-materialized daily-snapshot table slice,
    keys + feature columns + ds, computed WITHOUT derivations): a pure
    equi-join + empty-state fill — no per-run aggregation at all. This is
    the reference's design (JoinBase.scala:70-130 equi-joins the GroupBy's
    snapshot output at ts_ds + 1) and what lets materialize_join resume and
    share snapshot aggregates across parts, chunks and runs.

    Without it (one-shot compute_join path): the previous-midnight values
    are computed directly at the DISTINCT (key, midnight) query points
    through the temporal engine — for a single run that touches strictly
    fewer cells than the full coverage grid, so the grid is only
    materialized when a table makes the reuse real."""
    if snapshot_frame is not None:
        G.run_setups(q, gb.setups)  # derivations below may need session UDFs
        feat = snapshot_equijoin(q, snapshot_frame, gb, left_time_column)
        return G._apply_derivations(feat, gb, keep=[*gb.keys, left_time_column])
    q_mid = q.withColumn("__orig_ts", F.col(left_time_column)).withColumn(
        left_time_column,
        F.to_timestamp(F.date_trunc("day", F.col(left_time_column))),
    )
    # the midnight query runs through the TEMPORAL engine — the accuracy
    # difference is entirely in the query timestamp shift
    feat = G.temporal_events(
        q_mid.select(*gb.keys, left_time_column, "__orig_ts").dropDuplicates(),
        events,
        replace(gb, accuracy=Accuracy.TEMPORAL),
        left_time_column=left_time_column,
        tiebreak=tiebreak,
    )
    return feat.withColumn(left_time_column, F.col("__orig_ts")).drop("__orig_ts")


def part_query(left: DataFrame, part: JoinPart, time_column: str) -> DataFrame:
    """A part's query frame: the left keys renamed to the GroupBy's key
    names (keyMapping flip, reference api/.../Extensions.scala:745-755),
    one row per distinct (keys, time)."""
    gb = part.group_by
    return left.select(
        *[F.col(lk).alias(rk) for lk, rk in zip(part.left_keys(), gb.keys)],
        F.col(time_column),
    ).dropDuplicates([*gb.keys, time_column])


def _flip_keys(feat: DataFrame, part: JoinPart) -> DataFrame:
    """Rename a part's GroupBy key columns back to the left's names."""
    for lk, rk in zip(part.left_keys(), part.group_by.keys):
        if lk != rk:
            feat = feat.withColumnRenamed(rk, lk)
    return feat


def part_output(feat: DataFrame, part: JoinPart, time_column: str) -> DataFrame:
    """A part's features under the left's names: EVERY value column gets the
    part's prefix, derivation outputs too (reference Extensions.scala
    valueColumns), and the keys flip back to the left keys."""
    ident = {*part.group_by.keys, time_column}
    prefix = part.full_prefix()
    return _flip_keys(
        feat.withColumnsRenamed({c: f"{prefix}_{c}" for c in feat.columns if c not in ident}),
        part,
    )


def assemble_join(
    left: DataFrame, feats: list[tuple[JoinPart, DataFrame]], join: Join, externals=None
) -> DataFrame:
    """A join's one assembly order, offline and online: coalesced-join each
    part's ``part_output`` frame onto ``left``, attach the external parts,
    then apply the join derivations with ``left``'s columns as identity.
    External parts have no offline table, so by default their slots are
    padded with typed nulls (Join.scala:76-123); a fetch passes
    ``externals(frame, parts)`` instead."""
    out = left
    for part, feat in feats:
        out = coalesced_join(out, feat, [*part.left_keys(), join.time_column])
    if join.external_parts:
        if externals is None:
            from chronon_spark.operators.bootstrap import pad_external_parts

            out = pad_external_parts(out, join.external_parts)
        else:
            out = externals(out, join.external_parts)
    return G.apply_derivations(out, join.derivations, keep=list(left.columns))


def compute_join_part(
    left: DataFrame,
    events: DataFrame,
    part: JoinPart,
    left_time_column: str = "ts",
    tiebreak: str | None = None,
    snapshot_frame: DataFrame | None = None,
) -> DataFrame:
    """Features for one join part, keyed by the LEFT column names, with the
    part's `{prefix}_{group_by}_` column prefix applied."""
    gb = part.group_by
    q = part_query(left, part, left_time_column)
    if gb.aggregations is None:
        if isinstance(events, (tuple, list, dict)):
            raise ValueError(
                f"selection part '{gb.name}' (aggregations=None) cannot "
                "consume a CDC (snapshots, mutations) source — it serves "
                "snapshot fields only"
            )
        # no-aggregation selection part (reference quickstart users:
        # GroupBy(aggregations=None) over an EntitySource): the snapshot's
        # non-key fields ARE the features, served from the PREVIOUS day's
        # partition — a left row on day d reads snapshot ds = d-1, the same
        # midnight-as-of rule as SNAPSHOT accuracy (JoinBase.scala:70-130
        # ts_ds shift; entity snapshot ds holds end-of-ds state). Plain
        # broadcast-able equi-join on (keys, serve-day); no time engine.
        # the snapshot's own event-time column is bookkeeping, not a feature
        # (and would collide with the left's time column after the join)
        fields = [
            c for c in events.columns if c not in (*gb.keys, "ds", gb.time_column)
        ]
        snap = events.select(
            *gb.keys,
            F.date_add(F.to_date(F.col("ds")), 1).alias("__serve_ds"),
            *fields,
        )
        from chronon_spark.plans.windows import ts_to_millis

        # schema-aware day derivation: the left ts may be a timestamp OR the
        # library's long-epoch-millis contract — to_date(bigint) would fail
        serve_day = F.to_date(F.timestamp_millis(ts_to_millis(q, left_time_column)))
        feat = (
            q.withColumn("__serve_ds", serve_day)
            .join(snap, [*gb.keys, "__serve_ds"], "left")
            .drop("__serve_ds")
        )
        return part_output(feat, part, left_time_column)
    if isinstance(events, (tuple, list, dict)):
        # entity-CDC source: (snapshots, mutations) — point-in-time features
        # over a mutable dimension via the signed-sum mutation engine
        # (reference: EntitySource with mutationTable at TEMPORAL accuracy,
        # GroupBy.scala:170-273)
        from chronon_spark.operators.mutations import temporal_entities

        if isinstance(events, dict):
            snapshots, mutations = events["snapshots"], events["mutations"]
        else:
            snapshots, mutations = events
        feat = temporal_entities(
            q, snapshots, mutations, gb, left_time_column=left_time_column
        )
    elif gb.accuracy == Accuracy.TEMPORAL:
        feat = G.temporal_events(
            q, events, gb, left_time_column=left_time_column, tiebreak=tiebreak
        )
    else:
        # SNAPSHOT accuracy: features as of the previous midnight — the
        # (keys, date(ts)) equi-join against the +1-day-shifted daily
        # snapshot (reference JoinBase.scala:70-130), via the materialized
        # snapshot table when one is provided (materialize_join)
        feat = _snapshot_part_features(
            q, events, gb, left_time_column, tiebreak, snapshot_frame
        )
    return part_output(feat, part, left_time_column)


def _atoms(gb) -> dict[str, object]:
    """{output column: single-(window, bucket) aggregation} of a GroupBy."""
    return {
        a.output_name(w, b): replace(
            a,
            windows=(w,) if w is not None else None,
            buckets=(b,) if b is not None else None,
        )
        for a in gb.aggregations
        for w, b in a.unpacked()
    }


def _merge_groups(
    join: Join, sources: dict[str, DataFrame]
) -> list[list[JoinPart]]:
    """Partition join parts into groups that can share ONE estimator pass.

    Parts merge when they aggregate the SAME events source over the SAME
    left->right key mapping with TEMPORAL accuracy and no GroupBy-level
    derivations: their query frames and tile tables are then identical, so
    running them as one merged GroupBy builds the tile table (and the raw
    head join, and the query fan-out) once per source instead of once per
    part — the reference's shared per-part intermediate-table reuse
    (JoinBase.scala:196-213) taken one step further. Order of first
    appearance is preserved."""
    groups: dict[tuple, list[JoinPart]] = {}
    atom_reg: dict[tuple, dict[str, object]] = {}  # group -> {out col: atom}
    order: list[tuple] = []
    for i, part in enumerate(join.join_parts):
        gb = part.group_by
        mergeable = (
            gb.accuracy == Accuracy.TEMPORAL
            and not gb.derivations
            and gb.aggregations is not None
            # entity-CDC sources (snapshots, mutations) run the mutation
            # engine — never merged into an event-tile pass
            and not isinstance(sources[gb.name], (tuple, list, dict))
        )
        if not mergeable:
            key = ("solo", i)
        else:
            base = (
                id(sources[gb.name]), tuple(part.left_keys()), tuple(gb.keys),
                gb.time_column,
            )
            # single-(window, bucket) atoms, keyed by the OUTPUT COLUMN they
            # render: two parts may declare aggregations that collide on a
            # name while differing in sketch knobs the name does not encode
            # (lg_k / accuracy / mg_cap / percentiles) — those must NOT share
            # a pass (one column cannot carry two definitions), so such a
            # part falls through to the next variant of the group
            part_atoms = _atoms(gb)
            v = 0
            while True:
                key = (*base, v)
                reg = atom_reg.setdefault(key, {})
                if all(reg.get(n) in (None, at) for n, at in part_atoms.items()):
                    reg.update(part_atoms)
                    break
                v += 1
        if key not in groups:
            groups[key] = []
            order.append(key)
        groups[key].append(part)
    return [groups[k] for k in order]


def _compute_merged_parts(
    left: DataFrame,
    events: DataFrame,
    parts: list[JoinPart],
    left_time_column: str,
    tiebreak: str | None,
) -> DataFrame:
    """One temporal_events pass serving several join parts (same source,
    same key mapping): aggregations are deduplicated across parts, computed
    once, and fanned back out to each part's prefixed column names."""
    first = parts[0]
    gb0 = first.group_by
    # dedupe at OUTPUT-COLUMN granularity: parts may declare overlapping but
    # non-identical aggregations (e.g. MIN(value) over (2h,) in one part and
    # over (2h, 1d) in another) — whole-Aggregation dedup would render
    # value_min_2h twice and make the merged frame ambiguous. _merge_groups
    # guarantees no same-name atoms with different definitions reach here.
    merged_atoms: dict[str, object] = {}
    for p in parts:
        for col, atom in _atoms(p.group_by).items():
            merged_atoms.setdefault(col, atom)
    merged_gb = G.GroupBy(
        name=gb0.name,
        keys=gb0.keys,
        aggregations=list(merged_atoms.values()),
        accuracy=Accuracy.TEMPORAL,
        time_column=gb0.time_column,
        setups=[s for p in parts for s in p.group_by.setups],
    )
    q = part_query(left, first, left_time_column)
    feat = G.temporal_events(
        q, events, merged_gb, left_time_column=left_time_column, tiebreak=tiebreak
    )
    # fan shared output columns out to every part's prefixed name
    sel: list = [F.col(c) for c in gb0.keys] + [F.col(left_time_column)]
    for p in parts:
        prefix = p.full_prefix()
        for c in p.group_by.output_columns():
            sel.append(F.col(c).alias(f"{prefix}_{c}"))
    return _flip_keys(feat.select(*sel), first)


def _part_skew_keys(part: JoinPart, skew_keys: dict[str, list]) -> dict[str, list]:
    """The skew exclusion mapped onto THIS part's right-key names. Applied
    per part (reference Extensions.scala:950-1000), never onto a shared
    sources entry — two parts reusing one GroupBy with different key
    mappings must not contaminate each other's scans."""
    gb = part.group_by
    return {
        part.key_mapping.get(lk, lk): vals
        for lk, vals in skew_keys.items()
        if part.key_mapping.get(lk, lk) in gb.keys
    }


def _skew_filter_source(events, mapped: dict[str, list]):
    """Apply a mapped skew exclusion to one part's source (frame, CDC pair,
    or dict)."""
    from chronon_spark.operators.skew import filter_skew_keys

    if not mapped:
        return events
    if isinstance(events, dict):
        return {k: filter_skew_keys(v, mapped) for k, v in events.items()}
    if isinstance(events, (tuple, list)):
        return tuple(filter_skew_keys(f, mapped) for f in events)
    return filter_skew_keys(events, mapped)


def _resolve_sources(spark, sources: dict, schema_only: bool = False) -> dict:
    """Accept declarative EventSource/EntitySource values alongside raw
    DataFrames (and CDC (snapshots, mutations) pairs): declarative sources
    are compiled through sources/scan.py once, up front, so the rest of the
    orchestration sees only frames. ``schema_only`` is for validation/dry-run
    callers — no job may run during resolution (see scan_source)."""
    from chronon_spark.api import EntitySource, EventSource
    from chronon_spark.sources.scan import scan_source

    return {
        n: scan_source(spark, s, schema_only=schema_only)
        if isinstance(s, (EventSource, EntitySource))
        else s
        for n, s in sources.items()
    }


def compute_join(
    left: DataFrame,
    sources: dict[str, DataFrame],
    join: Join,
    tiebreak: str | None = None,
) -> DataFrame:
    """Enrich ``left`` with every join part. ``sources`` maps GroupBy name ->
    its events DataFrame. Preserves left row count (incl. duplicates).

    Every part's query frame derives from the ORIGINAL left (the join
    preserves left rows, so the distinct (keys, ts) set is invariant across
    parts) — part DAGs are therefore independent subtrees and the scheduler
    overlaps their stages instead of chaining part N's tile build behind
    part N-1's output. Parts sharing (source, key mapping) additionally
    collapse into one estimator pass (see _merge_groups)."""
    from chronon_spark.operators.skew import filter_skew_keys

    sources = _resolve_sources(left.sparkSession, sources)
    if join.skew_keys:
        # declared hot keys excluded from the left (JoinUtils.scala:62-68);
        # each part's source is filtered per-part below
        left = filter_skew_keys(left, join.skew_keys)
    G.run_setups(left, join.setups)
    feats = []
    for parts in _merge_groups(join, sources):
        # parts in one merge group share their key mapping, so the mapped
        # exclusion is identical across the group
        events = _skew_filter_source(
            sources[parts[0].group_by.name],
            _part_skew_keys(parts[0], join.skew_keys),
        )
        if len(parts) == 1:
            feat = compute_join_part(
                left, events, parts[0], left_time_column=join.time_column, tiebreak=tiebreak
            )
        else:
            feat = _compute_merged_parts(
                left, events, parts, join.time_column, tiebreak
            )
        feats.append((parts[0], feat))
    return assemble_join(left, feats, join)


def narrow_events(events: DataFrame, gb, lo_ds: str, hi_ds: str) -> DataFrame:
    """Window-aware scan narrowing for a [lo_ds, hi_ds] backfill chunk —
    the reference's getIntersectedRange (GroupBy.scala:565-606): only events
    with ts in [epoch(lo) - max_window - 1d tail-hop slack, epoch(hi) + 1d)
    can influence the chunk's feature rows, so the scan is cut to that range
    (and to the matching 'ds' partitions when the source carries one, so the
    cut reaches partition pruning, not just parquet row-group stats).
    Unwindowed aggregations disable narrowing (unbounded lookback);
    no-aggregation selection parts narrow to the served snapshot days
    [lo-1, hi-1]."""
    import datetime as dt

    from chronon_spark.plans.windows import ts_to_millis

    day_ms = 86_400_000
    lo_d = dt.date.fromisoformat(lo_ds)
    hi_d = dt.date.fromisoformat(hi_ds)
    if isinstance(events, (tuple, list, dict)):
        # entity-CDC source: the previous-day snapshot already collapses all
        # history, so no scan narrowing is needed for correctness; pass
        # through unchanged (partition pruning happens inside the engine's
        # (keys, day)-cell join)
        return events
    if gb.aggregations is None:
        if "ds" in events.columns:
            return events.where(
                F.col("ds").between(
                    (lo_d - dt.timedelta(days=1)).isoformat(),
                    (hi_d - dt.timedelta(days=1)).isoformat(),
                )
            )
        return events
    max_w = gb.max_window_millis()
    if max_w is None:
        return events
    epoch = dt.date(1970, 1, 1)
    lo_ms = (lo_d - epoch).days * day_ms - max_w - day_ms
    hi_ms = ((hi_d - epoch).days + 1) * day_ms
    tsm = ts_to_millis(events, gb.time_column)
    out = events.where((tsm >= lo_ms) & (tsm < hi_ms))
    if "ds" in events.columns:
        lo_cut = (lo_d - dt.timedelta(days=max_w // day_ms + 2)).isoformat()
        out = out.where(F.col("ds").between(lo_cut, hi_ds))
    return out


def join_semantic_hash(join: Join) -> str:
    """Stable hash of the whole join definition (parts + derivations) for
    incremental-recompute invalidation (reference SemanticHashUtils)."""
    import hashlib

    payload = "|".join(
        [
            join.name,
            join.time_column,
            # excluded keys change the computed rows -> must invalidate
            *sorted(f"skew:{c}={sorted(map(str, v))}" for c, v in join.skew_keys.items()),
            *join.setups,
            *sorted(f"{n}={e}" for n, e in join.derivations.items()),
            *[
                f"{p.full_prefix()}:{sorted(p.key_mapping.items())}:{p.group_by.semantic_hash()}"
                for p in join.join_parts
            ],
            *[
                # key_mapping changes which left column feeds the external key
                # — it must invalidate like any other definition change
                f"ext:{p.full_name()}:{sorted(p.key_mapping.items())}:"
                f"{p.source.key_schema}:{p.source.value_schema}"
                for p in join.external_parts
            ],
        ]
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _stamp_ds(left: DataFrame, tc: str) -> DataFrame:
    """Day-stamp a frame from its time column, honoring the long-epoch-millis
    contract: a bigint fed straight to date_format is cast to timestamp as
    SECONDS, yielding year-57000 day strings that match no partition."""
    from chronon_spark.plans.windows import ts_to_millis

    return left.withColumn(
        "ds", F.date_format(F.timestamp_millis(ts_to_millis(left, tc)), "yyyy-MM-dd")
    )


def left_semantic_hash(join: Join) -> str:
    """Hash of only the definition fields that shape the materialized LEFT
    table (name, time column, skew exclusion) — part/derivation changes must
    NOT invalidate it, that is the point of splitting the phases."""
    import hashlib

    payload = "|".join(
        [
            join.name,
            join.time_column,
            *sorted(f"skew:{c}={sorted(map(str, v))}" for c, v in join.skew_keys.items()),
        ]
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def materialize_join_left(
    spark,
    left: DataFrame,
    join: Join,
    out_root: str,
    start_ds: str,
    end_ds: str,
    step_days: int = 30,
):
    """Phase 1 of the split join backfill — the reference's ``computeLeft``
    (Driver.scala:402-425 ``join-left``; JoinBase left-table materialization):
    persist the skew-filtered, day-stamped left query rows to their own
    resumable table ``{out_root}/{join.name}_left`` so repeated part/final
    runs (phase 2, ``materialize_join`` / ``join-final``) share one left
    scan instead of re-reading the raw source each time.

    The table's semantic hash covers only left-shaping fields
    (``left_semantic_hash``), so editing parts or derivations re-runs phase
    2 without touching phase 1's partitions.
    """
    from chronon_spark.operators.skew import filter_skew_keys
    from chronon_spark.sources.tableio import backfill, resolve_table

    if join.skew_keys:
        left = filter_skew_keys(left, join.skew_keys)
    tc = join.time_column
    left_ds = _stamp_ds(left, tc)
    table = resolve_table(spark, out_root, f"{join.name}_left")
    backfill(
        spark,
        table,
        lambda s, lo, hi: left_ds.where(F.col("ds").between(lo, hi)),
        start_ds,
        end_ds,
        semantic_hash=left_semantic_hash(join),
        step_days=step_days,
    )
    return table


def materialize_join(
    spark,
    left: DataFrame,
    sources: dict[str, DataFrame],
    join: Join,
    out_root: str,
    start_ds: str,
    end_ds: str,
    tiebreak: str | None = None,
    step_days: int = 30,
    selected_parts: list[str] | None = None,
):
    """Materialized, resumable join backfill — the reference's computeJoin
    lifecycle (JoinBase.scala:348-369 range planning; per-part intermediate
    tables JoinBase.scala:139,196-213; final assembly Join.scala:241-260):

    1. every join part backfills its OWN day-partitioned table
       ``{out_root}/{join.name}_{prefix}`` over the unfilled [start, end]
       chunks (present partitions with a matching GroupBy semantic hash are
       skipped — per-part lineage, reuse and resume);
    2. the final table ``{out_root}/{join.name}`` assembles the part tables
       onto the left per unfilled range with coalesced joins + derivations.

    Returns (final table, {prefix: part table}) — path-backed
    ``PartitionedTable``s, or catalog-managed ``CatalogTable``s when
    ``out_root`` is ``catalog:<db>`` (sources/tableio.resolve_table).

    ``selected_parts`` (prefix list) materializes ONLY those part tables
    and skips final assembly, returning (None, part tables) — the unit a
    scheduler fans out in parallel (reference join_backfill.py's
    --selected-join-parts nodes); a later full run resumes every part
    table and assembles. Unknown prefixes raise (a typo would silently
    schedule a no-op node).
    """
    from chronon_spark.operators.skew import filter_skew_keys
    from chronon_spark.sources.tableio import backfill, resolve_table

    sources = _resolve_sources(spark, sources)
    if join.skew_keys:
        left = filter_skew_keys(left, join.skew_keys)
    G.run_setups(left, join.setups)
    tc = join.time_column
    left_ds = _stamp_ds(left, tc)

    import datetime as _dt
    import hashlib as _hl

    def _shift_ds(ds: str, days: int) -> str:
        return (_dt.date.fromisoformat(ds) + _dt.timedelta(days=days)).isoformat()

    if selected_parts is not None:
        known = {p.full_prefix() for p in join.join_parts}
        bad = sorted(set(selected_parts) - known)
        if bad:
            raise ValueError(
                f"unknown join part prefixes {bad}; join '{join.name}' has "
                f"{sorted(known)}"
            )
    part_tables: dict[str, object] = {}
    snapshot_tables: dict[str, object] = {}
    for part in join.join_parts:
        prefix = part.full_prefix()
        if selected_parts is not None and prefix not in selected_parts:
            continue
        table = resolve_table(spark, out_root, f"{join.name}_{prefix}")
        mapped_skew = _part_skew_keys(part, join.skew_keys)
        events = _skew_filter_source(sources[part.group_by.name], mapped_skew)

        # the part checkpoint must invalidate when its skew exclusion
        # changes — rows computed under a different exclusion are stale
        part_hash = part.group_by.semantic_hash()
        if mapped_skew:
            skew_tag = sorted(
                f"{c}={sorted(map(str, v))}" for c, v in mapped_skew.items()
            )
            part_hash = f"{part_hash}|skew:{skew_tag}"

        gb = part.group_by
        snap_table = None
        if (
            gb.accuracy == Accuracy.SNAPSHOT
            and gb.aggregations is not None
            and not isinstance(events, (tuple, list, dict))
        ):
            # SNAPSHOT parts read a materialized daily-snapshot table keyed
            # (keys, ds) — ONE resumable snapshot backfill per (GroupBy
            # definition, skew exclusion) serves every part, chunk and run
            # over it (reference JoinBase.scala:70-130 equi-joins the
            # GroupBy's snapshot output; round-3 re-ran the temporal engine
            # at distinct (key, midnight) per run instead). The table name
            # carries the definition hash so two joins in one out_root with
            # different skew exclusions never ping-pong-archive each other.
            # derivations are row-wise projections applied at join time;
            # the stored table holds the BASE aggregates, so its identity
            # (name AND stored semantic hash) comes from a derivation-free
            # definition — one table serves parts that differ only in
            # derivations, and a derivation-only edit never archives it
            gb_base = replace(gb, derivations={}, setups=[])
            snap_hash = gb_base.semantic_hash()
            if mapped_skew:
                skew_tag = ";".join(
                    f"{c}={sorted(map(str, v))}" for c, v in mapped_skew.items()
                )
                snap_hash = f"{snap_hash}|skew:{skew_tag}"
            sid = _hl.sha256(snap_hash.encode()).hexdigest()[:8]
            snap_name = f"snapshot__{gb.name}__{sid}"
            snap_table = snapshot_tables.get(snap_name)
            if snap_table is None:
                snap_table = resolve_table(spark, out_root, snap_name)

                def snap_range(s, lo, hi, gb_base=gb_base, events=events):
                    ev = narrow_events(events, gb_base, lo, hi)
                    return G.snapshot_events(
                        ev, gb_base, start_ds=lo, end_ds=hi, tiebreak=tiebreak
                    )

                # left rows on day d read snapshot ds = d - 1
                backfill(
                    spark,
                    snap_table,
                    snap_range,
                    _shift_ds(start_ds, -1),
                    _shift_ds(end_ds, -1),
                    semantic_hash=snap_hash,
                    step_days=step_days,
                )
                snapshot_tables[snap_name] = snap_table

        def compute_range(s, lo, hi, part=part, events=events, snap_table=snap_table):
            ev = narrow_events(events, part.group_by, lo, hi)
            # a snapshot table with ZERO written partitions has no parquet
            # schema to read — fall back to the (trivially cheap) midnight
            # path over the already-narrowed empty events
            snap = (
                snap_table.read_range(s, _shift_ds(lo, -1), _shift_ds(hi, -1))
                if snap_table is not None and snap_table.partitions()
                else None
            )
            # ds is a function of the time column: re-stamp, don't re-join
            sliver = left_ds.where(F.col("ds").between(lo, hi))
            return _stamp_ds(
                compute_join_part(sliver, ev, part, tc, tiebreak, snapshot_frame=snap), tc
            )

        backfill(
            spark,
            table,
            compute_range,
            start_ds,
            end_ds,
            semantic_hash=part_hash,
            step_days=step_days,
        )
        part_tables[prefix] = table

    if selected_parts is not None:
        return None, part_tables

    final = resolve_table(spark, out_root, join.name)

    def assemble_range(s, lo, hi):
        feats = [
            (part, part_tables[part.full_prefix()].read_range(s, lo, hi).drop("ds"))
            for part in join.join_parts
        ]
        return assemble_join(left_ds.where(F.col("ds").between(lo, hi)), feats, join)

    backfill(
        spark,
        final,
        assemble_range,
        start_ds,
        end_ds,
        semantic_hash=join_semantic_hash(join),
        step_days=step_days,
    )
    return final, part_tables
