"""Bootstrap join + label join — the remaining Join-lifecycle phases.

Bootstrap (reference spark/src/main/scala/ai/chronon/spark/Join.scala:48-63,
517-635; BootstrapInfo.scala): pre-computed feature rows are left-joined
onto the query table first, a provenance column records which source
covered each row, and the backfill engine only computes features for rows
NOT covered — then coalesces bootstrap values over computed ones.

Label join (reference spark/.../LabelJoin.scala:33-284): labels are
*forward-looking* aggregates — for a feature row at ts, the label observes
events in (ts, ts + horizon]. Same engine as the temporal backfill with the
window reflected forward; leakage discipline inverts (a label may ONLY see
the future window, never ts itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronon_spark.api import Accuracy, Aggregation, GroupBy, Window
from chronon_spark.operators import groupby as G
from chronon_spark.operators.join import coalesced_join
from chronon_spark.plans.windows import ts_to_millis

PROVENANCE = "matched_hashes"


def bootstrap_join(
    left: DataFrame,
    bootstrap_parts: list[tuple[str, DataFrame]],
    keys: list[str],
) -> DataFrame:
    """left ⟕ each pre-computed table; adds a ``matched_hashes`` array column
    naming the parts that covered each row (reference provenance semantics)."""
    out = left.withColumn(PROVENANCE, F.array().cast("array<string>"))
    for name, part in bootstrap_parts:
        part = part.dropDuplicates(keys)
        val_cols = [c for c in part.columns if c not in keys]
        marked = part.withColumn(f"__hit_{name}", F.lit(True))
        out = coalesced_join(out, marked, keys)
        out = out.withColumn(
            PROVENANCE,
            F.when(
                F.col(f"__hit_{name}"),
                F.array_union(F.col(PROVENANCE), F.array(F.lit(name))),
            ).otherwise(F.col(PROVENANCE)),
        ).drop(f"__hit_{name}")
    return out


def uncovered_rows(bootstrapped: DataFrame, part_name: str) -> DataFrame:
    """CoveringSet filter: rows this part still needs to backfill
    (reference Join.scala covering-set semantics)."""
    return bootstrapped.where(
        ~F.array_contains(F.col(PROVENANCE), part_name)
    )


def pad_external_parts(df: DataFrame, parts: list) -> DataFrame:
    """Realize a Join's external parts offline (reference Join.scala:76-123
    padExternalFields): external features exist only at serving time, so a
    backfill carries them as typed-null columns unless a bootstrap part
    already populated them from logged rows — padding keeps derivations that
    reference them compiling either way.

    Contextual parts (source name ``contextual``; Constants.scala:57-59) pass
    left request columns through as features: the bare column and its
    ``ext_contextual_{col}`` twin are kept consistent with a two-way coalesce
    even when only one was bootstrapped (Join.scala:104-120)."""
    for part in parts:
        if part.source.is_contextual:
            continue
        for name, typ in [*part.key_schema_full(), *part.value_schema_full()]:
            if name not in df.columns:
                df = df.withColumn(name, F.lit(None).cast(typ))
    for part in parts:
        if not part.source.is_contextual:
            continue
        for name, typ in part.key_schema_full():
            # honor ExternalPart.prefix: the declared twin column is
            # ext[_{prefix}]_contextual_{col} (Extensions.scala:698-736)
            prefixed = f"{part.full_name()}_{name}"
            if name not in df.columns:
                df = df.withColumn(name, F.lit(None).cast(typ))
            if prefixed not in df.columns:
                df = df.withColumn(prefixed, F.lit(None).cast(typ))
            df = df.withColumn(
                name, F.coalesce(F.col(name), F.col(prefixed))
            ).withColumn(prefixed, F.coalesce(F.col(name), F.col(prefixed)))
    return df


def backfill_with_bootstrap(
    left: DataFrame,
    events: DataFrame,
    gb: GroupBy,
    bootstrap: DataFrame,
    keys: list[str],
    time_column: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Bootstrap-aware backfill for one GroupBy: rows covered by the
    bootstrap table keep its values; only uncovered rows are computed."""
    booted = bootstrap_join(left, [(gb.name, bootstrap)], [*keys, time_column])
    # distinct: computed must carry ONE row per (keys, ts) or the final
    # coalesced join multiplies duplicate left rows n x m
    todo = uncovered_rows(booted, gb.name).select(*keys, time_column).distinct()
    # no driver-side isEmpty() probe: an empty todo just contributes an empty
    # branch to the coalesced join (one plan, no extra blocking job)
    computed = G.temporal_events(todo, events, gb, left_time_column=time_column, tiebreak=tiebreak)
    out = coalesced_join(booted, computed, [*keys, time_column])
    return out


def label_join(
    features: DataFrame,
    label_events: DataFrame,
    label_gb: GroupBy,
    horizon: Window,
    time_column: str = "ts",
    tiebreak: str | None = None,
    prefix: str = "label",
) -> DataFrame:
    """Attach forward-looking labels: for each feature row at ts, aggregate
    label events with ``ts < ev.ts <= ts + horizon``.

    Implemented by reflecting time: negate both query and event timestamps
    and run the standard strict-past temporal engine — `-ev < -q  <=>
    ev > q`, and the trailing window becomes the leading horizon. Reuses all
    leakage discipline (now guaranteeing labels see ONLY the future).

    TIME_DECAYED aggs decay by LEAD TIME (forward-bucketed on the real
    axis: age = floor(t/H) - floor(q/H)), implemented by additionally
    shifting the negated axis by H-1 ms per distinct halflife — exact for
    integer millis (floor((H-1-x)/H) == -floor(x/H)); one engine pass per
    halflife, plain aggs on the unshifted pass, derivations applied after
    the passes re-join (so lead-time EWMA works)."""
    # fail fast with actionable messages — the negated-axis engine's own
    # errors for these misconfigurations are cryptic AnalysisExceptions
    if horizon is None or horizon.millis <= 0:
        raise ValueError(
            f"label horizon must be a positive Window; got {horizon!r}"
        )
    if not label_gb.aggregations:
        raise ValueError("label GroupBy must declare aggregations")
    missing = [c for c in (*label_gb.keys, time_column) if c not in features.columns]
    if missing:
        raise ValueError(
            f"features frame is missing label key/time columns {missing} "
            f"(has: {features.columns})"
        )
    ev_missing = [
        c
        for c in (*label_gb.keys, label_gb.time_column)
        if c not in label_events.columns
    ]
    if ev_missing:
        raise ValueError(
            f"label_events frame is missing columns {ev_missing} "
            f"(has: {label_events.columns})"
        )
    from collections import OrderedDict

    from chronon_spark.functions.ops import DECAYED_OPS

    all_aggs = list(label_gb.aggregations or [])
    decayed = [a for a in all_aggs if a.operation in DECAYED_OPS]
    for a in decayed:
        if a.halflife is None:
            raise ValueError(
                f"{a.operation.value} label on '{a.input_column}' requires "
                "halflife (decay-by-lead-time buckets)"
            )
    # TIME_DECAYED labels decay by LEAD TIME with FORWARD bucketing on the
    # real axis: age = floor(t/H) - floor(q/H) whole halflives for a label
    # event at t in (q, q+horizon]. The reflected engine alone would compute
    # floor(-q/H) - floor(-t/H) = ceil-bucketed ages (mirrored boundaries);
    # shifting BOTH negated axes by H-1 ms fixes it EXACTLY for integer
    # millis: floor((H-1-x)/H) == -floor(x/H), so the engine's bucket
    # difference becomes the true forward age while every comparison and
    # window bound (all shift-invariant) is untouched. Aggs with different
    # halflives need different shifts, hence one engine pass per halflife
    # (plain aggs ride the unshifted pass).
    plain = [a for a in all_aggs if a.operation not in DECAYED_OPS]
    passes: list[tuple[int, list]] = []
    if plain:
        passes.append((0, plain))
    by_h: OrderedDict[int, list] = OrderedDict()
    for a in decayed:
        by_h.setdefault(a.halflife.millis, []).append(a)
    passes.extend(by_h.items())
    multi = len(passes) > 1

    def engine_pass(shift_ms: int, pass_aggs: list) -> DataFrame:
        # negated REAL timestamps (pre-1970 instants) so all millis
        # arithmetic in the engine (to_millis, pmod tail rounding) stays
        # exact. Schema-aware conversion: a LONG epoch-millis ts run through
        # a bare timestamp cast would be read as SECONDS and shrink the
        # horizon 1000x.
        neg_ts = F.timestamp_millis(-ts_to_millis(features, time_column) + shift_ms)
        q = features.select(
            *label_gb.keys, neg_ts.alias("__q_neg"), F.col(time_column)
        )
        ev2 = label_events.withColumn(
            "__label_ts",
            F.timestamp_millis(
                -ts_to_millis(label_events, label_gb.time_column) + shift_ms
            ),
        )
        gb_neg = GroupBy(
            name=label_gb.name,
            keys=label_gb.keys,
            aggregations=[
                Aggregation(
                    operation=a.operation,
                    input_column=a.input_column,
                    windows=(horizon,),
                    buckets=a.buckets,
                    k=a.k,
                    percentiles=a.percentiles,
                    # sketch/decay knobs must survive the horizon rewrite —
                    # dropping them silently resets requested-exact labels
                    # (or decay shape) to defaults
                    lg_k=a.lg_k,
                    mg_cap=a.mg_cap,
                    accuracy=a.accuracy,
                    halflife=a.halflife,
                    decay_cap=a.decay_cap,
                )
                for a in pass_aggs
            ],
            accuracy=Accuracy.TEMPORAL,
            time_column="__label_ts",
            # with several passes, derivations apply AFTER the outputs are
            # re-joined (they may reference columns from different passes,
            # e.g. lead-time EWMA = decayed_sum / decayed_count)
            derivations={} if multi else label_gb.derivations,
            setups=label_gb.setups,
        )
        # strict past on negated axis = strict future on real axis; the
        # sawtooth tail on the negated axis rounds the horizon start —
        # acceptable for labels (same hop semantics, mirrored). round_down
        # uses pmod (true mathematical floor), so the tile identity
        # floor(q,hop)-w holds for the negative (pre-1970) instants too and
        # the default auto router applies: labels over a hot key ride the
        # same skew-proof sliding-tile plan as features instead of
        # re-entering the quadratic range join.
        out = G.temporal_events(
            q,
            ev2,
            gb_neg,
            left_time_column="__q_neg",
            tiebreak=tiebreak,
            strategy="auto",
        )
        # features with duplicate (keys, ts) rows fan out into `out`; dedup
        # the label side so joins preserve the left row count instead of
        # multiplying duplicates n x m
        return out.drop("__q_neg").dropDuplicates([*label_gb.keys, time_column])

    out = None
    for h_ms, pass_aggs in passes:
        shift = h_ms - 1 if h_ms > 0 else 0  # H-1 for decayed passes
        part = engine_pass(shift, pass_aggs)
        out = part if out is None else out.join(
            part, [*label_gb.keys, time_column], "full"
        )
    if multi and label_gb.derivations:
        out = G.apply_derivations(
            out, label_gb.derivations, keep=[*label_gb.keys, time_column]
        )
    # rename from the ACTUAL output columns (derivations may have renamed
    # or replaced the raw aggregation outputs)
    renames = {
        c: f"{prefix}_{c}"
        for c in out.columns
        if c not in (*label_gb.keys, time_column)
    }
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return features.join(out, [*label_gb.keys, time_column], "left")


def label_join_parts(
    features: DataFrame,
    sources,  # dict[str, DataFrame] keyed by label GroupBy name
    parts,  # list[api.LabelPart]
    time_column: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Attach SEVERAL label parts (reference LabelPart.labels is a LIST,
    api/thrift/api.thrift:348-357): each part's forward-horizon labels are
    computed independently over its own label-event source and joined onto
    the feature rows under its prefix. Prefixed output namespaces must not
    collide — checked against the columns label_join actually RENDERS
    (each aggregation's window set is rewritten to the part's horizon), not
    the declared windows; GroupBy-level derivations may rename further and
    are the caller's responsibility."""
    seen_cols: dict[str, str] = {}
    for p in parts:
        for a in p.group_by.aggregations:
            for b in a.buckets or (None,):
                full = f"{p.prefix}_{a.output_name(p.horizon, b)}"
                if full in seen_cols:
                    raise ValueError(
                        f"label parts '{seen_cols[full]}' and "
                        f"'{p.group_by.name}' both render column {full}; "
                        "give one a distinct prefix"
                    )
                seen_cols[full] = p.group_by.name
    out = features
    for p in parts:
        out = label_join(
            out,
            sources[p.group_by.name],
            p.group_by,
            p.horizon,
            time_column=time_column,
            tiebreak=tiebreak,
            prefix=p.prefix,
        )
    return out


def refresh_window(
    features: DataFrame,
    label_ds: str,
    left_start_offset: int | None,
    left_end_offset: int | None,
    time_column: str = "ts",
) -> DataFrame:
    """Restrict a label run to the feature days it should (re)label
    (reference LabelPart.leftStartOffset/leftEndOffset): on a run at
    ``label_ds``, only feature rows with day in
    ``[label_ds - (left_start_offset - 1), label_ds - (left_end_offset - 1)]``
    are labeled. Offsets are INCLUSIVE day counts, matching the reference
    implementation (LabelJoin.scala:52-54: ``label_ds = 04-03`` with
    ``left_start_offset = left_end_offset = 3`` refreshes exactly 04-01 —
    note the reference thrift comment at api.thrift:354 says "3 days prior",
    which its own Scala contradicts; we follow the executable Scala). None
    bounds are open. Inverted offsets (start < end ⇒ empty window) raise,
    mirroring the reference's constructor assert. The day is derived from
    the TIME column under a private name, so a caller-supplied ``ds``
    column passes through untouched."""
    from chronon_spark.plans.windows import ts_to_millis

    if left_start_offset is None and left_end_offset is None:
        return features
    if (
        left_start_offset is not None
        and left_end_offset is not None
        and left_start_offset < left_end_offset
    ):
        raise ValueError(
            f"refresh window start offset {left_start_offset} must be >= end "
            f"offset {left_end_offset} (offsets count back from label_ds; an "
            "inverted pair would label zero feature days)"
        )
    day = F.date_format(
        F.timestamp_millis(ts_to_millis(features, time_column)), "yyyy-MM-dd"
    )
    stamped = features.withColumn("__refresh_ds", day)
    cond = F.lit(True)
    if left_start_offset is not None:
        cond = cond & (
            F.col("__refresh_ds") >= F.date_format(
                F.date_sub(F.to_date(F.lit(label_ds)), left_start_offset - 1), "yyyy-MM-dd"
            )
        )
    if left_end_offset is not None:
        cond = cond & (
            F.col("__refresh_ds") <= F.date_format(
                F.date_sub(F.to_date(F.lit(label_ds)), left_end_offset - 1), "yyyy-MM-dd"
            )
        )
    return stamped.where(cond).drop("__refresh_ds")


def materialize_label_join(
    spark,
    name: str,
    features: DataFrame,
    label_events: DataFrame,
    label_gb: GroupBy,
    horizon: Window,
    label_ds: str,
    out_root: str,
    time_column: str = "ts",
    tiebreak: str | None = None,
    prefix: str = "label",
    left_start_offset: int | None = None,
    left_end_offset: int | None = None,
):
    """Table-level label orchestration (reference LabelJoin.scala:33-284 +
    view DDL JoinUtils.scala:174-261): each run computes the labels visible
    as of ``label_ds`` and OVERWRITES that one version partition of the
    label table (labels mature — later runs re-label the same feature rows
    with more future data), then (re)publishes two views:

    - ``{name}_labeled``        — features x ALL label versions (one row per
                                  feature row per label_ds; audit/lineage)
    - ``{name}_labeled_latest`` — one row per feature row, carrying the most
                                  recent label_ds (what training reads)

    Returns (labels_table, labeled_view_name, latest_view_name).
    """
    from chronon_spark.sources.tableio import insert_overwrite_partitions, resolve_table

    # refresh window (LabelPart.leftStartOffset/leftEndOffset): a run at
    # label_ds only (re)labels the feature days whose labels it should
    # refresh; other days' versions are untouched
    to_label = refresh_window(
        features, label_ds, left_start_offset, left_end_offset, time_column
    )
    labeled = label_join(
        to_label, label_events, label_gb, horizon, time_column, tiebreak, prefix
    )
    base_cols = set(features.columns)
    label_cols = [
        c for c in labeled.columns if c.startswith(f"{prefix}_") and c not in base_cols
    ]
    version = labeled.select(
        *label_gb.keys, time_column, *label_cols, F.lit(label_ds).alias("label_ds")
    )
    table = resolve_table(spark, out_root, f"{name}_labels", ds_col="label_ds")
    insert_overwrite_partitions(version, table)

    all_labels = table.read(spark)
    feats = features.dropDuplicates([*label_gb.keys, time_column])
    joined = feats.join(all_labels, [*label_gb.keys, time_column], "left")
    joined.createOrReplaceTempView(f"{name}_labeled")
    from pyspark.sql.window import Window as SW

    w = SW.partitionBy(*label_gb.keys, time_column).orderBy(F.col("label_ds").desc())
    latest = (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    latest.createOrReplaceTempView(f"{name}_labeled_latest")
    return table, f"{name}_labeled", f"{name}_labeled_latest"
