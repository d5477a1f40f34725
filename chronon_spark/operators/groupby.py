"""GroupBy estimators: point-in-time (TEMPORAL) and daily (SNAPSHOT) plans.

Re-implements the reference's GroupBy semantics (spark/src/main/scala/ai/
chronon/spark/GroupBy.scala — temporalEvents L278-357, snapshotEvents
L143-168, snapshotEntities L99-141) as declarative DataFrame plans:

- ``temporal_events``: for each left row (keys, ts), aggregate events with
  ``sawtooth_tail(ts, w) <= ev.ts < ts`` (strict head, zero leakage).
  Three estimators:
    * exact   — range join queries x events, one conditional aggregate per
      (op, window). Fan-out is bounded by events-per-key-per-max-window;
      best when keys are not hot.
    * cascade — pre-aggregate events into 5min tiles, coarsen them to 1h and
      1d (the Spark-native form of the reference's HopsAggregator,
      aggregator/.../windowing/HopsAggregator.scala:33-165), range-join each
      resolution's band of tiles to the queries and merge the partial IRs
      (``ops.merge_cols`` / ``ops.finalize``).
      Fan-out is bounded by the tile count per window regardless of key
      hotness. Serves every op in ``HOP_MERGEABLE_OPS``.
    * sliding — plans/sliding.py: densified window passes over tile tables
      plus equi-joins, no range join anywhere. Skew-proof at any key
      hotness; serves ``SLIDING_OPS``.
  ``strategy`` picks the route. ``auto`` (the default) sends each
  aggregation whose windows are whole multiples of their sawtooth tail hop
  to the sliding estimator when its op is in ``SLIDING_OPS``, else to the
  cascade when its op is in ``HOP_MERGEABLE_OPS`` (HLL/KMV sketches,
  decayed and moment ops), else to the exact estimator; the feature frames
  join on one shared shuffle key. ``hops`` sends every hop-aligned
  ``HOP_MERGEABLE_OPS`` aggregation to the cascade, and ``exact`` sends
  everything to the range join. Windows that are not hop-aligned (possible
  only for minute-unit windows, e.g. Window(7, MINUTES)) would lose one
  tail hop under the tile estimators, so every route sends them to exact.

- ``snapshot_events``: per (key, ds) end-of-day aggregates over trailing
  windows `[eod - w, eod)` for every day in the requested range.

Aggregations are computed in up to three kinds of passes joined on the group
columns: direct scalar aggs (single groupBy), bucketed aggs (groupBy + map
assembly per bucket column), and map-valued HISTOGRAM ops (groupBy including
the value). All passes share one shuffle key (keys + query ts), so AQE can
coalesce/skew-split them uniformly.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chronon_spark.api import Accuracy, Aggregation, GroupBy, Op, Window
from chronon_spark.functions import ops as O
from chronon_spark.plans import windows as W
from chronon_spark.plans.sliding import (
    SLIDING_OPS,
    _presence_window,
    bucketed_pass_sliding,
    histogram_pass_sliding,
    temporal_pass_sliding,
)

QTS = "__q_ts_ms"  # query-time long millis
ETS = "__e_ts_ms"  # event-time long millis
TILE = "__tile_ms"  # hop tile start long millis
DAY_MS = W.MS_PER_DAY


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _normalize_events(events: DataFrame, gb: GroupBy, tiebreak: str | None) -> DataFrame:
    """Project events to (keys, inputs, buckets, ETS [, tiebreak]) with long-ms time."""
    needed = set(gb.keys)
    for a in gb.aggregations:
        needed.add(a.input_column)
        for b in a.buckets or ():
            needed.add(b)
    if tiebreak:
        needed.add(tiebreak)
    cols = [F.col(c) for c in sorted(needed)]
    return events.select(*cols, W.ts_to_millis(events, gb.time_column).alias(ETS))


def _split_passes(
    gb: GroupBy,
) -> tuple[list[Aggregation], dict[str, list[Aggregation]], list[Aggregation]]:
    """(direct aggs, bucket_col -> bucketed aggs, map-op aggs)."""
    direct: list[Aggregation] = []
    bucketed: dict[str, list[Aggregation]] = defaultdict(list)
    mapops: list[Aggregation] = []
    for a in gb.aggregations:
        if a.operation in O.MAP_OPS:
            if a.buckets:
                # a bucketed histogram would be a map-of-maps output; the
                # engine (like the exploded driver queries) has no such
                # column shape — reject loudly instead of silently dropping
                # the buckets and emitting colliding column names
                raise ValueError(
                    f"{a.operation.value} on '{a.input_column}' does not "
                    "support buckets (map-valued output cannot nest); "
                    "bucket by a composite key column instead"
                )
            mapops.append(a)
        elif a.buckets:
            for b in a.buckets:
                bucketed[b].append(a)
        else:
            direct.append(a)
    return direct, dict(bucketed), mapops


def apply_derivations(
    df: DataFrame, derivations: dict[str, str], keep: list[str]
) -> DataFrame:
    """Post-aggregation projection with the reference's wildcard/rename
    semantics (api/.../Extensions.scala:1069-1120 derivationProjection):

    - an entry named ``*`` passes through every base column EXCEPT those
      overridden by a same-named derivation (rename/replace detection);
    - without ``*``, the output is only the identity columns (``keep`` —
      keys/ts of the plan) plus the derived columns;
    - a derivation named like an existing column replaces it in place.
    """
    if not derivations:
        return df
    named = {n: e for n, e in derivations.items() if n != "*"}
    if "*" in derivations:
        base = [c for c in df.columns if c not in named]
    else:
        base = [c for c in keep if c not in named]
    return df.select(
        *[F.col(c) for c in base], *[F.expr(e).alias(n) for n, e in named.items()]
    )


def _apply_derivations(df: DataFrame, gb: GroupBy, keep: list[str]) -> DataFrame:
    return apply_derivations(df, gb.derivations, keep)


def _tiebreak_col(tiebreak: str | None) -> Column:
    return F.col(tiebreak) if tiebreak else F.lit(0)


def run_setups(df: DataFrame, setups: list[str]) -> None:
    """Execute setup DDL (UDF registration etc.) against the session owning
    ``df`` before planning — the reference runs Query.setups through
    tableUtils.sql at every job entry (JoinBase.scala:410, GroupBy.scala:691,
    StagingQuery.scala:46). Statements run in order, once per statement per
    SparkSession: multi-part joins and multi-chunk backfills re-plan with the
    same setups, and DDL like CREATE TEMPORARY FUNCTION throws on re-run.

    The executed-set lives ON the session object (not a module-level dict
    keyed by id(): ids are reused after GC and entries for dead sessions
    would otherwise accumulate forever)."""
    if not setups:
        return
    spark = df.sparkSession
    done = getattr(spark, "_chronon_executed_setups", None)
    if done is None:
        done = set()
        spark._chronon_executed_setups = done
    for stmt in setups:
        if stmt not in done:
            spark.sql(stmt)
            done.add(stmt)


# ---------------------------------------------------------------------------
# TEMPORAL events — exact estimator
# ---------------------------------------------------------------------------


def _join_lower_bound(gb: GroupBy, q_ts: Column) -> Column | None:
    """Widest inclusive lower bound across all windows; None if any agg is
    unwindowed (lifetime). Narrows the range join — the window-aware scan
    narrowing of the reference (GroupBy.scala:565-606), expressed as a join
    predicate Catalyst can push."""
    tails = []
    for a in gb.aggregations:
        if a.windows is None:
            return None
        tails.extend(W.sawtooth_tail(q_ts, w) for w in a.windows)
    if not tails:
        return None
    return tails[0] if len(tails) == 1 else F.least(*tails)


def _agg_exprs_exact(
    aggs: list[Aggregation], q_ts: Column, e_ts: Column, tiebreak: Column
) -> list[Column]:
    """One conditional aggregate per (agg, window): mask = sawtooth window."""
    out = []
    for a in aggs:
        for w, _ in a.unpacked():
            mask = W.in_window(e_ts, q_ts, w)
            val = F.when(mask, F.col(a.input_column))
            ts = F.when(mask, e_ts)
            out.append(
                O.direct_agg(a, val, ts, F.when(mask, tiebreak), q_ts=q_ts).alias(
                    a.output_name(w, None)
                )
            )
    return out


def _temporal_pass_exact(
    q: DataFrame,
    ev: DataFrame,
    gb: GroupBy,
    aggs: list[Aggregation],
    tiebreak: str | None,
    extra_group: list[str] | None = None,
) -> DataFrame:
    """queries x events range join -> groupBy(keys + QTS [+ extra]) -> aggregates."""
    keys = gb.keys
    eva = ev.select(
        *[F.col(k).alias(f"__e_{k}") for k in keys],
        *[F.col(c) for c in ev.columns if c not in keys],
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__e_{k}"))
    cond = cond & (F.col(ETS) < F.col(QTS))
    lb = _join_lower_bound(gb, F.col(QTS))
    if lb is not None:
        cond = cond & (F.col(ETS) >= lb)
    joined = q.join(eva, cond, "left")
    group = [*keys, QTS, *(extra_group or [])]
    exprs = _agg_exprs_exact(aggs, F.col(QTS), F.col(ETS), _tiebreak_col(tiebreak))
    return joined.groupBy(*group).agg(*exprs)


# ---------------------------------------------------------------------------
# TEMPORAL events — hop-tile estimator (the scale path)
# ---------------------------------------------------------------------------


# multi-resolution tile cascade (coarse -> fine), mirroring the reference's
# FiveMinuteResolution sawtooth stitching (SawtoothAggregator.scala:64-139):
# a window [tail, q) is covered by disjoint bands
#   [tail(q,w), floor(q,1d)) @1d | [floor(q,1d), floor(q,1h)) @1h |
#   [floor(q,1h), floor(q,5m)) @5m | [floor(q,5m), q) raw
# so per-query fan-out is bounded (<=31 day tiles + 23 hour + 11 five-min +
# one 5-minute hop of raw events) REGARDLESS of key hotness.
CASCADE = [86_400_000, 3_600_000, 300_000]
RES = "__res_ms"


def _levels_for(w: Window | None) -> list[int]:
    """Resolutions a window consumes, coarsest first. Lifetime uses all."""
    if w is None:
        return CASCADE[:]
    h = w.tail_hop_millis()
    return [r for r in CASCADE if r <= h]


def _band_lower(w: Window | None, r: int, q_ts: Column) -> Column | None:
    """Inclusive lower bound of window w's band at resolution r (None = no
    bound). Coarsest level starts at the sawtooth tail; finer levels start
    where the next-coarser band ends."""
    levels = _levels_for(w)
    i = levels.index(r)
    if i == 0:
        return None if w is None else W.sawtooth_tail(q_ts, w)
    return W.round_down(q_ts, levels[i - 1])


def _ir_slot_key(a: Aggregation) -> tuple:
    """Slot-sharing key: aggs mapping to the same key produce byte-identical
    partial_cols tile expressions (see _temporal_pass_hops). Windows are
    deliberately absent — tiles are window-agnostic; windows apply at merge."""
    fam = {
        Op.SKEW: "mom",
        Op.KURTOSIS: "mom",
        Op.SUM: "s",
        Op.TIME_DECAYED_SUM: "s",
        Op.COUNT: "n",
        Op.TIME_DECAYED_COUNT: "n",
    }.get(a.operation, a.operation.value)
    return (
        fam,
        a.input_column,
        a.k,
        a.percentiles,
        a.accuracy,
        a.lg_k,
        a.mg_cap,
    )


def _temporal_pass_hops(
    q: DataFrame,
    ev: DataFrame,
    gb: GroupBy,
    aggs: list[Aggregation],
    tiebreak: str | None,
) -> DataFrame:
    """Cascaded tile-merge estimator (the 100TB-scale path).

    1. one shuffle builds finest (5min) tiles from events; coarser tiles are
       partial-merged from finer ones over shrinking data;
    2. per resolution, queries range-join their band of tiles (bounded
       fan-out); raw events join only within the query's own 5min hop;
    3. one final groupBy(keys, query_ts) merges IRs with per-(window, band)
       masks and finalizes.
    """
    keys = gb.keys
    pairs = [(a, w) for a in aggs for w, _ in a.unpacked()]
    # aggs whose partial_cols are IDENTICAL expressions share ONE slot — one
    # tile column set, and (because Spark dedups identical AggregateExprs)
    # one merge-side sub-aggregate: SKEW+KURTOSIS share the central-moment
    # struct, TIME_DECAYED_* share the plain SUM/COUNT partials (their
    # weights apply only at merge), duplicate shapes collapse outright
    slot_of: dict[tuple, str] = {}
    slot_agg: dict[str, Aggregation] = {}
    partial_exprs: dict[str, Column] = {}
    tb = _tiebreak_col(tiebreak)
    for a, _w in pairs:
        sk = _ir_slot_key(a)
        if sk not in slot_of:
            slot = f"a{len(slot_of)}"
            slot_of[sk] = slot
            slot_agg[slot] = a
            partial_exprs.update(
                O.partial_cols(a, F.col(a.input_column), F.col(ETS), tb, slot)
            )
    ir_cols = list(partial_exprs.keys())
    aggs_unique = list(slot_agg.values())

    used = sorted({r for _, w in pairs for r in _levels_for(w)}, reverse=True)
    finest = used[-1]

    # q and the finest tile table feed several join branches; persist them so
    # each is computed once (the reference materializes hop tables for the
    # same reason, HopsAggregator + per-part intermediate tables)
    from pyspark.storagelevel import StorageLevel

    from chronon_spark.plans.cache import register

    q = register(q.persist(StorageLevel.MEMORY_AND_DISK))
    tiles_by_res: dict[int, DataFrame] = {}
    tiles_by_res[finest] = register(
        ev.withColumn(TILE, W.round_down(F.col(ETS), finest))
        .groupBy(*keys, TILE)
        .agg(*[c.alias(n) for n, c in partial_exprs.items()])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    for idx in range(len(used) - 2, -1, -1):  # build coarser from finer
        r, finer = used[idx], used[idx + 1]
        merged: dict[str, Column] = {}
        for slot, a in slot_agg.items():
            merged.update(O.merge_cols(a, slot))
        tiles_by_res[r] = (
            tiles_by_res[finer]
            .withColumn(TILE, W.round_down(F.col(TILE), r))
            .groupBy(*keys, TILE)
            .agg(*[c.alias(n) for n, c in merged.items()])
        )

    def _key_cond(prefix: str = "__e_") -> Column:
        cond = F.lit(True)
        for k in keys:
            cond = cond & (F.col(k) == F.col(f"{prefix}{k}"))
        return cond

    branches: list[DataFrame] = []
    for r in used:
        ta = tiles_by_res[r].select(
            *[F.col(k).alias(f"__e_{k}") for k in keys], TILE, *ir_cols
        )
        cond = _key_cond() & (F.col(TILE) < W.round_down(F.col(QTS), r))
        lowers = []
        unbounded = False
        for _, w in pairs:
            if r in _levels_for(w):
                lb = _band_lower(w, r, F.col(QTS))
                if lb is None:
                    unbounded = True
                else:
                    lowers.append(lb)
        if not unbounded and lowers:
            cond = cond & (
                F.col(TILE) >= (lowers[0] if len(lowers) == 1 else F.least(*lowers))
            )
        # finest-resolution join is LEFT so every query survives to the merge
        # (emitting count=0 rows for event-less windows); coarser joins inner
        how = "left" if r == finest else "inner"
        branches.append(
            q.join(ta, cond, how).select(
                *keys, QTS, F.col(TILE), F.lit(r).alias(RES), *ir_cols
            )
        )

    # raw head: the query's own (incomplete) finest hop, strict < qts
    eva = ev.select(
        *[F.col(k).alias(f"__e_{k}") for k in keys],
        *[c for c in ev.columns if c not in keys],
    )
    hcond = (
        _key_cond()
        & (F.col(ETS) >= W.round_down(F.col(QTS), finest))
        & (F.col(ETS) < F.col(QTS))
    )
    head_df = (
        q.join(eva, hcond, "inner")
        .groupBy(*keys, QTS)
        .agg(*[c.alias(n) for n, c in partial_exprs.items()])
        .withColumn(TILE, W.round_down(F.col(QTS), finest))
        .select(*keys, QTS, F.col(TILE), F.lit(0).alias(RES), *ir_cols)
    )

    unioned = branches[0]
    for b in branches[1:]:
        unioned = unioned.unionByName(b)
    unioned = unioned.unionByName(head_df)

    merge_exprs = []
    for a, w in pairs:
        slot = slot_of[_ir_slot_key(a)]
        name = a.output_name(w, None)
        mask = F.col(RES) == 0  # raw head rows belong to every window
        for r in _levels_for(w):
            band = F.col(RES) == r
            lb = _band_lower(w, r, F.col(QTS))
            if lb is not None:
                band = band & (F.col(TILE) >= lb)
            mask = mask | band
        weight = None
        if a.operation in O.DECAYED_OPS:
            # one weight per tile: TILE is the tile start (head rows carry
            # TILE = floor(q, finest), same halflife bucket as q => age 0),
            # and every resolution in play divides the halflife
            # (_hop_aligned), so floor(tile_ts/H) equals floor(event_ts/H)
            # for every event inside
            weight = O.decayed_weight(a, F.col(QTS), F.col(TILE))
        merged = O.merge_cols(a, slot, mask=mask, weight=weight)
        merge_exprs.append(O.finalize(a, slot, merged).alias(name))
    return unioned.groupBy(*keys, QTS).agg(*merge_exprs)


# ---------------------------------------------------------------------------
# bucketed + histogram passes (two-phase map assembly)
# ---------------------------------------------------------------------------


def _bucket_pass(
    q: DataFrame,
    ev: DataFrame,
    gb: GroupBy,
    bucket_col: str,
    aggs: list[Aggregation],
    tiebreak: str | None,
) -> DataFrame:
    """groupBy(keys + QTS + bucket) then assemble Map[bucket -> agg] per
    feature (reference: aggregator/.../row/BucketedColumnAggregator.scala)."""
    inner = _temporal_pass_exact(q, ev, gb, aggs, tiebreak, extra_group=[bucket_col])
    inner = inner.where(F.col(bucket_col).isNotNull())
    assembled = inner.groupBy(*gb.keys, QTS).agg(
        *[
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(bucket_col).alias("k"),
                            F.col(a.output_name(w, None)).alias("v"),
                        )
                    )
                )
            ).alias(a.output_name(w, bucket_col))
            for a in aggs
            for w, _ in a.unpacked()
        ]
    )
    return assembled


def _histogram_pass(
    q: DataFrame, ev: DataFrame, gb: GroupBy, agg: Aggregation, tiebreak: str | None
) -> DataFrame:
    """HISTOGRAM / APPROX_HISTOGRAM_K: two-phase value-count map.

    Phase 1 groups by (keys, QTS, value) with one conditional count per
    window; phase 2 assembles Map[value -> count], optionally truncated to
    the k most frequent entries (APPROX_HISTOGRAM_K's exact-at-test-scale
    behavior; reference aggregator/.../SimpleAggregators.scala:458-600).
    """
    keys = gb.keys
    vcol = agg.input_column
    eva = ev.select(
        *[F.col(k).alias(f"__e_{k}") for k in keys],
        *[c for c in ev.columns if c not in keys],
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__e_{k}"))
    cond = cond & (F.col(ETS) < F.col(QTS)) & F.col(vcol).isNotNull()
    lb = _join_lower_bound(gb, F.col(QTS))
    if lb is not None:
        cond = cond & (F.col(ETS) >= lb)
    joined = q.join(eva, cond, "inner")
    counts = joined.groupBy(*keys, QTS, vcol).agg(
        *[
            F.count(F.when(W.in_window(F.col(ETS), F.col(QTS), w), F.lit(1))).alias(
                f"__n_{a_i}"
            )
            for a_i, (w, _) in enumerate(agg.unpacked())
        ]
    )
    return _assemble_value_maps(
        counts, keys, QTS, vcol, agg, [f"__n_{a_i}" for a_i in range(len(agg.unpacked()))]
    )


def _assemble_value_maps(
    counts: DataFrame,
    keys: list[str],
    qts_col: str,
    vcol: str,
    agg: Aggregation,
    count_cols: list[str],
) -> DataFrame:
    """Map[value -> count] assembly from per-(keys, qts, value) windowed
    counts, one output map per window.

    APPROX_HISTOGRAM_K keeps the k most frequent entries per window — ranked
    with a WINDOW FUNCTION and filtered BEFORE collection, so per-group state
    is O(k x windows) regardless of how many distinct values a hot key has
    (a collect-then-truncate assembly would buffer every distinct value of a
    key in one row — unbounded at 100TB). Tie order (count desc, value-string
    desc) matches the reference truncation exactly."""
    from pyspark.sql.window import Window as SW

    vstr = F.col(vcol).cast("string")
    approx = agg.operation == Op.APPROX_HISTOGRAM_K and agg.k
    if approx:
        for nc in count_cols:
            w = SW.partitionBy(*keys, qts_col).orderBy(
                F.col(nc).desc(), vstr.desc()
            )
            counts = counts.withColumn(f"__rn_{nc}", F.row_number().over(w))
        keep = None
        for nc in count_cols:
            c = F.col(f"__rn_{nc}") <= agg.k
            keep = c if keep is None else (keep | c)
        counts = counts.where(keep)
    exprs = []
    for (w_, _), nc in zip(agg.unpacked(), count_cols):
        ent = F.when(F.col(nc) > 0, F.struct(vstr.alias("k"), F.col(nc).alias("v")))
        if approx:
            ent = F.when(F.col(f"__rn_{nc}") <= agg.k, ent)
        entries = F.array_sort(F.collect_list(ent))
        # empty window -> NULL, not {} (matches null-feature semantics)
        exprs.append(
            F.when(F.size(entries) > 0, F.map_from_entries(entries)).alias(
                agg.output_name(w_, None)
            )
        )
    return counts.groupBy(*keys, qts_col).agg(*exprs)


# ---------------------------------------------------------------------------
# public estimators
# ---------------------------------------------------------------------------


def _hop_aligned(a: Aggregation) -> bool:
    """True iff every window is a whole multiple of its sawtooth tail hop —
    the identity sawtooth_tail(q, w) = floor(q, hop) - w the tile estimators
    rely on. Lifetime (None) windows are trivially aligned.

    TIME_DECAYED ops additionally require the halflife to be a whole
    multiple of every cascade resolution their windows consume (so each
    tile sits inside one halflife bucket and has a single weight); when it
    is not, the op transparently takes the exact estimator instead."""
    wins: list = list(a.windows) if a.windows is not None else [None]
    if a.windows is not None and any(
        w.millis % w.tail_hop_millis() != 0 for w in a.windows
    ):
        return False
    if a.operation in O.DECAYED_OPS:
        h_ms = a.halflife.millis if a.halflife is not None else 0
        if h_ms <= 0:
            return False  # direct_agg raises the descriptive error
        for w in wins:
            if any(h_ms % r != 0 for r in _levels_for(w)):
                return False
    return True


def _presence_window_aligned(gb: GroupBy):
    """The bucket-presence auxiliary window (largest window across the whole
    GroupBy, or None for lifetime — ONE shared definition, plans/sliding
    _presence_window) — False when it exists but is not hop-aligned (then
    the tiled map passes cannot replicate the exact presence bound and must
    fall back)."""
    w_max = _presence_window(gb)
    if w_max is not None and w_max.millis % w_max.tail_hop_millis() != 0:
        return False
    return w_max


STRATEGIES = ("auto", "hops", "exact")


def temporal_events(
    left: DataFrame,
    events: DataFrame,
    gb: GroupBy,
    left_time_column: str | None = None,
    tiebreak: str | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Point-in-time features for every left row. Returns left columns +
    one feature column per (aggregation x window x bucket).

    Left rows are deduplicated to distinct (keys, ts) for aggregation and
    fanned back out by an equi-join, preserving duplicate left rows
    (reference row-count preservation: JoinTest.scala:589-590).

    ``strategy`` picks the estimator: ``auto`` (the default) routes
    window-function-mergeable ops to sliding tiles and the other
    hop-mergeable ops to the cascade, ``hops`` every hop-mergeable op to
    the cascade, ``exact`` everything to the range join.
    """
    if strategy not in STRATEGIES:
        raise ValueError(
            f"unknown temporal strategy {strategy!r}; expected one of {list(STRATEGIES)}"
        )
    assert gb.accuracy == Accuracy.TEMPORAL
    run_setups(events, gb.setups)
    ltc = left_time_column or gb.time_column
    ev = _normalize_events(events, gb, tiebreak)
    left_n = left.withColumn(QTS, W.ts_to_millis(left, ltc))
    q = left_n.select(*gb.keys, QTS).distinct()

    def _routed(aggs: list[Aggregation], ops) -> list[Aggregation]:
        return [a for a in aggs if a.operation in ops and _hop_aligned(a)]

    direct, bucketed, mapops = _split_passes(gb)
    fast = _routed(direct, SLIDING_OPS) if strategy == "auto" else []
    rest = [a for a in direct if a not in fast]
    # the cascade takes what sliding cannot merge as window functions
    # (sketches, decayed and moment ops), or under "hops" every hop-mergeable
    # op: bounded fan-out beats the exact range join on hot keys
    mid = _routed(rest, O.HOP_MERGEABLE_OPS) if strategy != "exact" else []
    rest = [a for a in rest if a not in mid]
    parts: list[DataFrame] = []
    if mid:
        parts.append(_temporal_pass_hops(q, ev, gb, mid, tiebreak))
    if fast:
        parts.append(temporal_pass_sliding(q, ev, gb, fast, tiebreak))
    if rest:
        parts.append(_temporal_pass_exact(q, ev, gb, rest, tiebreak))

    use_tiled_maps = (
        strategy == "auto"
        and _presence_window_aligned(gb) is not False
        and all(_routed(aggs, SLIDING_OPS) == aggs for aggs in bucketed.values())
    )
    for bcol, aggs in bucketed.items():
        if use_tiled_maps:
            parts.append(bucketed_pass_sliding(q, ev, gb, bcol, aggs, tiebreak))
        else:
            parts.append(_bucket_pass(q, ev, gb, bcol, aggs, tiebreak))
    for a in mapops:
        if use_tiled_maps and _hop_aligned(a):
            parts.append(histogram_pass_sliding(q, ev, gb, a, tiebreak))
        else:
            parts.append(_histogram_pass(q, ev, gb, a, tiebreak))

    # direct passes are row-complete (one output row per query row); bucket/
    # histogram passes emit only rows with qualifying events, so when NO
    # direct pass exists the assembly must anchor on the query frame or a
    # row missing from parts[0] silently nulls every later part's feature
    if direct:
        feat, rest_parts = parts[0], parts[1:]
    else:
        feat, rest_parts = q, parts
    for p in rest_parts:
        feat = feat.join(p, [*gb.keys, QTS], "left")
    out = left_n.join(feat, [*gb.keys, QTS], "left").drop(QTS)
    return _apply_derivations(out, gb, keep=list(left.columns))


def snapshot_events(
    events: DataFrame,
    gb: GroupBy,
    start_ds: str | None = None,
    end_ds: str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """End-of-day features per (key, ds) for the days each key is COVERED.

    Window semantics: an N-day window at partition ds covers
    ``[epoch(ds)+1d - N, epoch(ds)+1d)`` — N whole days ending at the end of
    ds (reference oracle GroupByTest.scala:57-66,109-121).

    Output rows: NOT the full key x day grid. A key emits a row for day d
    only while some window can still observe one of its events — each active
    day extended forward by ceil(max_window/1d)-1 days; with any unwindowed
    (lifetime) aggregation, every day from the key's first event to the
    range end. This mirrors the reference's "filter out if all the IRs are
    null" (GroupBy.scala:155-160: fully-null rows are never emitted) and is
    what makes the plan scale: the grid is proportional to the non-null
    OUTPUT, not keys x days (at 10^6 keys x 365 days the full grid
    materializes billions of rows that are immediately discarded).
    """
    run_setups(events, gb.setups)
    ev = _normalize_events(events, gb, tiebreak)
    if start_ds is None or end_ds is None:
        lo, hi = ev.select(F.min(ETS), F.max(ETS)).first()
        if lo is None:
            # empty source, no explicit range: empty coverage grid (not a
            # TypeError) — the passes below run over zero rows and return
            # the correct (empty) output schema
            start_ms = end_ms = 0
        else:
            start_ms = lo - lo % DAY_MS
            end_ms = hi - hi % DAY_MS
    else:
        import calendar
        import datetime as _dt

        # calendar.timegm: ds labels are UTC regardless of the host timezone
        # (naive strptime().timestamp() would shift the grid on non-UTC hosts)
        def _utc_ms(ds: str) -> int:
            return calendar.timegm(_dt.datetime.strptime(ds, "%Y-%m-%d").timetuple()) * 1000

        start_ms = _utc_ms(start_ds)
        end_ms = _utc_ms(end_ds)
    max_w = gb.max_window_millis()
    ev_day = F.col(ETS) - F.pmod(F.col(ETS), F.lit(DAY_MS))
    if max_w is None:
        # lifetime aggregations carry forward indefinitely: cover every day
        # from the key's first event through the end of the range
        firsts = ev.groupBy(*gb.keys).agg(F.min(ev_day).alias("__d0"))
        span = F.sequence(
            F.greatest(F.col("__d0"), F.lit(start_ms)), F.lit(end_ms), F.lit(DAY_MS)
        )
        grid = firsts.where(F.col("__d0") <= end_ms).select(
            *gb.keys, F.explode(span).alias("__day_ms")
        )
    else:
        # an event at t is observable at EODs in (t, t + max_w]: its own day
        # plus at most ceil(max_w/1d) - 1 following days
        ext_days = max(0, -(-max_w // DAY_MS) - 1)
        span = F.sequence(
            F.col("__d0"), F.col("__d0") + F.lit(ext_days * DAY_MS), F.lit(DAY_MS)
        )
        grid = (
            ev.select(*gb.keys, ev_day.alias("__d0"))
            .distinct()
            .select(*gb.keys, F.explode(span).alias("__day_ms"))
            .where((F.col("__day_ms") >= start_ms) & (F.col("__day_ms") <= end_ms))
            .distinct()
        )
    # snapshot-as-of-ds == temporal query at next midnight (end of ds)
    grid = grid.withColumn(QTS, F.col("__day_ms") + F.lit(DAY_MS))
    gb_snap = GroupBy(
        name=gb.name,
        keys=gb.keys,
        aggregations=[_day_rounded(a) for a in gb.aggregations],
        accuracy=Accuracy.TEMPORAL,
        time_column=gb.time_column,
        derivations=gb.derivations,
    )
    direct, bucketed, mapops = _split_passes(gb_snap)
    parts: list[DataFrame] = []
    if direct:
        parts.append(_temporal_pass_exact(grid, ev, gb_snap, direct, tiebreak))
    for bcol, aggs in bucketed.items():
        parts.append(_bucket_pass(grid, ev, gb_snap, bcol, aggs, tiebreak))
    for a in mapops:
        parts.append(_histogram_pass(grid, ev, gb_snap, a, tiebreak))
    # same anchoring rule as temporal_events: bucket/histogram passes are not
    # row-complete, so without a direct pass the coverage grid is the anchor
    if direct:
        feat, rest_parts = parts[0], parts[1:]
    else:
        feat, rest_parts = grid.select(*gb_snap.keys, QTS), parts
    for p in rest_parts:
        feat = feat.join(p, [*gb_snap.keys, QTS], "left")
    out = feat.withColumn(
        "ds", F.date_format((F.col(QTS) / 1000 - DAY_MS / 1000).cast("timestamp"), "yyyy-MM-dd")
    ).drop(QTS)
    return _apply_derivations(out, gb, keep=[*gb.keys, "ds"])


def _day_rounded(a: Aggregation) -> Aggregation:
    """Snapshot windows are exact multiples of days ending at midnight, so the
    sawtooth tail rounding is a no-op for day-unit windows; windows pass
    through unchanged (queries sit exactly on day boundaries)."""
    return a


def snapshot_entities(
    snapshots: DataFrame, gb: GroupBy, ds_column: str = "ds"
) -> DataFrame:
    """Entity (dimension snapshot) GroupBy: aggregate each day's snapshot rows
    per key with windowed update ``ts < epoch(ds)+1d`` (reference
    GroupBy.scala:99-141). Input already carries a ds partition column."""
    run_setups(snapshots, gb.setups)
    day_ms = W.to_millis(F.to_timestamp(F.col(ds_column)))
    ev = snapshots.withColumn(ETS, W.ts_to_millis(snapshots, gb.time_column)).withColumn(
        QTS, day_ms + F.lit(DAY_MS)
    )
    exprs = []
    for a in gb.aggregations:
        for w, _ in a.unpacked():
            if w is None:
                mask = F.col(ETS) < F.col(QTS)
            else:
                mask = (F.col(ETS) < F.col(QTS)) & (
                    F.col(ETS) >= F.col(QTS) - F.lit(w.millis)
                )
            val = F.when(mask, F.col(a.input_column))
            ts = F.when(mask, F.col(ETS))
            exprs.append(
                O.direct_agg(a, val, ts, None, q_ts=F.col(QTS)).alias(a.output_name(w, None))
            )
    out = ev.groupBy(*gb.keys, ds_column).agg(*exprs)
    return _apply_derivations(out, gb, keep=[*gb.keys, ds_column])
