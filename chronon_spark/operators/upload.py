"""Batch IR upload + lambda-merge fetch — the online-serving slice, offline.

Reference lifecycle: GroupByUpload runs the batch engine with
``finalize=false`` and writes NORMALIZED intermediate representations to the
KV store (spark/src/main/scala/ai/chronon/spark/GroupByUpload.scala:38-105);
SawtoothOnlineAggregator splits each key's batch IR into a COLLAPSED IR
(the region every in-day request observes) plus TAIL HOP tiles (the region
whose inclusion depends on the request's sawtooth tail), and the Fetcher
lambda-merges batch IR + streaming events at request time
(aggregator/src/main/scala/ai/chronon/aggregator/windowing/
SawtoothOnlineAggregator.scala:29-170, lambdaAggregateIr L83-155;
online/src/main/scala/ai/chronon/online/FetcherBase.scala).

Spark-first re-expression. With batch end T (midnight after the last
materialized day), tail hop h, window w, and requests ts in [T, T+horizon):

    tail(ts, w) = floor(ts, h) - w      ranges over [T - w, T + horizon - h - w]

so the batch region [tail(ts,w), T) splits into

    COLLAPSED  [T + horizon - h - w, T)   — in every request's window
    TAIL TILES [T - w, T + horizon - h - w) at resolution h — a tile is in
               the window iff tile_start >= tail(ts, w)

and the streaming side contributes raw events in [T, ts) under the same
sawtooth mask. ``fetch_features`` merges the three branches per request and
finalizes — and must be value-identical to running ``temporal_events`` over
the full unified log, which is exactly what the tests assert.

The un-aggregated KV write path (streaming/GroupBy.scala:150-198 — raw
keyed event rows, aggregation deferred to the fetcher) is ``kv_event_rows``.

Upload-table contract, with one writer (``write_upload_tables``, used by
``group-by-upload``) and one reader (``read_upload_tables``, used by
``fetch``, ``online.Fetcher`` and the HTTP service):

- GroupBy ``gb`` uploads the two ``upload_batch_irs`` frames as the
  day-partitioned tables ``{gb}_upload_collapsed`` and ``{gb}_upload_tail``
  under an upload root (any ``tableio.resolve_table`` root), overwriting
  partition ``ds = batch_end_ds`` and stamping its lineage with
  ``semantic_hash = gb.semantic_hash()``.
- The reader serves only IRs computed under the definition it is given: a
  partition without the stamp raises ``StaleUploadError`` with code
  ``MISSING_UPLOAD_LINEAGE``, one with another hash raises it with code
  ``STALE_UPLOAD``; both messages name the remedy (re-run group-by-upload).
  ``fetch`` reports the code per join part, the service answers 503 with it.
- A selection GroupBy (no aggregations) has no upload tables; its fetch
  takes an explicit snapshot frame in ``fetch_join``'s ``batch``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronon_spark.api import Accuracy, Aggregation, GroupBy, Op, Window
from chronon_spark.functions import heavy_hitters as HH
from chronon_spark.functions import ops as O
from chronon_spark.operators.groupby import (
    ETS,
    QTS,
    TILE,
    _normalize_events,
    run_setups,
)
from chronon_spark.plans import windows as W

RES = "__res_ms"
DAY_MS = W.MS_PER_DAY
BRANCH = "__branch"  # 0 = collapsed, 1 = tail tile, 2 = streaming head


UPLOAD_TABLES = ("upload_collapsed", "upload_tail")


class StaleUploadError(RuntimeError):
    """Uploaded IRs that this GroupBy definition may not lambda-merge:
    ``code`` is ``STALE_UPLOAD`` (computed under another definition) or
    ``MISSING_UPLOAD_LINEAGE`` (no definition stamp to verify)."""

    def __init__(self, message: str, code: str = "STALE_UPLOAD"):
        super().__init__(message)
        self.code = code


def write_upload_tables(
    spark, root: str, gb: GroupBy, batch_end_ds: str, frames: tuple[DataFrame, DataFrame]
) -> dict:
    """Write ``gb``'s upload tables (module docstring); {suffix: table}."""
    from chronon_spark.sources.tableio import insert_overwrite_partitions, resolve_table

    tables = {}
    for suffix, frame in zip(UPLOAD_TABLES, frames):
        t = resolve_table(spark, root, f"{gb.name}_{suffix}")
        insert_overwrite_partitions(frame.withColumn("ds", F.lit(batch_end_ds)), t)
        t.write_lineage(batch_end_ds, {"semantic_hash": gb.semantic_hash()})
        tables[suffix] = t
    return tables


def read_upload_tables(
    spark, root: str, gb: GroupBy, batch_end_ds: str
) -> tuple[DataFrame, DataFrame]:
    """``gb``'s verified (collapsed, tail_tiles) at ``batch_end_ds``
    (module docstring)."""
    from chronon_spark.sources.tableio import resolve_table

    if gb.aggregations is None:
        raise ValueError(
            f"selection part '{gb.name}' has no uploaded IR tables; "
            "use operators.upload.fetch_join with a snapshot frame"
        )
    frames = []
    for suffix in UPLOAD_TABLES:
        t = resolve_table(spark, root, f"{gb.name}_{suffix}")
        where = f"{gb.name}_{suffix}@{batch_end_ds}"
        lin = (t.lineage(batch_end_ds) or {}).get("semantic_hash")
        if lin is None:
            raise StaleUploadError(
                f"{where} has no upload lineage to verify against the current "
                "definition — re-run group-by-upload",
                code="MISSING_UPLOAD_LINEAGE",
            )
        if lin != gb.semantic_hash():
            raise StaleUploadError(
                f"{where}: uploaded hash {lin} != current definition "
                f"{gb.semantic_hash()} — re-run group-by-upload"
            )
        frames.append(t.read(spark).where(F.col("ds") == batch_end_ds).drop("ds"))
    return frames[0], frames[1]


def _batch_end_ms(batch_end_ds: str) -> int:
    import calendar
    import datetime as _dt

    day = calendar.timegm(_dt.datetime.strptime(batch_end_ds, "%Y-%m-%d").timetuple())
    return day * 1000 + DAY_MS


def _check_aligned(w: Window | None, horizon_ms: int | None):
    # the tail-tile band math assumes hop-aligned windows (and a
    # horizon the hop divides) — the same invariant the offline
    # router enforces by falling back to the exact estimator; the
    # serving path has no fallback, so reject instead of silently
    # under/over-counting the tail band
    if w is None:
        return
    hop = w.tail_hop_millis()
    if w.millis % hop != 0:
        raise ValueError(
            f"upload requires hop-aligned windows; {w.suffix} is "
            f"not a multiple of its {hop}ms sawtooth tail hop"
        )
    if horizon_ms is not None and horizon_ms % hop != 0:
        raise ValueError(
            f"upload horizon {horizon_ms}ms must be a multiple "
            f"of window {w.suffix}'s {hop}ms tail hop"
        )


def _pairs(gb: GroupBy, horizon_ms: int | None = None):
    """(scalar_pairs, mg_slots, dk_slots): scalar (agg, window) pairs carry
    ops.partial_cols slot IRs ``p{i}__*``; mg slots (``p{i}__mg``, agg,
    window) are APPROX_HISTOGRAM_K aggregations served as bounded
    Misra-Gries map<string,bigint> IR columns; dk slots (``p{i}``, agg,
    window) are TIME_DECAYED aggregations served as bounded halflife-bucket
    maps (collapsed region) + unweighted tail-tile sums weighted at fetch
    time. Slot indices number scalar pairs first, then mg, then dk, so IR
    column names stay stable whichever mix a GroupBy declares."""
    scalar, mg, dk = [], [], []
    for a in gb.aggregations:
        if a.operation in O.DECAYED_OPS and not a.buckets:
            h_ms, _cap = O._decay_params(a)  # validates halflife + cap
            for w, _ in a.unpacked():
                _check_aligned(w, horizon_ms)
                if w is not None and h_ms % w.tail_hop_millis() != 0:
                    raise ValueError(
                        f"serving {a.operation.value}('{a.input_column}') "
                        f"requires halflife to be a whole multiple of the "
                        f"window's tail hop ({w.tail_hop_millis()} ms): each "
                        "tail tile must sit inside one halflife bucket"
                    )
                dk.append((a, w))
            continue
        if a.operation == Op.APPROX_HISTOGRAM_K and not a.buckets:
            # KV rows must be HARD-bounded: require an explicit MG cap (the
            # reference's ItemsSketch map size, SimpleAggregators.scala:
            # 458-600). The offline engine tolerates mg_cap=None because its
            # exact plan distributes the value dimension; a serving IR can't.
            if not a.mg_cap:
                raise ValueError(
                    f"serving APPROX_HISTOGRAM_K('{a.input_column}') requires "
                    "mg_cap (the Misra-Gries summary bound; estimates are "
                    "exact whenever mg_cap >= the distinct value count)"
                )
            for w, _ in a.unpacked():
                _check_aligned(w, horizon_ms)
                mg.append((a, w))
            continue
        if a.buckets or a.operation not in O.SERVING_MERGEABLE_OPS:
            raise ValueError(
                f"upload supports scalar mergeable aggregations; got "
                f"{a.operation.value} (buckets={a.buckets})"
            )
        for w, _ in a.unpacked():
            _check_aligned(w, horizon_ms)
            scalar.append((a, w))
    n = len(scalar)
    return (
        scalar,
        [(f"p{n + j}__mg", a, w) for j, (a, w) in enumerate(mg)],
        [(f"p{n + len(mg) + j}", a, w) for j, (a, w) in enumerate(dk)],
    )


def _stable_lo(w: Window | None, batch_end: int, horizon_ms: int) -> int | None:
    """Start of the collapsed region for window w (None = lifetime: whole
    history is collapsed)."""
    if w is None:
        return None
    return batch_end + horizon_ms - w.tail_hop_millis() - w.millis


def upload_batch_irs(
    events: DataFrame,
    gb: GroupBy,
    batch_end_ds: str,
    horizon_ms: int = DAY_MS,
    tiebreak: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Normalized batch IRs as of the end of ``batch_end_ds``.

    Returns (collapsed, tail_tiles):
    - ``collapsed``: one row per key; per-(agg, window) IR slot columns
      ``p{i}__*`` aggregated over that pair's collapsed region;
    - ``tail_tiles``: (keys, __res_ms, __tile_ms, p{i}__*) hop tiles covering
      each pair's ambiguous tail band at its own resolution.

    Both frames are partial/merge-able (the reference's normalizeBatchIr
    contract): ``fetch_features`` — or a real KV fetcher — merges them with
    streaming events without touching the batch log again.

    ``batch_end_ds`` is a UTC day (the ds partition contract,
    api/.../PartitionSpec.scala): events at or after UTC midnight following
    it are excluded here and MUST be on the caller's stream side. Splitting
    batch/stream on local-time day boundaries under a non-UTC session
    silently drops the overlap hours from both sides.
    """
    assert gb.accuracy == Accuracy.TEMPORAL
    run_setups(events, gb.setups)
    ev = _normalize_events(events, gb, tiebreak)
    batch_end = _batch_end_ms(batch_end_ds)
    ev = ev.where(F.col(ETS) < batch_end)
    pairs, mg_slots, dk_slots = _pairs(gb, horizon_ms)
    tb = F.col(tiebreak) if tiebreak else F.lit(0)

    collapsed_exprs = {}
    for i, (a, w) in enumerate(pairs):
        lo = _stable_lo(w, batch_end, horizon_ms)
        mask = F.lit(True) if lo is None else (F.col(ETS) >= F.lit(lo))
        val = F.when(mask, F.col(a.input_column))
        ts = F.when(mask, F.col(ETS))
        collapsed_exprs.update(O.partial_cols(a, val, ts, F.when(mask, tb), f"p{i}"))
    # two-phase: partial per (keys, day), then merge per key. A single-phase
    # aggregation materializes a whole collapsed region in ONE transient
    # buffer for list-shaped IRs (collect_list runs before the cap/slice),
    # which OOMs on a 100M-event hot key; per-day buffers are bounded by
    # daily volume and the merge buffer by days x capped-IR size. Valid for
    # every serving op because the IRs are monoids (merge of per-day
    # partials == the direct partial; the fetch differential tests cover
    # each op kind through this path).
    if pairs:
        daily = ev.withColumn("__day", W.round_down(F.col(ETS), DAY_MS)).groupBy(
            *gb.keys, "__day"
        ).agg(*[c.alias(n) for n, c in collapsed_exprs.items()])
        merge_exprs: dict = {}
        for i, (a, _w) in enumerate(pairs):
            merge_exprs.update(O.merge_cols(a, f"p{i}"))
        collapsed = daily.groupBy(*gb.keys).agg(
            *[c.alias(n) for n, c in merge_exprs.items()]
        )
    else:
        collapsed = ev.select(*gb.keys).distinct()
    # MG pairs: one bounded map<string,bigint> IR column per pair. The value
    # dimension stays DISTRIBUTED until the final per-key fold (groupBy
    # (keys, value) -> Misra-Gries window compress -> map assembly), so no
    # step buffers more than cap entries per key — the same discipline as
    # plans/sliding's tile compression, folded to the KV-row shape.
    for name, a, w in mg_slots:
        lo = _stable_lo(w, batch_end, horizon_ms)
        region = ev if lo is None else ev.where(F.col(ETS) >= F.lit(lo))
        m = _mg_region_map(region, gb.keys, a, name)
        collapsed = collapsed.join(m, gb.keys, "left")
    # TIME_DECAYED pairs: collapsed region as a bounded halflife-bucket map
    # (weights depend on the REQUEST time, so the region cannot be
    # pre-weighted — but each bucket has one weight per request)
    for slot, a, w in dk_slots:
        lo = _stable_lo(w, batch_end, horizon_ms)
        region = ev if lo is None else ev.where(F.col(ETS) >= F.lit(lo))
        m = _dk_collapsed_map(region, gb, a, batch_end, f"{slot}__dm")
        collapsed = collapsed.join(m, gb.keys, "left")

    # tail bands grouped by resolution; every pair's IR columns present in
    # every band table (nulls where the pair doesn't use that resolution)
    all_cols: dict[str, object] = {}
    for i, (a, _w) in enumerate(pairs):
        all_cols.update(O.partial_cols(a, F.col(a.input_column), F.col(ETS), tb, f"p{i}"))
    mg_nulls = {name: F.lit(None).cast(HH._MAP_T) for name, _a, _w in mg_slots}
    dk_nulls = {
        f"{slot}__ts": F.lit(None).cast(_dk_sum_type(ev, a))
        for slot, a, w in dk_slots
        if w is not None
    }
    by_hop: dict[int, list[int]] = {}
    for i, (a, w) in enumerate(pairs):
        if w is not None:
            by_hop.setdefault(w.tail_hop_millis(), []).append(i)
    tile_frames = []
    for h, idxs in sorted(by_hop.items()):
        lo = batch_end - max(pairs[i][1].millis for i in idxs)
        hi = max(_stable_lo(pairs[i][1], batch_end, horizon_ms) for i in idxs)
        band = _band(ev, lo, hi, h)
        exprs = {}
        for i in idxs:
            a = pairs[i][0]
            exprs.update(O.partial_cols(a, F.col(a.input_column), F.col(ETS), tb, f"p{i}"))
        t = band.groupBy(*gb.keys, TILE).agg(*[c.alias(n) for n, c in exprs.items()])
        for n, _c in all_cols.items():
            if n not in t.columns:
                t = t.withColumn(n, F.lit(None))
        tile_frames.append(
            t.withColumn(RES, F.lit(h)).select(
                *gb.keys, RES, TILE, *all_cols,
                *[c.alias(n) for n, c in mg_nulls.items()],
                *[c.alias(n) for n, c in dk_nulls.items()],
            )
        )
    # MG tail tiles ride as their own rows (scalar slots null) — branch
    # merge at fetch time sums each slot over its non-null contributions,
    # so mixed-slot rows and dedicated rows are equivalent
    def tail_bands(slots):
        # (slot, agg, hop, band) per windowed slot with a non-empty tail band
        for slot, a, w in slots:
            if w is None:
                continue
            h = w.tail_hop_millis()
            lo, hi = batch_end - w.millis, _stable_lo(w, batch_end, horizon_ms)
            if hi > lo:
                yield slot, a, h, _band(ev, lo, hi, h)

    for name, a, h, band in tail_bands(mg_slots):
        m = _mg_region_map(band, [*gb.keys, TILE], a, name)
        tile_frames.append(
            m.select(
                *gb.keys,
                F.lit(h).alias(RES),
                F.col(TILE),
                *[F.lit(None).alias(n) for n in all_cols],
                *[
                    (F.col(n2) if n2 == name else F.lit(None).cast(HH._MAP_T)).alias(n2)
                    for n2 in mg_nulls
                ],
                *[c.alias(n) for n, c in dk_nulls.items()],
            )
        )
    # TIME_DECAYED tail tiles: unweighted per-tile sums (one halflife bucket
    # per tile by the _pairs alignment contract) — the request-time weight
    # is applied entirely at fetch from the tile start
    for slot, a, h, band in tail_bands(dk_slots):
        name = f"{slot}__ts"
        t = (
            band.where(F.col(a.input_column).isNotNull())
            .groupBy(*gb.keys, TILE)
            .agg(F.sum(_dk_base(a)).alias(name))
        )
        tile_frames.append(
            t.select(
                *gb.keys,
                F.lit(h).alias(RES),
                F.col(TILE),
                *[F.lit(None).alias(n) for n in all_cols],
                *[F.lit(None).cast(HH._MAP_T).alias(n) for n in mg_nulls],
                *[
                    (F.col(n2) if n2 == name else dk_nulls[n2]).alias(n2)
                    for n2 in dk_nulls
                ],
            )
        )
    if tile_frames:
        tiles = tile_frames[0]
        for t in tile_frames[1:]:
            tiles = tiles.unionByName(t)
        # a slot whose pair has no band at SOME resolution rides as
        # F.lit(None); if no band types it, the column lands as NullType
        # (void) — cast those to the collapsed frame's slot types so the
        # tiles schema is fully typed (parquet- and codec-clean)
        from pyspark.sql import types as ST

        ctypes = {f.name: f.dataType for f in collapsed.schema.fields}
        for f in tiles.schema.fields:
            if isinstance(f.dataType, ST.NullType) and f.name in ctypes:
                tiles = tiles.withColumn(f.name, F.col(f.name).cast(ctypes[f.name]))
    else:
        tiles = collapsed.limit(0).select(
            *gb.keys, F.lit(0).alias(RES), F.lit(0).alias(TILE), *all_cols,
            *[c.alias(n) for n, c in mg_nulls.items()],
            *[c.alias(n) for n, c in dk_nulls.items()],
        ).limit(0)
    return collapsed, tiles


def _band(ev: DataFrame, lo: int, hi: int, h: int) -> DataFrame:
    """Events in [lo, hi), each stamped with its hop-``h`` tile start."""
    return ev.where((F.col(ETS) >= lo) & (F.col(ETS) < hi)).withColumn(
        TILE, W.round_down(F.col(ETS), h)
    )


def _mg_region_map(region: DataFrame, group_cols: list[str], a: Aggregation, out_name: str) -> DataFrame:
    """Misra-Gries map IR over one region: exact distributed value counts,
    MG-compressed to ``a.mg_cap`` rows per group, folded to one
    map<string,bigint> per group (estimates exact whenever mg_cap >= the
    group's distinct count — the lossless parameterization the differential
    tests gate on)."""
    vs = F.col(a.input_column).cast("string")
    counts = (
        region.where(F.col(a.input_column).isNotNull())
        .groupBy(*group_cols, vs.alias("__mg_v"))
        .agg(F.count(F.lit(1)).alias("__mg_n"))
    )
    comp = HH.mg_compress(counts, group_cols, "__mg_v", "__mg_n", a.mg_cap)
    return HH.summary_map(comp, group_cols, "__mg_v").withColumnRenamed(
        "__mg_map", out_name
    )


def _dk_sum_type(ev: DataFrame, a: Aggregation) -> str:
    """Spark type of sum(_dk_base): long for COUNT/integral inputs, double
    otherwise (matches HashAggregate's sum promotion)."""
    from pyspark.sql import types as ST

    if a.operation == Op.TIME_DECAYED_COUNT:
        return "long"
    dt = ev.schema[a.input_column].dataType
    if isinstance(dt, (ST.ByteType, ST.ShortType, ST.IntegerType, ST.LongType)):
        return "long"
    return "double"


def _dk_base(a: Aggregation) -> Column:
    """Unweighted per-event contribution (1 for COUNT, the value for SUM)."""
    if a.operation == Op.TIME_DECAYED_COUNT:
        return F.when(F.col(a.input_column).isNotNull(), F.lit(1).cast("long"))
    return F.col(a.input_column)


def _dk_collapsed_map(
    region: DataFrame, gb: GroupBy, a: Aggregation, batch_end: int, out_name: str
) -> DataFrame:
    """Collapsed-region IR for one TIME_DECAYED pair: map<string halflife
    bucket -> unweighted sum>. Buckets already >= decay_cap halflives old at
    ``batch_end`` can only get older at fetch time — their weight is pinned
    at 2^-cap — so they merge into ONE 'ancient' bucket, bounding the map at
    cap + window/halflife + horizon/halflife entries even for lifetime
    aggregations over unbounded history."""
    h_ms, cap = O._decay_params(a)
    ancient_b = batch_end // h_ms - cap
    b = F.greatest(O.halflife_bucket(a, F.col(ETS)), F.lit(ancient_b))
    per_bucket = (
        region.where(F.col(a.input_column).isNotNull())
        .groupBy(*gb.keys, b.alias("__hb"))
        .agg(F.sum(_dk_base(a)).alias("__hv"))
    )
    return per_bucket.groupBy(*gb.keys).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__hb").cast("string"), F.col("__hv")))
        ).alias(out_name)
    )


def _dk_fold_map(a: Aggregation, dm: Column, q_ts: Column, acc_type: str) -> Column:
    """Fetch-time weighted fold of a collapsed halflife-bucket map: each
    entry's sum scaled by 2^(cap - min(request_bucket - bucket, cap)).
    ``acc_type`` keeps integral inputs in int64 (bit-exact vs offline)."""
    qb = O.halflife_bucket(a, q_ts)
    return F.aggregate(
        F.map_entries(dm),
        F.lit(0).cast(acc_type),
        lambda acc, e: acc
        + e["value"]
        * O.decayed_weight_from_age(a, qb - e["key"].cast("long")),
    )


def fetch_features(
    requests: DataFrame,
    collapsed: DataFrame,
    tail_tiles: DataFrame,
    stream_events: DataFrame,
    gb: GroupBy,
    batch_end_ds: str,
    horizon_ms: int = DAY_MS,
    left_time_column: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Batch-simulated Fetcher.fetchJoin: per request row (keys, ts in
    [batch_end, batch_end + horizon)), merge collapsed IR + the tail tiles
    inside the window's band + streaming events under the sawtooth mask,
    then finalize. Value-identical to ``temporal_events`` over the unified
    log (the lambda-architecture invariant the reference gets from
    lambdaAggregateIr)."""
    assert gb.accuracy == Accuracy.TEMPORAL
    batch_end = _batch_end_ms(batch_end_ds)
    pairs, mg_slots, dk_slots = _pairs(gb, horizon_ms)
    tb = F.col(tiebreak) if tiebreak else F.lit(0)

    left_n = requests.withColumn(QTS, W.ts_to_millis(requests, left_time_column))
    q = left_n.select(*gb.keys, QTS).distinct()

    all_cols: dict[str, object] = {}
    for i, (a, _w) in enumerate(pairs):
        all_cols.update(O.partial_cols(a, F.col(a.input_column), F.col(ETS), tb, f"p{i}"))
    ir_names = list(all_cols.keys()) + [name for name, _a, _w in mg_slots]
    # TIME_DECAYED IR columns live in different frames: __dm maps on the
    # collapsed row, __ts sums on tail tiles, __hs pre-weighted scaled sums
    # on the streaming head — each branch null-fills the others' columns
    dm_types = {
        f"{slot}__dm": collapsed.schema[f"{slot}__dm"].dataType
        for slot, _a, _w in dk_slots
    }
    ts_types = {
        f"{slot}__ts": tail_tiles.schema[f"{slot}__ts"].dataType
        for slot, _a, w in dk_slots
        if w is not None
    }
    hs_types = {
        f"{slot}__hs": dm_types[f"{slot}__dm"].valueType
        for slot, _a, _w in dk_slots
    }
    dk_names = [*dm_types, *ts_types, *hs_types]

    def _dk_fill(have: list[str]) -> list:
        cols = []
        for n in dk_names:
            if n in have:
                cols.append(F.col(n))
            else:
                t = {**dm_types, **ts_types, **hs_types}[n]
                cols.append(F.lit(None).cast(t).alias(n))
        return cols

    # branch 0: collapsed IR per key (one row, always included)
    b0j = q.join(collapsed, gb.keys, "left")
    b0 = b0j.select(
        *gb.keys, QTS, F.lit(0).alias(BRANCH), F.lit(0).alias(RES),
        F.lit(0).cast("long").alias(TILE), *ir_names,
        *_dk_fill(list(dm_types)),
    )
    # branch 1: tail tiles — bounded fan-out (at most horizon/h tiles/window)
    ta = tail_tiles.select(
        *[F.col(k).alias(f"__e_{k}") for k in gb.keys], RES, TILE, *ir_names,
        *list(ts_types),
    )
    kcond = F.lit(True)
    for k in gb.keys:
        kcond = kcond & (F.col(k) == F.col(f"__e_{k}"))
    b1 = q.join(ta, kcond, "inner").select(
        *gb.keys, QTS, F.lit(1).alias(BRANCH), RES, F.col(TILE), *ir_names,
        *_dk_fill(list(ts_types)),
    )
    # branch 2: streaming head — per-pair sawtooth-masked partials
    sev = _normalize_events(stream_events, gb, tiebreak).where(
        (F.col(ETS) >= batch_end) & (F.col(ETS) < batch_end + horizon_ms)
    )
    se = sev.select(*[F.col(k).alias(f"__e_{k}") for k in gb.keys],
                    *[c for c in sev.columns if c not in gb.keys])
    jh = q.join(se, kcond & (F.col(ETS) < F.col(QTS)), "inner")
    branches = [b0, b1]
    if pairs or dk_slots:
        head_exprs = {}
        for i, (a, w) in enumerate(pairs):
            mask = W.in_window(F.col(ETS), F.col(QTS), w)
            val = F.when(mask, F.col(a.input_column))
            ts = F.when(mask, F.col(ETS))
            head_exprs.update(O.partial_cols(a, val, ts, F.when(mask, tb), f"p{i}"))
        # TIME_DECAYED streaming head: the request time is on every joined
        # row, so the head partial is the ALREADY-weighted scaled sum
        for slot, a, w in dk_slots:
            mask = W.in_window(F.col(ETS), F.col(QTS), w)
            wgt = O.decayed_weight(a, F.col(QTS), F.when(mask, F.col(ETS)))
            head_exprs[f"{slot}__hs"] = F.sum(
                F.when(mask, _dk_base(a)) * wgt
            ).cast(hs_types[f"{slot}__hs"])
        branches.append(
            jh.groupBy(*gb.keys, QTS)
            .agg(*[c.alias(n) for n, c in head_exprs.items()])
            .select(
                *gb.keys, QTS, F.lit(2).alias(BRANCH), F.lit(0).alias(RES),
                F.lit(0).cast("long").alias(TILE),
                *[n for n in all_cols],
                *[F.lit(None).cast(HH._MAP_T).alias(n) for n, _a, _w in mg_slots],
                *_dk_fill(list(hs_types)),
            )
        )
    # MG streaming heads: one row per (request, pair), the pair's window
    # mask applied BEFORE summarization and the summary compressed to
    # mg_cap — the head stays hard-bounded even on a hot key's busy day
    for name, a, w in mg_slots:
        m = _mg_region_map(
            jh.where(W.in_window(F.col(ETS), F.col(QTS), w)),
            [*gb.keys, QTS], a, name,
        )
        branches.append(
            m.select(
                *gb.keys, QTS, F.lit(2).alias(BRANCH), F.lit(0).alias(RES),
                F.lit(0).cast("long").alias(TILE),
                *[F.lit(None).alias(n) for n in all_cols],
                *[
                    (F.col(n2) if n2 == name else F.lit(None).cast(HH._MAP_T)).alias(n2)
                    for n2, _a, _w in mg_slots
                ],
                *_dk_fill([]),
            )
        )
    unioned = branches[0]
    for b in branches[1:]:
        unioned = unioned.unionByName(b)

    def _in_band(w):
        # a tail tile of w's resolution inside the request's sawtooth window
        return (
            (F.col(BRANCH) == 1)
            & (F.col(RES) == w.tail_hop_millis())
            & (F.col(TILE) >= W.sawtooth_tail(F.col(QTS), w))
            & (F.col(TILE) < F.lit(_stable_lo(w, batch_end, horizon_ms)))
        )

    def _include(w):
        inc = (F.col(BRANCH) == 0) | (F.col(BRANCH) == 2)
        return inc if w is None else inc | _in_band(w)

    merge_exprs = []
    for i, (a, w) in enumerate(pairs):
        merged = O.merge_cols(a, f"p{i}", mask=_include(w))
        merge_exprs.append(O.finalize(a, f"p{i}", merged).alias(a.output_name(w, None)))
    for name, a, w in mg_slots:
        # lambda merge for a histogram: entry-wise sum of the contributing
        # summaries (collapsed + in-band tail tiles + masked head), then the
        # offline finalize (top-k by (count desc, value desc), NULL if
        # empty). No re-compression after the sum: component estimates never
        # exceed true counts, so the summed estimate keeps the mergeable-
        # summaries bound true - est <= n_window/(mg_cap+1) while staying as
        # tight as the inputs allow.
        maps = F.collect_list(F.when(_include(w), F.col(name)))
        merge_exprs.append(
            HH.topk_map_expr(HH.merge_summary_maps(maps), a.k).alias(
                a.output_name(w, None)
            )
        )
    for slot, a, w in dk_slots:
        # TIME_DECAYED lambda merge: fold the collapsed halflife-bucket map
        # at the request's bucket + weight in-band tail tiles from their
        # tile start + the pre-weighted streaming head; one 2^-cap division
        # at the end. NULL iff no region contributed (zero window events —
        # the offline engine's empty semantics).
        from pyspark.sql import types as ST

        acc_t = "long" if isinstance(hs_types[f"{slot}__hs"], ST.LongType) else "double"
        col_part = F.sum(
            F.when(
                F.col(BRANCH) == 0,
                _dk_fold_map(a, F.col(f"{slot}__dm"), F.col(QTS), acc_t),
            )
        )
        parts = [col_part]
        if w is not None:
            w_tile = O.decayed_weight(a, F.col(QTS), F.col(TILE))
            parts.append(F.sum(F.when(_in_band(w), F.col(f"{slot}__ts") * w_tile)))
        parts.append(F.sum(F.col(f"{slot}__hs")))
        all_null = parts[0].isNull()
        for p in parts[1:]:
            all_null = all_null & p.isNull()
        total = F.when(
            ~all_null,
            sum([F.coalesce(p, F.lit(0)) for p in parts[1:]], F.coalesce(parts[0], F.lit(0))),
        )
        merge_exprs.append(
            O.decayed_finalize(a, total).alias(a.output_name(w, None))
        )
    feat = unioned.groupBy(*gb.keys, QTS).agg(*merge_exprs)
    out = left_n.join(feat, [*gb.keys, QTS], "left").drop(QTS)
    from chronon_spark.operators.groupby import _apply_derivations

    return _apply_derivations(out, gb, keep=list(requests.columns))


def kv_event_rows(
    events: DataFrame, gb: GroupBy, tiebreak: str | None = None
) -> DataFrame:
    """Un-aggregated KV write rows (the reference's Spark streaming path,
    streaming/GroupBy.scala:150-198): one row per event — JSON key, event-time
    millis, JSON payload of the aggregation inputs. The fetcher (or
    ``fetch_features``' streaming branch after decode) aggregates at read
    time; no windowing happens at write time."""
    ev = _normalize_events(events, gb, tiebreak)
    payload_cols = sorted(
        {a.input_column for a in gb.aggregations} | ({tiebreak} if tiebreak else set())
    )
    return ev.select(
        F.to_json(F.struct(*[F.col(k) for k in gb.keys])).alias("key_json"),
        F.col(ETS).alias("ts_ms"),
        F.to_json(F.struct(*[F.col(c) for c in payload_cols])).alias("payload_json"),
    )


def kv_event_rows_bytes(
    events: DataFrame, gb: GroupBy, tiebreak: str | None = None
):
    """Avro-bytes twin of ``kv_event_rows``: the reference writes these rows
    through AvroCodec (streaming/GroupBy.scala:150-198 via KvRdd.toAvroDf) —
    key record = the GroupBy keys, value record = (ts_ms, aggregation
    inputs). Returns (kv_frame, KvSchemas, typed_frame);
    ``serde.decode_kv_df`` restores the typed rows for read-time
    aggregation."""
    from chronon_spark.serde import encode_kv_df

    ev = _normalize_events(events, gb, tiebreak)
    payload_cols = sorted(
        {a.input_column for a in gb.aggregations} | ({tiebreak} if tiebreak else set())
    )
    flat = ev.select(*gb.keys, F.col(ETS).alias("ts_ms"), *payload_cols)
    kv, schemas = encode_kv_df(flat, list(gb.keys), name=f"{gb.name}_events")
    return kv, schemas, flat


def fetch_join(
    requests: DataFrame,
    batch: dict[str, tuple[DataFrame, DataFrame]],
    streams: dict[str, DataFrame],
    join,
    batch_end_ds: str,
    horizon_ms: int = DAY_MS,
    tiebreak: str | None = None,
    external_registry=None,
) -> DataFrame:
    """Fetcher.fetchJoin, offline-simulated: lambda-merge every part's
    uploaded batch IRs with its stream, then assemble exactly as
    ``compute_join`` does (``join.assemble_join``) — value-identical to it
    over each part's unified batch+stream log.

    ``batch`` maps GroupBy name -> (collapsed, tail_tiles), or a selection
    part's snapshot frame; ``streams`` maps GroupBy name -> post-batch-end
    events. External parts come from ``external_registry``, degrading
    gracefully (a failing source yields an ``ext_{name}_exception`` value,
    reference fetchJoin); without one they are left out.
    """
    from chronon_spark.operators.join import assemble_join, part_output, part_query

    tc = join.time_column
    feats = []
    for part in join.join_parts:
        gb = part.group_by
        q = part_query(requests, part, tc)
        if gb.aggregations is None:
            # selection part: online the fetcher serves the LATEST uploaded
            # entity snapshot's non-key fields to every request (reference
            # FetcherBase entity GroupBys — no time engine, latest batch
            # value wins). ``batch`` maps the part to that snapshot frame.
            snap = batch[gb.name]
            if isinstance(snap, tuple):
                raise TypeError(
                    f"selection part '{gb.name}' expects a snapshot frame in "
                    "batch, not an IR pair"
                )
            if "ds" in snap.columns:
                # multi-day snapshot tables reduce to the latest partition at
                # or before batch end — without this, every request row would
                # duplicate once per ds partition
                from chronon_spark.sources.tableio import cumulative_latest

                snap = cumulative_latest(snap, ds_col="ds", end_ds=batch_end_ds)
            fields = [
                c for c in snap.columns if c not in (*gb.keys, gb.time_column)
            ]
            feat = q.join(snap.select(*gb.keys, *fields), gb.keys, "left")
        else:
            collapsed, tail = batch[gb.name]
            feat = fetch_features(
                q, collapsed, tail, streams[gb.name], gb, batch_end_ds,
                horizon_ms=horizon_ms, left_time_column=tc, tiebreak=tiebreak,
            )
        feats.append((part, part_output(feat, part, tc)))

    def externals(out, parts):
        if external_registry is None:
            return out
        return external_registry.enrich(out, parts, graceful=True)

    return assemble_join(requests, feats, join, externals)
