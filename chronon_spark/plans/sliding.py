"""Sliding-tile estimator — the skew-proof, 100TB-scale temporal engine.

Key identity: every window length is a whole multiple of its sawtooth tail
hop (windows are whole minutes/hours/days; hops are 5min/1h/1d), so

    sawtooth_tail(q, w) = floor(q, hop(w)) - w      (exactly)

and the window [tail, q) decomposes into three bands that depend on q only
through floor(q, hop) and floor(q, 5min):

    TAIL [floor(q,h)-w, floor(q,h))   per-(key) sliding RANGE window over
                                      the hop-tile table
    MID  [floor(q,h), floor(q,5m))    per-(key, hop-bucket) running prefix
                                      over the 5-minute-tile table
    HEAD [floor(q,5m), q)             raw events in the query's own
                                      5-minute bucket (strict <)

TAIL and MID are window functions over *densified* tile tables — probe rows
derived from the queries (NULL IRs) are unioned in, so bucket gaps resolve
without an as-of join — and queries fetch results by plain equi-joins on
(key, bucket). There is NO range join anywhere, so the quadratic key-group
blowup that kills equality-join plans on hot keys (a 60k-turn conversation
pairing 30k queries x 30k tiles inside one sort-merge group) cannot occur.
Per-key cost is O((tiles + probes) x frame) — linear.

This is the reference's HopsAggregator + SawtoothAggregator design
(aggregator/src/main/scala/ai/chronon/aggregator/windowing/
SawtoothAggregator.scala:64-139, HopsAggregator.scala:33-165) re-derived for
Catalyst: hop tiles = hop IRs, the densified window pass = the
(key, headStart) cogroup + computeWindows, the HEAD join = cumulate.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as SW

from chronon_spark.api import Aggregation, GroupBy, Op, Window
from chronon_spark.functions import ops as O
from chronon_spark.plans import windows as W

QTS = "__q_ts_ms"
ETS = "__e_ts_ms"
TILE = "__tile_ms"
FINEST = 300_000  # 5-minute head resolution (reference FiveMinuteResolution)
DAY_MS = 86_400_000

# ops the sliding estimator supports (hop-mergeable minus sketches whose IRs
# cannot be merged as window-function expressions — HLL buffers and KMV
# sample arrays ride the cascade tile estimator instead; TIME_DECAYED ops
# need a per-(query, tile) weight, which a plain window-frame sum over
# pre-computed tile IRs cannot express without int64-overflowing rescales,
# so they ride the cascade too)
SLIDING_OPS = (
    O.HOP_MERGEABLE_OPS
    - {Op.APPROX_UNIQUE_COUNT, Op.APPROX_PERCENTILE}
    - O.DECAYED_OPS
    # SKEW/KURTOSIS merge central-moment states with a Chan fold — exact
    # algebra but not a window-frame sum; they ride the cascade instead
    - {Op.SKEW, Op.KURTOSIS}
)


# ---------------------------------------------------------------------------
# the estimator
# ---------------------------------------------------------------------------


def _hop_of(w: Window | None, life_hop: int = DAY_MS) -> int:
    """Tail hop per window. Lifetime aggregations ride ``life_hop`` — the
    COARSEST hop group already present for windowed aggregations (their
    unbounded running prefix is one extra column over a dense tile table the
    windowed TAIL band materializes anyway: zero extra joins/shuffles), or
    1d tiles when the GroupBy is lifetime-only."""
    return life_hop if w is None else w.tail_hop_millis()


PROBE = "__probe"


def _mg_compress_tiles(
    tiles: DataFrame, gkeys: list[str], vcol: str, cnt_col: str, cap: int
) -> DataFrame:
    """Misra-Gries compression of a per-(gkeys, value, TILE) count-tile table
    to at most ``cap`` value rows per (gkeys, TILE): rank by (count desc,
    value desc), subtract the (cap+1)-th count from survivors, drop the rest.
    Probe rows (query markers) are always kept — dropping one would lose the
    query row at the TAIL equi-join. With fewer than cap+1 values the
    threshold is 0 and the summary is exact, so small-scale outputs equal the
    uncompressed plan. Estimates never exceed true counts, and any merge tree
    over these partials under-counts by at most n/(cap+1) (Agarwal et al.,
    "Mergeable Summaries", PODS'12; reference hybrid:
    aggregator/src/main/scala/ai/chronon/aggregator/base/
    SimpleAggregators.scala:458-600)."""
    wrank = SW.partitionBy(*gkeys, TILE).orderBy(
        F.col(cnt_col).desc(), F.col(vcol).cast("string").desc()
    )
    wall = SW.partitionBy(*gkeys, TILE)
    ranked = tiles.withColumn("__mg_rn", F.row_number().over(wrank))
    thresh = F.max(F.when(F.col("__mg_rn") == cap + 1, F.col(cnt_col))).over(wall)
    return (
        ranked.withColumn(
            cnt_col,
            F.greatest(F.col(cnt_col) - F.coalesce(thresh, F.lit(0)), F.lit(0)),
        )
        .where((F.col("__mg_rn") <= cap) | (F.col(PROBE) == 1))
        .drop("__mg_rn")
    )


def temporal_pass_sliding(
    q: DataFrame,
    ev: DataFrame,
    gb: GroupBy,
    aggs: list[Aggregation],
    tiebreak: str | None,
    mg: tuple[str, int] | None = None,
) -> DataFrame:
    """Features for distinct query rows (keys + QTS). Returns a DataFrame
    keyed by (keys, QTS) with one column per (agg x window).

    Shuffle economy (the 100TB shape): the ENTIRE pass runs on ONE
    hash-partitioning of the group keys. Probe rows (one per query, null
    inputs) are unioned into the raw frame BEFORE tile aggregation, so
    densification costs no extra shuffle; every downstream groupBy / window
    / join requires only ClusteredDistribution(keys ⊆ grouping), which the
    initial repartition already satisfies (joins additionally need
    ``spark.sql.requireAllClusterKeysForCoPartition=false``, set in
    session.py). The HEAD band is an incremental unbounded-preceding window
    over per-row singleton IRs (ops.singleton_cols) rather than a
    join + groupBy. Net: 3-4 exchanges total instead of ~15.

    ``mg=(value_col, cap)`` (histogram_pass_sliding only, single-COUNT agg):
    TAIL-band tile tables are Misra-Gries-compressed to at most ``cap``
    value rows per (other keys, tile) before the window merge — the bounded
    sketch IR for APPROX_HISTOGRAM_K. MID and HEAD stay exact (the
    reference's head-exactness contract).
    """
    from pyspark.storagelevel import StorageLevel

    keys = gb.keys
    pairs = [(a, w) for a in aggs for w, _ in a.unpacked()]
    windowed_hops = [w.tail_hop_millis() for _, w in pairs if w is not None]
    life_hop = max(windowed_hops) if windowed_hops else DAY_MS
    by_hop: dict[int, list[tuple[Aggregation, Window | None]]] = defaultdict(list)
    for a, w in pairs:
        by_hop[_hop_of(w, life_hop)].append((a, w))

    slot_of: dict[int, str] = {}
    partial_exprs: dict[str, Column] = {}
    # probe rows (null inputs) ride the same frame as events; inputs that are
    # ALSO group keys (e.g. the bucket column in a bucketed pass) are non-null
    # on probe rows, so every IR input is masked by the probe flag
    tb = F.when(F.col(PROBE) == 0, F.col(tiebreak)) if tiebreak else F.lit(0)

    def _val(a: Aggregation) -> Column:
        return F.when(F.col(PROBE) == 0, F.col(a.input_column))

    for a, _w in pairs:
        if id(a) not in slot_of:
            slot_of[id(a)] = f"a{len(slot_of)}"
            partial_exprs.update(
                O.partial_cols(a, _val(a), F.col(ETS), tb, slot_of[id(a)])
            )
    aggs_unique = list({id(a): a for a, _ in pairs}.values())

    spark = q.sparkSession
    try:
        npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        npart = 200

    from chronon_spark.plans.cache import register

    q = register(q.repartition(npart, *keys).persist(StorageLevel.MEMORY_AND_DISK))

    # ---- base frame: raw events + one probe row per query ----
    # NOT pre-repartitioned: the tile groupBy below must shuffle PARTIALLY
    # AGGREGATED tiles (map-side combine), never raw rows — at 10^8+ events a
    # raw repartition moves ~the whole input while the combined tile shuffle
    # moves only distinct (keys, 5min) groups
    ev_types = dict(zip(ev.schema.names, [f.dataType for f in ev.schema.fields]))
    probe_rows = q.select(
        *keys,
        F.col(QTS).alias(ETS),
        *[
            F.lit(None).cast(ev_types[c]).alias(c)
            for c in ev.columns
            if c not in keys and c != ETS
        ],
        F.lit(1).alias(PROBE),
    )
    base = ev.withColumn(PROBE, F.lit(0)).unionByName(probe_rows)

    # 5-minute tiles (probe flag folded in), shared by all hop groups + MID;
    # one cheap tile-level repartition onto the keys-partitioning lets every
    # downstream rollup/window/join reuse the same clustering (no exchanges)
    t5 = (
        base.withColumn(TILE, W.round_down(F.col(ETS), FINEST))
        .groupBy(*keys, TILE)
        .agg(
            *[c.alias(n) for n, c in partial_exprs.items()],
            F.max(PROBE).alias(PROBE),
        )
        .repartition(npart, *keys)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    register(t5)

    out = q
    band_prefixes: dict[tuple[int, int], list[str]] = defaultdict(list)  # (agg_id, w_ms) -> prefixes

    for hop, hop_pairs in sorted(by_hop.items()):
        hb_col = f"__hb_{hop}"
        t5b_col = "__t5b"
        out = out.withColumn(hb_col, W.round_down(F.col(QTS), hop))
        if t5b_col not in out.columns:
            out = out.withColumn(t5b_col, W.round_down(F.col(QTS), FINEST))

        # ---- TAIL: sliding window over the hop tile table ----
        if hop == FINEST:
            tiles_h = t5
        else:
            merged: dict[str, Column] = {}
            for a in aggs_unique:
                merged.update(O.merge_cols(a, slot_of[id(a)]))
            tiles_h = (
                t5.withColumn(TILE, W.round_down(F.col(TILE), hop))
                .groupBy(*keys, TILE)
                .agg(
                    *[c.alias(n) for n, c in merged.items()],
                    F.max(PROBE).alias(PROBE),
                )
            )
        if mg is not None:
            mg_vcol, mg_cap = mg
            if len(aggs_unique) != 1 or aggs_unique[0].operation != Op.COUNT:
                raise ValueError("mg compression requires a single COUNT agg")
            tiles_h = _mg_compress_tiles(
                tiles_h,
                [kk for kk in keys if kk != mg_vcol],
                mg_vcol,
                f"{slot_of[id(aggs_unique[0])]}__n",
                mg_cap,
            )
        tail_sel: list[Column] = []
        for a, w in hop_pairs:
            slot = slot_of[id(a)]
            lo = -w.millis if w is not None else SW.unboundedPreceding
            wspec = SW.partitionBy(*keys).orderBy(F.col(TILE)).rangeBetween(lo, -1)
            prefix = f"t{hop}_{'w' + str(w.millis) if w is not None else 'life'}_{slot}"
            for name, col in O.merge_cols(a, slot, over=wspec).items():
                # name is "{slot}__{s}" -> rename to "{prefix}__{s}"
                tail_sel.append(col.alias(prefix + name[len(slot):]))
            band_prefixes[(id(a), w.millis if w else -1)].append(prefix)
        tail_probe = (
            tiles_h.select(*keys, TILE, F.col(PROBE), *tail_sel)
            .where(F.col(PROBE) == 1)
            .drop(PROBE)
            .withColumnRenamed(TILE, hb_col)
        )
        out = out.join(tail_probe, [*keys, hb_col], "left")

        # ---- MID: running prefix of 5m tiles inside the hop bucket ----
        if hop != FINEST:
            wspec5 = (
                SW.partitionBy(*keys, W.round_down(F.col(TILE), hop))
                .orderBy(F.col(TILE))
                .rangeBetween(SW.unboundedPreceding, -1)
            )
            mid_sel: list[Column] = []
            for a in {id(a): a for a, _ in hop_pairs}.values():
                slot = slot_of[id(a)]
                prefix = f"m{hop}_{slot}"
                for name, col in O.merge_cols(a, slot, over=wspec5).items():
                    mid_sel.append(col.alias(prefix + name[len(slot):]))
            for a, w in hop_pairs:
                band_prefixes[(id(a), w.millis if w else -1)].append(
                    f"m{hop}_{slot_of[id(a)]}"
                )
            mid_probe = (
                t5.select(*keys, TILE, F.col(PROBE), *mid_sel)
                .where(F.col(PROBE) == 1)
                .drop(PROBE)
                .withColumnRenamed(TILE, t5b_col)
            )
            out = out.join(mid_probe, [*keys, t5b_col], "left")

    # ---- HEAD: raw events in the query's own 5-minute bucket, computed as
    # an incremental window over singleton IRs on the co-partitioned base ----
    singles: dict[str, Column] = {}
    for a in aggs_unique:
        singles.update(O.singleton_cols(a, _val(a), F.col(ETS), tb, slot_of[id(a)]))
    head_base = base.select(
        *keys,
        F.col(ETS),
        F.col(PROBE),
        W.round_down(F.col(ETS), FINEST).alias("__h5b"),
        *[c.alias(n) for n, c in singles.items()],
    )
    whead = (
        SW.partitionBy(*keys, F.col("__h5b"))
        .orderBy(F.col(ETS))
        .rangeBetween(SW.unboundedPreceding, -1)
    )
    head_sel: list[Column] = []
    for a in aggs_unique:
        slot = slot_of[id(a)]
        for name, col in O.merge_cols(a, slot, over=whead).items():
            head_sel.append(col.alias("h_" + name))
    head = (
        head_base.select(*keys, ETS, F.col(PROBE), *head_sel)
        .where(F.col(PROBE) == 1)
        .drop(PROBE)
        .withColumnRenamed(ETS, QTS)
    )
    out = out.join(head, [*keys, QTS], "left")
    for a, w in pairs:
        band_prefixes[(id(a), w.millis if w else -1)].append(f"h_{slot_of[id(a)]}")

    final_cols = []
    for a, w in pairs:
        slot = slot_of[id(a)]
        bands = band_prefixes[(id(a), w.millis if w else -1)]
        merged = O.merge_cols(a, slot, bands=bands)
        final_cols.append(O.finalize(a, slot, merged).alias(a.output_name(w, None)))
    return out.select(*gb.keys, QTS, *final_cols)


# ---------------------------------------------------------------------------
# bucketed + HISTOGRAM tiled passes
#
# A bucketed aggregation is the same sliding computation with the bucket
# column appended to the group keys (reference BucketedColumnAggregator:
# a map of per-bucket IRs == per-(key, bucket) IR rows), followed by map
# assembly per (keys, query_ts). HISTOGRAM is the degenerate case where the
# bucket IS the input column and the op is COUNT. This kills the remaining
# hot-key quadratic path: a 60k-turn conversation with bucketed features no
# longer range-joins its queries against its raw events.
# ---------------------------------------------------------------------------


def _strip(a: Aggregation, op: Op | None = None, input_column: str | None = None) -> Aggregation:
    """Bucket-free clone (optionally overriding op/input) so unpacked() does
    not explode per-bucket — the bucket lives in the group keys instead."""
    return Aggregation(
        operation=op or a.operation,
        input_column=input_column or a.input_column,
        windows=a.windows,
        k=a.k,
        percentiles=a.percentiles,
        lg_k=a.lg_k,
        mg_cap=a.mg_cap,
        accuracy=a.accuracy,
    )


def _presence_window(gb: GroupBy):
    """The exact bucket pass keeps a (key, qts, bucket) group iff any event
    with a non-null bucket falls in [least_tail(qts), qts) where least_tail
    is the sawtooth tail of the LARGEST window across the whole GroupBy
    (tails are monotone nonincreasing in window length since coarser hops
    floor lower); None when any aggregation is unwindowed (unbounded scan).
    The sliding pass replicates presence with an auxiliary COUNT over this
    window."""
    w_max = None
    for a in gb.aggregations:
        if a.windows is None:
            return None
        for w in a.windows:
            if w_max is None or w.millis > w_max.millis:
                w_max = w
    return w_max


def bucketed_pass_sliding(
    q: DataFrame,
    ev: DataFrame,
    gb: GroupBy,
    bucket_col: str,
    aggs: list[Aggregation],
    tiebreak: str | None,
) -> DataFrame:
    """Map[bucket -> agg] features via the sliding estimator. Must be
    row-identical to groupby._bucket_pass (asserted by tests)."""
    keys = gb.keys
    w_aux = _presence_window(gb)
    aux = Aggregation(Op.COUNT, bucket_col, windows=(w_aux,) if w_aux else None)
    stripped = [_strip(a) for a in aggs]
    names = {id(s): [(w, s.output_name(w, None)) for w, _ in s.unpacked()] for s in stripped}
    aux_name = aux.output_name(w_aux, None)
    run = list(stripped)
    if aux_name not in {n for outs in names.values() for _, n in outs}:
        run.append(aux)

    gb2 = GroupBy(
        name=gb.name, keys=[*keys, bucket_col], aggregations=run, time_column=gb.time_column
    )
    buckets = ev.where(F.col(bucket_col).isNotNull()).select(*keys, bucket_col).distinct()
    q2 = q.join(buckets, keys, "inner").select(*keys, bucket_col, QTS).distinct()
    per_bucket = temporal_pass_sliding(q2, ev.where(F.col(bucket_col).isNotNull()), gb2, run, tiebreak)
    present = per_bucket.where(F.col(aux_name) > 0)

    entries = []
    for a, s in zip(aggs, stripped):
        for w, n in names[id(s)]:
            entries.append(
                F.map_from_entries(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col(bucket_col).alias("k"), F.col(n).alias("v"))
                        )
                    )
                ).alias(a.output_name(w, bucket_col))
            )
    return present.groupBy(*keys, QTS).agg(*entries)


def histogram_pass_sliding(
    q: DataFrame, ev: DataFrame, gb: GroupBy, agg: Aggregation, tiebreak: str | None
) -> DataFrame:
    """HISTOGRAM / APPROX_HISTOGRAM_K via sliding tiles: per-(keys, value)
    windowed COUNTs then Map[value -> count] assembly with per-window
    presence (count > 0) and optional top-k truncation. Row-identical to
    groupby._histogram_pass.

    APPROX_HISTOGRAM_K with ``mg_cap`` set additionally Misra-Gries-
    compresses the TAIL-band tile tables to at most mg_cap value rows per
    (keys, tile) — the bounded mergeable IR of the reference's
    ItemsSketch hybrid (SimpleAggregators.scala:458-600). MID/HEAD bands
    stay exact, counts never overestimate, and the per-window
    undercount is bounded by n_window/(mg_cap+1) (tests/test_mg_hist.py)."""
    keys = gb.keys
    vcol = agg.input_column
    counts = [_strip(agg, op=Op.COUNT, input_column=vcol)]
    gb2 = GroupBy(
        name=gb.name, keys=[*keys, vcol], aggregations=counts, time_column=gb.time_column
    )
    values = ev.where(F.col(vcol).isNotNull()).select(*keys, vcol).distinct()
    q2 = q.join(values, keys, "inner").select(*keys, vcol, QTS).distinct()
    mg = (
        (vcol, agg.mg_cap)
        if agg.operation == Op.APPROX_HISTOGRAM_K and agg.mg_cap
        else None
    )
    per_value = temporal_pass_sliding(
        q2, ev.where(F.col(vcol).isNotNull()), gb2, counts, tiebreak, mg=mg
    )
    from chronon_spark.operators.groupby import _assemble_value_maps

    count_cols = [counts[0].output_name(w, None) for w, _ in agg.unpacked()]
    return _assemble_value_maps(per_value, keys, QTS, vcol, agg, count_cols)
