"""Aggregation operation -> native Spark Column expression mapping.

Every reference operation (api/thrift/api.thrift:136-165, implemented in
aggregator/src/main/scala/ai/chronon/aggregator/base/SimpleAggregators.scala
and TimedAggregators.scala) is re-expressed as a *built-in* Spark aggregate
expression so it runs JVM-side inside whole-stage codegen with map-side
partial aggregation — no Python in the hot path.

The planner applies window masks by passing pre-masked ``value``/``ts``
columns (``F.when(in_window, col)``): Spark aggregates skip NULLs, which
matches the reference's update-skips-null contract
(aggregator/.../row/ColumnAggregator.scala:80-117).

HISTOGRAM / APPROX_HISTOGRAM_K and bucketed aggregations are *two-phase*
plans (group by keys+value, then map assembly) and are handled by the
planner (operators/groupby.py), not here.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from chronon_spark.api import Aggregation, Op

# ops requiring a two-phase (keys+value grouping) plan
MAP_OPS = {Op.HISTOGRAM, Op.APPROX_HISTOGRAM_K}

# recency-weighted ops: need the QUERY timestamp at finalize time (weights
# depend on event age at the query), tile-mergeable because the age is
# quantized to halflife buckets
DECAYED_OPS = {Op.TIME_DECAYED_SUM, Op.TIME_DECAYED_COUNT}


def _decay_params(agg: Aggregation) -> tuple[int, int]:
    """(halflife_ms, cap) with validation shared by every estimator."""
    if agg.halflife is None:
        raise ValueError(
            f"{agg.operation.value}('{agg.input_column}') requires halflife "
            "(e.g. halflife=Window(1, TimeUnit.DAYS))"
        )
    cap = agg.decay_cap
    if not (1 <= cap <= 40):
        # cap > 40 risks int64 overflow in the scaled sum (value << cap per
        # event); cap < 1 would zero every weight
        raise ValueError(f"decay_cap must be in [1, 40]; got {cap}")
    return agg.halflife.millis, cap


def _chan_pair(acc: Column, x: Column) -> Column:
    """Exact pairwise combination of two central-moment states
    (n, mu, M2, M3, M4) — Chan, Golub & LeVeque's parallel update formulas
    (the same algebra Spark's own CentralMomentAgg uses across partitions),
    which never subtracts large near-equal raw sums, so tight clusters far
    from zero keep full precision."""
    na, nb = acc["n"], x["n"]
    n = na + nb
    d = x["mu"] - acc["mu"]
    m2 = acc["m2"] + x["m2"] + d * d * na * nb / n
    m3 = (
        acc["m3"]
        + x["m3"]
        + d * d * d * na * nb * (na - nb) / (n * n)
        + 3 * d * (na * x["m2"] - nb * acc["m2"]) / n
    )
    m4 = (
        acc["m4"]
        + x["m4"]
        + d * d * d * d * na * nb * (na * na - na * nb + nb * nb) / (n * n * n)
        + 6 * d * d * (na * na * x["m2"] + nb * nb * acc["m2"]) / (n * n)
        + 4 * d * (na * x["m3"] - nb * acc["m3"]) / n
    )
    merged = F.struct(
        n.alias("n"),
        (acc["mu"] + d * nb / n).alias("mu"),
        m2.alias("m2"),
        m3.alias("m3"),
        m4.alias("m4"),
    )
    return F.when(x["n"].isNull(), acc).otherwise(
        F.when(na == 0, x).otherwise(merged)
    )


def chan_moment_fold(states: Column) -> Column:
    """Fold an array of central-moment states into one. The array is sorted
    first so the result is deterministic under any partition order (Chan
    merges are exact algebra; float rounding differs only at ulp by order,
    and a canonical order pins even that)."""
    zero = F.struct(
        F.lit(0.0).alias("n"),
        F.lit(0.0).alias("mu"),
        F.lit(0.0).alias("m2"),
        F.lit(0.0).alias("m3"),
        F.lit(0.0).alias("m4"),
    )
    arr = F.array_sort(states)
    folded = F.aggregate(arr, zero, _chan_pair)
    return F.when(folded["n"] > 0, folded)


def moment_finalize(op: Op, state: Column) -> Column:
    """Central-moment state -> Spark's skewness/kurtosis value: population
    skew = (M3/n)/(M2/n)^1.5, excess kurtosis = (M4/n)/(M2/n)^2 - 3. A
    zero-variance group yields NULL (F.skewness/F.kurtosis return NULL on
    M2 == 0, verified empirically)."""
    n, m2 = state["n"], state["m2"] / state["n"]
    if op == Op.SKEW:
        val = F.when(m2 > 0, (state["m3"] / n) / F.pow(m2, F.lit(1.5)))
    elif op == Op.KURTOSIS:
        val = F.when(m2 > 0, (state["m4"] / n) / (m2 * m2) - F.lit(3.0))
    else:  # pragma: no cover
        raise ValueError(op)
    return F.when(state.isNotNull() & (n > 0), val)


def halflife_bucket(agg: Aggregation, ts: Column) -> Column:
    """floor(ts / halflife) as an exact integer (pmod arithmetic, no float
    division of raw epoch values)."""
    h_ms, _ = _decay_params(agg)
    return ((ts - F.pmod(ts, F.lit(h_ms))) / F.lit(h_ms)).cast("long")


def decayed_weight_from_age(agg: Aggregation, age: Column) -> Column:
    """Integer weight 2^(cap - min(age, cap)) from a whole-halflives age."""
    _, cap = _decay_params(agg)
    exp = (F.lit(cap) - F.least(age, F.lit(cap))).cast("double")
    return F.pow(F.lit(2.0), exp).cast("long")


def decayed_weight(agg: Aggregation, q_ts: Column, t_ts: Column) -> Column:
    """Integer weight 2^(cap - min(age, cap)) for an event/tile at ``t_ts``
    observed from ``q_ts``; age = floor(q/H) - floor(t/H) whole halflives
    (bucket-quantized so one tile has one weight). Exact: pow(2, k) is an
    exact double for k <= 62, and the long cast restores the integer.
    ``t_ts`` may be a tile start at any resolution dividing H — floor(t/H)
    is constant across such a tile, which is what makes the op mergeable."""
    age = halflife_bucket(agg, q_ts) - halflife_bucket(agg, t_ts)
    return decayed_weight_from_age(agg, age)


def decayed_finalize(agg: Aggregation, scaled_sum: Column) -> Column:
    """scaled integer sum -> user-facing double (divide by 2^cap; exact
    exponent shift). NULL in == NULL out (zero qualifying events)."""
    _, cap = _decay_params(agg)
    return scaled_sum / F.lit(float(1 << cap))


def direct_agg(
    agg: Aggregation,
    value: Column,
    ts: Column,
    tiebreak: Column | None = None,
    q_ts: Column | None = None,
) -> Column:
    """Build the aggregate Column for one (op, masked value, masked ts).

    ``tiebreak`` breaks ordering ties for FIRST/LAST/*_K determinism (the
    reference keeps first-seen on ts ties, which is partition-order dependent;
    we instead demand an explicit total order so results are reproducible).
    ``q_ts`` (the query timestamp) is required only by the TIME_DECAYED ops.
    """
    op = agg.operation
    if op in DECAYED_OPS:
        if q_ts is None:
            raise ValueError(f"{op.value} needs the query timestamp (q_ts)")
        w = decayed_weight(agg, q_ts, ts)
        base = F.lit(1).cast("long") if op == Op.TIME_DECAYED_COUNT else value
        # integral inputs promote to long*long: bit-exact, order-independent
        scaled = F.sum(F.when(value.isNotNull() & ts.isNotNull(), base * w))
        return decayed_finalize(agg, scaled)
    if op == Op.COUNT:
        return F.count(value)
    if op == Op.SUM:
        return F.sum(value)
    if op == Op.AVERAGE:
        return F.avg(value)
    if op == Op.VARIANCE:
        return F.var_pop(value)
    if op == Op.SKEW:
        return F.skewness(value)
    if op == Op.KURTOSIS:
        return F.kurtosis(value)
    if op == Op.MIN:
        return F.min(value)
    if op == Op.MAX:
        return F.max(value)
    if op == Op.UNIQUE_COUNT:
        return F.count_distinct(value)
    if op == Op.APPROX_UNIQUE_COUNT:
        if agg.accuracy is not None:
            # KMV bottom-k distinct route (same knob contract as
            # APPROX_PERCENTILE): exact whenever cap >= distinct count —
            # the oracle-gating parameterization. All estimator routes
            # (exact/cascade/serving) share this IR so resumed tables never
            # mix estimators.
            cap = kmv_cap(agg)
            return kmv_distinct_estimate(_kmv_distinct_hashes(value, cap), cap)
        # reference uses a CPC sketch (lgK default 8); HLL++ here — values are
        # tolerance-comparable, not bit-identical (SURVEY.md §2.1).
        rsd = max(0.005, 1.04 / (2.0 ** (agg.lg_k / 2.0)))
        return F.approx_count_distinct(value, rsd)
    if op in (Op.APPROX_PERCENTILE, Op.PERCENTILE):
        ps = list(agg.percentiles or (0.5,))
        arr = F.array(*[F.lit(p) for p in ps])
        if op == Op.PERCENTILE:
            return F.percentile(value, arr)
        return F.percentile_approx(value, arr, agg.accuracy or 10000)
    # time-ordered ops: order key = (ts, tiebreak) for determinism
    ordk = F.struct(ts.alias("t"), (tiebreak if tiebreak is not None else F.lit(0)).alias("tb"))
    ordk = F.when(value.isNotNull() & ts.isNotNull(), ordk)
    if op == Op.FIRST:
        return F.min_by(value, ordk)
    if op == Op.LAST:
        return F.max_by(value, ordk)
    if op in (Op.FIRST_K, Op.LAST_K):
        k = agg.k or 1
        pair = F.when(
            value.isNotNull() & ts.isNotNull(), F.struct(ordk.alias("o"), value.alias("v"))
        )
        lst = F.array_sort(F.collect_list(pair))
        if op == Op.LAST_K:
            lst = F.reverse(lst)
        return F.slice(F.transform(lst, lambda s: s["v"]), 1, k)
    if op in (Op.TOP_K, Op.BOTTOM_K):
        k = agg.k or 1
        lst = F.array_sort(F.collect_list(value))
        if op == Op.TOP_K:
            lst = F.reverse(lst)
        return F.slice(lst, 1, k)
    raise ValueError(f"{op} is not a direct aggregation (two-phase map op)")


# ---------------------------------------------------------------------------
# Mergeable partial IRs for the hop-based (tiled) estimator.
#
# Mirrors the reference's prepare/update/merge/finalize IR contract
# (aggregator/.../base/BaseAggregator.scala:21-69) with plain columns: each op
# gets a partial form computable per hop tile and a merge that combines an
# arbitrary set of tiles. All expressible as built-in aggregates so Spark's
# partial/final HashAggregate applies at both levels.
# ---------------------------------------------------------------------------

# ops supported by the hop (tiled) estimator; others fall back to exact
HOP_MERGEABLE_OPS = {
    Op.COUNT,
    Op.SUM,
    Op.AVERAGE,
    Op.VARIANCE,
    # raw power-sum IRs + central-moment reconstruction (the moments-oracle
    # formula); ulp-level difference vs the exact estimator's streaming
    # central moments, recorded in the semantic hash (api.py moment_route)
    Op.SKEW,
    Op.KURTOSIS,
    Op.MIN,
    Op.MAX,
    Op.FIRST,
    Op.LAST,
    Op.FIRST_K,
    Op.LAST_K,
    Op.TOP_K,
    Op.BOTTOM_K,
    Op.UNIQUE_COUNT,
    Op.APPROX_UNIQUE_COUNT,
    # via a KMV (bottom-k-by-hash) event-sample IR — a uniform sample that
    # merges by union-then-keep-k-smallest, the mergeability the reference
    # gets from its KLL sketch (SimpleAggregators.scala:654-694). Under
    # "auto" this routes hot-key percentile queries through the bounded
    # cascade tiles instead of the quadratic exact range join; at a
    # lossless cap (accuracy >= group size) it equals the exact discrete
    # quantile, so the oracle-gated exact parameterization stays exact.
    Op.APPROX_PERCENTILE,
    # tile IR is the plain SUM/COUNT partial (one weight per tile at any
    # resolution dividing the halflife); the weighting happens entirely in
    # the merge, so decayed ops ride the cascade at zero extra tile state
    Op.TIME_DECAYED_SUM,
    Op.TIME_DECAYED_COUNT,
}

#: ops the SERVING upload/fetch path serves through the generic scalar
#: partial-IR slots. DECAYED ops are served too, but through their own IR
#: kind (operators/upload._dk_slots): a bounded halflife-bucket map for the
#: collapsed region (weights depend on the request time, so it cannot be
#: pre-weighted) + unweighted tail-tile sums weighted at fetch — they are
#: intercepted before this set is consulted.
SERVING_MERGEABLE_OPS = frozenset(HOP_MERGEABLE_OPS - DECAYED_OPS)

#: default KMV sample size (quantile rank error ~ sqrt(p(1-p)/k), so 10k ->
#: ~0.5% rank error) — deliberately the same number as percentile_approx's
#: default accuracy so the one knob governs both routes; hard-capped so a
#: requested-lossless accuracy=Int.MaxValue cannot make per-key STORED IR
#: state unbounded at scale (above the cap the tiled/serving routes are a
#: 4.2M-event sample, no longer bit-lossless — api.Aggregation.accuracy
#: documents this)
DEFAULT_KMV_SAMPLE = 10_000
MAX_KMV_SAMPLE = 1 << 22


def kmv_cap(agg: Aggregation) -> int:
    acc = DEFAULT_KMV_SAMPLE if agg.accuracy is None else agg.accuracy
    if acc < 1:
        # match percentile_approx's validation so the exact and tiled routes
        # reject bad configs identically (slice(-n) would otherwise die deep
        # in execution with an opaque error)
        raise ValueError(f"{agg.operation} accuracy must be positive; got {acc}")
    return int(min(acc, MAX_KMV_SAMPLE))


def _kmv_distinct_hashes(value: Column, cap: int) -> Column:
    """Bottom-``cap`` distinct-hash KMV IR for one tile: the set of the cap
    smallest xxhash64 values (nulls dropped). Merges by
    union-distinct-then-keep-cap-smallest."""
    h = F.when(value.isNotNull(), F.xxhash64(value))
    return F.slice(F.array_sort(F.collect_set(h)), 1, cap)


def kmv_distinct_estimate(sorted_hashes: Column, cap: int) -> Column:
    """Finalize a bottom-k distinct-hash KMV IR. Below the cap the sample IS
    the distinct hash set, so the size is the exact distinct count (modulo
    64-bit collisions) — the lossless parameterization the oracle gate uses.
    At the cap, the classic KMV estimate (cap-1)/u_k with u_k the cap-th
    smallest hash mapped onto (0,1) over the unsigned 64-bit domain
    (Bar-Yossef et al. "Counting distinct elements in a data stream",
    RANDOM'02; reference CPC sketch role: SimpleAggregators.scala:602-652)."""
    n = F.size(sorted_hashes)
    u = (F.element_at(sorted_hashes, cap).cast("double") + 9.223372036854776e18) / 1.8446744073709552e19
    est = F.round(F.lit(float(cap - 1)) / u).cast("long")
    return F.when(n < cap, n.cast("long")).otherwise(est)


def empty_state(agg: Aggregation, bucket: str | None, dtype) -> Column | None:
    """The value ``direct_agg`` renders for a group with ZERO qualifying
    events (the aggregate over an all-null masked column), or None when that
    value is NULL — used by the SNAPSHOT equi-join path to fill (key, day)
    cells absent from the coverage grid so it matches the temporal engine
    exactly (reference GroupBy.scala:155-160 emits no fully-null snapshot
    rows; the join must restore the non-null empties). ``dtype`` is the
    output column's Spark type (typed empty arrays for the *_K ops)."""
    if bucket is not None:
        # bucketed/map passes are not row-complete: the temporal engine
        # itself yields NULL for a query with no qualifying events
        return None
    op = agg.operation
    if op in (Op.COUNT, Op.UNIQUE_COUNT, Op.APPROX_UNIQUE_COUNT):
        return F.lit(0).cast(dtype)
    if op in (Op.FIRST_K, Op.LAST_K, Op.TOP_K, Op.BOTTOM_K):
        return F.array().cast(dtype)
    # SUM/AVG/VAR/SKEW/KURT/MIN/MAX/FIRST/LAST/percentiles/map ops: NULL
    return None


def partial_cols(agg: Aggregation, value: Column, ts: Column, tiebreak: Column | None, slot: str) -> dict[str, Column]:
    """Per-tile partial aggregate columns for one op. Keys are IR slot names."""
    op = agg.operation
    k = agg.k or 1
    ordk = F.struct(ts.alias("t"), (tiebreak if tiebreak is not None else F.lit(0)).alias("tb"))
    ordk = F.when(value.isNotNull() & ts.isNotNull(), ordk)
    if op in (Op.COUNT, Op.TIME_DECAYED_COUNT):
        return {f"{slot}__n": F.count(value)}
    if op in (Op.SUM, Op.TIME_DECAYED_SUM):
        return {f"{slot}__s": F.sum(value)}
    if op == Op.AVERAGE:
        return {f"{slot}__s": F.sum(value), f"{slot}__n": F.count(value)}
    if op == Op.VARIANCE:
        # (n, sum, sumsq) moments — merged then finalized to population var.
        d = value.cast("double")
        return {
            f"{slot}__n": F.count(d),
            f"{slot}__s": F.sum(d),
            f"{slot}__q": F.sum(d * d),
        }
    if op in (Op.SKEW, Op.KURTOSIS):
        # CENTRAL-moment tile state (n, mean, M2, M3, M4 = sums of centered
        # powers), recovered from Spark's own numerically-stable streaming
        # aggregates — raw power sums would cancel catastrophically when
        # spread << mean (a 2-event cluster at ~500 loses 8+ digits of
        # excess kurtosis). Tiles merge with the exact Chan et al. pairwise
        # combination (chan_moment_merge).
        d = value.cast("double")
        n = F.count(d).cast("double")
        var = F.var_pop(d)
        m3n = F.coalesce(F.skewness(d) * F.pow(var, F.lit(1.5)), F.lit(0.0)) * n
        m4n = (F.coalesce(F.kurtosis(d), F.lit(-3.0)) + F.lit(3.0)) * var * var * n
        return {
            f"{slot}__mn": F.when(
                n > 0,
                F.struct(
                    n.alias("n"),
                    F.avg(d).alias("mu"),
                    (var * n).alias("m2"),
                    m3n.alias("m3"),
                    m4n.alias("m4"),
                ),
            )
        }
    if op == Op.MIN:
        return {f"{slot}__m": F.min(value)}
    if op == Op.MAX:
        return {f"{slot}__m": F.max(value)}
    if op == Op.FIRST:
        return {f"{slot}__p": F.min_by(F.struct(ordk.alias("o"), value.alias("v")), ordk)}
    if op == Op.LAST:
        return {f"{slot}__p": F.max_by(F.struct(ordk.alias("o"), value.alias("v")), ordk)}
    if op in (Op.FIRST_K, Op.LAST_K):
        pair = F.when(
            value.isNotNull() & ts.isNotNull(), F.struct(ordk.alias("o"), value.alias("v"))
        )
        lst = F.array_sort(F.collect_list(pair))
        if op == Op.LAST_K:
            lst = F.reverse(lst)
        # pre-truncate per tile: safe because first_k/last_k is a monoid under
        # sorted-merge + truncate (SURVEY.md §7 risk register)
        return {f"{slot}__l": F.slice(lst, 1, k)}
    if op in (Op.TOP_K, Op.BOTTOM_K):
        lst = F.array_sort(F.collect_list(value))
        if op == Op.TOP_K:
            lst = F.reverse(lst)
        return {f"{slot}__l": F.slice(lst, 1, k)}
    if op == Op.UNIQUE_COUNT:
        return {f"{slot}__set": F.collect_set(value)}
    if op == Op.APPROX_UNIQUE_COUNT:
        if agg.accuracy is not None:
            return {f"{slot}__kdh": _kmv_distinct_hashes(value, kmv_cap(agg))}
        return {f"{slot}__hll": F.hll_sketch_agg(value)}
    if op == Op.APPROX_PERCENTILE:
        # KMV sample: hash every EVENT (value, ts, tiebreak — not value
        # alone, duplicates must stay weighted), keep the k smallest by
        # hash. array_sort on struct<h,v> orders by h first.
        h = F.xxhash64(value, ts, tiebreak if tiebreak is not None else F.lit(0))
        # keep the value's NATIVE type: percentile_approx returns its input
        # type (int column -> int quantiles), and the serving path must match
        # the offline engine's schema exactly
        pair = F.when(
            value.isNotNull() & ts.isNotNull(),
            F.struct(h.alias("h"), value.alias("v")),
        )
        return {
            f"{slot}__kmv": F.slice(
                F.array_sort(F.collect_list(pair)), 1, kmv_cap(agg)
            )
        }
    raise ValueError(f"{op} has no mergeable partial form (use exact estimator)")


def singleton_cols(
    agg: Aggregation, value: Column, ts: Column, tiebreak: Column | None, slot: str
) -> dict[str, Column]:
    """Per-ROW (non-aggregate) IR columns: the IR a single event contributes,
    shaped exactly like ``partial_cols`` output so ``merge_cols`` can merge
    raw rows and tile rows with the same expressions. This is the
    'prepare' of the reference IR contract (BaseAggregator.scala:21-43) as a
    scalar projection — it lets the HEAD band run as one incremental window
    pass over the raw frame instead of a join + groupBy."""
    op = agg.operation
    ordk = F.struct(ts.alias("t"), (tiebreak if tiebreak is not None else F.lit(0)).alias("tb"))
    ok = value.isNotNull() & ts.isNotNull()
    if op == Op.COUNT:
        return {f"{slot}__n": value.isNotNull().cast("long")}
    if op == Op.SUM:
        return {f"{slot}__s": value}
    if op == Op.AVERAGE:
        return {f"{slot}__s": value, f"{slot}__n": value.isNotNull().cast("long")}
    if op == Op.VARIANCE:
        d = value.cast("double")
        return {
            f"{slot}__n": d.isNotNull().cast("long"),
            f"{slot}__s": d,
            f"{slot}__q": d * d,
        }
    if op == Op.MIN or op == Op.MAX:
        return {f"{slot}__m": value}
    if op in (Op.FIRST, Op.LAST):
        return {f"{slot}__p": F.when(ok, F.struct(ordk.alias("o"), value.alias("v")))}
    if op in (Op.FIRST_K, Op.LAST_K):
        return {
            f"{slot}__l": F.when(ok, F.array(F.struct(ordk.alias("o"), value.alias("v"))))
        }
    if op in (Op.TOP_K, Op.BOTTOM_K):
        return {f"{slot}__l": F.when(value.isNotNull(), F.array(value))}
    if op == Op.UNIQUE_COUNT:
        return {f"{slot}__set": F.when(value.isNotNull(), F.array(value))}
    raise ValueError(f"{op} has no singleton IR form")


def merge_cols(
    agg: Aggregation,
    slot: str,
    *,
    mask: Column | None = None,
    weight: Column | None = None,
    over=None,
    bands: list[str] | None = None,
) -> dict[str, Column]:
    """Merged IR columns of one op, named like its ``partial_cols`` output
    (``{slot}__{field}``): the 'merge' half of the reference IR contract,
    the one place its per-op rules live. Three forms:

    - by default, aggregates over rows of ``{slot}__*`` IR columns (tile
      coarsening, the cascade's masked merge, the upload collapse and fetch).
      ``mask`` drops rows; ``weight`` multiplies every IR value (the
      TIME_DECAYED per-tile weight);
    - with ``over`` (a window spec), the same aggregates as window functions
      (the sliding TAIL, MID and HEAD bands);
    - with ``bands`` (column prefixes), a row-wise combine of one row's
      ``{band}__*`` columns into the slot's names (the sliding bands; sketch
      IRs have no row-wise form). A sum field is NULL only when every band
      is NULL, as the aggregate form gives.
    """
    op = agg.operation
    k = agg.k or 1
    # five reducers over one IR field, in the aggregate (or window) form or
    # the row-wise form; the per-op rules below are written once over them
    if bands is None:

        def reducer(fn):
            def red(f: str) -> Column:
                c = F.col(f"{slot}__{f}")
                c = c if mask is None else F.when(mask, c)
                c = c if weight is None else c * weight
                return fn(c) if over is None else fn(c).over(over)

            return red

        fns = (F.sum, F.min, F.max, F.collect_list, F.hll_union_agg)
    else:

        def reducer(fn):
            return lambda f: fn([F.col(f"{b}__{f}") for b in bands])

        def row_sum(cs: list[Column]) -> Column:
            nz = [F.coalesce(c, F.lit(0)) for c in cs]
            return F.when(F.coalesce(*cs).isNotNull(), reduce(operator.add, nz))

        def no_sketch(cs: list[Column]) -> Column:
            raise ValueError(f"{op} sketches have no row-wise merge")

        fns = (
            row_sum,
            lambda cs: F.least(*cs) if len(cs) > 1 else cs[0],
            lambda cs: F.greatest(*cs) if len(cs) > 1 else cs[0],
            lambda cs: F.array_compact(F.array(*cs)),
            no_sketch,
        )
    total, lo, hi, items, hll = map(reducer, fns)

    if op in (Op.COUNT, Op.TIME_DECAYED_COUNT):
        fields = {"n": total("n")}
    elif op in (Op.SUM, Op.TIME_DECAYED_SUM):
        fields = {"s": total("s")}
    elif op == Op.AVERAGE:
        fields = {"s": total("s"), "n": total("n")}
    elif op == Op.VARIANCE:
        fields = {f: total(f) for f in ("n", "s", "q")}
    elif op in (Op.SKEW, Op.KURTOSIS):
        fields = {"mn": chan_moment_fold(items("mn"))}
    elif op == Op.MIN:
        fields = {"m": lo("m")}
    elif op == Op.MAX:
        fields = {"m": hi("m")}
    # FIRST/LAST IRs are (order key, value) structs: the struct min/max is
    # the earliest/latest event (ties on the order key fall to the value)
    elif op == Op.FIRST:
        fields = {"p": lo("p")}
    elif op == Op.LAST:
        fields = {"p": hi("p")}
    elif op in (Op.FIRST_K, Op.LAST_K, Op.TOP_K, Op.BOTTOM_K):
        srt = F.array_sort(F.flatten(items("l")))
        if op in (Op.LAST_K, Op.TOP_K):
            srt = F.reverse(srt)
        fields = {"l": F.slice(srt, 1, k)}
    elif op == Op.UNIQUE_COUNT:
        fields = {"set": F.array_distinct(F.flatten(items("set")))}
    elif op == Op.APPROX_UNIQUE_COUNT and agg.accuracy is not None:
        # bottom-k of a union-distinct == bottom-k of the concatenated
        # bottom-k's deduped — still a KMV sample of the union
        flat = F.array_distinct(F.flatten(items("kdh")))
        fields = {"kdh": F.slice(F.array_sort(flat), 1, kmv_cap(agg))}
    elif op == Op.APPROX_UNIQUE_COUNT:
        fields = {"hll": hll("hll")}
    elif op == Op.APPROX_PERCENTILE:
        # KMV merge = union then keep the k smallest hashes: still a uniform
        # sample of the union (the bottom-k of a union is the bottom-k of
        # the concatenated bottom-k's)
        fields = {"kmv": F.slice(F.array_sort(F.flatten(items("kmv"))), 1, kmv_cap(agg))}
    else:
        raise ValueError(f"{op} has no mergeable partial form")
    return {f"{slot}__{f}": c for f, c in fields.items()}


def finalize(agg: Aggregation, slot: str, merged: dict[str, Column]) -> Column:
    """Merged IR columns (``merge_cols`` output for ``slot``) -> the
    user-facing value: the 'finalize' half of the reference IR contract.
    Every zero-event result matches ``direct_agg``'s (COUNT 0, *_K empty,
    the rest NULL)."""
    op = agg.operation

    def c(f: str) -> Column:
        return merged[f"{slot}__{f}"]

    if op == Op.COUNT:
        return F.coalesce(c("n"), F.lit(0))
    if op == Op.SUM:
        return c("s")
    if op == Op.TIME_DECAYED_COUNT:
        return decayed_finalize(agg, c("n"))
    if op == Op.TIME_DECAYED_SUM:
        return decayed_finalize(agg, c("s"))
    if op == Op.AVERAGE:
        n = c("n")
        return F.when(n > 0, c("s") / n)
    if op == Op.VARIANCE:
        n, s = c("n"), c("s")
        return F.when(n > 0, c("q") / n - (s / n) * (s / n))
    if op in (Op.SKEW, Op.KURTOSIS):
        return moment_finalize(op, c("mn"))
    if op in (Op.MIN, Op.MAX):
        return c("m")
    if op in (Op.FIRST, Op.LAST):
        return c("p")["v"]
    if op in (Op.FIRST_K, Op.LAST_K):
        return F.transform(c("l"), lambda s: s["v"])
    if op in (Op.TOP_K, Op.BOTTOM_K):
        return c("l")
    if op == Op.UNIQUE_COUNT:
        return F.size(c("set")).cast("long")
    if op == Op.APPROX_UNIQUE_COUNT:
        if agg.accuracy is not None:
            return kmv_distinct_estimate(c("kdh"), kmv_cap(agg))
        return F.hll_sketch_estimate(c("hll"))
    if op == Op.APPROX_PERCENTILE:
        # the discrete quantile of the sampled values: rank ceil(p*n),
        # matching percentile_approx's smallest-value-at-rank semantics — at
        # a lossless cap (accuracy >= group size) this IS the exact discrete
        # quantile
        vals = F.array_sort(F.transform(c("kmv"), lambda s: s["v"]))
        n = F.size(vals)
        ranks = [
            F.greatest(F.lit(1), F.ceil(F.lit(float(p)) * n)).cast("int")
            for p in agg.percentiles or (0.5,)
        ]
        return F.when(n > 0, F.array(*[F.element_at(vals, r) for r in ranks]))
    raise ValueError(f"{op} has no mergeable partial form")
