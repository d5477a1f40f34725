"""In-process lambda merge: a GroupBy's uploaded batch IRs and its stream
events held in the serving process, merged per request with no Spark job.

``operators.upload.fetch_features`` is the distributed form of the
reference fetcher's lambda merge (SawtoothOnlineAggregator.lambdaAggregateIr):
a three-branch union planned and run as Spark jobs for every request. A
point-serving request touches a handful of keys, each holding one collapsed
IR row, a few dozen tail tiles and a day of stream events, so this module
keeps those rows in a key-indexed store (``IRStore``, built once per
definition and batch day from one Arrow collect per table) and merges them
in Python under the same masks as ``fetch_features``:

- the collapsed IR row is always included;
- a tail tile is included when its ``__res_ms`` is the window's tail hop and
  ``sawtooth_tail(q, w) <= tile < _stable_lo(w)``;
- a stream event is included when ``sawtooth_tail(q, w) <= ts < q`` (or
  ``ts < q`` for a lifetime window).

Slices come from ``np.searchsorted`` over time-sorted arrays, and each op
merges and finalizes exactly as ``ops.merge_cols`` and ``ops.finalize`` do
(plain sums, no prefix sums: differences of double prefix sums lose
precision). ``SERVED_OPS`` lists the ops served this way; any other op
raises ``UnservedOpError`` (the ``fetch`` CLI and ``upload.fetch_join`` serve
every op).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chronon_spark.api import GroupBy, Op
from chronon_spark.operators.groupby import ETS, TILE, _normalize_events
from chronon_spark.operators.upload import RES, _batch_end_ms, _pairs, _stable_lo

SERVED_OPS = frozenset({
    Op.COUNT, Op.SUM, Op.AVERAGE, Op.VARIANCE, Op.MIN, Op.MAX, Op.FIRST, Op.LAST,
    Op.FIRST_K, Op.LAST_K, Op.TOP_K, Op.BOTTOM_K, Op.UNIQUE_COUNT,
})

# ops whose merge orders events by (event ms, tiebreak)
_ORDERED = frozenset({Op.FIRST, Op.LAST, Op.FIRST_K, Op.LAST_K})

_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


class UnservedOpError(RuntimeError):
    """A GroupBy aggregation the in-process merge does not serve (a server
    configuration error, not a client one)."""


def check_served(gb: GroupBy) -> None:
    """Raise ``UnservedOpError`` naming the first aggregation of ``gb`` the
    in-process merge cannot serve."""
    for a in gb.aggregations or ():
        if a.buckets or a.operation not in SERVED_OPS:
            kind = "bucketed " if a.buckets else ""
            raise UnservedOpError(
                f"GroupBy '{gb.name}': {kind}{a.operation.name}('{a.input_column}') "
                "is not served in-process (served: "
                f"{', '.join(sorted(o.name for o in SERVED_OPS))}); fetch it with "
                "`python -m chronon_spark fetch` (operators.upload.fetch_join)"
            )


def epoch_ms(v) -> int | None:
    """A request time value as epoch millis: datetimes by integer arithmetic
    (float seconds * 1000 can land 1 ms low; a naive datetime is local time,
    as PySpark collects TIMESTAMP values), numbers as long millis."""
    if v is None:
        return None
    if isinstance(v, _dt.datetime):
        return (v.astimezone(_dt.timezone.utc) - _EPOCH) // _dt.timedelta(milliseconds=1)
    return int(v)


def ms_timestamp(ms: int) -> _dt.datetime:
    """Epoch millis as a UTC datetime (the inverse of ``epoch_ms``)."""
    return _EPOCH + _dt.timedelta(milliseconds=ms)


def local_frame(spark, rows: list[dict], schema: T.StructType) -> DataFrame:
    """``rows`` as a LocalRelation built through Arrow: a Project over it
    (derivations) collects without a Spark job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    ts = [f.name for f in schema.fields if isinstance(f.dataType, T.TimestampType)]
    if ts:
        # Arrow reads a naive datetime as UTC; PySpark means local time
        rows = [
            {**r, **{n: r[n].astimezone(_dt.timezone.utc) for n in ts if r.get(n) is not None}}
            for r in rows
        ]
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


def _key_tuples(table, keys: list[str]) -> list[tuple]:
    return list(zip(*[table.column(k).to_pylist() for k in keys]))


def _ranges(keys: list) -> dict:
    """{key: (lo, hi)} over a list grouped by key."""
    out: dict = {}
    for i, k in enumerate(keys):
        lo, _hi = out.get(k, (i, i))
        out[k] = (lo, i + 1)
    return out


def _nk(v):
    """Sort key with nulls first (Spark's ascending struct-field order)."""
    return (0,) if v is None else (1, v)


def _okey(p: dict) -> tuple:
    """Order key of an IR ``{"o": {"t", "tb"}, ...}`` struct."""
    return (p["o"]["t"], _nk(p["o"]["tb"]))


@dataclass
class StreamEvents:
    """One stream frame's events in ``[batch_end, batch_end + horizon)``,
    grouped by key and sorted by (event ms, tiebreak)."""

    ets: np.ndarray
    tb: list
    cols: dict
    ranges: dict
    #: the Spark plan's feature fields over this stream (``feature_fields``),
    #: read when a caller needs a typed frame
    fields: list | None = None


class IRStore:
    """A GroupBy's verified upload tables held in memory, key-indexed:
    per key the collapsed IR row, the tail tiles sorted by (``__res_ms``,
    ``__tile_ms``), and (per stream frame) the stream events sorted by
    (event ms, tiebreak). ``frames`` stay unpersisted: after the collect
    only analysis (``key_types``, ``feature_fields``) reads them."""

    def __init__(self, gb: GroupBy, batch_end_ds: str, frames: tuple[DataFrame, DataFrame]):
        """``frames``: the verified (collapsed, tail) upload frames, each
        collected with one ``toArrow``."""
        check_served(gb)
        self.gb = gb
        self.batch_end_ds = batch_end_ds
        self.batch_end = _batch_end_ms(batch_end_ds)
        self.frames = frames
        self.key_types = {k: frames[0].schema[k].dataType for k in gb.keys}
        # (id(stream frame), tiebreak, horizon) -> (frame, StreamEvents); the
        # frame is kept so its id stays unique
        self.streams: dict = {}
        collapsed, tail = (f.toArrow() for f in frames)
        keys = gb.keys
        self._row = {k: i for i, k in enumerate(_key_tuples(collapsed, keys))}
        self._ccols = {
            n: collapsed.column(n).to_pylist() for n in collapsed.column_names if n not in keys
        }
        tail = tail.sort_by([(k, "ascending") for k in keys] + [(RES, "ascending"), (TILE, "ascending")])
        self._tile = tail.column(TILE).to_numpy()
        self._tcols = {
            n: tail.column(n).to_pylist()
            for n in tail.column_names
            if n not in (*keys, RES, TILE)
        }
        res = tail.column(RES).to_pylist()
        self._bands = _ranges([(k, r) for k, r in zip(_key_tuples(tail, keys), res)])

    def names(self, horizon_ms: int) -> list[str]:
        """Feature names in the Spark plan's order."""
        pairs, _mg, _dk = _pairs(self.gb, horizon_ms)
        return [a.output_name(w, None) for a, w in pairs]

    def merge(self, events: StreamEvents, queries, horizon_ms: int) -> dict:
        """{(key tuple, q_ms): [finalized value per (aggregation, window)]}
        for each query (key tuple, q_ms); a query with a null key or time
        gets nulls (the Spark plan's equi-joins drop it)."""
        pairs, _mg, _dk = _pairs(self.gb, horizon_ms)
        bounds = [
            (f"p{i}", a, w, w.tail_hop_millis() if w else None,
             _stable_lo(w, self.batch_end, horizon_ms))
            for i, (a, w) in enumerate(pairs)
        ]
        out = {}
        for key, q in queries:
            if q is None or any(k is None for k in key):
                out[(key, q)] = [None] * len(pairs)
                continue
            row = self._row.get(key)
            e0, e1 = events.ranges.get(key, (0, 0))
            ets = events.ets[e0:e1]
            vals = []
            for slot, a, w, hop, stable_lo in bounds:
                t0 = t1 = 0
                if w is None:
                    j0 = e0
                else:
                    tail = q - w.millis
                    tail -= tail % hop  # Python's % is pmod for a positive hop
                    b0, b1 = self._bands.get((key, hop), (0, 0))
                    lo, hi = np.searchsorted(self._tile[b0:b1], [tail, stable_lo])
                    t0, t1 = b0 + int(lo), b0 + int(hi)
                    j0 = e0 + int(np.searchsorted(ets, tail))
                j1 = e0 + int(np.searchsorted(ets, q))

                def irs(suffix, _slot=slot, _t0=t0, _t1=t1):
                    name = f"{_slot}__{suffix}"
                    got = [] if row is None else [self._ccols[name][row]]
                    got += self._tcols[name][_t0:_t1]
                    return [v for v in got if v is not None]

                col = events.cols[a.input_column]
                idx = [j for j in range(j0, j1) if col[j] is not None]
                ords = (
                    [(int(events.ets[j]), _nk(events.tb[j])) for j in idx]
                    if a.operation in _ORDERED else None
                )
                vals.append(_finalize(a, irs, [col[j] for j in idx], ords))
            out[(key, q)] = vals
        return out


def collect_events(
    store: IRStore, stream: DataFrame, tiebreak: str | None, horizon_ms: int
) -> StreamEvents:
    """``stream`` normalized as ``fetch_features`` normalizes it, cut to
    ``[batch_end, batch_end + horizon)`` and collected with one ``toArrow``."""
    gb, tb = store.gb, "__tb"
    ev = _normalize_events(stream, gb, tiebreak).where(
        (F.col(ETS) >= store.batch_end) & (F.col(ETS) < store.batch_end + horizon_ms)
    )
    table = (
        ev.withColumn(tb, F.col(tiebreak) if tiebreak else F.lit(0))
        .toArrow()
        .sort_by([(k, "ascending") for k in gb.keys] + [(ETS, "ascending"), (tb, "ascending")])
    )
    return StreamEvents(
        ets=table.column(ETS).to_numpy(),
        tb=table.column(tb).to_pylist(),
        cols={a.input_column: table.column(a.input_column).to_pylist() for a in gb.aggregations},
        ranges=_ranges(_key_tuples(table, gb.keys)),
    )


def feature_fields(
    spark, store: IRStore, stream: DataFrame, tiebreak: str | None, horizon_ms: int
) -> list[T.StructField]:
    """The finalized feature fields (before GroupBy derivations) of the Spark
    plan ``upload.fetch_features``, read off its analyzed schema over an
    empty request frame: analysis only, no job."""
    from dataclasses import replace

    from chronon_spark.operators.upload import fetch_features

    collapsed, tail = store.frames
    gb, tc = store.gb, "__q_ts"
    q = local_frame(
        spark, [],
        T.StructType([collapsed.schema[k] for k in gb.keys] + [T.StructField(tc, T.TimestampType())]),
    )
    plan = fetch_features(
        q, collapsed, tail, stream, replace(gb, derivations={}), store.batch_end_ds,
        horizon_ms=horizon_ms, left_time_column=tc, tiebreak=tiebreak,
    )
    return [
        T.StructField(f.name, f.dataType, True)
        for f in plan.schema.fields
        if f.name not in (*gb.keys, tc)
    ]


def _finalize(a, irs, vals: list, ords: list | None):
    """Merge one (aggregation, window)'s IR contributions (``irs(suffix)``:
    non-null IR values of the collapsed row and in-band tiles) with its
    in-window stream events (non-null ``vals`` and, for ``_ORDERED`` ops,
    their (ms, tiebreak) order keys ``ords``), then finalize as
    ``ops.finalize``."""
    op = a.operation
    k = a.k or 1
    if op == Op.COUNT:
        return sum(irs("n")) + len(vals)
    if op == Op.SUM:
        parts = irs("s") + ([sum(vals)] if vals else [])
        return sum(parts) if parts else None
    if op == Op.AVERAGE:
        n = sum(irs("n")) + len(vals)
        return float(sum(irs("s")) + sum(vals)) / n if n > 0 else None
    if op == Op.VARIANCE:
        n = sum(irs("n")) + len(vals)
        if n == 0:
            return None
        d = [float(v) for v in vals]
        s = sum(irs("s")) + sum(d)
        q = sum(irs("q")) + sum(x * x for x in d)
        return q / n - (s / n) * (s / n)
    if op in (Op.MIN, Op.MAX):
        c = irs("m") + vals
        return (min if op == Op.MIN else max)(c) if c else None
    if op in (Op.FIRST, Op.LAST):
        c = [(_okey(p), p["v"]) for p in irs("p")] + list(zip(ords, vals))
        if not c:
            return None
        return (min if op == Op.FIRST else max)(c, key=lambda x: x[0])[1]
    if op in (Op.FIRST_K, Op.LAST_K):
        # array_sort over struct(o, v): by order key, then value
        c = [(_okey(e), e["v"]) for lst in irs("l") for e in lst] + list(zip(ords, vals))
        c.sort(reverse=op == Op.LAST_K)
        return [v for _o, v in c[:k]]
    if op in (Op.TOP_K, Op.BOTTOM_K):
        c = [v for lst in irs("l") for v in lst] + vals
        c.sort(reverse=op == Op.TOP_K)
        return c[:k]
    if op == Op.UNIQUE_COUNT:
        return len({v for lst in irs("set") for v in lst}.union(vals))
    raise UnservedOpError(f"{op.name} is not served in-process")  # check_served guards this
