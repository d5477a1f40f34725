"""Streaming hop-tile maintenance — the realtime half of the lambda design.

Reference behavior (SURVEY.md §2.4): the Flink path keys by the GroupBy keys,
tumbles event-time windows of the smallest tail hop, incrementally aggregates
partial IRs per tile, and upserts tiles to a KV store; watermark/allowed
lateness are 0 (late events are corrected by the nightly batch job)
(flink/src/main/scala/ai/chronon/flink/FlinkJob.scala:117-165,
docs/source/Tiled_Architecture.md).

Structured-Streaming re-expression: ``readStream -> groupBy(window(ts, hop),
keys).agg(partial IRs) -> outputMode("update") -> foreachBatch(sink)``. The
tile schema matches the batch hop-tile estimator
(functions/ops.partial_cols), so a fetcher can merge batch tiles + the
stream's fresh tiles exactly like the reference's lambda merge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from chronon_spark.api import GroupBy
from chronon_spark.functions import ops as O
from chronon_spark.plans.windows import to_millis


def tile_aggregates(gb: GroupBy, tiebreak: str | None = None) -> dict[str, Column]:
    """Partial-IR aggregate columns for one tile, shared with the batch hop
    estimator so batch and streaming tiles are merge-compatible."""
    exprs: dict[str, Column] = {}
    tb = F.col(tiebreak) if tiebreak else F.lit(0)
    for i, agg in enumerate(gb.aggregations):
        if agg.operation not in O.HOP_MERGEABLE_OPS:
            raise ValueError(
                f"{agg.operation} has no mergeable IR; streaming tiles support "
                f"only hop-mergeable ops (got {agg.operation.value})"
            )
        exprs.update(O.partial_cols(agg, F.col(agg.input_column), F.col("__ts_ms"), tb, f"a{i}"))
    return exprs


def streaming_tiles(
    stream: DataFrame,
    gb: GroupBy,
    hop: str = "5 minutes",
    watermark: str = "0 seconds",
    tiebreak: str | None = None,
) -> DataFrame:
    """Tumbling event-time tile aggregation over a streaming DataFrame.

    ``watermark="0 seconds"`` mirrors the reference: late events are dropped
    on the stream and corrected by the nightly batch upload. Output rows are
    (keys..., tile_start, tile_end, partial IR columns) in update mode.
    """
    src = stream.withColumn("__ts_ms", to_millis(F.col(gb.time_column)))
    exprs = tile_aggregates(gb, tiebreak)
    # the event-time cast must happen BEFORE withWatermark: windowing on
    # cast(ts) while watermarking raw ts silently breaks the watermark-column
    # association and late rows are never filtered
    src = src.withColumn("__event_time", F.col(gb.time_column).cast("timestamp"))
    win = F.window(F.col("__event_time"), hop)
    out = (
        src.withWatermark("__event_time", watermark)
        .groupBy(win.alias("tile"), *gb.keys)
        .agg(*[c.alias(n) for n, c in exprs.items()])
        .select(
            *gb.keys,
            F.unix_millis(F.col("tile.start")).alias("tile_start_ms"),
            F.unix_millis(F.col("tile.end")).alias("tile_end_ms"),
            *exprs.keys(),
        )
    )
    return out


def start_tile_sink(
    tiles: DataFrame,
    sink,  # Callable[[DataFrame, int], None] — KV upsert per micro-batch
    checkpoint_dir: str,
    trigger_sec: int = 10,
) -> StreamingQuery:
    """foreachBatch KV-style sink with exactly-once checkpointing."""
    return (
        tiles.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_sec} seconds")
        .start()
    )
