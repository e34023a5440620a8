"""Offset bookkeeping: the pool-side state machine of the reference.

The pool key ``kafka.offset`` is monotonic per topic; consumers resume
from max(stored)+1 and the ETL assigns dense sequential output offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def next_consumer_offset(pool: DataFrame, topic: str) -> int:
    """Largest stored offset for topic, +1 (fifo/lake.go:62-82:
    `kafka.topic=='T' | tail 1 | yield kafka`). 0 when empty.

    Aggregate max() instead of sort+limit: parquet min/max column stats
    answer this with a metadata-mostly scan, and it parallelizes.
    """
    row = (
        pool.filter(F.col("kafka.topic") == topic)
        .agg(F.max("kafka.offset").alias("mx"))
        .collect()[0]
    )
    return 0 if row["mx"] is None else int(row["mx"]) + 1


def next_producer_offsets(pool: DataFrame) -> dict[str, int]:
    """`offset:=max(kafka.offset) by topic:=kafka.topic` then +1 per topic
    (etl/pool.go:60-81). Returns {} for an empty pool."""
    rows = (
        pool.groupBy(F.col("kafka.topic").alias("topic"))
        .agg(F.max("kafka.offset").alias("offset"))
        .collect()
    )
    return {r["topic"]: int(r["offset"]) + 1 for r in rows if r["topic"] is not None}


#: assign_offsets cutover: below this input size the single-shuffle
#: window form wins (one task sorts one bounded micro-batch topic);
#: above it the distributed prefix sum's extra exchange +
#: materialization pays for itself.  512 MiB ~= several million
#: envelope rows — far past the from-kafka commit threshold, squarely
#: backfill territory.  "auto" compares Catalyst's estimate with it;
#: the ETL planner compares its window's exact size.
PREFIX_SUM_CUTOVER_BYTES = 512 * 1024 * 1024


def _estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's plan-time size estimate (file-stats based — free, no
    action).  None when the estimate is unavailable (e.g. Connect)."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # noqa: BLE001
        return None


def assign_offsets(
    df: DataFrame,
    base_offsets: dict[str, int],
    topic_col: str = "kafka.topic",
    order_col: str | list = "__in_offset",
    via_prefix_sum: bool | str = "auto",
) -> DataFrame:
    """Dense per-topic sequential output offsets (insertOffsets,
    etl/pipeline.go:127-164): per-topic rank over the input order +
    the topic's current high-water mark.

    Two physical strategies, IDENTICAL results (exclusive prefix sum
    of 1s == row_number - 1):

    * window form (``via_prefix_sum=False``): one shuffle on the topic
      key, one sort task per topic — optimal for the bounded
      micro-batch the reference's commit threshold guarantees (~1M
      records), where the per-topic "serialization" is one task
      sorting one small batch;
    * two-level distributed prefix sum (``True``,
      operators/packing.prefix_sum): parallelism = #partitions, so a
      BACKFILL-scale batch where one topic's slice outgrows a task
      never funnels through a single sort reducer — at the cost of a
      range-sampling exchange + one materialization barrier (~0.5 s
      constant, which would double a micro-batch's latency for
      nothing).

    The default ``"auto"`` picks by Catalyst's plan-time size estimate
    (PREFIX_SUM_CUTOVER_BYTES), the same statistics AQE plans from:
    unknown size falls to the prefix sum (the scale-safe side).  The
    estimate is only as good as the plan's statistics: over a join it
    is the PRODUCT of the children's sizes, so a micro-batch fed by a
    join can estimate gigabytes and take the prefix sum.  A caller that
    knows the exact input size should pass ``via_prefix_sum`` itself
    (the ETL planner does, from its window's row count).
    NULL topics are only grouped by the window form (the prefix sum's
    equi-join drops them; every producer in this repo assigns topics
    from declared routes, so nulls cannot occur there)."""
    if via_prefix_sum == "auto":
        est = _estimated_bytes(df)
        via_prefix_sum = est is None or est >= PREFIX_SUM_CUTOVER_BYTES
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)

    def start_at(topic_expr):
        # ONE definition of the base-offset lookup, shared by both
        # physical strategies so their semantics cannot drift
        if not base_offsets:
            return F.lit(0)
        base = F.create_map(
            *[x for kv in base_offsets.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
        )
        return F.coalesce(base.getItem(topic_expr), F.lit(0))

    if via_prefix_sum:
        from .packing import prefix_sum  # noqa: PLC0415

        ranked = prefix_sum(
            df.withColumn("__topic", F.col(topic_col)).withColumn("__one", F.lit(1)),
            "__topic",
            order_cols,
            "__one",
            out_col="__rk0",
        )
        new_off = start_at(F.col("__topic")) + F.col("__rk0")
        return ranked.withColumn(
            "kafka",
            F.col("kafka").withField("offset", new_off.cast("long")),
        ).drop("__topic", "__one", "__rk0")
    w = Window.partitionBy(topic_col).orderBy(*order_cols)
    new_off = start_at(F.col(topic_col)) + F.row_number().over(w) - 1
    return df.withColumn(
        "kafka",
        F.col("kafka").withField("offset", new_off.cast("long")),
    )
