"""Relational operators mirroring the Zed query surface zync generates.

Each function is a plan *builder*: it composes stock DataFrame ops so
Catalyst keeps predicate pushdown / column pruning / join selection.
Citations are to /root/reference.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def anti_join(
    raw: DataFrame,
    done: DataFrame,
    on: Sequence[str] = ("kafka.topic", "kafka.offset"),
) -> DataFrame:
    """The exactly-once/dedup core: drop raw records whose key appears in
    the done set (`anti join on kafka.offset`, etl/build.go:115,
    demo/update.zed, README.md:507-513).

    Plain left_anti — Catalyst broadcasts the done side when small, which
    it almost always is (markers of one incremental run).
    """
    left_keys = [F.col(c) for c in on]
    right = done.select(*[F.col(c).alias(f"__aj_{i}") for i, c in enumerate(on)])
    cond = reduce(
        lambda a, b: a & b,
        [lk.eqNullSafe(F.col(f"__aj_{i}")) for i, lk in enumerate(left_keys)],
    )
    return raw.join(right, cond, "left_anti")


def switch_route(
    df: DataFrame,
    cases: Sequence[tuple[Column | None, Callable[[DataFrame], DataFrame]]],
    first_match: bool = True,
) -> list[DataFrame]:
    """`switch ( case <expr> => ... )` (etl/build.go:92-107): route each
    record to its (first-)matching case pipeline; returns the per-case
    outputs (concatenate with fuse/unionByName as the caller needs).

    A ``None`` predicate is the default case. With ``first_match`` each
    case additionally excludes all earlier predicates, matching Zed's
    first-match routing.
    """
    outs: list[DataFrame] = []
    prior: Column | None = None
    for pred, body in cases:
        if pred is None:
            cond = ~prior if prior is not None else F.lit(True)
        elif first_match and prior is not None:
            cond = pred & ~prior
        else:
            cond = pred
        outs.append(body(df.filter(cond)))
        if pred is not None:
            masked = pred if not first_match else F.coalesce(pred, F.lit(False))
            prior = masked if prior is None else (prior | masked)
    return outs


def fork(
    df: DataFrame, branches: Sequence[Callable[[DataFrame], DataFrame]]
) -> list[DataFrame]:
    """`fork ( => ... => ... )` (etl/build.go:129-137): run branches off
    one parent. Caller unions the results; cache the parent upstream if
    the branches are expensive."""
    return [b(df) for b in branches]


def ordered_batch(
    df: DataFrame,
    topic: str,
    offset: int,
    size: int,
    topic_col: str = "kafka.topic",
    offset_col: str = "kafka.offset",
) -> DataFrame:
    """ReadBatch (fifo/lake.go:84-92): `kafka.topic=='T' kafka.offset>=O
    | head N | sort kafka.offset`.  The reference's optional shaper
    runs on this batch; callers apply it (to_kafka.sync_batches).

    filter + limit push into the parquet scan, and the ordered limit
    plans as one top-k (TakeOrderedAndProject): no global sort."""
    out = df.filter((F.col(topic_col) == topic) & (F.col(offset_col) >= offset))
    return out.orderBy(offset_col).limit(size)


def tail1(df: DataFrame, key: str) -> DataFrame:
    """`tail 1` on the monotonic pool key (fifo/lake.go:63-65): the
    reference exploits sortedness; with parquet min/max file stats the
    same effect is a desc sort + limit 1 (TakeOrderedAndProject — no
    full shuffle)."""
    return df.orderBy(F.col(key).desc()).limit(1)


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    tie_break: str | None = None,
) -> DataFrame:
    """As-of (backward, inclusive) join: for each left row, attach the
    most recent right row with right_ts <= left_ts, per key.

    Spark has no native as-of join; the scalable construction is the
    union-and-carry-forward trick: tag both sides, sort by (key, ts,
    side) with right rows first on ties, and carry the last non-null
    right payload forward with a running window.  ONE shuffle on the
    key — no range cross-join, no per-group pandas; works at any key
    cardinality and scales with the union size.
    """
    lcols = [F.col(c) for c in on]
    l_tag = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{dict(right.dtypes)[c]}" for c in right_cols) + ">"
        ).alias("__r"),
    )
    r_tag = right.select(
        *lcols,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(l_tag.schema["__l"].dataType).alias("__l"),
        F.struct(*[F.col(c) for c in right_cols]).alias("__r"),
    )
    order = [F.col("__ts"), F.col("__side")]
    if tie_break:
        order.append(F.coalesce(F.col(f"__l.{tie_break}"), F.col(f"__r.{tie_break}")))
    w = (
        Window.partitionBy(*[F.col(c) for c in on])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tag.unionByName(r_tag).withColumn(
        "__match", F.last("__r", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__side") == 1).select(
        F.col("__l.*"),
        *[F.col(f"__match.{c}").alias(f"right_{c}") for c in right_cols],
    )
    return out


def top1_per_group(
    df: DataFrame,
    group: Sequence[str],
    order: Sequence[Column],
) -> DataFrame:
    """Per-group top-1 (README.md:359-365, design.md:143-159 — planned
    `head 1` per switch leg). Window row_number: one shuffle on the
    group key, no global sort."""
    w = Window.partitionBy(*group).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def bucketed_range_join(
    facts: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """Range (interval) join — attach to each fact row the band whose
    [lo, hi) interval contains its value — as a BUCKETIZED equi-join.

    The naive spelling ``facts JOIN bands ON v >= lo AND v < hi`` has no
    equi-key, so Spark plans BroadcastNestedLoopJoin (every fact row
    probes every band — fine for 10 bands, catastrophic when the band
    table is a million IP ranges or price tiers).  The scale-safe shape
    quantizes both sides onto a fixed grid: each band explodes to the
    buckets its interval overlaps (ceil((hi-lo)/width) rows — bounded
    when band widths are bounded), each fact maps to exactly one
    bucket, the join becomes a hash equi-join on the bucket, and the
    residual v in [lo, hi) predicate filters within the bucket.  This
    is the published range-join-bucketing optimization Spark itself
    lacks without vendor extensions (Databricks' range-join hint /
    Flink interval join do the same quantization).

    Bands half-open [lo, hi); overlapping bands yield one output row
    each (the caller decides precedence downstream).  ``how='left'``
    keeps unmatched facts with null band columns.
    """
    b = bands.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bucket_width),
                # hi is exclusive, so floor(hi/w) can over-cover by one
                # bucket when hi sits exactly on a boundary — harmless,
                # the residual in-range predicate discards the extras
                # (an epsilon subtraction could instead UNDER-cover on
                # float rounding, which would silently drop matches)
                F.floor(F.col(hi_col) / bucket_width),
            )
        ),
    )
    f = facts.withColumn("__bkt", F.floor(F.col(value_col) / bucket_width))
    in_range = (F.col(value_col) >= F.col(lo_col)) & (
        F.col(value_col) < F.col(hi_col)
    )
    if how == "inner":
        return f.join(b, ["__bkt"]).filter(in_range).drop("__bkt")
    if how == "left":
        matched = f.join(b, ["__bkt"]).filter(in_range).drop("__bkt")
        # left rows with no in-range band at all, padded with null bands.
        # The anti join must be NULL-SAFE on every fact column: a
        # column-name anti join uses `=`, under which a matched fact row
        # carrying a NULL never equals its own matched copy and would be
        # emitted a second time null-padded.
        hit = matched.select(*facts.columns).distinct().alias("__hit")
        fa = facts.alias("__facts")
        cond = reduce(
            lambda a, c: a & c,
            [
                F.col(f"__facts.`{c}`").eqNullSafe(F.col(f"__hit.`{c}`"))
                for c in facts.columns
            ],
        )
        missing = fa.join(hit, cond, "left_anti").select(
            *facts.columns,
            *[
                F.lit(None).cast(dict(bands.dtypes)[c]).alias(c)
                for c in bands.columns
            ],
        )
        return matched.unionByName(missing)
    raise ValueError(f"bucketed_range_join: unsupported how={how!r}")
