"""ETL planner: Transform config -> DataFrame pipeline -> atomic commit.

The reference compiles Zed query text per output topic
(etl/build.go:67-109) and post-processes results in Go
(etl/pipeline.go:92-164).  Here the whole thing is ONE Catalyst plan:

    per-input-topic anti-join prelude      (etl/build.go:111-137)
    -> first-match switch over rules       (etl/build.go:92-107)
         stateless: {in:this} -> user expr -> out.kafka:=in.kafka
                    (etl/build.go:163-185)
         denorm:    {left:this} x {right:this} inner join -> user expr
                    -> out.kafka:=left.kafka (etl/build.go:187-216)
    -> fuse-union of branches + trailing sort kafka.offset
    -> per-topic sequential offset assignment (etl/pipeline.go:127-164)
    -> single atomic commit of data + done markers (etl/pipeline.go:92-125)

User ``zed`` blocks are Spark SQL expressions over the ``in`` /
``left`` / ``right`` struct columns producing the ``out`` struct — the
reference's shaper contract (README.md:303-315) with Zed replaced by
Spark SQL.  A ``typeof(<path>)`` pseudo-function resolves to the
field's DDL at plan time (typed-null tombstones, demo/invoices.yaml).

Scale: every scan is cursor-bounded.  A per-(output-topic, input-topic)
low-water cursor — the max offset below which EVERY input record is
already marked done — is persisted in an atomic sidecar under the
output pool and advanced after every run.  Both the raw input scan and
the done-marker scan carry ``kafka.offset > cursor``, which reaches the
parquet scan as a pushed filter (file skipping on offset min/max), so
steady-state cost is O(new window), not O(pool) — this implements the
incremental model the reference documents but never built
(etl/build.go:9-18 "brute force", design.md:117-128 cursor records;
ours lives in a sidecar file, not pool rows, because data/done rows are
the pool's public golden contract).  The done side is the markers
ABOVE the cursor (bounded by the in-flight window); no broadcast hint
is forced — AQE picks broadcast vs shuffle-hash from the actual size,
so a backfill can't OOM the executors.

One run plans and scans its window once (the Structured Streaming
trigger model: table metadata from the log, then only the new window).
The window — every input data row above the cursor, flagged done or not
— is materialised by one aggregation that also yields its exact size
and each topic's cursor candidates; every rule branch reads it, and the
cursor advances from it and the run's own done markers, with no second
pass over the pools.  The offset assignment strategy follows the exact
window size: one window shuffle on the output topic key for a
micro-batch (the same per-topic serialization point the reference has,
but parallel across topics), the distributed prefix sum for a backfill.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window, functions as F
from pyspark.sql import types as T

from zinger_spark import zedql

from ..datamodel import TYPE_DATA, TYPE_DONE, fuse
from .config import ConfigError, Rule, Transform

_ORIG_OFFSET = "__orig_offset"
_ORIG_TOPIC = "__orig_topic"
_DONE = "__done"


# ---------------------------------------------------------------------------
# typeof() resolution


def _lookup_type(schema: T.StructType, path: list[str]) -> T.DataType:
    cur: T.DataType = schema
    for part in path:
        if not isinstance(cur, T.StructType):
            raise ConfigError(f"typeof path {'.'.join(path)}: {part} is not a struct")
        match = next((f for f in cur.fields if f.name == part), None)
        if match is None:
            raise ConfigError(f"typeof path {'.'.join(path)}: no field {part!r}")
        cur = match.dataType
    return cur


def resolve_typeof(expr: str, schema: T.StructType) -> str:
    """Replace typeof(<path>) with the field's DDL type string."""

    def _sub(m: re.Match) -> str:
        path = [p for p in m.group(1).replace("`", "").strip().split(".") if p]
        return _lookup_type(schema, path).simpleString()

    return re.sub(r"typeof\(([^)]*)\)", _sub, expr)


# ---------------------------------------------------------------------------
# plan builder


def _where(rule: Rule) -> Column:
    if not rule.where:
        return F.lit(True)
    # Dialect sniff: the reference's where clauses are Zed expressions
    # (`value.op in ["c", "r"]`, demo/invoices.yaml:13). Try Zed first;
    # anything it can't parse end-to-end falls through to Spark SQL.
    try:
        return zedql.compile_predicate(rule.where)
    except (zedql.ZedSyntaxError, zedql.ZedCompileError):
        return F.expr(rule.where)


def _case_predicate(rule: Rule) -> Column:
    """The switch-case predicate (etl/build.go:92-107): stateless cases
    add the input-topic equality; denorm cases filter topics inside."""
    pred = _where(rule)
    if rule.type == "stateless":
        pred = pred & (F.col("kafka.topic") == rule.in_topic)
    return pred


def _done_of(kafka_col: str) -> list[Column]:
    return [
        F.struct(
            F.col(f"{kafka_col}.topic").alias("topic"),
            F.lit(None).cast("long").alias("partition"),
            F.col(f"{kafka_col}.offset").alias("offset"),
        ).alias("kafka"),
        F.lit(TYPE_DONE).alias("_type"),
    ]


class EtlPipeline:
    """One runnable ETL over N output topics in ONE output pool.

    The reference supports a single output topic (etl/pipeline.go:66-68
    panics on more); this engine lifts that limitation: the rules of one
    transform may fan out to multiple output topics, and the pipeline
    still does ONE cursor-bounded incremental scan per input topic, ONE
    anti-join prelude, per-topic offset assignment (assign_offsets is
    already per-topic), and ONE atomic commit of all outputs' data rows
    plus the done markers.  First-match switch semantics make the shared
    done-marker set unambiguous: each input record matches at most one
    rule, so "done" means "consumed by this transform", whichever output
    topic the matching rule targets.

    All output topics must share one pool — that is the reference's own
    routing constraint (etl/routes.go:64-69: every output of a given
    input lands in the input's output pool) and what makes the single
    atomic commit possible.
    """

    def __init__(self, spark: SparkSession, transform: Transform, open_pool):
        """``open_pool(name) -> Pool`` keeps this module storage-agnostic."""
        self.spark = spark
        self.transform = transform
        outputs = transform.routes.output_topics()
        if not outputs:
            raise ConfigError("transform declares no output topics")
        pools = {transform.routes.lookup_pool(t) for t in outputs}
        if len(pools) != 1:
            raise ConfigError(
                f"all output topics must share one pool for the atomic "
                f"commit, got {sorted(pools)}"
            )
        self.output_topics = outputs
        # single-output attribute kept for callers/sidecars of the
        # reference-compatible form
        self.output_topic = outputs[0]
        self.output_pool = open_pool(pools.pop())
        self.input_pools = {}
        for route in transform.inputs:
            if route.pool not in self.input_pools:
                self.input_pools[route.pool] = open_pool(route.pool)
        # the run's materialised window, its per-topic stats and its
        # not-done rows with their exact count (build)
        self._window: DataFrame | None = None
        self._window_stats: dict = {}
        self._fresh: DataFrame | None = None
        self._fresh_rows = 0

    def _input_topics(self) -> list[str]:
        """Input topics across ALL output topics, order-stable dedup —
        one scan per input topic however many outputs it feeds."""
        seen: dict[str, None] = {}
        for out in self.output_topics:
            for topic in self.transform.routes.inputs_of(out):
                seen.setdefault(topic)
        return list(seen)

    # -- cursor bookkeeping --------------------------------------------------

    def _cursor_sidecar(self) -> str:
        # One sidecar file PER OUTPUT-TOPIC SET: two pipelines driving
        # different output topics on the same pool (the documented
        # parallel-across-topics deployment) never read-modify-write
        # each other's cursor state.  A single-output pipeline keeps the
        # pre-r10 `_etl_cursors_{topic}.json` name unchanged.
        return f"_etl_cursors_{'+'.join(sorted(self.output_topics))}.json"

    def _read_cursors(self) -> dict[str, int]:
        """{input topic: low-water offset} for this output topic.  Every
        offset <= cursor is already done; -1 (absent) = nothing done."""
        obj = self.output_pool.read_sidecar(self._cursor_sidecar())
        if obj is None:
            # pre-r5 shared sidecar, keyed by output topic — migrate on read
            legacy = self.output_pool.read_sidecar("_etl_cursors.json")
            obj = (legacy or {}).get(self.output_topic)
        return obj or {}

    def _write_cursors(self, cursors: dict[str, int]) -> None:
        self.output_pool.write_sidecar(self._cursor_sidecar(), cursors)

    def _advance_cursors(self, marked: DataFrame | None) -> None:
        """Advance each input topic's cursor to the low-water mark over
        ACTUAL INPUT DATA offsets: (min data offset above the cursor
        lacking a done marker) - 1, or the max data offset when all of
        them are done.  Kafka broker offsets are NOT dense (transaction
        control records and log compaction leave permanent gaps), so a
        done-offset density walk would freeze below the first gap;
        anchoring on the data offsets advances straight past gaps.

        Both candidates come from the run's own window (``build``):
        ``mx`` is its max offset, ``g`` the min offset of a row that was
        not done before the run and that ``marked`` — the done markers
        this run committed, None when it committed none — does not
        mark.  That is at most one job over the materialised window,
        never a second pass over the pools.  Rows ingested after
        ``build`` are not in the window, so the cursor can lag the
        pools, never lead them.

        Records that match no rule — and denorm rows whose join partner
        never arrived — get no done marker, so they PIN the cursor and
        everything above them is rescanned each run (same rescan the
        reference does every run for all unmatched input,
        etl/build.go:9-18; ``cursor_lag`` measures the pinned width).

        Lagging is always safe: rows above the cursor are flagged done
        again by the next window, so a crash between commit and sidecar
        write self-heals on the next run.
        """
        if self.output_pool.is_empty():
            return
        stats = self._window_stats
        pending = {topic: s["g"] for topic, s in stats.items()}
        if marked is not None:
            m = marked.select(
                F.col("kafka.topic").alias("__mt"), F.col("kafka.offset").alias("__mo")
            )
            unmarked = (
                self._fresh.join(
                    m,
                    (F.col("kafka.topic") == F.col("__mt"))
                    & (F.col("kafka.offset") == F.col("__mo")),
                    "left_anti",
                )
                .groupBy(F.col("kafka.topic").alias("__t"))
                .agg(F.min("kafka.offset").alias("g"))
            )
            pending = dict.fromkeys(stats)
            for row in unmarked.collect():
                pending[row["__t"]] = row["g"]
        cursors = dict(self._read_cursors())
        changed = False
        for topic, st in stats.items():
            g = pending.get(topic)
            new_cur = int(st["mx"]) if g is None else int(g) - 1
            if new_cur > cursors.get(topic, -1):
                cursors[topic] = new_cur
                changed = True
        if changed:
            self._write_cursors(cursors)

    def cursor_lag(self) -> dict[str, int]:
        """Per input topic: how many already-done data offsets sit above
        the cursor (the width a pinned cursor forces every run to
        rescan and re-drop).  Every non-empty input topic gets an entry
        — an explicit 0 means "cursor is tight", distinguishable from a
        misrouted or empty topic (which is absent)."""
        if self.output_pool.is_empty():
            return {}
        cursors = self._read_cursors()
        routes = self.transform.routes
        lags: dict[str, int] = {}
        legs = []
        for topic in self._input_topics():
            pool = self.input_pools[routes.lookup_pool(topic)]
            if pool.is_empty():
                continue
            lags[topic] = 0
            cur = cursors.get(topic, -1)
            data = (
                pool.df(topic=topic)
                .filter((F.col("_type") == TYPE_DATA) & (F.col("kafka.offset") > cur))
                .select(
                    F.col("kafka.topic").alias("__t"),
                    F.col("kafka.offset").alias("__o"),
                )
            )
            done = (
                self.output_pool.df(topic=topic)
                .filter((F.col("_type") == TYPE_DONE) & (F.col("kafka.offset") > cur))
                .select(F.col("kafka.offset").alias("__d"))
            )
            legs.append(
                data.join(done, data["__o"] == done["__d"], "left_semi")
            )
        if not legs:
            return lags
        allx = legs[0]
        for leg in legs[1:]:
            allx = allx.unionAll(leg)
        for row in allx.groupBy("__t").agg(F.count(F.lit(1)).alias("n")).collect():
            lags[row["__t"]] = int(row["n"])
        return lags

    # -- continuous mode -----------------------------------------------------

    def run_stream(
        self,
        checkpoint: str,
        available_now: bool = False,
        on_batch=None,
    ):
        """Continuous ETL: a file-source readStream over the INPUT
        pools' commit dirs acts as the commit-arrival trigger; each
        micro-batch invokes one incremental ``run()`` (which re-plans
        from the pools themselves — cursor-bounded, anti-joined,
        idempotent, serialized by the writer lock).  The streamed rows
        are only the wake-up signal, so restarts and checkpoint loss
        are harmless: an extra run() finds nothing new and commits
        nothing.  This completes the continuous chain — streaming
        ingest (from_kafka.run_ingest) -> streaming ETL (here) ->
        streaming egress (to_kafka.continuous_sink).

        The trigger glob (``Pool.data_glob``) sees a commit's files as
        they land, which can be just before the log append publishes
        the commit.  A wake-up
        that fires in that window runs a ``run()`` that does not see
        the commit yet; the NEXT wake-up's ``run()`` picks it up.  So
        the last commit before the input goes quiet can wait for the
        next commit to arrive (or for a restart, or a batch ``run()``).

        ``on_batch(n)`` (optional) receives each run's ETL'd count.
        """
        # one glob per distinct input pool; the file source tracks new
        # commit files under each
        globs = sorted({pool.data_glob() for pool in self.input_pools.values()})
        schema = None
        for route in self.transform.inputs:
            pool = self.input_pools[route.pool]
            if not pool.is_empty():
                schema = pool.df().schema
                break
        if schema is None:
            from ..sources.pool import PoolError  # noqa: PLC0415

            raise PoolError(
                "run_stream needs at least one non-empty input pool to "
                "infer the trigger stream's schema"
            )
        stream = self.spark.readStream.schema(schema).option(
            "mergeSchema", "true"
        ).parquet(*globs)

        def _on_batch(_batch: DataFrame, _bid: int) -> None:
            n = self.run()
            if on_batch is not None:
                on_batch(n)

        writer = (
            stream.writeStream.foreachBatch(_on_batch)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- plan ---------------------------------------------------------------

    def _window_of(self) -> DataFrame | None:
        """The run's input window: per input topic, the DATA rows above
        the low-water cursor, each flagged ``__done`` when the output
        pool already holds a done marker for its offset
        (etl/build.go:111-137 anti-join prelude; incremental model per
        design.md:80-85).  Rules read the not-done rows; the done ones
        stay in the window for the cursor's max offset.

        Both sides carry ``kafka.offset > cursor`` so the parquet scans
        file-skip on offset min/max stats.  The flag is a left-anti
        plus a left-semi join against the done markers, which never
        duplicates a row however often an offset is marked (a denorm
        right record joined to several left records is marked once per
        pair) and keeps Catalyst's size estimate at the input's.
        """
        routes = self.transform.routes
        cursors = self._read_cursors()
        legs, above = [], []
        for topic in self._input_topics():
            pool = self.input_pools[routes.lookup_pool(topic)]
            if pool.is_empty():
                continue
            cur = cursors.get(topic, -1)
            in_window = F.col("kafka.topic") == topic
            if cur >= 0:
                in_window = in_window & (F.col("kafka.offset") > cur)
            above.append(in_window)
            legs.append(
                pool.df(topic=topic).filter((F.col("_type") == TYPE_DATA) & in_window)
            )
        if not legs:
            return None
        raw = fuse(*legs)
        if self.output_pool.is_empty():
            return raw.withColumn(_DONE, F.lit(False))
        any_above = above[0]
        for pred in above[1:]:
            any_above = any_above | pred
        done = (
            self.output_pool.df()
            .filter((F.col("_type") == TYPE_DONE) & any_above)
            .select(
                F.col("kafka.topic").alias("__d_topic"),
                F.col("kafka.offset").alias("__d_offset"),
            )
        )
        on = (F.col("kafka.topic") == F.col("__d_topic")) & (
            F.col("kafka.offset") == F.col("__d_offset")
        )
        return raw.join(done, on, "left_anti").withColumn(
            _DONE, F.lit(False)
        ).unionByName(raw.join(done, on, "left_semi").withColumn(_DONE, F.lit(True)))

    def _rule_out(self, wrapped: DataFrame, rule: Rule) -> DataFrame:
        """Evaluate a rule's `zed:` block over the wrapped scope
        (`in` / `left`+`right`) and return a frame carrying the `out`
        column (the reference's user-ETL contract: "must create a ...
        record in a field called out", README.md:303-315).

        Two dialects: real Zed pipeline fragments (demo/invoices.yaml —
        detected by the `:=` assignment that every Zed rule block uses,
        never valid in SQL) compile through zedql; otherwise the block
        is a single Spark SQL struct expression (this engine's native
        form)."""
        text = rule.zed.strip()
        if zedql.looks_like_zed(text):
            res = zedql.compile_rule_seq(wrapped, text)
            if "out" not in res.columns:
                raise ConfigError("zed rule block must assign the `out` field")
            return res
        sql = resolve_typeof(text, wrapped.schema)
        return wrapped.select("*", F.expr(sql).alias("out"))

    def _apply_stateless(self, subset: DataFrame, rule: Rule):
        wrapped = subset.select(F.struct("*").alias("in"))
        out = self._rule_out(wrapped, rule).select(
            "out", F.col("in.kafka").alias("__in_kafka")
        )
        data = out.select(
            F.col("out.*"),
            F.struct(
                F.lit(rule.out).alias("topic"),
                F.lit(None).cast("long").alias("partition"),
                F.col("__in_kafka.offset").alias("offset"),
            ).alias("kafka"),
            F.lit(TYPE_DATA).alias("_type"),
            F.col("__in_kafka.offset").alias(_ORIG_OFFSET),
            F.col("__in_kafka.topic").alias(_ORIG_TOPIC),
        )
        markers = subset.select(*_done_of("kafka"))
        return data, markers

    def _apply_denorm(self, subset: DataFrame, rule: Rule):
        if "=" not in rule.join_on:
            raise ConfigError(
                f"join-on syntax error: {rule.join_on!r}"
                if rule.join_on
                else "no join-on expression provided in denorm rule"
            )
        left_key, right_key = (s.strip() for s in rule.join_on.split("=", 1))
        left = subset.filter(F.col("kafka.topic") == rule.left).select(
            F.struct("*").alias("left")
        )
        right = subset.filter(F.col("kafka.topic") == rule.right).select(
            F.struct("*").alias("right")
        )
        if rule.salt > 0:
            # Explicit skew handling (rule's `salt:` knob): shard the
            # left (driving) side over `salt` random shards, replicate
            # the right side per shard, equi-join on (key, __salt) —
            # operators/skew.salted_join.  For CDC keys so hot that one
            # reducer melts and AQE's split doesn't engage because the
            # skew only appears after the anti-join prelude (post-scan
            # statistics).  Inner join + one salt per left row = no
            # duplicate or lost pairs, so goldens are unchanged.
            from ..operators.skew import salted_join  # noqa: PLC0415

            joined = salted_join(
                left.withColumn("__jk", F.expr(f"`left`.{_strip(left_key)}")),
                right.withColumn("__jk", F.expr(f"`right`.{_strip(right_key)}")),
                ["__jk"],
                "inner",
                salt=rule.salt,
            ).drop("__jk")
        else:
            joined = left.join(
                right,
                F.expr(f"`left`.{_strip(left_key)} = `right`.{_strip(right_key)}"),
                "inner",
            )
        out = self._rule_out(joined, rule).select(
            "out",
            F.col("left.kafka").alias("__l_kafka"),
            F.col("right.kafka").alias("__r_kafka"),
        )
        data = out.select(
            F.col("out.*"),
            F.struct(
                F.lit(rule.out).alias("topic"),
                F.lit(None).cast("long").alias("partition"),
                F.col("__l_kafka.offset").alias("offset"),
            ).alias("kafka"),
            F.lit(TYPE_DATA).alias("_type"),
            F.col("__l_kafka.offset").alias(_ORIG_OFFSET),
            F.col("__l_kafka.topic").alias(_ORIG_TOPIC),
        )
        markers = fuse(
            out.select(*_done_of("__l_kafka")),
            out.select(*_done_of("__r_kafka")),
        )
        return data, markers

    def build(self) -> tuple[DataFrame | None, DataFrame | None]:
        """Returns (data rows with assigned offsets, done markers), or
        (None, None) when every input pool is empty.

        Materialises the run's window once: ``localCheckpoint`` plus
        ONE aggregation, which computes the window and yields its exact
        size and per-topic cursor candidates (``_window_stats``).  Every
        rule's data AND marker branch reads the materialised window, so
        the scans and the done-marker join run once per run, not once
        per branch.  The window is one batch (bounded by the incremental
        semantics), and the checkpoint blocks are memory-and-disk, so
        this is safe at any corpus size; ``_release`` drops them after
        the commit.  The trade-off of a local checkpoint: losing an
        executor fails the run instead of recomputing it.  The commit
        is atomic and the cursor only lags, so the rerun is still
        exactly-once.

        The rules read the not-done rows in as many partitions as the
        scan's split size (``spark.sql.files.maxPartitionBytes``) needs
        for their exact size: the scans split by file, so a micro-batch
        window would otherwise run every rule branch once per scanned
        split, tens of tasks for a few hundred rows."""
        window = self._window_of()
        if window is None:
            return None, None
        window = window.localCheckpoint(eager=False)
        self._window = window
        self._window_stats = {
            row["__t"]: row
            for row in window.groupBy(F.col("kafka.topic").alias("__t"))
            .agg(
                F.count(F.when(~F.col(_DONE), 1)).alias("fresh"),
                F.max("kafka.offset").alias("mx"),
                F.min(F.when(~F.col(_DONE), F.col("kafka.offset"))).alias("g"),
            )
            .collect()
        }
        self._fresh_rows = sum(int(s["fresh"]) for s in self._window_stats.values())
        fresh_bytes = self._fresh_rows * window._jdf.schema().defaultSize()
        split = int(self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
        fresh = (
            window.filter(~F.col(_DONE)).drop(_DONE).coalesce(max(1, -(-fresh_bytes // split)))
        )
        self._fresh = fresh
        remaining = fresh
        prior: Column | None = None
        data_parts, marker_parts = [], []
        for rule in self.transform.etls:
            pred = _case_predicate(rule)
            cond = pred if prior is None else pred & ~prior
            subset = remaining.filter(cond)
            if rule.type == "stateless":
                d, m = self._apply_stateless(subset, rule)
            else:
                d, m = self._apply_denorm(subset, rule)
            data_parts.append(d)
            marker_parts.append(m)
            masked = F.coalesce(pred, F.lit(False))
            prior = masked if prior is None else (prior | masked)
        data = fuse(*data_parts)
        markers = fuse(*marker_parts)
        data = self._assign_offsets(data, fresh_bytes)
        return data, markers

    def _release(self) -> None:
        """Drop the materialised window's checkpoint blocks (after
        ``build``; frames planned from the window fail once it is
        released)."""
        window, self._window, self._fresh = self._window, None, None
        if window is not None:
            window._jdf.queryExecution().analyzed().rdd().unpersist(False)

    def _assign_offsets(self, data: DataFrame, window_bytes: int) -> DataFrame:
        """Sequential per-output-topic offsets continuing from the pool's
        high-water mark (etl/pipeline.go:127-164), ordered by original
        input offset (the trailing `sort kafka.offset`, etl/build.go:107).

        The strategy follows the exact window size: ``window_bytes``
        (the window's not-done rows times the row's default size).
        Below PREFIX_SUM_CUTOVER_BYTES, the per-topic window (one task
        sorts one bounded micro-batch — the common case); from it on,
        the two-level distributed prefix sum, so a backfill-scale batch
        does not funnel each topic through one sort reducer.  Both
        produce bit-identical dense ranks.  Catalyst's estimate is no
        guide here: for the denorm join it multiplies the children's
        sizes.  Output topics come from declared routes, so the prefix
        sum's non-null-topic requirement always holds."""
        from ..operators.offsets import (  # noqa: PLC0415
            PREFIX_SUM_CUTOVER_BYTES,
            assign_offsets,
        )

        base = self.output_pool.next_producer_offsets()
        return assign_offsets(
            data,
            base,
            order_col=[_ORIG_OFFSET, _ORIG_TOPIC],
            via_prefix_sum=window_bytes >= PREFIX_SUM_CUTOVER_BYTES,
        ).drop(_ORIG_OFFSET, _ORIG_TOPIC)

    # -- run ----------------------------------------------------------------

    def run(self) -> int:
        """Build, then atomically commit data + markers together
        (etl/pipeline.go:92-125). Returns the ETL'd record count
        (0 = nothing new found to ETL, cmd/zync/etl/command.go:88-90).

        The count rides on an ``Observation`` attached to the data
        branch, collected during the commit write itself — no
        ``count()`` actions: the window is materialised once by
        ``build`` and the rules run once, inside the write (per-rule
        ``count()`` calls used to re-run the anti-join prelude and
        denorm joins once per rule before the write).  The reference's
        "ETL'd n" counts 1 data row + 1 done marker (stateless) or
        marker-pair (denorm) per output row, i.e. n = 2 * data rows.

        The whole run holds the output pool's writer lock: two drivers
        racing one output topic otherwise BOTH pass the anti-join
        against the same done set and commit duplicate outputs for the
        same input offsets (the reference gets this serialization from
        the Zed lake service, fifo/lake.go:58-60).  The loser blocks
        until the winner's commit is durable, then its own run sees the
        fresh done markers and ETLs nothing.
        """
        with self.output_pool.writer_lock():
            return self._run_locked()

    def _run_locked(self) -> int:
        data, markers = self.build()
        if data is None:
            return 0
        n = 0
        try:
            # a window with no not-done row has nothing to ETL: no write
            if self._fresh_rows:
                obs = Observation()
                batch = fuse(data.observe(obs, F.count(F.lit(1)).alias("rows")), markers)
                commit_id = self.output_pool.load_batch(batch)
                n = 2 * int(obs.get["rows"])
                if n == 0:
                    # nothing matched: retract the empty commit so
                    # repeated polls don't litter the pool (reference
                    # never commits an empty batch either,
                    # etl/pipeline.go:92-99)
                    self.output_pool.drop_commit(commit_id)
            # Advance the low-water cursors AFTER the commit is durable
            # (and after a retraction): the next run's scans start above
            # them.
            self._advance_cursors(markers if n else None)
        finally:
            self._release()
        return n


def _strip(path: str) -> str:
    return path.replace("`", "").split(".", 1)[1] if path.split(".", 1)[0] in ("left", "right") else path


def explain(transform: Transform) -> str:
    """Deterministic plan text (the `zync etl -zed` analog,
    cmd/zync/etl/command.go:64-71) for golden tests."""
    routes = transform.routes
    if len(transform.outputs) == 1:
        out = transform.outputs[0]
        lines = [f"output topic: {out.topic} (pool {out.pool})"]
    else:
        lines = [
            "output topics: "
            + ", ".join(f"{r.topic} (pool {r.pool})" for r in transform.outputs)
        ]
    seen: dict[str, None] = {}
    for out in transform.outputs:
        for topic in routes.inputs_of(out.topic):
            seen.setdefault(topic)
    for topic in seen:
        lines.append(
            f"from pool {routes.lookup_pool(topic)}: topic=={topic!r}"
            f" offset>cursor ANTI JOIN done({topic!r}, offset>cursor)"
            f" ON kafka.offset"
        )
    lines.append("switch (first match):")
    for i, rule in enumerate(transform.etls):
        head = f"  case {i}: {rule.type}"
        if rule.where:
            head += f" where ({rule.where})"
        lines.append(head)
        if rule.type == "stateless":
            lines.append(f"    in: {rule.in_topic}")
        else:
            line = f"    left: {rule.left} right: {rule.right} on {rule.join_on}"
            if rule.salt:
                line += f" (salted x{rule.salt})"
            lines.append(line)
        zed = " ".join(rule.zed.split())
        lines.append(f"    out := {zed}")
        lines.append(f"    + done marker(s)")
        lines.append(f"    -> kafka.topic := {rule.out!r}")
    lines.append("| sort kafka.offset; assign per-topic sequential offsets")
    lines.append("| atomic commit (data + markers)")
    return "\n".join(lines)
