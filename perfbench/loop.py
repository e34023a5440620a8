"""One driver's Kafka -> pool -> CDC ETL -> Kafka sync cycle.

Each step calls the public functions the CLI's ``--transport wire``
paths call (``cmd_from_kafka``, ``cmd_etl``, ``cmd_to_kafka``):

1. resume from the Raw pool (``starting_offsets_from_pool``), then per
   input topic ``kafka_wire.wire_read_topic`` and
   ``from_kafka.envelope_stream`` with ``connect_json.decode``,
   ``localCheckpoint`` and ``monotonic_guard``;
2. ``Pool.load_batch`` under ``writer_lock``;
3. ``EtlPipeline.run`` on ``demo/invoices.yaml`` (Zed dialect);
4. the head offset of ``NewInvoices``, then ``to_kafka.sync_batches``
   at 200 records per batch, producing through
   ``kafka_wire.wire_produce_df``.

Every step runs inside a tracer span; the spans are the per-layer
breakdown when the tracer records them.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from perfbench import cdc
from zinger_spark.codecs import connect_json as cj
from zinger_spark.datamodel import fuse
from zinger_spark.etl.config import load_transform
from zinger_spark.etl.planner import EtlPipeline
from zinger_spark.kafka_admin import WireTopicAdmin
from zinger_spark.kafka_wire import EARLIEST, wire_produce_df, wire_read_topic
from zinger_spark.sources.pool import Pool
from zinger_spark.streaming import from_kafka as fk
from zinger_spark.streaming import to_kafka as tk

YAML = os.path.join(os.path.dirname(os.path.abspath(__file__)), "invoices.yaml")
INPUTS = (cdc.INVOICES, cdc.STATUS)


class SyncLoop:
    def __init__(self, spark, lake: str, bootstrap: str, tracer):
        self.spark = spark
        self.bootstrap = bootstrap
        self.tracer = tracer
        pools = {name: Pool.create(spark, f"{lake}/{name}") for name in ("Raw", "Staging")}
        self.raw, self.staging = pools["Raw"], pools["Staging"]
        self.pipeline = EtlPipeline(spark, load_transform(YAML), pools.__getitem__)
        #: per cycle: "fetched" ({topic: first offset read}), "ingested",
        #: "etl" (ETL'd count), "produced", "egress_hw" (NewInvoices high
        #: watermark after egress), "t_fetch" and "t_return" (monotonic)
        self.cycles: list[dict] = []

    def _decoder(self, topic: str):
        schema = cdc.VALUE_SCHEMAS[topic]
        return lambda c: cj.decode(c.cast("string"), schema)

    def _produce(self, df) -> None:
        span = self.tracer.span
        key_dt, value_dt = df.schema["key"].dataType, df.schema["value"].dataType
        out = tk.kafka_sink_projection(
            df,
            value_encoder=lambda d: cj.encode(F.col("value"), value_dt),
            key_encoder=lambda d: cj.encode(F.col("key"), key_dt),
        )
        with span("kafka_wire.produce"):
            wire_produce_df(out, self.bootstrap, cdc.OUTPUT)

    def cycle(self) -> dict:
        """One sync cycle."""
        span = self.tracer.span
        rec: dict = {"fetched": {}}
        with span("cycle"):
            rec["t_fetch"] = time.monotonic()
            with span("pool.resume"):
                offsets = fk.starting_offsets_from_pool(self.raw, list(INPUTS))
            envs = []
            for topic in INPUTS:
                start = int(offsets[topic]["0"])
                with span("kafka_wire.fetch"):
                    raw = wire_read_topic(
                        self.spark, self.bootstrap, topic,
                        starting_offset=EARLIEST if start < 0 else start,
                        partitions=[0],
                    )
                envs.append(fk.envelope_stream(
                    raw, value_decoder=self._decoder(topic),
                    key_decoder=lambda c: cj.decode(c.cast("string"), cdc.KEY_SCHEMA),
                ))
                rec["fetched"][topic] = max(start, 0)
            with span("from_kafka.envelope"):
                env = fuse(*envs).localCheckpoint(eager=True)
                n = env.count()
            rec["ingested"] = n
            if n:
                with span("from_kafka.guard"):
                    fk.monotonic_guard(env, {
                        f"{t}:{p}": int(s) for t, ps in offsets.items()
                        for p, s in ps.items() if int(s) >= 0
                    })
                with span("pool.commit"):
                    with self.raw.writer_lock():
                        self.raw.load_batch(env)
            with span("etl.run"):
                rec["etl"] = self.pipeline.run()
            with span("to_kafka.resume"):
                admin = WireTopicAdmin(self.bootstrap)
                try:
                    start = admin.head_offset(cdc.OUTPUT)
                finally:
                    admin.close()
            with span("to_kafka.sync"):
                rec["produced"] = tk.sync_batches(
                    self.staging, cdc.OUTPUT, start, self._produce,
                    batch_size=tk.BATCH_SIZE)
            rec["t_return"] = time.monotonic()
            rec["egress_hw"] = start + rec["produced"]
        self.cycles.append(rec)
        return rec
