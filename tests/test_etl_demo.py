"""End-to-end incremental CDC ETL: the reference's 4-batch invoices demo
(ztests/etl-demo.yaml goldens, demo/batch-*.zson data, demo/invoices.yaml
transform) replayed against our pool + planner.

Assertions mirror the golden Staging-pool contents after each batch,
including done markers, sequential output offsets, and the idempotent
re-run ("nothing new found to ETL")."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from zinger_spark.etl.config import Route, Rule, Transform
from zinger_spark.etl.planner import EtlPipeline, explain
from zinger_spark.sources.pool import Pool

AFTER_INV = T.StructType(
    [
        T.StructField("ID", T.LongType()),
        T.StructField("customer", T.StringType()),
        T.StructField("item", T.StringType()),
    ]
)
AFTER_IS = T.StructType(
    [
        T.StructField("ID", T.LongType()),
        T.StructField("InvoiceID", T.LongType()),
        T.StructField("status", T.StringType()),
    ]
)


def envelope_schema(after: T.StructType) -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                "kafka",
                T.StructType(
                    [
                        T.StructField("topic", T.StringType()),
                        T.StructField("partition", T.LongType()),
                        T.StructField("offset", T.LongType()),
                    ]
                ),
            ),
            T.StructField("key", T.StructType([T.StructField("ID", T.LongType())])),
            T.StructField(
                "value",
                T.StructType(
                    [
                        T.StructField("op", T.StringType()),
                        T.StructField("before", after),
                        T.StructField("after", after),
                    ]
                ),
            ),
            T.StructField("_type", T.StringType()),
        ]
    )


def inv(offset, id_, customer, item, op):
    return (
        ("Invoices", 0, offset),
        (id_,),
        (op, None, (id_, customer, item)),
        "data",
    )


def ist(offset, id_, invoice_id, status, op):
    return (
        ("InvoiceStatus", 0, offset),
        (id_,),
        (op, None, (id_, invoice_id, status)),
        "data",
    )


BATCHES = [
    # demo/batch-1.zson
    (
        [inv(1, 100, "Alice", "taco", "r"), inv(2, 101, "Bob", "burrito", "r")],
        [ist(1, 80, 101, "pending", "r"), ist(2, 32, 100, "pending", "r")],
    ),
    # demo/batch-2.zson
    (
        [inv(3, 102, "Charlie", "enchilada", "c"), inv(4, 103, "Dan", "beans", "c")],
        [ist(3, 77, 102, "pending", "c")],
    ),
    # demo/batch-3.zson
    ([], [ist(4, 192, 103, "pending", "c"), ist(5, 32, 100, "closed", "u")]),
    # demo/batch-4.zson
    (
        [],
        [
            ist(6, 192, 103, "collections", "u"),
            ist(7, 77, 102, "paid", "u"),
            ist(8, 80, 101, "paid", "u"),
        ],
    ),
]

# Golden Staging contents per batch (ztests/etl-demo.yaml), flattened to
# (topic, offset, _type, key.ID, value.ID, customer, item, invoice_status).
D1 = {
    ("NewInvoices", 0, "data", 100, 100, "Alice", "taco", "pending"),
    ("NewInvoices", 1, "data", 101, 101, "Bob", "burrito", "pending"),
    ("Invoices", 1, "done", None, None, None, None, None),
    ("Invoices", 2, "done", None, None, None, None, None),
    ("InvoiceStatus", 1, "done", None, None, None, None, None),
    ("InvoiceStatus", 2, "done", None, None, None, None, None),
}
D2 = D1 | {
    ("NewInvoices", 2, "data", 102, 102, "Charlie", "enchilada", "pending"),
    ("Invoices", 3, "done", None, None, None, None, None),
    ("InvoiceStatus", 3, "done", None, None, None, None, None),
}
D3 = D2 | {
    ("NewInvoices", 3, "data", 103, 103, "Dan", "beans", "pending"),
    ("NewInvoices", 4, "data", 100, 100, None, None, "closed"),
    ("Invoices", 4, "done", None, None, None, None, None),
    ("InvoiceStatus", 4, "done", None, None, None, None, None),
    ("InvoiceStatus", 5, "done", None, None, None, None, None),
}
D4 = D3 | {
    ("NewInvoices", 5, "data", 103, 103, None, None, "collections"),
    ("NewInvoices", 6, "data", 102, 102, None, None, "paid"),
    ("NewInvoices", 7, "data", 101, 101, None, None, "paid"),
    ("InvoiceStatus", 6, "done", None, None, None, None, None),
    ("InvoiceStatus", 7, "done", None, None, None, None, None),
    ("InvoiceStatus", 8, "done", None, None, None, None, None),
}
GOLDENS = [D1, D2, D3, D4]
ETLD = [4, 2, 4, 6]  # "ETL'd n records" per batch


def make_transform() -> Transform:
    """demo/invoices.yaml with the zed blocks as Spark SQL (the shaper
    contract: in/left/right -> out)."""
    return Transform(
        inputs=[Route("Invoices", "Raw"), Route("InvoiceStatus", "Raw")],
        output=Route("NewInvoices", "Staging"),
        etls=[
            Rule(
                type="denorm",
                where="value.op IN ('c', 'r')",
                left="Invoices",
                right="InvoiceStatus",
                join_on="left.value.after.ID=right.value.after.InvoiceID",
                out="NewInvoices",
                zed="""named_struct(
                    'key', `left`.key,
                    'value', named_struct(
                        'ID', `left`.value.after.ID,
                        'customer', `left`.value.after.customer,
                        'item', `left`.value.after.item,
                        'invoice_status', `right`.value.after.status))""",
            ),
            Rule(
                type="stateless",
                where="value.op = 'u'",
                in_topic="InvoiceStatus",
                out="NewInvoices",
                zed="""named_struct(
                    'key', named_struct('ID', `in`.value.after.InvoiceID),
                    'value', named_struct(
                        'ID', `in`.value.after.InvoiceID,
                        'invoice_status', `in`.value.after.status))""",
            ),
            Rule(
                type="stateless",
                where="value.op = 'u'",
                in_topic="Invoices",
                out="NewInvoices",
                zed="named_struct('key', `in`.key, 'value', `in`.value.after)",
            ),
            Rule(
                type="stateless",
                where="value.op = 'd'",
                in_topic="Invoices",
                out="NewInvoices",
                zed="""named_struct('key', `in`.key,
                       'value', cast(null as typeof(`in`.value.before)))""",
            ),
        ],
    )


# demo/invoices.yaml VERBATIM (same text the reference ships): real Zed
# rule blocks and Zed where-clauses, exercised through zedql instead of
# the Spark SQL dialect above.
VERBATIM_YAML = """
inputs:
  - topic: Invoices
    pool: Raw
  - topic: InvoiceStatus
    pool: Raw

output:
  topic: NewInvoices
  pool: Staging

transforms:
  - type: denorm
    where: value.op in ["c", "r"]
    left: Invoices
    right: InvoiceStatus
    join-on: left.value.after.ID=right.value.after.InvoiceID
    out: NewInvoices
    zed: |
      | out:={
          key: left.key,
          value: {
            ID: left.value.after.ID,
            customer: left.value.after.customer,
            item: left.value.after.item,
            invoice_status: right.value.after.status
          }
        }
  - type: stateless
    where: value.op=="u"
    in: InvoiceStatus
    out: NewInvoices
    zed: |
      | out:={
          key: {
            ID: in.value.after.InvoiceID
          },
          value: {
            ID: in.value.after.InvoiceID,
            invoice_status: in.value.after.status
          }
        }
  - type: stateless
    where: value.op=="u"
    in: Invoices
    out: NewInvoices
    zed: |
      | out:={
          key: in.key,
          value: in.value.after
        }
  - type: stateless
    where: value.op=="d"
    in: Invoices
    out: NewInvoices
    zed: |
      | out:={
          key: in.key,
          value: cast(null, typeof(in.value.before))
        }
"""


def make_transform_zed() -> Transform:
    """The reference's own config text, untranslated."""
    import yaml as _yaml

    from zinger_spark.etl.config import transform_from_dict

    return transform_from_dict(_yaml.safe_load(VERBATIM_YAML))


def staging_flat(pool: Pool) -> set[tuple]:
    rows = pool.df().collect()
    out = set()
    for r in rows:
        d = r.asDict(recursive=True)
        out.add(
            (
                d["kafka"]["topic"],
                d["kafka"]["offset"],
                d["_type"],
                (d.get("key") or {}).get("ID"),
                (d.get("value") or {}).get("ID"),
                (d.get("value") or {}).get("customer"),
                (d.get("value") or {}).get("item"),
                (d.get("value") or {}).get("invoice_status"),
            )
        )
    return out


@pytest.fixture()
def pools(spark, tmp_path):
    raw = Pool.create(spark, str(tmp_path / "Raw"))
    staging = Pool.create(spark, str(tmp_path / "Staging"))
    return {"Raw": raw, "Staging": staging}


@pytest.mark.parametrize("factory", [make_transform, make_transform_zed])
def test_etl_demo_four_batches(spark, pools, factory):
    transform = factory()
    pipeline = EtlPipeline(spark, transform, lambda name: pools[name])
    for i, (invoices, statuses) in enumerate(BATCHES):
        # load each topic's rows with its own schema (heterogeneous pool)
        if invoices:
            pools["Raw"].load_batch(
                spark.createDataFrame(invoices, envelope_schema(AFTER_INV))
            )
        if statuses:
            pools["Raw"].load_batch(
                spark.createDataFrame(statuses, envelope_schema(AFTER_IS))
            )
        n = pipeline.run()
        assert n == ETLD[i], f"batch {i + 1}: ETL'd {n}, want {ETLD[i]}"
        assert staging_flat(pools["Staging"]) == GOLDENS[i], f"batch {i + 1} contents"


def test_etl_idempotent_rerun(spark, pools):
    transform = make_transform()
    pipeline = EtlPipeline(spark, transform, lambda name: pools[name])
    for invoices, statuses in BATCHES:
        if invoices:
            pools["Raw"].load_batch(
                spark.createDataFrame(invoices, envelope_schema(AFTER_INV))
            )
        if statuses:
            pools["Raw"].load_batch(
                spark.createDataFrame(statuses, envelope_schema(AFTER_IS))
            )
    assert pipeline.run() > 0
    # Re-run with nothing new: anti-join must drop everything.
    assert pipeline.run() == 0
    assert staging_flat(pools["Staging"]) == GOLDENS[3]


def test_run_is_single_execution(spark, pools, monkeypatch):
    """run() must not issue driver-side count() actions: the ETL'd-n
    count rides on an Observation collected during the commit write,
    so one run = one execution of the anti-join/denorm plan."""
    import pyspark.sql

    transform = make_transform()
    pipeline = EtlPipeline(spark, transform, lambda name: pools[name])
    invoices, statuses = BATCHES[0]
    if invoices:
        pools["Raw"].load_batch(
            spark.createDataFrame(invoices, envelope_schema(AFTER_INV))
        )
    if statuses:
        pools["Raw"].load_batch(
            spark.createDataFrame(statuses, envelope_schema(AFTER_IS))
        )

    def _no_count(self):
        raise AssertionError("DataFrame.count() called during EtlPipeline.run()")

    monkeypatch.setattr(pyspark.sql.DataFrame, "count", _no_count)
    n = pipeline.run()
    monkeypatch.undo()
    assert n == ETLD[0]
    assert staging_flat(pools["Staging"]) == GOLDENS[0]


def test_explain_golden():
    """Exact generated-plan golden — the `zync etl -zed` analog
    (ztests/etl-zed.yaml compares the full generated query text)."""
    import pathlib

    text = explain(make_transform()) + "\n"
    golden = pathlib.Path(__file__).parent / "golden" / "etl_explain.txt"
    assert text == golden.read_text()


def test_cursor_sidecar_advances_and_is_lag_safe(spark, pools):
    """The cursor sidecar must advance after a run, live in a
    per-output-topic file, and be purely an optimization: deleting it
    (crash between commit and sidecar write) must not change results."""
    import os

    transform = make_transform()
    pipeline = EtlPipeline(spark, transform, lambda name: pools[name])
    invoices, statuses = BATCHES[0]
    pools["Raw"].load_batch(
        spark.createDataFrame(invoices, envelope_schema(AFTER_INV))
    )
    pools["Raw"].load_batch(
        spark.createDataFrame(statuses, envelope_schema(AFTER_IS))
    )
    assert pipeline.run() == ETLD[0]
    assert pipeline._read_cursors() == {"Invoices": 2, "InvoiceStatus": 2}
    sidecar_file = os.path.join(
        pools["Staging"].path, pipeline._cursor_sidecar()
    )
    assert os.path.exists(sidecar_file)
    assert pipeline.output_topic in pipeline._cursor_sidecar()

    # simulate the crash: commit durable, sidecar lost
    os.remove(sidecar_file)
    assert pipeline._read_cursors() == {}
    assert pipeline.run() == 0  # anti-join still drops everything
    assert staging_flat(pools["Staging"]) == GOLDENS[0]
    # and the no-op run re-derived the same cursors
    assert pipeline._read_cursors() == {"Invoices": 2, "InvoiceStatus": 2}


def test_cursor_advances_past_offset_gaps(spark, pools):
    """Kafka broker offsets are not dense (transactional control
    records, compaction).  With data at offsets 1, 5, 40 all done, the
    cursor must land at 40 — a done-offset density walk would freeze
    at 1 and silently degrade scans back to O(pool)."""
    transform = make_transform()
    pipeline = EtlPipeline(spark, transform, lambda name: pools[name])
    rows = [
        inv(1, 100, "Alice", "taco", "u"),
        inv(5, 101, "Bob", "burrito", "u"),
        inv(40, 102, "Charlie", "enchilada", "u"),
    ]
    statuses = [ist(2, 80, 101, "paid", "u"), ist(7, 81, 102, "paid", "u")]
    pools["Raw"].load_batch(spark.createDataFrame(rows, envelope_schema(AFTER_INV)))
    pools["Raw"].load_batch(
        spark.createDataFrame(statuses, envelope_schema(AFTER_IS))
    )
    assert pipeline.run() > 0
    cursors = pipeline._read_cursors()
    assert cursors["Invoices"] == 40
    assert cursors["InvoiceStatus"] == 7
    # explicit zeros: tight cursors print as 0, not silence (ADVICE r5)
    assert pipeline.cursor_lag() == {"Invoices": 0, "InvoiceStatus": 0}


def test_unmatched_record_pins_cursor_and_lag_reports_it(spark, pools):
    """A record matching no rule gets no done marker, so it pins the
    cursor below itself; everything above is rescanned each run (same
    as the reference's every-run rescan).  cursor_lag() exposes the
    pinned width so a deployment can alert on it."""
    transform = make_transform()
    pipeline = EtlPipeline(spark, transform, lambda name: pools[name])
    rows = [
        inv(1, 100, "Alice", "taco", "u"),
        inv(2, 101, "Bob", "burrito", "x"),  # matches no rule: pins
        inv(3, 102, "Charlie", "enchilada", "u"),
    ]
    pools["Raw"].load_batch(spark.createDataFrame(rows, envelope_schema(AFTER_INV)))
    pools["Raw"].load_batch(
        spark.createDataFrame(
            [ist(1, 80, 101, "paid", "u")], envelope_schema(AFTER_IS)
        )
    )
    first = pipeline.run()
    assert first > 0
    assert pipeline._read_cursors()["Invoices"] == 1
    # offset 3 is done but sits above the pinned cursor -> lag 1;
    # the tight InvoiceStatus cursor reports an explicit 0
    assert pipeline.cursor_lag() == {"Invoices": 1, "InvoiceStatus": 0}
    # pinned rescan is idempotent
    before = staging_flat(pools["Staging"])
    assert pipeline.run() == 0
    assert staging_flat(pools["Staging"]) == before
    assert pipeline._read_cursors()["Invoices"] == 1


def test_concurrent_etl_drivers_serialize(spark, pools):
    """Two ETL drivers racing one output pool: the writer lock makes
    the loser wait for the winner's commit, so it sees the fresh done
    markers and ETLs nothing — exactly one commit per offset window,
    never duplicate outputs (the serialization the reference gets from
    the Zed lake service, fifo/lake.go:58-60)."""
    import threading

    from zinger_spark.sources.pool import Pool

    transform = make_transform()
    invoices, statuses = BATCHES[0]
    pools["Raw"].load_batch(
        spark.createDataFrame(invoices, envelope_schema(AFTER_INV))
    )
    pools["Raw"].load_batch(
        spark.createDataFrame(statuses, envelope_schema(AFTER_IS))
    )

    results: dict[str, int] = {}
    errs = []

    def drive(name: str):
        try:
            # each driver opens its OWN pool handles (as two processes
            # would) so serialization rides on the file lock, not the
            # in-process RLock
            own = {p: Pool(spark, pools[p].path) for p in pools}
            pipe = EtlPipeline(spark, transform, lambda n: own[n])
            results[name] = pipe.run()
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=drive, args=(n,)) for n in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert sorted(results.values()) == [0, ETLD[0]]
    assert staging_flat(pools["Staging"]) == GOLDENS[0]


def test_etl_run_stream_processes_batches_continuously(spark, pools, tmp_path):
    """Continuous ETL: the commit-arrival trigger stream drives
    incremental run()s; loading later demo batches while the stream is
    live must converge the staging pool to the same golden as the
    batch driver, with the idempotent no-op runs in between.  The
    trigger glob comes from Pool.data_glob (data under
    data/commit-*)."""
    transform = make_transform()
    pipeline = EtlPipeline(spark, transform, lambda name: pools[name])
    counts = []

    def load(i):
        invoices, statuses = BATCHES[i]
        if invoices:
            pools["Raw"].load_batch(
                spark.createDataFrame(invoices, envelope_schema(AFTER_INV))
            )
        if statuses:
            pools["Raw"].load_batch(
                spark.createDataFrame(statuses, envelope_schema(AFTER_IS))
            )

    load(0)
    q = pipeline.run_stream(str(tmp_path / "etl_ck"), on_batch=counts.append)
    try:
        q.processAllAvailable()
        assert staging_flat(pools["Staging"]) == GOLDENS[0]
        for i in (1, 2, 3):
            load(i)
            q.processAllAvailable()
            assert staging_flat(pools["Staging"]) == GOLDENS[i], f"batch {i + 1}"
    finally:
        q.stop()
    # every record ETL'd exactly once across however many triggers fired
    assert sum(counts) == sum(ETLD)


def test_cli_etl_cursor_lag_prints_metric(spark, pools, tmp_path, capsys, monkeypatch):
    import yaml

    from zinger_spark import cli as climod

    rows = [
        inv(1, 100, "Alice", "taco", "u"),
        inv(2, 101, "Bob", "burrito", "x"),  # pins the cursor
        inv(3, 102, "Charlie", "enchilada", "u"),
    ]
    pools["Raw"].load_batch(spark.createDataFrame(rows, envelope_schema(AFTER_INV)))
    pools["Raw"].load_batch(
        spark.createDataFrame(
            [ist(1, 80, 101, "paid", "u")], envelope_schema(AFTER_IS)
        )
    )
    pipeline = EtlPipeline(spark, make_transform(), lambda n: pools[n])
    assert pipeline.run() > 0

    cfg = tmp_path / "t.yaml"
    cfg.write_text(
        yaml.safe_dump(
            {
                "inputs": [
                    {"topic": "Invoices", "pool": "Raw"},
                    {"topic": "InvoiceStatus", "pool": "Raw"},
                ],
                "output": {"topic": "NewInvoices", "pool": "Staging"},
                "transforms": [
                    {
                        "type": "stateless",
                        "where": "value.op = 'u'",
                        "in": "Invoices",
                        "out": "NewInvoices",
                        "zed": "named_struct('key', `in`.key, 'value', `in`.value.after)",
                    }
                ],
            }
        )
    )
    lake = pools["Raw"].path.rsplit("/", 1)[0]
    monkeypatch.setattr(climod, "_spark", lambda a: spark)
    rc = climod.main(["etl", str(cfg), "--lake", lake, "--cursor-lag"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Invoices\t1" in out


# ---------------------------------------------------------------------------
# Multi-output-topic ETL (round-10 lift of the reference's single-output
# limitation, etl/pipeline.go:66-68): the invoices demo with the
# stateless op='u' status updates routed to a SECOND output topic.


def make_transform_multi() -> Transform:
    return Transform(
        inputs=[Route("Invoices", "Raw"), Route("InvoiceStatus", "Raw")],
        output=None,
        outputs=[
            Route("NewInvoices", "Staging"),
            Route("StatusUpdates", "Staging"),
        ],
        etls=[
            Rule(
                type="denorm",
                where="value.op IN ('c', 'r')",
                left="Invoices",
                right="InvoiceStatus",
                join_on="left.value.after.ID=right.value.after.InvoiceID",
                out="NewInvoices",
                zed="""named_struct(
                    'key', `left`.key,
                    'value', named_struct(
                        'ID', `left`.value.after.ID,
                        'customer', `left`.value.after.customer,
                        'item', `left`.value.after.item,
                        'invoice_status', `right`.value.after.status))""",
            ),
            Rule(
                type="stateless",
                where="value.op = 'u'",
                in_topic="InvoiceStatus",
                out="StatusUpdates",
                zed="""named_struct(
                    'key', named_struct('ID', `in`.value.after.InvoiceID),
                    'value', named_struct(
                        'ID', `in`.value.after.InvoiceID,
                        'invoice_status', `in`.value.after.status))""",
            ),
            Rule(
                type="stateless",
                where="value.op = 'u'",
                in_topic="Invoices",
                out="NewInvoices",
                zed="named_struct('key', `in`.key, 'value', `in`.value.after)",
            ),
        ],
    )


# goldens: batches 1-2 identical to the single-output demo (no op='u'
# records yet); from batch 3 the updates land in StatusUpdates with
# their own dense offset sequence
M1, M2 = D1, D2
M3 = M2 | {
    ("NewInvoices", 3, "data", 103, 103, "Dan", "beans", "pending"),
    ("StatusUpdates", 0, "data", 100, 100, None, None, "closed"),
    ("Invoices", 4, "done", None, None, None, None, None),
    ("InvoiceStatus", 4, "done", None, None, None, None, None),
    ("InvoiceStatus", 5, "done", None, None, None, None, None),
}
M4 = M3 | {
    ("StatusUpdates", 1, "data", 103, 103, None, None, "collections"),
    ("StatusUpdates", 2, "data", 102, 102, None, None, "paid"),
    ("StatusUpdates", 3, "data", 101, 101, None, None, "paid"),
    ("InvoiceStatus", 6, "done", None, None, None, None, None),
    ("InvoiceStatus", 7, "done", None, None, None, None, None),
    ("InvoiceStatus", 8, "done", None, None, None, None, None),
}
MULTI_GOLDENS = [M1, M2, M3, M4]


def test_etl_multi_output_four_batches(spark, pools):
    """One incremental window, one anti-join prelude, two output
    topics' data rows + shared done markers in ONE atomic commit; each
    output topic gets its own dense offset sequence."""
    transform = make_transform_multi()
    pipeline = EtlPipeline(spark, transform, lambda name: pools[name])
    assert sorted(pipeline.output_topics) == ["NewInvoices", "StatusUpdates"]
    for i, (invoices, statuses) in enumerate(BATCHES):
        if invoices:
            pools["Raw"].load_batch(
                spark.createDataFrame(invoices, envelope_schema(AFTER_INV))
            )
        if statuses:
            pools["Raw"].load_batch(
                spark.createDataFrame(statuses, envelope_schema(AFTER_IS))
            )
        n = pipeline.run()
        assert n == ETLD[i], f"batch {i + 1}: ETL'd {n}, want {ETLD[i]}"
        assert staging_flat(pools["Staging"]) == MULTI_GOLDENS[i], f"batch {i + 1}"
    # idempotent re-run: the shared done-marker set drops everything
    assert pipeline.run() == 0
    assert staging_flat(pools["Staging"]) == MULTI_GOLDENS[3]


def test_etl_multi_output_yaml_and_sidecar(spark, pools):
    """`outputs:` YAML list parses; the cursor sidecar is keyed by the
    output-topic SET (single-output names unchanged); cursors advance."""
    import yaml as _yaml

    from zinger_spark.etl.config import transform_from_dict

    raw = _yaml.safe_load(
        """
inputs:
  - topic: Invoices
    pool: Raw
  - topic: InvoiceStatus
    pool: Raw
outputs:
  - topic: NewInvoices
    pool: Staging
  - topic: StatusUpdates
    pool: Staging
transforms:
  - type: stateless
    where: value.op = 'u'
    in: InvoiceStatus
    out: StatusUpdates
    zed: >
      named_struct('key', named_struct('ID', `in`.value.after.InvoiceID),
                   'value', named_struct('ID', `in`.value.after.InvoiceID,
                                         'invoice_status', `in`.value.after.status))
  - type: stateless
    where: value.op = 'c'
    in: Invoices
    out: NewInvoices
    zed: "named_struct('key', `in`.key, 'value', `in`.value.after)"
"""
    )
    transform = transform_from_dict(raw)
    assert [r.topic for r in transform.outputs] == ["NewInvoices", "StatusUpdates"]
    pipeline = EtlPipeline(spark, transform, lambda name: pools[name])
    assert pipeline._cursor_sidecar() == "_etl_cursors_NewInvoices+StatusUpdates.json"
    pools["Raw"].load_batch(
        spark.createDataFrame(
            [inv(1, 100, "Alice", "taco", "c")], envelope_schema(AFTER_INV)
        )
    )
    pools["Raw"].load_batch(
        spark.createDataFrame(
            [ist(1, 80, 100, "paid", "u")], envelope_schema(AFTER_IS)
        )
    )
    assert pipeline.run() == 4
    assert pipeline._read_cursors() == {"Invoices": 1, "InvoiceStatus": 1}
    assert staging_flat(pools["Staging"]) == {
        ("NewInvoices", 0, "data", 100, 100, "Alice", "taco", None),
        ("StatusUpdates", 0, "data", 100, 100, None, None, "paid"),
        ("Invoices", 1, "done", None, None, None, None, None),
        ("InvoiceStatus", 1, "done", None, None, None, None, None),
    }


def test_etl_multi_output_cross_pool_rejected(spark, tmp_path):
    """Outputs in different pools can't share the atomic commit: the
    pipeline must refuse at plan time, not corrupt at run time."""
    from zinger_spark.etl.config import ConfigError

    transform = Transform(
        inputs=[Route("Invoices", "Raw"), Route("InvoiceStatus", "Raw")],
        output=None,
        outputs=[Route("A", "Staging"), Route("B", "Other")],
        etls=[
            Rule(
                type="stateless",
                in_topic="Invoices",
                out="A",
                zed="named_struct('key', `in`.key, 'value', `in`.value.after)",
            ),
            Rule(
                type="stateless",
                in_topic="InvoiceStatus",
                out="B",
                zed="named_struct('key', `in`.key, 'value', `in`.value.after)",
            ),
        ],
    )
    made = {}

    def open_pool(name):
        if name not in made:
            made[name] = Pool.create(spark, str(tmp_path / name))
        return made[name]

    with pytest.raises(ConfigError, match="share one pool"):
        EtlPipeline(spark, transform, open_pool)


def test_etl_denorm_salted_matches_goldens(spark, pools):
    """salt: N on the denorm rule must not change results — one salt
    value per left row keeps inner-join semantics exactly; only the
    physical exchange changes (sharded hot keys)."""
    transform = make_transform()
    transform.etls[0].salt = 4
    pipeline = EtlPipeline(spark, transform, lambda name: pools[name])
    for i, (invoices, statuses) in enumerate(BATCHES):
        if invoices:
            pools["Raw"].load_batch(
                spark.createDataFrame(invoices, envelope_schema(AFTER_INV))
            )
        if statuses:
            pools["Raw"].load_batch(
                spark.createDataFrame(statuses, envelope_schema(AFTER_IS))
            )
        n = pipeline.run()
        assert n == ETLD[i], f"batch {i + 1}: ETL'd {n}, want {ETLD[i]}"
        assert staging_flat(pools["Staging"]) == GOLDENS[i], f"batch {i + 1}"


def test_etl_denorm_salt_spreads_hot_key(spark, pools):
    """90/10 hot-key demo: one join key holds 90% of the left side.
    Unsalted, every hot-key pair lands on ONE shuffle partition
    (max-task = ~whole join); salted, the hot key spreads over the salt
    shards.  Asserts (a) the __salt exchange is in the executed plan,
    (b) the busiest output partition's share drops, (c) results match
    the unsalted plan exactly."""
    import yaml as _yaml

    from zinger_spark.etl.config import transform_from_dict

    n_rows, hot = 2000, 7
    rows = [
        inv(i, hot if i % 10 < 9 else i, f"c{i}", "x", "c") for i in range(1, n_rows + 1)
    ]
    pools["Raw"].load_batch(spark.createDataFrame(rows, envelope_schema(AFTER_INV)))
    pools["Raw"].load_batch(
        spark.createDataFrame(
            [ist(1, 80, hot, "paid", "c"), ist(2, 81, 55, "paid", "c")],
            envelope_schema(AFTER_IS),
        )
    )

    def mk(salt: int):
        raw = _yaml.safe_load(
            f"""
inputs:
  - topic: Invoices
    pool: Raw
  - topic: InvoiceStatus
    pool: Raw
output:
  topic: Joined
  pool: Staging
transforms:
  - type: denorm
    left: Invoices
    right: InvoiceStatus
    join-on: left.value.after.ID=right.value.after.InvoiceID
    out: Joined
    salt: {salt}
    zed: >
      named_struct('key', `left`.key,
                   'value', named_struct('ID', `left`.value.after.ID,
                                         'status', `right`.value.after.status))
"""
        )
        return transform_from_dict(raw)

    salted = EtlPipeline(spark, mk(8), lambda n: pools[n])
    data, _markers = salted.build()
    plan = data._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, "salted exchange missing from the audited plan"

    # distribution evidence: partition the JOIN INPUT by its shuffle
    # key — unsalted the hot key is one group (one reducer gets ~90%),
    # salted it is `salt` groups
    from pyspark.sql import functions as F

    left = pools["Raw"].df(topic="Invoices").select(
        F.col("value.after.ID").alias("k")
    )
    unsalted_max = (
        left.groupBy("k").count().agg(F.max("count")).collect()[0][0]
    )
    salted_max = (
        left.withColumn("__salt", (F.rand(seed=0) * 8).cast("int"))
        .groupBy("k", "__salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert unsalted_max >= n_rows * 0.9
    assert salted_max < unsalted_max / 3  # hot key genuinely sharded

    got_salted = {
        tuple(r)
        for r in data.select(
            "kafka.offset", "value.ID", "value.status"
        ).collect()
    }
    salted._release()
    plain = EtlPipeline(spark, mk(0), lambda n: pools[n])
    data0, _m0 = plain.build()
    got_plain = {
        tuple(r)
        for r in data0.select(
            "kafka.offset", "value.ID", "value.status"
        ).collect()
    }
    plain._release()
    assert got_salted == got_plain
    assert len(got_salted) == int(n_rows * 0.9)  # hot matches only


# ---------------------------------------------------------------------------
# Window-derived cursors against a brute-force low-water mark


def _brute_force_cursors(pools: dict, topics: list[str]) -> dict[str, int]:
    """Per input topic, from ALL of both pools: (min data offset with no
    done marker) - 1, or the max data offset when every one is done —
    the low-water mark the cursor sidecar should hold (absent when it
    would be -1, as the planner never writes a cursor below 0)."""
    from pyspark.sql import functions as F

    def offsets(pool, kind):
        rows = (
            pool.df()
            .filter(F.col("_type") == kind)
            .select("kafka.topic", "kafka.offset")
            .collect()
        )
        return {(r["topic"], r["offset"]) for r in rows}

    data, done = offsets(pools["Raw"], "data"), offsets(pools["Staging"], "done")
    out = {}
    for topic in topics:
        offs = sorted(o for t, o in data if t == topic)
        if not offs:
            continue
        pending = [o for o in offs if (topic, o) not in done]
        cursor = offs[-1] if not pending else pending[0] - 1
        if cursor >= 0:
            out[topic] = cursor
    return out


def test_window_cursors_match_brute_force_low_water_mark(spark, pools, monkeypatch):
    """The cursor advances from the run's own window and done markers,
    with no second pass over the pools.  Over a late denorm partner
    (the cursor must jump past records already done), records that
    match no rule, offset gaps and one right record joined to several
    left records, it equals the brute-force low-water mark computed
    from both pools — and lags it, never leads it, when records land
    between build and advance."""
    pipeline = EtlPipeline(spark, make_transform(), lambda name: pools[name])
    topics = ["Invoices", "InvoiceStatus"]

    def load(invoices, statuses):
        if invoices:
            pools["Raw"].load_batch(
                spark.createDataFrame(invoices, envelope_schema(AFTER_INV))
            )
        if statuses:
            pools["Raw"].load_batch(
                spark.createDataFrame(statuses, envelope_schema(AFTER_IS))
            )

    # run 1: Invoices 1 (op c) waits for its partner; 2, 3, 7 are done
    # (a gap at 4-6); InvoiceStatus 4 (op c) waits for invoice 105
    load(
        [
            inv(1, 100, "Alice", "taco", "c"),
            inv(2, 101, "Bob", "burrito", "u"),
            inv(3, 102, "Charlie", "enchilada", "u"),
            inv(7, 103, "Dan", "beans", "u"),
        ],
        [ist(1, 80, 101, "paid", "u"), ist(4, 81, 105, "pending", "c")],
    )
    assert pipeline.run() == 8
    assert pipeline._read_cursors() == {"Invoices": 0, "InvoiceStatus": 3}
    assert pipeline._read_cursors() == _brute_force_cursors(pools, topics)

    # run 2: invoice 1's partner arrives one run late, so the Invoices
    # cursor jumps past the already-done 2, 3 and 7; invoices 8 and 9
    # both join InvoiceStatus 4 (its offset is marked twice);
    # InvoiceStatus 12 matches no rule and pins that cursor
    load(
        [inv(8, 105, "Eve", "salsa", "c"), inv(9, 105, "Eve", "chips", "r")],
        [ist(9, 82, 100, "pending", "c"), ist(12, 83, 100, "lost", "x")],
    )
    assert pipeline.run() == 6
    assert pipeline._read_cursors() == {"Invoices": 9, "InvoiceStatus": 11}
    assert pipeline._read_cursors() == _brute_force_cursors(pools, topics)
    done_4 = (
        pools["Staging"].df()
        .filter("_type = 'done' AND kafka.topic = 'InvoiceStatus' AND kafka.offset = 4")
        .count()
    )
    assert done_4 == 2

    # run 3: Invoices 15 lands after build and before the cursor
    # advances: not in the window, so the cursor stops below it
    load([inv(11, 107, "Fay", "rice", "u")], [])
    advance = pipeline._advance_cursors

    def ingest_then_advance(marked):
        load([inv(15, 108, "Gus", "corn", "u")], [])
        advance(marked)

    monkeypatch.setattr(pipeline, "_advance_cursors", ingest_then_advance)
    assert pipeline.run() == 2
    monkeypatch.undo()
    brute = _brute_force_cursors(pools, topics)
    cursors = pipeline._read_cursors()
    assert cursors == {"Invoices": 11, "InvoiceStatus": 11}
    assert brute == {"Invoices": 14, "InvoiceStatus": 11}
    assert all(cursors[t] <= brute[t] for t in topics)

    # run 4: the late record is ETL'd and the cursors meet again
    assert pipeline.run() == 2
    assert pipeline._read_cursors() == {"Invoices": 15, "InvoiceStatus": 11}
    assert pipeline._read_cursors() == _brute_force_cursors(pools, topics)
    # an idle run writes nothing and keeps the cursors
    before = staging_flat(pools["Staging"])
    assert pipeline.run() == 0
    assert staging_flat(pools["Staging"]) == before
    assert pipeline._read_cursors() == _brute_force_cursors(pools, topics)


def test_micro_batch_takes_window_form_offset_assignment(spark, tmp_path, monkeypatch):
    """A demo micro-batch assigns output offsets with the per-topic
    window: the strategy follows the window's exact size, not
    Catalyst's estimate (which multiplies the children's sizes for the
    denorm join).  Forcing the distributed prefix sum
    (PREFIX_SUM_CUTOVER_BYTES = 0) leaves Staging row-for-row
    identical."""
    from zinger_spark.operators import offsets as zoff

    def staging_rows(cutover: int | None, name: str):
        if cutover is not None:
            monkeypatch.setattr(zoff, "PREFIX_SUM_CUTOVER_BYTES", cutover)
        pools = {
            p: Pool.create(spark, str(tmp_path / name / p)) for p in ("Raw", "Staging")
        }
        pipeline = EtlPipeline(spark, make_transform(), lambda p: pools[p])
        plans = []
        for invoices, statuses in BATCHES:
            if invoices:
                pools["Raw"].load_batch(
                    spark.createDataFrame(invoices, envelope_schema(AFTER_INV))
                )
            if statuses:
                pools["Raw"].load_batch(
                    spark.createDataFrame(statuses, envelope_schema(AFTER_IS))
                )
            data, _markers = pipeline.build()
            plans.append(data._jdf.queryExecution().executedPlan().toString())
            pipeline._release()
            pipeline.run()
        monkeypatch.undo()
        df = pools["Staging"].df()
        return df.schema, sorted(df.collect(), key=repr), plans

    schema, rows, plans = staging_rows(None, "window")
    for plan in plans:
        assert "row_number()" in plan
        assert "_grp_off" not in plan and "rangepartitioning" not in plan
    schema_ps, rows_ps, plans_ps = staging_rows(0, "prefix_sum")
    assert all("_grp_off" in plan for plan in plans_ps)
    assert schema_ps == schema
    assert rows_ps == rows
    assert len(rows) == len(GOLDENS[3])
