"""Tests of the benchmark's own parts: the expected-output model against
the invoices demo goldens, the freshness calculation on a hand-built
timeline, the generator's guarantees, the fetch counter and the
tracer's span tree.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
No Spark session is started.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import cdc  # noqa: E402
from perfbench.layers import FetchCounter  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from tests import test_etl_demo as demo  # noqa: E402
from zinger_spark.kafka_stub import StubBroker  # noqa: E402
from zinger_spark.kafka_wire import KafkaWireClient  # noqa: E402


def _event(row) -> dict:
    """A demo envelope row as a CDC event."""
    (topic, _, _), (key,), (op, before, after), _ = row
    names = ("ID", "customer", "item") if topic == cdc.INVOICES else ("ID", "InvoiceID", "status")
    return {"topic": topic, "id": key, "op": op,
            "before": dict(zip(names, before)) if before else None,
            "after": dict(zip(names, after)) if after else None}


def _flat(model: cdc.EtlModel) -> set[tuple]:
    """Staging contents in the demo goldens' flattened shape."""
    out = {(t, o, "done", None, None, None, None, None) for t, o in model.done}
    for rec in model.outputs:
        v = rec["value"] or {}
        out.add((cdc.OUTPUT, rec["offset"], "data", rec["key"], v.get("ID"),
                 v.get("customer"), v.get("item"), v.get("invoice_status")))
    return out


def test_model_replays_demo_goldens():
    """The four demo batches, replayed as CDC events one ETL run per
    batch, give the golden Staging contents and ETL'd counts."""
    model = cdc.EtlModel()
    idx = 0
    for i, (invoices, statuses) in enumerate(demo.BATCHES):
        ingested = []
        for row in invoices + statuses:
            ingested.append((idx, row[0][0], row[0][2], _event(row)))
            idx += 1
        assert model.run(ingested) == demo.ETLD[i]
        assert _flat(model) == demo.GOLDENS[i], f"batch {i + 1}"
    assert model.run([]) == 0  # idempotent re-run


def test_model_records_inputs_of_each_output():
    model = cdc.EtlModel()
    rows = demo.BATCHES[0][0] + demo.BATCHES[0][1]
    model.run([(i, r[0][0], r[0][2], _event(r)) for i, r in enumerate(rows)])
    # Alice's invoice (event 0) joined status 32 (event 3)
    alice = next(o for o in model.outputs if o["key"] == 100)
    assert sorted(alice["inputs"]) == [0, 3]


def test_yaml_is_the_demo_config():
    with open(os.path.join(ROOT, "perfbench", "invoices.yaml")) as f:
        assert f.read() == demo.VERBATIM_YAML.lstrip("\n")


def test_generator_is_seeded_and_outputs_are_unique():
    a = cdc.generate(7, 3000)
    assert a == cdc.generate(7, 3000)
    assert a != cdc.generate(8, 3000)
    assert cdc.generate(7, 5000)[:3000] == a  # a longer stream extends a shorter one
    # statuses never repeat within a lifecycle
    seen = set()
    for ev in a:
        if ev["topic"] == cdc.STATUS:
            k = (ev["after"]["InvoiceID"], ev["after"]["status"])
            assert k not in seen
            seen.add(k)
    model = cdc.EtlModel()
    offsets = cdc.assign_offsets(a)
    model.run([(i, t, o, ev) for i, ((t, o), ev) in enumerate(zip(offsets, a))])
    contents = [(o["key"], repr(o["value"])) for o in model.outputs]
    assert len(contents) == len(set(contents))
    kinds = {(ev["topic"], ev["op"]) for ev in a}
    assert kinds == {(cdc.INVOICES, "c"), (cdc.INVOICES, "u"), (cdc.INVOICES, "d"),
                     (cdc.STATUS, "c"), (cdc.STATUS, "u")}


def test_encoded_records_round_trip_through_the_output_decoder():
    ev = cdc.generate(1, 1)[0]
    k, v = cdc.encode(ev, ts_ms=5)
    key, payload = cdc.decode_output(k, v)
    assert key == ev["id"]
    assert payload["after"] == ev["after"] and payload["ts_ms"] == 5


def _out(offset, *inputs):
    return {"offset": offset, "key": 0, "value": None, "inputs": list(inputs)}


def test_freshness_on_a_hand_built_timeline():
    # events due at t = 0, 1, 2, 3, 4, 5
    due = [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
    # cycle 1 returned at 2.5 with outputs 0-1 visible; cycle 2 at 6.0
    # with outputs 2-3; cycle 3 at 9.0 with output 4
    returns = [(2.5, 2), (6.0, 4), (9.0, 5)]
    outputs = [
        _out(0, 0),      # due 0 -> visible 2.5
        _out(1, 0, 1),   # latest input due 1 -> 2.5
        _out(2, 2),      # due 2 -> 6.0
        _out(3, 1, 3),   # latest input due 3 -> 6.0
        _out(4, 5, 4),   # latest input due 5 -> 9.0
    ]
    assert cdc.freshness(outputs, due, returns, (0.0, 10.0)) == [2.5, 1.5, 4.0, 3.0, 4.0]
    # the window samples by the latest input's due time, [start, end)
    assert cdc.freshness(outputs, due, returns, (1.0, 5.0)) == [1.5, 4.0, 3.0]
    # an output no return covers was never produced: no sample
    assert cdc.freshness(outputs + [_out(5, 5)], due, returns, (0.0, 10.0)) == [
        2.5, 1.5, 4.0, 3.0, 4.0]


def test_tracer_builds_a_span_tree():
    tr = Tracer()
    with tr.span("cycle"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("c"):
                pass
    with tr.span("cycle"):
        pass
    root = tr.spans[0]
    assert [s.name for s in tr.children(root)] == ["a", "b"]
    assert [s.name for s in tr.descendants(root)] == ["a", "b", "c"]
    assert tr.spans[-1].parent is None
    assert all(s.end >= s.start for s in tr.spans)


def test_fetch_counter_counts_what_the_wire_client_fetched():
    broker = StubBroker()
    try:
        broker.seed(cdc.INVOICES)
        records = [cdc.encode(ev) for ev in cdc.generate(3, 40) if ev["topic"] == cdc.INVOICES]
        with KafkaWireClient(broker.bootstrap) as c:
            c.produce(cdc.INVOICES, 0, records, acks=1)
            counter = FetchCounter()
            try:
                assert len(c.fetch_all(cdc.INVOICES, 0, 2)) == len(records) - 2
            finally:
                counter.close()
            c.fetch_all(cdc.INVOICES, 0, 0)  # not counted once closed
        assert counter.records == len(records) - 2
        assert counter.bytes == sum(len(k) + len(v) for k, v in records[2:])
    finally:
        broker.close()


def test_reference_unit_is_sampled_while_the_body_runs():
    import time

    from perfbench.run import Reference

    ref = Reference()
    try:
        with ref.sampling() as host:
            time.sleep(0.35)
        assert 3 <= host["units"] <= 5
        assert 0 < host["unit_s"] < 0.35
        with ref.sampling() as host:
            pass
        assert host["units"] == 1
    finally:
        ref.close()
    assert ref.proc.returncode == 0
