"""Seeded Debezium-shaped invoice lifecycles, and the plain-Python model
of what ``demo/invoices.yaml`` makes of them.

Pure Python (no Spark, no sockets): the broker process uses it to
produce the inputs, the driver uses it to predict ``NewInvoices``, and
the benchmark's own tests check the model against the demo goldens.

An *event* is a dict ``{"topic", "id", "op", "before", "after"}``:
``id`` is the Kafka key's ``ID`` and ``before``/``after`` are the
Debezium row images.  A lifecycle is

    Invoices c  ->  InvoiceStatus c ("pending")  ->  0-3 InvoiceStatus u
    (statuses unique within the lifecycle)  ->  maybe Invoices u (new
    item)  ->  maybe Invoices d

so every output record is unique by its content, and maps back to the
inputs it was built from by key ID plus status (or item).
"""

from __future__ import annotations

import json
import random

INVOICES = "Invoices"
STATUS = "InvoiceStatus"
OUTPUT = "NewInvoices"

_STATUSES = ("approved", "shipped", "paid", "closed", "collections")
_ITEMS = ("taco", "burrito", "enchilada", "beans", "tamale", "churro",
          "quesadilla", "pozole", "elote", "flan")


def _field(name: str, ctype: str) -> dict:
    return {"type": ctype, "optional": True, "field": name}


def _row_schema(fields: list[tuple[str, str]], name: str) -> dict:
    return {"type": "struct", "optional": True, "field": name,
            "fields": [_field(f, t) for f, t in fields]}


_INV_ROW = [("ID", "int64"), ("customer", "string"), ("item", "string")]
_STATUS_ROW = [("ID", "int64"), ("InvoiceID", "int64"), ("status", "string")]


def _envelope_schema(row: list[tuple[str, str]], name: str) -> dict:
    """Debezium value envelope: op, before, after, source ts."""
    return {
        "type": "struct", "optional": True, "name": f"{name}.Envelope",
        "fields": [
            _field("op", "string"),
            _row_schema(row, "before"),
            _row_schema(row, "after"),
            _field("ts_ms", "int64"),
        ],
    }


#: Connect schemas per input topic (value) and for every key.
VALUE_SCHEMAS = {
    INVOICES: _envelope_schema(_INV_ROW, "dbserver.inventory.Invoices"),
    STATUS: _envelope_schema(_STATUS_ROW, "dbserver.inventory.InvoiceStatus"),
}
KEY_SCHEMA = {"type": "struct", "optional": True, "fields": [_field("ID", "int64")]}


def _lifecycle(rng: random.Random, inv_id: int, status_id: int) -> list[dict]:
    row = {"ID": inv_id, "customer": f"cust{rng.randrange(100000):05d}",
           "item": rng.choice(_ITEMS)}
    events = [{"topic": INVOICES, "id": inv_id, "op": "c", "before": None,
               "after": dict(row)}]
    events.append({"topic": STATUS, "id": status_id, "op": "c", "before": None,
                   "after": {"ID": status_id, "InvoiceID": inv_id,
                             "status": "pending"}})
    n_updates = rng.choice((0, 1, 1, 2, 3))
    picks = sorted(rng.sample(range(len(_STATUSES)), n_updates))
    for i in picks:
        events.append({"topic": STATUS, "id": status_id, "op": "u", "before": None,
                       "after": {"ID": status_id, "InvoiceID": inv_id,
                                 "status": _STATUSES[i]}})
    if rng.random() < 0.1:
        row = dict(row, item=f"{row['item']}-v2")
        events.append({"topic": INVOICES, "id": inv_id, "op": "u", "before": None,
                       "after": dict(row)})
    if rng.random() < 0.05:
        events.append({"topic": INVOICES, "id": inv_id, "op": "d",
                       "before": dict(row), "after": None})
    return events


def generate(seed: int, n_events: int) -> list[dict]:
    """``n_events`` events of interleaved lifecycles (up to eight open at
    once), deterministic in ``seed``; a longer stream extends a shorter
    one.
    The stream is cut at ``n_events``, so the last lifecycles may be
    partial (an invoice whose status never arrives stays unjoined)."""
    rng = random.Random(seed)
    open_: list[list[dict]] = []
    out: list[dict] = []
    next_id = 1
    while len(out) < n_events:
        while len(open_) < 8:
            open_.append(_lifecycle(rng, next_id, 10_000_000 + next_id))
            next_id += 1
        lc = open_[rng.randrange(len(open_))]
        out.append(lc.pop(0))
        if not lc:
            open_.remove(lc)
    return out


def encode(event: dict, ts_ms: int = 0) -> tuple[bytes, bytes]:
    """Connect-JSON (key, value) bytes, schema embedded, as Debezium's
    JsonConverter writes them."""
    key = {"schema": KEY_SCHEMA, "payload": {"ID": event["id"]}}
    value = {
        "schema": VALUE_SCHEMAS[event["topic"]],
        "payload": {"op": event["op"], "before": event["before"],
                    "after": event["after"], "ts_ms": ts_ms},
    }
    sep = (",", ":")
    return json.dumps(key, separators=sep).encode(), json.dumps(value, separators=sep).encode()


def assign_offsets(events: list[dict]) -> list[tuple[str, int]]:
    """(topic, offset) of each event when produced in order to fresh
    single-partition topics."""
    nxt = {INVOICES: 0, STATUS: 0}
    out = []
    for ev in events:
        out.append((ev["topic"], nxt[ev["topic"]]))
        nxt[ev["topic"]] += 1
    return out


class EtlModel:
    """``demo/invoices.yaml`` as plain Python, run by run.

    Mirrors ``EtlPipeline.run``: each run sees the ingested input
    records that have no done marker yet, applies the four rules
    first-match (the denorm inner join of ``c``/``r`` invoices and
    statuses; the ``u`` and ``d`` stateless rules), orders the outputs
    by (input offset, input topic) and numbers them from the output
    high-water mark.  Records that match a rule without output (an
    unjoined ``c``) stay pending for the next run.

    ``outputs`` holds one dict per output record: ``offset``, ``key``
    (the key ID), ``value`` (the payload, nulls dropped, or None for a
    delete) and ``inputs`` (indices of the events it was built from).
    """

    def __init__(self):
        self.pending: dict[tuple[str, int], tuple[int, dict]] = {}
        self.done: set[tuple[str, int]] = set()
        self.outputs: list[dict] = []

    def run(self, ingested: list[tuple[int, str, int, dict]]) -> int:
        """Add ``(event index, topic, offset, event)`` records, run once,
        return the "ETL'd n" count (two per output record)."""
        for idx, topic, offset, ev in ingested:
            self.pending[(topic, offset)] = (idx, ev)
        fresh = [(k, v) for k, v in self.pending.items() if k not in self.done]
        lefts = {}
        rights: dict[int, list] = {}
        staged = []  # (orig offset, orig topic, key, value, inputs, consumed)
        for (topic, offset), (idx, ev) in fresh:
            if ev["op"] in ("c", "r"):
                if topic == INVOICES:
                    lefts[(topic, offset)] = (idx, ev)
                elif topic == STATUS:
                    rights.setdefault(ev["after"]["InvoiceID"], []).append(
                        ((topic, offset), idx, ev))
            elif ev["op"] == "u" and topic == STATUS:
                a = ev["after"]
                staged.append((offset, topic, a["InvoiceID"],
                               {"ID": a["InvoiceID"], "invoice_status": a["status"]},
                               [idx], [(topic, offset)]))
            elif ev["op"] == "u" and topic == INVOICES:
                staged.append((offset, topic, ev["id"], _drop_nulls(ev["after"]),
                               [idx], [(topic, offset)]))
            elif ev["op"] == "d" and topic == INVOICES:
                staged.append((offset, topic, ev["id"], None, [idx], [(topic, offset)]))
        for (ltopic, loff), (lidx, lev) in lefts.items():
            for rk, ridx, rev in rights.get(lev["after"]["ID"], ()):
                a = lev["after"]
                value = _drop_nulls({"ID": a["ID"], "customer": a["customer"],
                                     "item": a["item"],
                                     "invoice_status": rev["after"]["status"]})
                staged.append((loff, ltopic, lev["id"], value, [lidx, ridx],
                               [(ltopic, loff), rk]))
        staged.sort(key=lambda s: (s[0], s[1]))
        for _, _, key, value, inputs, consumed in staged:
            self.outputs.append({"offset": len(self.outputs), "key": key,
                                 "value": value, "inputs": inputs})
            self.done.update(consumed)
        for k in [k for k in self.pending if k in self.done]:
            del self.pending[k]
        return 2 * len(staged)


def _drop_nulls(d: dict) -> dict:
    return {k: v for k, v in d.items() if v is not None}


def decode_output(key: bytes | None, value: bytes | None) -> tuple:
    """A produced ``NewInvoices`` record as (key ID, payload or None),
    nulls dropped — the shape ``EtlModel.outputs`` predicts."""
    k = json.loads(key)["payload"]["ID"] if key is not None else None
    payload = json.loads(value)["payload"] if value is not None else None
    return k, (_drop_nulls(payload) if payload is not None else None)


def freshness(outputs: list[dict], scheduled: list[float],
              returns: list[tuple[float, int]], window: tuple[float, float]) -> list[float]:
    """Per-output freshness samples in seconds.

    ``returns`` is the list of (time a ``sync_batches`` call returned,
    output high watermark after it), in time order; an output record
    becomes visible at the first return whose watermark exceeds its
    offset.  Its freshness is that time minus the latest scheduled send
    time among its inputs.  Only outputs whose latest input was
    scheduled inside ``window`` = [start, end) are sampled.  An output
    that no return covers was never produced and gives no sample; the
    output check counts it as a failure."""
    samples = []
    lo, hi = window
    j = 0
    for out in sorted(outputs, key=lambda o: o["offset"]):
        while j < len(returns) and returns[j][1] <= out["offset"]:
            j += 1
        if j == len(returns):
            break
        due = max(scheduled[i] for i in out["inputs"])
        if lo <= due < hi:
            samples.append(returns[j][0] - due)
    return samples
