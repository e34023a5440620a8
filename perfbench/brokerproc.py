"""The benchmark's broker process: a ``StubBroker`` plus the load
generator, in one Python process separate from the driver, so their
Python work never holds the driver's interpreter lock.

Run as ``python3 perfbench/brokerproc.py`` from the repository root.
It prints one JSON line ``{"bootstrap": ..., "pid": ...}`` and then
answers JSON commands, one per stdin line, with one JSON line each:

``{"cmd": "backlog", "seed": s, "lo": a, "hi": b}``
    produce generated events ``a`` to ``b - 1``, in order, over one
    wire connection, as fast as the broker takes them.
``{"cmd": "trickle", "seed": s, "lo": a, "hi": b, "rate": r, "t0": t}``
    open-loop generator: event ``a + i`` is due at ``t0 + i / r`` on the
    shared monotonic clock and is sent then, one produce request per
    event, over one wire connection, whatever the driver is doing.
    The loop keeps reading commands between sends.
``{"cmd": "stop_at", "t": t}``
    (while a trickle runs) send no event due at or after ``t``; the one
    reply covers the trickle: events sent, the most late a send was, the
    peak thread count and the generator's CPU seconds.
``{"cmd": "quit"}``
    close the broker and exit.

The generator runs in the main thread, so the process holds the main
thread, the broker's accept thread and one handler thread per open
connection (the generator's and the driver's): four threads for one
driver connection at a time.
"""

from __future__ import annotations

import json
import os
import select
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import cdc  # noqa: E402
from zinger_spark.kafka_stub import StubBroker  # noqa: E402
from zinger_spark.kafka_wire import KafkaWireClient  # noqa: E402


def _reply(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def _backlog(client: KafkaWireClient, seed: int, lo: int, hi: int) -> dict:
    events = cdc.generate(seed, hi)[lo:]
    sent = 0
    run: list[tuple[bytes, bytes]] = []
    topic = None
    for ev in events + [None]:
        if ev is None or ev["topic"] != topic or len(run) >= 500:
            if run:
                client.produce(topic, 0, run, acks=1)
                sent += len(run)
            run = []
        if ev is None:
            break
        topic = ev["topic"]
        run.append(cdc.encode(ev))
    return {"events": sent}


def _trickle(client: KafkaWireClient, cmd: dict) -> dict:
    events = cdc.generate(cmd["seed"], cmd["hi"])[cmd["lo"]:]
    rate, t0 = float(cmd["rate"]), float(cmd["t0"])
    stop_at = float("inf")
    late_max = 0.0
    sent = 0
    threads_max = threading.active_count()
    cpu0 = time.thread_time()
    stdin = sys.stdin.fileno()
    for i, ev in enumerate(events):
        due = t0 + i / rate
        while True:
            now = time.monotonic()
            wait = min(due - now, 0.05)
            ready, _, _ = select.select([stdin], [], [], max(wait, 0.0))
            if ready:
                line = sys.stdin.readline()
                msg = json.loads(line) if line.strip() else {"cmd": "quit"}
                if msg["cmd"] == "stop_at":
                    stop_at = float(msg["t"])
                else:
                    raise SystemExit(f"unexpected command during trickle: {msg}")
            if due >= stop_at or time.monotonic() >= due:
                break
        if due >= stop_at:
            break
        k, v = cdc.encode(ev, ts_ms=int(due * 1000))
        client.produce(ev["topic"], 0, [(k, v)], acks=1)
        late_max = max(late_max, time.monotonic() - due)
        sent += 1
        threads_max = max(threads_max, threading.active_count())
    else:
        raise SystemExit("trickle ran out of generated events; raise 'events'")
    return {"sent": sent, "late_s_max": late_max, "threads_max": threads_max,
            "cpu_s": time.thread_time() - cpu0}


def main() -> int:
    broker = StubBroker()
    for topic in (cdc.INVOICES, cdc.STATUS, cdc.OUTPUT):
        broker.seed(topic)
    _reply({"bootstrap": broker.bootstrap, "pid": os.getpid()})
    try:
        with KafkaWireClient(broker.bootstrap) as client:
            for line in sys.stdin:
                cmd = json.loads(line)
                if cmd["cmd"] == "backlog":
                    _reply(_backlog(client, cmd["seed"], cmd["lo"], cmd["hi"]))
                elif cmd["cmd"] == "trickle":
                    _reply(_trickle(client, cmd))
                elif cmd["cmd"] == "quit":
                    break
                else:
                    raise SystemExit(f"unknown command {cmd}")
    finally:
        broker.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
