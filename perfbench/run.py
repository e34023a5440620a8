"""Benchmark of the Kafka -> pool -> CDC ETL -> Kafka sync loop.

Usage, from the repository root:

    python3 perfbench/run.py --workload cdc_backlog --seed 1 --seconds 15 --trace 0

One driver process runs the sync cycle of ``perfbench/loop.py`` against
a ``StubBroker`` that lives, with the load generator, in a separate
process (``perfbench/brokerproc.py``), over real sockets.  The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run records spans around every
layer call and the metrics are the per-layer ones (see ``layers.py``).
A traced run writes its spans to ``.perfbench/<workload>-<seed>.spans.jsonl``
and its freshness bookkeeping (each event's due time, the egress
(return time, high watermark) pairs, each output's inputs, the sample
count and the generator's report) to ``<workload>-<seed>.freshness.json``.

Workloads (inputs are generated from ``--seed``; the program sees only
the Connect-JSON records on the broker):

``cdc_backlog``
    catch-up: 160 events per second of ``--seconds`` are pre-produced,
    then one timed sync cycle drains them to ``NewInvoices``.
``cdc_trickle``
    steady state: once the warm-up cycle has returned, an open-loop
    generator sends 24 events/s, about a quarter of the backlog's drain
    rate, and keeps sending; ``--seconds`` later the driver runs one
    timed sync cycle, which drains what has arrived by its fetch (a
    loop that syncs ``--seconds`` after its last sync returned).  The
    cycle's input is thus rate x ``--seconds`` events whatever the
    machine's speed; with back-to-back cycles it would grow with the
    previous cycle's wall time, and its CPU with it.

End-to-end metrics, the same definitions on both workloads:

``setup_s``
    Spark session start, pool creation and one untimed warm-up cycle:
    the driver's CPU seconds in them (its Python process and the Spark
    JVM, launcher included), scaled to a host on which the reference
    unit of ``calib.py`` takes ``REF_UNIT_S`` by the unit's mean CPU
    seconds over the set-up (see ``cycle_cpu_ref``).  Its wall time
    follows the host's load: 26.1 s median over ten backlog runs on a
    quiet 4-vCPU VM and 34.6 s over the next ten, at 3.6% median steal.
    Both raw figures are the per-layer ``setup.wall_s`` and
    ``setup.cpu_s``.
``cycle_cpu_ref``
    CPU seconds the driver (its Python process and the Spark JVM) spends
    in the timed sync cycle, divided by the mean CPU seconds of the fixed
    reference unit of ``calib.py``, which a process of its own runs every
    0.1 s while the cycle runs: the cycle's CPU cost in units of the
    host's speed at the time.  On the backlog the cycle drains every
    event, so per-record work weighs in; on the trickle it takes ~240
    events, so the per-cycle fixed cost dominates.  Neither the driver's
    wall time nor its raw CPU time is an end-to-end metric: on a shared
    host both follow the other guests' load, and the reference unit
    slows down with them.  Over seven backlog runs on a 4-vCPU VM the
    raw CPU seconds ranged over 0.44 of their median, the ratio over
    0.09.  The raw CPU seconds are the per-layer ``cycle.cpu_s``.
``driver_peak_rss_mb``
    peak RSS (VmHWM) of the driver's Python process.

Wall-clock figures, printed on standard error by every run and reported
among the per-layer metrics of a traced run:

``sync_rows_per_s``
    on the backlog, source records drained by the timed cycle divided by
    the time from its fetch to its egress return.  On the trickle, the
    events due from the generator's start to the timed fetch, per second
    of that interval: it reads the offered rate.
``freshness_p50_s``, ``freshness_p99_s``
    per output record, the return time of the ``sync_batches`` call that
    produced it minus the due time of its latest input.  On the trickle
    an event is due at its scheduled send time, and every output of the
    timed cycle is sampled.  On the backlog every event is due when the
    drain starts, so both percentiles equal the drain time.

Every run checks its outputs against the generated events: the Raw
pool must hold offsets 0..max of each input topic once each, and as many
records as the cycles ingested; on the backlog it must hold every event
produced, and on the trickle every event sent before the timed fetch
began; ``NewInvoices`` on the broker must equal, record for record and
offset for offset, what ``cdc.EtlModel`` predicts for the events each
cycle ingested; every cycle's ETL'd count must match the model; and the
trickle generator must keep to its schedule.  Each failed check counts
in ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import cdc, layers  # noqa: E402
from perfbench.loop import INPUTS, SyncLoop  # noqa: E402
from perfbench.trace import NullTracer, Tracer  # noqa: E402
from zinger_spark.kafka_wire import KafkaWireClient  # noqa: E402
from zinger_spark.session import get_spark  # noqa: E402

WARMUP_EVENTS = 300  # events drained by the warm-up cycle
BACKLOG_PER_SECOND = 160  # cdc_backlog: events per second of --seconds
TRICKLE_RATE = 24.0  # cdc_trickle: events per second, open loop
MAX_LATE_S = 1.0  # cdc_trickle: the generator may send this late at most
# CPU seconds of calib.py's reference unit on a quiet 4-vCPU Xeon VM: setup_s
# is the set-up's CPU seconds on a host where the unit takes this long
REF_UNIT_S = 0.004


class BrokerProcess:
    """The broker + generator process, driven over its stdin/stdout."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "brokerproc.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        hello = self._read()
        self.bootstrap, self.pid = hello["bootstrap"], hello["pid"]

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"broker process exited with {self.proc.wait()}")
        return json.loads(line)

    def send(self, **cmd) -> None:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()

    def call(self, **cmd) -> dict:
        self.send(**cmd)
        return self._read()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.send(cmd="quit")
                self.proc.stdin.close()
                self.proc.wait(timeout=20)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


class Reference:
    """The reference-computation process of ``calib.py``."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "calib.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        if self.proc.stdout.readline().strip() != "ready":
            raise RuntimeError(f"reference process exited with {self.proc.wait()}")

    def _send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    @contextmanager
    def sampling(self):
        """Sample the reference unit while the body runs; yields a dict
        that then holds the unit's mean CPU seconds (``unit_s``) and the
        number of units (``units``)."""
        out: dict = {}
        self._send("start")
        try:
            yield out
        finally:
            self._send("stop")
            unit_s, units = self.proc.stdout.readline().split()
            out["unit_s"], out["units"] = float(unit_s), int(units)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=20)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)


def _start_spark(tmp: str):
    """``local[nproc]`` with the session settings of ``get_spark``, console
    progress off, and the JVM's temporary files under ``tmp``.

    The JVM compiles with C1 only.  With the default tiered compiler, C2
    compile threads burn 18-22 of the ~43 CPU seconds of the backlog's
    timed cycle, one warm-up cycle after start, and that share varies
    from run to run; C1 compiles in about a tenth of the cycle's CPU
    seconds, a share that holds from run to run.  C1 alone
    would get the 48 MB code cache of a non-tiered JVM, which Spark's
    generated classes overflow by the third cycle (the sweeper and
    recompiles then add ~10 CPU seconds to a cycle), so the code cache
    keeps the tiered default of 240 MB."""
    n = len(os.sched_getaffinity(0))
    jvm_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m")
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": jvm_opts,
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _verify(ctx: dict, loop: SyncLoop, events: list[dict], checks: Checks) -> cdc.EtlModel:
    """Check the Raw pool against the generated events, replay each
    cycle's ingested offsets through the model, and compare with the
    broker's NewInvoices."""
    from pyspark.sql import functions as F

    raw = {r["t"]: r for r in (
        loop.raw.df().groupBy(F.col("kafka.topic").alias("t"), F.col("kafka.offset").alias("o"))
        .count().groupBy("t")
        .agg(F.sum("count").alias("n"), F.max("count").alias("dup"), F.max("o").alias("mx"))
        .collect())}
    ingested = {t: raw[t]["n"] if t in raw else 0 for t in INPUTS}
    checks.check(all(r["dup"] == 1 and r["n"] == r["mx"] + 1 for r in raw.values()),
                 f"Raw: {raw} does not hold offsets 0..max of each topic once each")
    checks.check(sum(ingested.values()) == sum(c["ingested"] for c in loop.cycles),
                 f"Raw: {ingested} differs from the cycles' ingested counts")
    # what the broker was given, from the generator's side
    sent = {t: 0 for t in INPUTS}
    for topic, _ in cdc.assign_offsets(events):
        sent[topic] += 1
    ctx["lag_end"] = sum(sent.values()) - sum(ingested.values())
    checks.check(all(ingested[t] <= sent[t] for t in INPUTS)
                 and 0 <= ctx["lag_end"] <= ctx["max_lag"],
                 f"lag: sent {sent}, ingested {ingested}; at most "
                 f"{ctx['max_lag']} records may be left")
    bounds = [c["fetched"] for c in loop.cycles] + [ingested]
    by_offset = {to: i for i, to in enumerate(cdc.assign_offsets(events))}
    model = cdc.EtlModel()
    for k, cyc in enumerate(loop.cycles):
        batch = []
        for topic in INPUTS:
            for off in range(bounds[k][topic], bounds[k + 1][topic]):
                i = by_offset[(topic, off)]
                batch.append((i, topic, off, events[i]))
        checks.check(len(batch) == cyc["ingested"],
                     f"cycle {k}: ingested {cyc['ingested']}, offsets say {len(batch)}")
        etld = model.run(batch)
        checks.check(etld == cyc["etl"], f"cycle {k}: ETL'd {cyc['etl']}, model {etld}")
    with KafkaWireClient(loop.bootstrap) as c:
        produced = c.fetch_all(cdc.OUTPUT, 0, 0)
    got = [(m.offset, *cdc.decode_output(m.key, m.value)) for m in produced]
    want = [(o["offset"], o["key"], o["value"]) for o in model.outputs]
    checks.check(got == want, f"NewInvoices: {len(got)} records differ from the "
                              f"{len(want)} the model predicts")
    ctx["produce_bytes_at"] = [len(m.key or b"") + len(m.value or b"") for m in produced]
    return model


def _setup(args, tracer_for, broker: BrokerProcess, ctx: dict):
    """Spark session, pools and one warm-up cycle over ``WARMUP_EVENTS``
    pre-produced events, with the driver's CPU seconds in it and the
    reference unit sampled; producing the events is not in it."""
    broker.call(cmd="backlog", seed=args.seed, lo=0, hi=WARMUP_EVENTS)
    t, py = time.monotonic(), layers.py_cpu()
    with ctx["ref"].sampling() as ctx["setup_host"]:
        spark = _start_spark(args.tmp)
        cpu = layers.driver_cpu(spark)
        tracer = tracer_for(spark)
        loop = SyncLoop(spark, args.lake, broker.bootstrap, tracer)
        loop.cycle()
        ctx["setup_cpu_s"] = cpu() - py
    ctx["setup_wall_s"] = time.monotonic() - t
    ctx["loop"], ctx["tracer"] = loop, tracer
    return spark, loop, tracer


def _timed_cycle(loop: SyncLoop) -> dict:
    """One sync cycle, with the driver's CPU seconds in it as ``cpu_s``."""
    cpu = layers.driver_cpu(loop.spark)
    c = cpu()
    rec = loop.cycle()
    rec["cpu_s"] = cpu() - c
    return rec


def run_backlog(args, spark, loop, tracer, broker: BrokerProcess, ctx: dict) -> None:
    n = BACKLOG_PER_SECOND * args.seconds
    broker.call(cmd="backlog", seed=args.seed, lo=WARMUP_EVENTS, hi=WARMUP_EVENTS + n)
    with ctx["ref"].sampling() as ctx["host"]:
        probe = layers.Probe(spark, tracer, broker.pid)
        drain = _timed_cycle(loop)
        ctx["probe"] = probe.stop()
    ctx["timed"] = [len(loop.cycles) - 1]
    ctx["events"] = cdc.generate(args.seed, WARMUP_EVENTS + n)
    ctx["due"] = [float("-inf")] * WARMUP_EVENTS + [drain["t_fetch"]] * n
    ctx["window"] = (drain["t_fetch"], float("inf"))
    ctx["rows_per_s"] = drain["ingested"] / (drain["t_return"] - drain["t_fetch"])
    ctx["max_lag"] = 0  # the drain must take the whole backlog


def run_trickle(args, spark, loop, tracer, broker: BrokerProcess, ctx: dict) -> None:
    """Start the open-loop generator, let it send for ``--seconds``, then
    run one timed cycle, which drains what has arrived by its fetch."""
    ctx["t0"] = t0 = time.monotonic() + 0.05
    cap = WARMUP_EVENTS + int(TRICKLE_RATE * (args.seconds + 600))
    broker.send(cmd="trickle", seed=args.seed, lo=WARMUP_EVENTS, hi=cap,
                rate=TRICKLE_RATE, t0=t0)
    time.sleep(t0 + args.seconds - time.monotonic())
    with ctx["ref"].sampling() as ctx["host"]:
        probe = layers.Probe(spark, tracer, broker.pid, generator_tid=broker.pid)
        timed = _timed_cycle(loop)
        gen = broker.call(cmd="stop_at", t=time.monotonic())
        ctx["probe"] = probe.stop()
    ctx["generator"] = gen
    print(f"generator: {json.dumps(gen)}", file=sys.stderr)
    ctx["checks"].check(gen["late_s_max"] <= MAX_LATE_S,
                        f"generator ran {gen['late_s_max']:.3f} s late")
    ctx["timed"] = [len(loop.cycles) - 1]
    ctx["events"] = cdc.generate(args.seed, WARMUP_EVENTS + gen["sent"])
    ctx["due"] = [float("-inf")] * WARMUP_EVENTS + [
        t0 + i / TRICKLE_RATE for i in range(gen["sent"])]
    # the timed cycle's input interval: from the generator's start to its fetch
    lo, hi = t0, timed["t_fetch"]
    ctx["window"] = (lo, hi)
    # the events due in the window, which the timed cycle drains, per
    # second of the window
    ctx["rows_per_s"] = sum(lo <= d < hi for d in ctx["due"]) / (hi - lo)
    # only events sent after the fetch began may be left on the broker
    ctx["max_lag"] = sum(d + gen["late_s_max"] >= hi for d in ctx["due"])


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(0, min(len(ordered) - 1, int(round(q * len(ordered))) - 1))]


def _run(args, tracer_for) -> dict:
    checks = Checks()
    ref = Reference()
    ctx: dict = {"checks": checks, "ref": ref}
    broker = spark = None
    try:
        broker = BrokerProcess()
        spark, loop, tracer = _setup(args, tracer_for, broker, ctx)
        t = time.monotonic()
        WORKLOADS[args.workload](args, spark, loop, tracer, broker, ctx)
        timed_s = time.monotonic() - t
        checks.attempted += len(loop.cycles)
        model = _verify(ctx, loop, ctx["events"], checks)
        returns = [(c["t_return"], c["egress_hw"]) for c in loop.cycles]
        samples = cdc.freshness(model.outputs, ctx["due"], returns, ctx["window"])
        ctx["samples"] = samples
        if not samples:  # nothing was produced: report the failure, not a crash
            checks.check(False, "no freshness samples")
            samples = [float("nan")]
        print(f"freshness: {len(samples)} samples; set-up {ctx['setup_wall_s']:.1f} s, "
              f"workload {timed_s:.1f} s, checks {time.monotonic() - t - timed_s:.1f} s; "
              f"cycles {[round(c['t_return'] - c['t_fetch'], 2) for c in loop.cycles]} s; "
              f"host steal {ctx['probe']['steal_pct']:.1f}% while timed",
              file=sys.stderr)
        cpu_s, unit_s = loop.cycles[-1]["cpu_s"], ctx["host"]["unit_s"]
        e2e = {
            "setup_s": (ctx["setup_cpu_s"] * REF_UNIT_S / ctx["setup_host"]["unit_s"], "s"),
            "cycle_cpu_ref": (cpu_s / unit_s, "x"),
            "driver_peak_rss_mb": (layers.peak_rss_mb("self"), "MB"),
        }
        raw = {
            "setup.wall_s": (ctx["setup_wall_s"], "s"),
            "setup.cpu_s": (ctx["setup_cpu_s"], "s"),
            "cycle.cpu_s": (cpu_s, "s"),
            "host.ref_unit_s": (unit_s, "s"),
            "sync_rows_per_s": (ctx["rows_per_s"], "rows/s"),
            "freshness_p50_s": (statistics.median(samples), "s"),
            "freshness_p99_s": (_percentile(samples, 0.99), "s"),
        }
        print(f"cycle CPU / reference unit {e2e['cycle_cpu_ref'][0]:.1f} "
              f"({ctx['host']['units']} units); " + ", ".join(
                  f"{k} {v:.4g}" for k, (v, _) in raw.items()), file=sys.stderr)
        if args.trace:
            metrics = layers.per_layer(ctx, e2e, raw)
            out = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            tracer.dump(out + ".spans.jsonl")
            with open(out + ".freshness.json", "w") as f:
                json.dump({
                    "due": [d if d != float("-inf") else None for d in ctx["due"]],
                    "returns": returns, "window": ctx["window"],
                    "inputs_of_output": [o["inputs"] for o in model.outputs],
                    "samples": len(samples), "generator": ctx.get("generator"),
                }, f)
        else:
            metrics = e2e
    finally:
        ref.close()
        if broker is not None:
            broker.close()
        if spark is not None:
            _stop_spark(spark)
    return {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


WORKLOADS = {"cdc_backlog": run_backlog, "cdc_trickle": run_trickle}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an exception, so the broker process, the JVM
    # and the work directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args.lake = os.path.join(work, "lake")
    # keep every scratch file of Spark, the JVM and Python in the checkout
    args.tmp = os.path.join(work, "tmp")
    os.makedirs(args.tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = args.tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={args.tmp}"
    tempfile.tempdir = None

    def tracer_for(spark):
        return Tracer(spark.sparkContext) if args.trace else NullTracer()

    try:
        result = _run(args, tracer_for)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
