"""Per-layer metrics of a traced run: span sums per layer, exact counts,
and engine-level CPU, GC and memory of the timed region.

Every metric below covers the timed cycles only (not the warm-up), and
names in brackets the figure it should move.  Each layer moves the
end-to-end ``cycle_cpu_ref`` of that workload by the CPU it uses, and the
named wall-clock figure by its share of the cycle's blocking path:

``kafka_wire.fetch_s``, ``kafka_wire.produce_s`` (rows/s on the backlog;
produce also the driver's RSS), with exact ``fetch_records`` and
``fetch_bytes`` (records and key+value bytes of every Fetch round trip
the wire client made) and ``produce_records`` and ``produce_bytes`` (the
records the timed cycles added to ``NewInvoices``, read back from the
broker);
``kafka_stub.cpu_s`` (the broker's CPU, generator thread excluded);
``from_kafka.envelope_s`` (backlog) and ``from_kafka.guard_s``
(trickle freshness); ``pool.commit_s`` (both), ``pool.resume_s``
(trickle freshness) and the end-of-run ``pool.commits`` and
``pool.files``; ``etl.run_s``, ``etl.runs`` and ``etl.jobs_per_run``
(trickle freshness); ``to_kafka.sync_s``, ``to_kafka.scan_s`` (= sync
minus produce), ``to_kafka.resume_s``, ``to_kafka.batches`` and
``to_kafka.jobs`` (backlog rows/s); ``cycle.s_p50``, ``cycle.s_max``,
``cycle.count``, ``cycle.jobs`` and ``cycle.covered_pct`` (the share of
cycle wall time inside layer spans); ``lag.records_end`` and
``freshness.samples``; ``driver.py_cpu_s``, ``driver.jvm_cpu_s``,
``driver.jvm_gc_s`` and ``driver.jvm_peak_rss_mb`` (Python, JVM or
waiting); ``host.steal_pct`` (the share of the machine's CPU time stolen
by the hypervisor, which stretches every timing); ``trace.self_s`` (the
tracer's own time) and the traced run's own ``trace.cycle_cpu_ref``,
which less the untraced ``cycle_cpu_ref`` is the tracing overhead.  The
raw figures of ``run.py`` are per-layer metrics here: ``setup.wall_s``
and ``setup.cpu_s`` (the set-up's wall and CPU seconds; ``setup_s``
scales the latter), ``cycle.cpu_s`` (the timed cycle's CPU seconds),
``host.ref_unit_s`` (the reference
unit's mean CPU seconds over the cycle; ``cycle_cpu_ref`` is the ratio
of the two) and the wall-clock ``sync_rows_per_s`` (backlog),
``freshness_p50_s`` and ``freshness_p99_s`` (trickle): they follow the
host's load too closely to carry a bound.
"""

from __future__ import annotations

import os
import resource
import statistics

from perfbench.trace import Tracer
from zinger_spark.kafka_wire import KafkaWireClient

_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(stat_path: str) -> float:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK  # utime + stime


def _host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def py_cpu() -> float:
    """CPU seconds of this Python process so far, every thread."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def driver_cpu(spark):
    """A function that returns the CPU seconds the driver has used so far:
    its Python process plus the Spark JVM since its launch (the launcher
    process it replaced included).  Time the hypervisor steals is not in
    it (the kernel accounts it as steal), so it spreads less than wall
    time on a shared host."""
    jvm_stat = f"/proc/{int(spark._jvm.java.lang.ProcessHandle.current().pid())}/stat"

    def read() -> float:
        with open(jvm_stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # utime, stime, and those of the children it waited for
        return py_cpu() + sum(int(x) for x in fields[11:15]) / _TICK

    return read


def peak_rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


class FetchCounter:
    """While installed, counts the records and key+value bytes every
    ``KafkaWireClient.fetch`` round trip hands back (``wire_read_topic``
    drains a topic through it), re-fetches and over-reads included."""

    def __init__(self):
        self.records = self.bytes = 0
        self._orig = orig = KafkaWireClient.fetch

        def fetch(client, *args, **kwargs):
            hw, msgs = orig(client, *args, **kwargs)
            self.records += len(msgs)
            self.bytes += sum(len(m.key or b"") + len(m.value or b"") for m in msgs)
            return hw, msgs

        KafkaWireClient.fetch = fetch

    def close(self) -> None:
        KafkaWireClient.fetch = self._orig


class Probe:
    """CPU and GC counters at the start of the timed region; ``stop``
    returns their deltas.  A traced run also counts what the wire
    client fetched."""

    def __init__(self, spark, tracer, broker_pid: int, generator_tid: int | None = None):
        self.fetches = FetchCounter() if isinstance(tracer, Tracer) else None
        jvm = spark._jvm
        self.tracer = tracer
        self._mgmt = jvm.java.lang.management.ManagementFactory
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.broker_pid = broker_pid
        self.generator_tid = generator_tid
        self._start = self._read()

    def _gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mgmt.getGarbageCollectorMXBeans()) / 1000.0

    def _read(self) -> dict:
        gen = 0.0
        if self.generator_tid is not None:
            gen = _cpu_s(f"/proc/{self.broker_pid}/task/{self.generator_tid}/stat")
        return {
            "py": py_cpu(),
            "jvm": _cpu_s(f"/proc/{self.jvm_pid}/stat"),
            "gc": self._gc_s(),
            "broker": _cpu_s(f"/proc/{self.broker_pid}/stat") - gen,
            "trace": self.tracer.self_s,
            "host": _host_ticks(),
        }

    def stop(self) -> dict:
        end = self._read()
        (steal0, total0), (steal1, total1) = self._start.pop("host"), end.pop("host")
        out = {k: end[k] - self._start[k] for k in end}
        # the share of the machine's CPU time the hypervisor gave to other
        # guests: every timing of the run stretches with it
        out["steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
        if self.fetches is not None:
            self.fetches.close()
            out["fetch_records"], out["fetch_bytes"] = self.fetches.records, self.fetches.bytes
        out["jvm_peak_rss_mb"] = peak_rss_mb(self.jvm_pid)
        return out


def _pool_state(lake: str) -> tuple[int, int]:
    commits = files = 0
    for _, dirs, names in os.walk(lake):
        commits += sum(d.startswith("commit-") for d in dirs)
        files += sum(n.endswith(".parquet") for n in names)
    return commits, files


def per_layer(ctx: dict, e2e: dict, raw: dict) -> dict:
    """{name: (value, unit)} from the traced run's spans and counters."""
    loop, tracer = ctx["loop"], ctx["tracer"]
    cycles = [s for s in tracer.spans if s.name == "cycle"]
    timed_spans = [cycles[i] for i in ctx["timed"]]
    timed = [loop.cycles[i] for i in ctx["timed"]]
    inner = [d for c in timed_spans for d in tracer.descendants(c)]

    def total(name: str) -> float:
        return sum(s.dur for s in inner if s.name == name)

    def spans(name: str) -> list:
        return [s for s in inner if s.name == name]

    lo = loop.cycles[ctx["timed"][0] - 1]["egress_hw"]  # after the warm-up cycle
    hi = timed[-1]["egress_hw"]
    etl_runs = spans("etl.run")
    produce_s = total("kafka_wire.produce")
    sync_s = total("to_kafka.sync")
    cycle_s = [s.dur for s in timed_spans]
    child_s = sum(k.dur for c in timed_spans for k in tracer.children(c))
    commits, files = _pool_state(loop.raw.path.rsplit("/", 1)[0])
    probe = ctx["probe"]
    m = {
        "kafka_wire.fetch_s": (total("kafka_wire.fetch"), "s"),
        "kafka_wire.produce_s": (produce_s, "s"),
        "kafka_wire.fetch_records": (probe["fetch_records"], "count"),
        "kafka_wire.fetch_bytes": (probe["fetch_bytes"], "bytes"),
        "kafka_wire.produce_records": (hi - lo, "count"),
        "kafka_wire.produce_bytes": (sum(ctx["produce_bytes_at"][lo:hi]), "bytes"),
        "kafka_stub.cpu_s": (probe["broker"], "s"),
        "from_kafka.envelope_s": (total("from_kafka.envelope"), "s"),
        "from_kafka.guard_s": (total("from_kafka.guard"), "s"),
        "pool.commit_s": (total("pool.commit"), "s"),
        "pool.resume_s": (total("pool.resume"), "s"),
        "pool.commits": (commits, "count"),
        "pool.files": (files, "count"),
        "etl.run_s": (total("etl.run"), "s"),
        "etl.runs": (len(etl_runs), "count"),
        "etl.jobs_per_run": (sum(s.jobs for s in etl_runs) / len(etl_runs), "count"),
        "to_kafka.sync_s": (sync_s, "s"),
        "to_kafka.scan_s": (sync_s - produce_s, "s"),
        "to_kafka.resume_s": (total("to_kafka.resume"), "s"),
        "to_kafka.batches": (len(spans("kafka_wire.produce")), "count"),
        "to_kafka.jobs": (sum(s.jobs for s in spans("to_kafka.sync") + spans("kafka_wire.produce")),
                          "count"),
        "cycle.s_p50": (statistics.median(cycle_s), "s"),
        "cycle.s_max": (max(cycle_s), "s"),
        "cycle.count": (len(timed_spans), "count"),
        "cycle.jobs": (statistics.median(
            c.jobs + sum(d.jobs for d in tracer.descendants(c)) for c in timed_spans), "count"),
        "cycle.covered_pct": (100.0 * child_s / sum(cycle_s), "%"),
        "lag.records_end": (ctx["lag_end"], "count"),
        "freshness.samples": (len(ctx["samples"]), "count"),
        "driver.py_cpu_s": (probe["py"], "s"),
        "driver.jvm_cpu_s": (probe["jvm"], "s"),
        "driver.jvm_gc_s": (probe["gc"], "s"),
        "driver.jvm_peak_rss_mb": (probe["jvm_peak_rss_mb"], "MB"),
        "host.steal_pct": (probe["steal_pct"], "%"),
        "trace.self_s": (probe["trace"], "s"),
        "trace.cycle_cpu_ref": e2e["cycle_cpu_ref"],
        **raw,
    }
    return m

