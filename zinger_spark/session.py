"""SparkSession construction tuned for this engine.

Defaults are sized for the local[32] test harness but every setting is
chosen to hold on a large cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), UTC session timezone (oracle parity,
see pitfalls in connectjson timestamp handling), Arrow enabled for the
few pandas-UDF code paths.

PySpark's DataFrame debugging hook is off: the driver builds every
plan one ``Column`` call at a time over py4j, and the hook made each of
those calls capture its Python call site for the JVM (costs and the
error-context trade-off at the setting below).  ``__spark_entry__.entry``
runs on its caller's own session and keeps PySpark's default there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """~1/4 of physical RAM, clamped to [2g, 16g].  16g on the 128 GiB
    bench host (where the local[32] "driver" heap is the whole engine),
    but a host with 8 GiB gets 2g instead of being driven into swap."""
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page = os.sysconf("SC_PAGE_SIZE")
        total_gib = pages * page / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "16g"
    return f"{max(2, min(16, int(total_gib // 4)))}g"


def get_spark(
    app_name: str = "zinger_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime partition coalescing + skew-join handling; this is
        # the 100-TB safety net for skewed kafka.topic / join keys.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic timestamp semantics and DuckDB-oracle parity.
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4.x reads parquet timestamp[us] without the UTC-adjust
        # flag as TIMESTAMP_NTZ, which unix_micros/time windows reject;
        # keep reads on the LTZ (TIMESTAMP) path — with a UTC session tz
        # the values are identical.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Arrow for pandas UDF paths (minhash, multimodal stubs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd beats snappy ~1.3-1.5x on storage at similar scan speed —
        # at 100 TB that is tens of TB of parquet; pools inherit it.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # The generated-class cache defaults to 100 entries; a
        # multi-query session (the bench's 42-query round-robin, a
        # long-lived ETL driver, a notebook) cycles through far more
        # compiled stages than that and re-Janino-compiles evicted ones
        # on every revisit.  Compiled classes are small; keep 10x more.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        # PySpark 4.1 wraps every Column method and F.col in
        # errors.utils._with_origin while this is true (the default).
        # Each wrapped call then makes ~6 py4j round trips (active
        # session, PySparkCurrentOrigin, the stack-trace depth conf, set
        # and clear the origin), walks the Python stack, and tries
        # `import IPython` / `import ipykernel`.  Off, the main thread
        # of perfbench's timed cdc_trickle cycle makes 2735 py4j round
        # trips instead of 9535 (seed 1), and the driver's peak RSS drops
        # 152 -> 127 MB, mostly IPython's import footprint.
        # Trade-off: a Spark error's query context no longer carries the
        # Python file:line of the DataFrame call that built the failing
        # expression; the JVM context and the Python traceback remain.
        # PySpark reads this once per process, at the first Column call,
        # from the then-active session (errors.utils._enable_debugging_cache),
        # so it must be set here, before any plan is built.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # In local[N] the "driver" heap IS the whole engine: all N task
        # slots' execution/storage memory plus every broadcast live in
        # this one JVM.  8g was tight for 32 slots on sf3-sized runs
        # (accumulated dead broadcasts + one heavy join pushed a later
        # query's small broadcast into "Not enough memory to build");
        # 16g is right on the 128 GiB bench host but would swap a small
        # box, so the default clamps to ~1/4 of detected physical RAM
        # within [2g, 16g] (r7 advice #5).  SPARK_DRIVER_MEMORY
        # overrides; on a real cluster spark-submit sets this.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_URL"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Register the driver's parquet tables as temp views; returns dict of DFs."""
    names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
