"""Measure the PSL when-chain matcher at full published-list size.

The real public_suffix_list.dat is ~15k rules (public data,
publicsuffix.org); this container has no network, so the probe
generates a structurally-faithful synthetic list at that scale —
same length distribution (mostly 2-label, a long 1-label TLD tail,
3-label hierarchies, wildcards, exceptions, punycode) — swaps it in
via $ZINGER_PSL_FILE, and times registered_domain() over the sf
documents-derived URL corpus against the bundled-subset baseline.

Usage: python tools/psl_scale_probe.py [sf_dir] [reps]
Prints one JSON line {"bundled_sec": ..., "full_sec": ..., "ratio": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synth_psl(path: str) -> int:
    """Write a synthetic list with the published list's shape: ~1500
    1-label TLDs, ~11000 2-label, ~1200 3-label, 40 wildcards, 12
    exceptions, punycode entries, ICANN+private sections."""
    rules: list[str] = []
    rules.append("// ===BEGIN ICANN DOMAINS===")
    for i in range(1500):
        rules.append(f"tld{i:04d}")
    for i in range(9000):
        rules.append(f"co{i:05d}.tld{i % 1500:04d}")
    for i in range(1000):
        rules.append(f"k12.s{i:04d}.tld{i % 1500:04d}")
    for i in range(40):
        rules.append(f"*.wild{i:02d}")
    for i in range(12):
        rules.append(f"!www.wild{i:02d}")
    for i in range(60):
        rules.append(f"xn--synth{i:02d}")
    rules.append("// ===END ICANN DOMAINS===")
    rules.append("// ===BEGIN PRIVATE DOMAINS===")
    for i in range(2000):
        rules.append(f"paas{i:04d}.example")
    for i in range(200):
        rules.append(f"cdn{i:03d}.edge{i % 50:02d}.example")
    rules.append("// ===END PRIVATE DOMAINS===")
    with open(path, "w") as fh:
        fh.write("\n".join(rules) + "\n")
    return sum(1 for r in rules if not r.startswith("//"))


def time_cut(spark, sf: str, reps: int) -> float:
    from pyspark.sql import functions as F

    from zinger_spark.functions.net import registered_domain
    from zinger_spark.functions import psl as pslmod

    # fresh rule set per env state
    pslmod._bundled.cache_clear()
    pslmod._load_file.cache_clear()
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    # the warc_url_filter-style host column: synthesize one per doc
    hosts = docs.select(
        F.concat(
            F.lit("sub"), (F.col("doc_id") % 50).cast("string"), F.lit("."),
            F.col("source"), F.lit("."),
            F.element_at(
                F.array(F.lit("co00001.tld0001"), F.lit("tld0007"),
                        F.lit("example.com"), F.lit("wild03.x"),
                        F.lit("paas0042.example")),
                (F.col("doc_id") % 5 + 1).cast("int"),
            ),
        ).alias("host")
    )
    best = None
    for _ in range(reps):
        t0 = time.monotonic()
        n = hosts.select(registered_domain(F.col("host")).alias("d")).filter(
            F.col("d").isNotNull()
        ).count()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
        assert n > 0
    return best


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    from zinger_spark.session import get_spark

    spark = get_spark("psl-probe")
    os.environ.pop("ZINGER_PSL_FILE", None)
    bundled = time_cut(spark, sf, reps)
    full_path = "/tmp/psl_full_synth.dat"
    n_rules = synth_psl(full_path)
    os.environ["ZINGER_PSL_FILE"] = full_path
    full = time_cut(spark, sf, reps)
    os.environ.pop("ZINGER_PSL_FILE", None)
    print(json.dumps({
        "rules": n_rules,
        "bundled_sec": round(bundled, 3),
        "full_sec": round(full, 3),
        "ratio": round(full / bundled, 3),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
