"""Z-order clustering key (functions/zorder.py) + compact --zorder."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from zinger_spark.functions.zorder import interleave_sql, with_zorder_key
from zinger_spark.sources.pool import Pool


def _ref_zkey(vals, mins, maxs, bits):
    """Pure-Python reference: scale each dim then interleave bits."""
    scaled = []
    top = (1 << bits) - 1
    for v, mn, mx in zip(vals, mins, maxs):
        scaled.append(0 if mx == mn else (v - mn) * top // (mx - mn))
    n = len(vals)
    out = 0
    for b in range(bits):
        for c, s in enumerate(scaled):
            out |= ((s >> b) & 1) << (b * n + (n - 1 - c))
    return out


def test_zkey_matches_reference(spark):
    import random

    rng = random.Random(13)
    rows = [(rng.randint(0, 1000), rng.randint(-500, 500)) for _ in range(300)]
    df = spark.createDataFrame(rows, "a bigint, b bigint")
    got = {
        (r["a"], r["b"]): r["_zkey"]
        for r in with_zorder_key(df, ["a", "b"], bits=8).collect()
    }
    mins = (min(a for a, _ in rows), min(b for _, b in rows))
    maxs = (max(a for a, _ in rows), max(b for _, b in rows))
    for (a, b), z in got.items():
        assert z == _ref_zkey((a, b), mins, maxs, 8), (a, b)


def test_zkey_requires_two_columns(spark):
    df = spark.createDataFrame([(1,)], "a bigint")
    with pytest.raises(ValueError):
        with_zorder_key(df, ["a"])


def test_interleave_locality():
    # neighboring cells in 2-D land near each other on the curve:
    # the 4 quadrant prefixes partition the key space
    import duckdb

    con = duckdb.connect()
    e = interleave_sql(["x", "y"], 4, "duckdb")
    rows = con.execute(
        f"SELECT x, y, {e} AS z FROM (SELECT unnest(range(16)) AS x),"
        f" (SELECT unnest(range(16)) AS y)"
    ).fetchall()
    for x, y, z in rows:
        # top two bits of the 8-bit key identify the 2-D quadrant
        assert (z >> 6) == (x // 8) * 2 + (y // 8)


def _file_ranges(files, paths):
    out = {p: [] for p in paths}
    for f in sorted(files):
        md = pq.read_metadata(f)
        stats = {p: [None, None] for p in paths}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema in paths and col.statistics:
                    lo, hi = stats[col.path_in_schema]
                    s = col.statistics
                    stats[col.path_in_schema] = [
                        s.min if lo is None else min(lo, s.min),
                        s.max if hi is None else max(hi, s.max),
                    ]
        for p in paths:
            if stats[p][0] is not None:
                out[p].append(tuple(stats[p]))
    return out


def test_compact_zorder_narrows_both_dims(spark, tmp_path):
    """Linear sort on (a, b) leaves b's per-file ranges full-width;
    z-order narrows BOTH.  Grid data makes the contrast exact."""
    schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint,b:bigint>, _type string"
    )
    grid = [
        (("T", 0, i), None, (i % 32, i // 32), "data") for i in range(1024)
    ]

    def spread(pool_dir, zorder):
        pool = Pool.create(spark, pool_dir)
        for lo in range(0, 1024, 256):
            pool.load_batch(
                spark.createDataFrame(grid[lo:lo + 256], schema)
            )
        loaded = len(pool._log.snapshot()["files"])
        assert pool.compact(
            sort_by=["value.a", "value.b"], zorder=zorder,
            target_file_bytes=4096,
        ) == loaded  # a full compaction merges every live file
        live = [os.path.join(pool.path, p) for p in pool._log.snapshot()["files"]]
        rng = _file_ranges(live, ["value.a", "value.b"])
        assert len(rng["value.a"]) >= 2
        avg = {
            p: sum(hi - lo for lo, hi in rs) / len(rs)
            for p, rs in rng.items()
        }
        rows = sorted(
            (r["value"]["a"], r["value"]["b"]) for r in pool.df().collect()
        )
        assert rows == sorted((i % 32, i // 32) for i in range(1024))
        return avg

    lin = spread(str(tmp_path / "lin"), zorder=False)
    zed = spread(str(tmp_path / "zed"), zorder=True)
    # linear clustering keys on a: b stays (near) full-width per file
    assert zed["value.b"] < lin["value.b"] * 0.7
    # and a must not degrade to full-width either
    assert zed["value.a"] < 31 * 0.7


def test_compact_zorder_requires_two_columns(spark, tmp_path):
    schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint,b:bigint>, _type string"
    )
    pool = Pool.create(spark, str(tmp_path / "zz"))
    pool.load_batch(spark.createDataFrame(
        [(("T", 0, 0), None, (1, 2), "data")], schema))
    with pytest.raises(ValueError, match="z-order"):
        pool.compact(sort_by=["value.a"], zorder=True)
    with pytest.raises(ValueError, match="z-order"):
        pool.compact(zorder=True)
