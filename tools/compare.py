"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB, compare row count, column
names, an order-insensitive value hash, AND column type kinds.

Driver-faithfulness note (round-2 verdict): DuckDB ``sum(<integer>)``
returns HUGEINT (int128), which the driver's canonicalizer hashes
differently from Spark's bigint.  The old canon() here coerced
Decimal/HUGEINT into float and therefore could not reproduce those
driver reds.  This version fetches the DuckDB result through Arrow so
types survive (HUGEINT -> decimal128(38,0)) and fails on any column
whose *type kind* (int / float / decimal / bool / string / binary /
timestamp / list / struct) differs between the Spark result and the
oracle result — so local red == driver red.

Usage: python tools/compare.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(val):
    import decimal

    if val is None:
        return "\x00"
    if isinstance(val, bool):
        return "1" if val else "0"
    if isinstance(val, decimal.Decimal):
        # deliberately distinct from int/float canon: a decimal-typed
        # column must not hash equal to a bigint column (driver parity)
        return "dec:" + str(val)
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        if val == int(val) and abs(val) < 1e15:
            return str(int(val))
        return repr(round(val, 9))
    if isinstance(val, bytes):
        return val.hex()
    if isinstance(val, (list, tuple)):
        return "[" + ",".join(canon(v) for v in val) + "]"
    return str(val)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _arrow_kind(t):
    import pyarrow as pa

    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return "timestamp"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "list"
    if pa.types.is_struct(t):
        return "struct"
    if pa.types.is_map(t):
        return "map"
    return str(t)


def _spark_kind(dt):
    from pyspark.sql import types as T

    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "timestamp"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.ArrayType):
        return "list"
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.MapType):
        return "map"
    return str(dt)


def _arrow_py(val):
    """Arrow scalar -> python, keeping Decimal as Decimal."""
    return val.as_py()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from zinger_spark.session import get_spark

    spark = get_spark("compare")
    con = duckdb.connect()
    import os as _os

    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        # driver testdata is one file per table; tools/make_scale_data.py
        # output is a Spark DIRECTORY per table — glob the parts for DuckDB
        src = f"{sf_dir}/{t}.parquet"
        if _os.path.isdir(src):
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs = entrymod.queries()
    # SF-parameterized oracle fixtures (media fingerprints) derive from
    # the comparison's own corpus — this is what un-pins the media keys
    _os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = _os.path.abspath(sf_dir)
    oracles = entrymod.oracle_sql()
    sf_pinned = getattr(entrymod, "ORACLE_SF_PINNED", {})
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        pin = sf_pinned.get(name)
        if pin is not None and not sf_dir.rstrip("/").endswith(pin):
            # e.g. media-fingerprint oracles derive from the sf0.01
            # corpus (the driver's correctness SF); at any other SF the
            # comparison would be a guaranteed false mismatch
            print(f"SKIP {name}: oracle pinned to {pin} (running {sf_dir})")
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            skinds = {f.name: _spark_kind(f.dataType) for f in sdf.schema.fields}
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        # registry lint (r12): the DRIVER canonicalizer can only hash
        # scalar columns — an array/map/struct output errs the key there
        # even when values match here (r11: zq_over_sort_collect).
        # Fail locally so a driver-unhashable key shape can never ship.
        complex_cols = [
            c for c, k in skinds.items() if k in ("list", "struct", "map")
        ]
        if complex_cols:
            print(
                f"FAIL {name}: non-scalar output columns the driver "
                f"canonicalizer cannot hash: {complex_cols}"
            )
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only) rows={len(srows)}")
            continue
        try:
            atab = con.execute(oracles[name]).fetch_arrow_table()
            ocols = atab.column_names
            okinds = {f.name: _arrow_kind(f.type) for f in atab.schema}
            orows = [
                tuple(_arrow_py(atab.column(c)[i]) for c in ocols)
                for i in range(atab.num_rows)
            ]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        else:
            kind_mismatch = [
                f"{c}: spark={skinds[c]} oracle={okinds[c]}"
                for c in scols
                if skinds[c] != okinds[c]
            ]
            if kind_mismatch:
                problems.append("type-kind " + "; ".join(kind_mismatch))
            hs, ho = table_hash(scols, srows), table_hash(ocols, orows)
            if hs != ho:
                problems.append(f"hash {hs} != {ho}")
        dt = time.time() - t0
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({dt:.1f}s): {'; '.join(problems)}")
            # show a small diff sample
            sset = {tuple(canon(v) for v in r) for r in srows}
            oset = {tuple(canon(v) for v in r) for r in orows}
            so = list(sset - oset)[:3]
            os_ = list(oset - sset)[:3]
            if so:
                print(f"   spark-only: {so}")
            if os_:
                print(f"   oracle-only: {os_}")
        else:
            n_pass += 1
            print(f"PASS {name} ({dt:.1f}s, {len(srows)} rows)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
