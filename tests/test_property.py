"""Property-based tests (hypothesis): codec round-trips and fuse laws.
The reference has no randomized tests (SURVEY §5 'not present'); these
go beyond its corpus."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zinger_spark.codecs import connect_json as cj
from zinger_spark.datamodel import fuse_type

SETTINGS = dict(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# -- Connect schema round trip ------------------------------------------------

prims = st.sampled_from(
    [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(), T.FloatType(),
     T.DoubleType(), T.BooleanType(), T.BinaryType(), T.StringType()]
)


def _types(depth: int = 2):
    if depth == 0:
        return prims
    sub = _types(depth - 1)
    return st.one_of(
        prims,
        st.lists(
            st.tuples(st.from_regex(r"[a-z][a-z0-9_]{0,7}", fullmatch=True), sub),
            min_size=1, max_size=4,
            unique_by=lambda t: t[0],
        ).map(lambda fs: T.StructType([T.StructField(n, t, True) for n, t in fs])),
        sub.map(lambda t: T.ArrayType(t, True)),
    )


@given(dt=_types())
@settings(**SETTINGS)
def test_connect_schema_roundtrip_any_type(spark, dt):
    """spark_type_of(connect_schema_of(t)) == t for all supported types
    (modulo the documented timestamp->int64 wire mapping, excluded)."""
    s = cj.connect_schema_of(dt)
    json.dumps(s)  # serializable
    assert cj.spark_type_of(s) == dt


# -- fuse laws ---------------------------------------------------------------

@given(a=_types(1), b=_types(1), c=_types(1))
@settings(**SETTINGS)
def test_fuse_type_total_and_associative_shapewise(spark, a, b, c):
    """fuse_type never raises, is idempotent, and (a+b)+c == a+(b+c)
    whenever the chain stays in the widening lattice."""
    ab = fuse_type(a, b)
    assert fuse_type(a, a) == a
    left = fuse_type(ab, c)
    right = fuse_type(a, fuse_type(b, c))
    assert left == right


@given(
    rows=st.lists(
        st.tuples(st.integers(-10**9, 10**9), st.text(max_size=8)), min_size=1, max_size=5
    )
)
@settings(**SETTINGS)
def test_connect_json_value_roundtrip(spark, rows):
    """encode -> decode is identity over (bigint, string) rows incl.
    empty strings and negative values."""
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("s", T.StringType())]
    )
    df = spark.createDataFrame(rows, schema)
    enc = df.select(cj.encode(F.struct("a", "s"), schema).alias("j"))
    sch = json.loads(enc.collect()[0]["j"])["schema"]
    dec = enc.select(cj.decode(F.col("j"), sch).alias("v")).select("v.*")
    assert sorted(map(tuple, dec.collect())) == sorted(map(tuple, df.collect()))


# -- avro_py binary codec laws -----------------------------------------------

_avro_prims = st.sampled_from(["int", "long", "float", "double", "boolean", "string", "bytes"])


def _avro_value_for(schema):
    if isinstance(schema, list):  # [null, T]
        branch = [s for s in schema if s != "null"][0]
        return st.one_of(st.none(), _avro_value_for(branch))
    if isinstance(schema, dict):
        if schema["type"] == "record":
            return st.fixed_dictionaries(
                {f["name"]: _avro_value_for(f["type"]) for f in schema["fields"]}
            )
        if schema["type"] == "array":
            return st.lists(_avro_value_for(schema["items"]), max_size=4)
        if schema["type"] == "map":
            return st.dictionaries(
                st.text(max_size=6), _avro_value_for(schema["values"]), max_size=4
            )
    return {
        "int": st.integers(-(2**31), 2**31 - 1),
        "long": st.integers(-(2**63), 2**63 - 1),
        "float": st.floats(width=32, allow_nan=False),
        "double": st.floats(allow_nan=False),
        "boolean": st.booleans(),
        "string": st.text(max_size=12),
        "bytes": st.binary(max_size=12),
    }[schema]


_avro_schemas = st.recursive(
    _avro_prims,
    lambda sub: st.one_of(
        st.lists(
            st.tuples(st.from_regex(r"[a-z][a-z0-9_]{0,7}", fullmatch=True),
                      sub.map(lambda s: ["null", s])),
            min_size=1, max_size=4, unique_by=lambda t: t[0],
        ).map(lambda fs: {
            "type": "record", "name": "r",
            "fields": [{"name": n, "type": t} for n, t in fs],
        }),
        sub.map(lambda s: {"type": "array", "items": s}),
        sub.map(lambda s: {"type": "map", "values": s}),
    ),
    max_leaves=6,
)


@given(data=st.data(), schema=_avro_schemas)
@settings(**SETTINGS)
def test_avro_py_roundtrip_any_schema(data, schema):
    """decode(encode(v)) == v for arbitrary schema/value pairs in the
    zync dialect (all-optional records, [null,T] unions)."""
    from zinger_spark.codecs import avro_py

    value = data.draw(_avro_value_for(schema))
    back = avro_py.decode_value(schema, avro_py.encode_value(schema, value))
    assert back == value


# -- PassJoin segment blocking == brute-force levenshtein --------------------

@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    words=st.lists(st.text(alphabet="ab ", max_size=9), min_size=2, max_size=14),
    k=st.integers(min_value=1, max_value=3),
)
def test_edit_distance_join_equals_brute_force(spark, words, k):
    from zinger_spark.operators.dedup import edit_distance_join

    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "doc_id long, key string")
    got = {
        (r.a, r.b, r.dist)
        for r in edit_distance_join(df, "key", "doc_id", k).collect()
    }
    want = {
        (r.a, r.b, r.dist)
        for r in df.selectExpr("doc_id a", "key ka")
        .crossJoin(df.selectExpr("doc_id b", "key kb"))
        .filter("a < b")
        .selectExpr("a", "b", "levenshtein(ka, kb) dist")
        .filter(f"dist <= {k}")
        .collect()
    }
    assert got == want


# -- r5 text-op properties ----------------------------------------------------

_words = st.lists(
    st.from_regex(r"[a-z]{1,6}", fullmatch=True), min_size=1, max_size=60
)


@given(words=_words, ck=st.integers(2, 8), stride=st.integers(1, 8))
@settings(**SETTINGS)
def test_chunk_spans_cover_all_tokens_in_order(spark, words, ck, stride):
    """Invariants: chunk 0 starts at token 0; starts advance by exactly
    `stride`; every token is covered; with stride >= window the
    re-concatenation of non-overlapping chunks equals the text."""
    from zinger_spark.functions import text as zt

    stride = min(stride, ck)  # overlap requires stride <= window
    txt = " ".join(words)
    df = spark.createDataFrame([(txt,)], "text string")
    chunks = sorted(
        (
            r["c"]["chunk_idx"],
            r["c"]["start_tok"],
            r["c"]["chunk"],
        )
        for r in df.select(
            F.explode(zt.chunk_spans(F.col("text"), ck, stride)).alias("c")
        ).collect()
    )
    assert chunks[0][:2] == (0, 0)
    assert [c[0] for c in chunks] == list(range(len(chunks)))
    assert all(c[1] == c[0] * stride for c in chunks)
    # coverage: the last chunk must reach the final token
    n = len(words)
    last_start = chunks[-1][1]
    assert last_start + ck >= n
    # every chunk equals the corresponding token slice
    for _, start, chunk in chunks:
        assert chunk == " ".join(words[start : start + ck])
    if stride == ck:
        assert " ".join(c[2] for c in chunks) == txt


@given(
    parts=st.lists(
        st.one_of(
            st.from_regex(r"[a-z]{1,8}", fullmatch=True),
            st.sampled_from(
                [
                    "bob@x.org",
                    "a.b-c+d@mail.example.co",
                    "https://ex.com/p?q=1",
                    "http://x.io/a",
                    "+1 (555) 010-1234",
                    "5551234567",
                ]
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_scrub_pii_idempotent_and_clean(spark, parts):
    """scrub is idempotent (placeholders contain no scrubbable
    patterns) and the output never matches any PII pattern."""
    from zinger_spark.functions import text as zt

    txt = " ".join(parts)
    df = spark.createDataFrame([(txt,)], "text string")
    row = df.select(
        zt.scrub_pii(F.col("text")).alias("once"),
        zt.scrub_pii(zt.scrub_pii(F.col("text"))).alias("twice"),
    ).collect()[0]
    assert row["once"] == row["twice"]
    again = (
        spark.createDataFrame([(row["once"],)], "text string")
        .select(
            zt.count_matches(F.col("text"), zt.EMAIL_RE).alias("e"),
            zt.count_matches(F.col("text"), zt.URL_RE).alias("u"),
            zt.count_matches(F.col("text"), zt.PHONE_RE).alias("p"),
        )
        .collect()[0]
    )
    assert (again["e"], again["u"], again["p"]) == (0, 0, 0)


# -- ZSON round trip ----------------------------------------------------------

# Values dumps() can render and parse() can read back exactly: ints,
# finite floats (NaN breaks ==; covered separately in test_zson),
# strings, bools, None, and nested records/arrays/maps/sets thereof.
zson_scalars = st.one_of(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=20),
    st.booleans(),
    st.none(),
)
zson_field_names = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_ .\"'", min_size=1, max_size=12
)


def _zson_values(depth: int = 3):
    from zinger_spark.codecs.zson import ZsonMap, ZsonSet

    base = zson_scalars
    if depth <= 0:
        return base
    sub = _zson_values(depth - 1)
    return st.one_of(
        base,
        st.lists(sub, max_size=4),
        st.dictionaries(zson_field_names, sub, max_size=4),
        st.builds(ZsonSet, st.lists(sub, max_size=4)),
        st.builds(
            ZsonMap, st.dictionaries(st.text(max_size=8), sub, max_size=3)
        ),
    )


@given(v=_zson_values())
@settings(**SETTINGS)
def test_zson_dumps_parse_roundtrip(v):
    from zinger_spark.codecs import zson

    (v2, name), = zson.parse(zson.dumps(v))
    assert name is None
    assert v2 == v


@given(v=st.dictionaries(zson_field_names, _zson_values(2), max_size=4),
       name=st.sampled_from(["done", "cursor", "order_t"]))
@settings(**SETTINGS)
def test_zson_named_type_roundtrip(v, name):
    from zinger_spark.codecs import zson

    (v2, name2), = zson.parse(zson.dumps(v, name))
    assert (v2, name2) == (v, name)


# -- Hamming banding completeness ---------------------------------------------


@given(
    fps=st.lists(
        st.integers(min_value=0, max_value=2**16 - 1),
        min_size=2, max_size=24, unique=True,
    ),
    k=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hamming_banding_equals_brute_force(spark, fps, k):
    """The pigeonhole banding is LOSSLESS: banded candidates + exact
    verify return exactly the brute-force pair set at the bound."""
    from zinger_spark.operators.dedup import hamming_dup_pairs

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(fps)], "doc_id long, simhash long"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_dup_pairs(df, bits=16, max_hamming=k).collect()
    }
    want = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a in range(len(fps))
        for b in range(a + 1, len(fps))
        if bin(fps[a] ^ fps[b]).count("1") <= k
    }
    assert got == want


@given(
    vals=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=60),
    nparts=st.integers(min_value=1, max_value=7),
)
@settings(**SETTINGS)
def test_global_row_number_matches_window_property(spark, vals, nparts):
    """Distributed prefix-sum rank == row_number() over an
    unpartitioned window for arbitrary data (heavy ties in the lead
    key broken by the unique id; arbitrary range-partition counts,
    including partitions spanning tie runs)."""
    from pyspark.sql import Window

    from zinger_spark.operators.packing import global_row_number

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    naive = {
        (r.id, r.rn)
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("v", "id")).alias("rn")
        ).collect()
    }
    fast = {
        (r.id, r.rn)
        for r in global_row_number(
            df, ["v", "id"], out_col="rn", num_partitions=nparts
        ).select("id", "rn").collect()
    }
    assert fast == naive


@given(
    regs=st.dictionaries(
        st.integers(min_value=0, max_value=1023),
        st.integers(min_value=1, max_value=51),
        max_size=1024,
    )
)
@settings(max_examples=60, deadline=None)
def test_hll_driver_fold_matches_dataframe_fold(spark, regs):
    """estimate_from_register_dict (driver-side, used by the ingest
    sidecar) and _estimate_from_registers (DataFrame-side, used by the
    registry queries) are the SAME integer-statistics fold — any
    register table must produce the identical estimate through both."""
    from zinger_spark.operators.sketches import (
        _estimate_from_registers,
        estimate_from_register_dict,
    )

    driver = estimate_from_register_dict(regs, p=10)
    if not regs:
        # DataFrame fold needs >= 1 row; empty sketch = 0 distinct
        assert driver == 0
        return
    df = spark.createDataFrame(
        [(k, v) for k, v in regs.items()], "bucket INT, register INT"
    )
    frame = _estimate_from_registers(df, 10, []).collect()[0]["estimate"]
    assert driver == frame


@given(
    bands=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=1, max_value=200),
        ),
        min_size=1,
        max_size=6,
    ),
    width=st.integers(min_value=1, max_value=300),
)
@settings(max_examples=25, deadline=None)
def test_bucketed_range_join_fuzz_matches_theta(spark, bands, width):
    """Random (possibly overlapping) bands and bucket widths: the
    bucketized plan must return exactly the naive theta join's rows —
    over-coverage is filtered, under-coverage would show up here."""
    from pyspark.sql import functions as F

    from zinger_spark.operators.relational import bucketed_range_join

    band_rows = [
        (float(lo), float(lo + w), f"T{i}") for i, (lo, w) in enumerate(bands)
    ]
    bdf = spark.createDataFrame(band_rows, "lo double, hi double, tier string")
    facts = spark.range(80).select(
        F.col("id").alias("fid"), (F.col("id") * 9.37 % 700).alias("v")
    )
    got = sorted(
        map(tuple, bucketed_range_join(facts, bdf, "v", "lo", "hi", width)
            .select("fid", "tier").collect())
    )
    want = sorted(
        map(tuple, facts.join(
            bdf, (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
        ).select("fid", "tier").collect())
    )
    assert got == want


# -- txlog file pruning: conservative-superset property -------------------


@given(
    st.lists(
        st.tuples(
            st.integers(0, 1000),  # offset lo
            st.integers(0, 1000),  # offset span
            st.sampled_from(["A", "B", "C"]),
            st.sampled_from(["A", "B", "C"]),
            st.booleans(),  # has stats at all
        ),
        min_size=0,
        max_size=20,
    ),
    st.integers(0, 1200),
    st.integers(0, 1200),
    st.sampled_from([None, "A", "B", "C"]),
)
@settings(max_examples=200, deadline=None)
def test_txlog_prune_never_drops_a_matching_file(specs, lo, span, topic):
    """prune_files must be a CONSERVATIVE filter: any file that could
    contain a row matching (topic, offset in [lo, hi)) must survive.
    Dropping too little costs IO; dropping too much loses data."""
    from zinger_spark.sources.txlog import prune_files

    hi = lo + span
    files = []
    for i, (olo, ospan, t1, t2, has_stats) in enumerate(specs):
        stats = (
            {
                "kafka.offset": [olo, olo + ospan],
                "kafka.topic": [min(t1, t2), max(t1, t2)],
            }
            if has_stats
            else {}
        )
        files.append({"path": f"f{i}", "stats": stats})
    kept = {f["path"] for f in prune_files(files, topic=topic, offset_lo=lo, offset_hi=hi)}
    for f in files:
        st_ = f["stats"]
        if not st_:
            assert f["path"] in kept  # statless files always survive
            continue
        offs = st_["kafka.offset"]
        tops = st_["kafka.topic"]
        # could this file hold a matching row?  offset ranges intersect
        # [lo, hi) and the topic (if any) falls inside the topic range
        offset_possible = offs[0] < hi and offs[1] >= lo
        topic_possible = topic is None or (tops[0] <= topic <= tops[1])
        if offset_possible and topic_possible:
            assert f["path"] in kept, f"pruned a possibly-matching file {f}"


# -- general (multi-branch) union round-trip law --------------------------

_union_branch_types = st.sampled_from(["long", "string", "boolean", "double"])


@given(
    data=st.data(),
    branches=st.lists(_union_branch_types, min_size=2, max_size=4),
    with_null=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_avro_py_general_union_roundtrip_law(data, branches, with_null):
    """decode(encode(v)) == v for arbitrary GENERAL unions (3+ branches
    or no-null 2-branch) under the tagged-struct value convention; the
    [null, T] special case must keep smashing to a bare value."""
    from zinger_spark.codecs import avro_py

    schema = (["null"] if with_null else []) + list(branches)
    if len(schema) == 2 and "null" in schema:
        return  # the optional form — covered by the dialect test above
    idx = data.draw(st.integers(0, len(schema) - 1))
    value = {"tag": idx}
    for i, b in enumerate(schema):
        if b != "null":
            value[f"b{i}"] = None
    if schema[idx] != "null":
        value[f"b{idx}"] = data.draw(_avro_value_for(schema[idx]))
    back = avro_py.decode_value(schema, avro_py.encode_value(schema, value))
    assert back == value


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(st.integers(min_value=0, max_value=99), min_size=4, max_size=10))
def test_pool_matches_model_random_ops(spark, tmp_path_factory, ops):
    """Any op sequence (load, including empty micro-batches /
    drop-last / size-tiered compact / vacuum) leaves the pool's visible
    rows, offset bookkeeping and emptiness equal to a plain-Python
    model of an append-only table — across log checkpoint boundaries
    (the interval is shrunk to 3 so short sequences cross several)."""
    from zinger_spark.sources.pool import Pool

    pool = Pool.create(spark, str(tmp_path_factory.mktemp("model") / "p"))
    pool._log.CHECKPOINT_INTERVAL = 3

    def topic(o):
        return "T" if o % 3 else "U"

    def mk(lo, n):
        return spark.createDataFrame(
            [((topic(o), 0, o), None, (o * 10,), "data") for o in range(lo, lo + n)],
            "kafka struct<topic:string,partition:bigint,offset:bigint>, "
            "key string, value struct<a:bigint>, _type string",
        )

    commits: list[list[int]] = []  # the model: live commits' offsets
    last_id = None
    nxt = 0
    for op in ops:
        kind = op % 4
        if kind in (0, 1):  # load (weighted; n==0 = empty micro-batch)
            n = op % 3
            cid = pool.load_batch(mk(nxt, n))
            # an all-empty batch is "no commit happened": its id is not
            # retractable
            last_id = cid if n else None
            if n:
                commits.append(list(range(nxt, nxt + n)))
            nxt += n
        elif kind == 2 and last_id:  # retract the last commit
            pool.drop_commit(last_id)
            commits.pop()
            last_id = None
        else:  # compact small tail + vacuum with zero grace
            pool.compact(small_bytes=1 << 30)
            pool.vacuum(grace_seconds=0.0, unpublished_grace_seconds=1e9)
            last_id = None
        offsets = [o for c in commits for o in c]
        nxt_by_topic = {}
        for o in offsets:
            nxt_by_topic[topic(o)] = max(nxt_by_topic.get(topic(o), 0), o + 1)
        assert pool.is_empty() == (not offsets), f"after op {op}"
        if offsets:
            rows = sorted(
                (r["kafka"]["topic"], r["kafka"]["offset"], r["value"]["a"])
                for r in pool.df().collect()
            )
            assert rows == sorted((topic(o), o, o * 10) for o in offsets), f"after op {op}"
        assert pool.next_producer_offsets() == nxt_by_topic, f"after op {op}"
        assert pool.next_consumer_offset("T") == nxt_by_topic.get("T", 0)
        assert pool.next_consumer_offsets_by_partition("U") == (
            {0: nxt_by_topic["U"]} if "U" in nxt_by_topic else {}
        ), f"after op {op}"
    pool.delete()


# ---------------------------------------------------------------------------
# r12: pure-stdlib compression fallbacks — property round trips


@given(st.binary(max_size=300_000))
@settings(max_examples=60, deadline=None)
def test_prop_snappy_round_trip(data):
    from zinger_spark.compress import snappy_compress, snappy_decompress

    assert snappy_decompress(snappy_compress(data)) == data


@given(st.binary(max_size=300_000))
@settings(max_examples=60, deadline=None)
def test_prop_lz4_frame_round_trip(data):
    from zinger_spark.compress import lz4_frame_compress, lz4_frame_decompress

    assert lz4_frame_decompress(lz4_frame_compress(data)) == data


@given(st.binary(max_size=300_000))
@settings(max_examples=60, deadline=None)
def test_prop_zstd_frame_round_trip(data):
    from zinger_spark.compress import zstd_frame_compress, zstd_frame_decompress

    assert zstd_frame_decompress(zstd_frame_compress(data)) == data


@given(st.binary(max_size=4096), st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=100, deadline=None)
def test_prop_xxh32_stability(data, seed):
    """Same input+seed -> same digest; digest fits 32 bits; single-byte
    perturbation changes the digest (collision odds 2^-32 per example —
    treat a hit as a real failure)."""
    from zinger_spark.compress import xxh32

    h = xxh32(data, seed)
    assert 0 <= h <= 0xFFFFFFFF
    assert xxh32(data, seed) == h
    if data:
        flipped = bytes([data[0] ^ 0x01]) + data[1:]
        assert xxh32(flipped, seed) != h


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.binary(max_size=64)),
            st.one_of(st.none(), st.binary(max_size=2048)),
        ),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from(["none", "gzip", "snappy", "lz4", "zstd"]),
)
@settings(max_examples=40, deadline=None)
def test_prop_record_batch_all_codecs(msgs, compression):
    """RecordBatch v2 encode->decode with every codec over arbitrary
    key/value byte payloads (incl. None)."""
    from zinger_spark.kafka_wire import decode_records, encode_record_batch

    data = encode_record_batch(msgs, base_offset=7, compression=compression)
    out = decode_records(data)
    assert [(m.key, m.value) for m in out] == msgs
    assert [m.offset for m in out] == list(range(7, 7 + len(msgs)))
