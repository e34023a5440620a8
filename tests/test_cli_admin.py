"""Broker-free tests for the topic admin (A23), the to-kafka resume
contract, and the `produce` encode projection.

The broker boundary is the TopicAdmin interface / the `produce`
callable; everything here runs against in-process fakes, the same seam
the reference's ztests use (they script kafka via a mock driver)."""

import json

import pytest

from zinger_spark.cli import consume_starting_offsets, main, resolve_start_offset
from zinger_spark.codecs import connect_json as cj
from zinger_spark.kafka_admin import FakeTopicAdmin, TopicAdminError, TopicExists
from zinger_spark.streaming.to_kafka import produce_projection, sync_batches


# ---------------------------------------------------------------------------
# A23: CreateMissingTopics semantics (fifo/admin.go:12-31)


def test_create_missing_topics_ignores_existing():
    admin = FakeTopicAdmin()
    admin.create_topic("have", partitions=3)
    created = admin.create_missing_topics(["have", "need1", "need2"], partitions=2)
    assert created == ["need1", "need2"]
    # existing topic untouched (create ignored, not replaced)
    assert admin.topics["have"]["partitions"] == 3
    assert admin.topics["need1"]["partitions"] == 2


def test_create_topic_raises_on_duplicate_direct_create():
    admin = FakeTopicAdmin()
    admin.create_topic("t")
    with pytest.raises(TopicExists):
        admin.create_topic("t")


def test_watermarks_and_head_offset():
    admin = FakeTopicAdmin()
    admin.create_topic("t")
    admin.advance("t", 7)
    assert admin.watermarks("t") == (0, 7)
    assert admin.head_offset("t") == 7  # Producer.HeadOffset analog
    with pytest.raises(TopicAdminError):
        admin.watermarks("missing")


# ---------------------------------------------------------------------------
# to-kafka resume: destination head offset, not pool-side max
# (fifo/to.go:31-33; ADVICE r1)


def test_resolve_start_offset_resume_uses_destination_head():
    admin = FakeTopicAdmin()
    admin.advance("out", 5)
    assert resolve_start_offset(True, None, "out", admin) == 5
    assert resolve_start_offset(False, None, "out", admin) == 0
    assert resolve_start_offset(True, 42, "out", admin) == 42  # explicit wins
    with pytest.raises(SystemExit):
        resolve_start_offset(True, None, "out", None)


def test_sync_batches_resume_skips_already_produced(spark, tmp_path):
    """End-to-end resume semantics: rows 0..4 already in the topic
    (admin end offset 5) -> sync produces exactly rows 5..9."""
    from zinger_spark.sources.pool import Pool

    pool = Pool.create(spark, str(tmp_path / "p"))
    rows = [
        {"kafka": {"topic": "out", "partition": 0, "offset": i}, "v": i}
        for i in range(10)
    ]
    pool.load_batch(
        spark.createDataFrame(
            rows, "kafka struct<topic:string,partition:long,offset:long>, v long"
        )
    )
    admin = FakeTopicAdmin()
    admin.advance("out", 5)
    got = []

    def produce(df):
        got.extend(r["kafka"]["offset"] for r in df.collect())

    start = resolve_start_offset(True, None, "out", admin)
    n = sync_batches(pool, "out", start, produce, batch_size=3)
    assert n == 5
    assert got == [5, 6, 7, 8, 9]


# ---------------------------------------------------------------------------
# consume -offset flag mapping (cmd/zync/consume/command.go:56-57)


def test_consume_starting_offsets_mapping():
    assert consume_starting_offsets("t", -2) == "earliest"
    # -1 (latest) also reads from earliest: Spark batch Kafka reads
    # reject startingOffsets=latest, so cmd_consume discovers the head
    # with a suppressed first pass instead
    assert consume_starting_offsets("t", -1) == "earliest"
    assert json.loads(consume_starting_offsets("t", 7)) == {"t": {"0": 7}}
    with pytest.raises(SystemExit):
        consume_starting_offsets("t", -3)


# ---------------------------------------------------------------------------
# produce: encode projection (fifo/producer.go:82-99) without a broker


def test_produce_projection_value_and_key(spark):
    df = spark.createDataFrame(
        [(("k1",), ("a", 1)), (("k2",), ("b", 2))],
        "key struct<id:string>, value struct<s:string,n:long>",
    )
    out = produce_projection(df, cj.encode).collect()
    vals = [json.loads(r["value"]) for r in out]
    assert [v["payload"] for v in vals] == [{"s": "a", "n": 1}, {"s": "b", "n": 2}]
    keys = [json.loads(r["key"]) for r in out]
    assert [k["payload"] for k in keys] == [{"id": "k1"}, {"id": "k2"}]


def test_produce_projection_whole_record_fallback(spark):
    """No `value` field -> the whole record is the value, key is null
    (producer.go:83-86: val = rec when Deref('value') is nil)."""
    df = spark.createDataFrame([(1, "x")], "a long, b string")
    out = produce_projection(df, cj.encode).collect()
    assert out[0]["key"] is None
    assert json.loads(out[0]["value"])["payload"] == {"a": 1, "b": "x"}


def test_produce_projection_avro_roundtrip(spark):
    """produce --format avro: key and value each registered per
    RecordNameStrategy and Confluent-framed (fifo/producer.go:23-45,
    82-99); decoding by wire schema id recovers the records."""
    from pyspark.sql import functions as F

    from zinger_spark.codecs.avro import (
        FakeSchemaRegistry,
        avro_encoder,
        decode_by_schema_id,
    )

    df = spark.createDataFrame(
        [((1,), (1, "a")), ((2,), (2, "b"))],
        "key struct<id:bigint>, value struct<id:bigint,s:string>",
    )
    registry = FakeSchemaRegistry()
    out = produce_projection(df, avro_encoder(registry))
    assert dict(out.dtypes) == {"key": "binary", "value": "binary"}
    # two distinct record types registered, md5-named subjects
    assert len(registry.subjects()) == 2
    assert all(".zng_" in s for s in registry.subjects())
    decoded = decode_by_schema_id(out, "value", registry)
    got = sorted((r["value"]["id"], r["value"]["s"]) for r in decoded.collect())
    assert got == [(1, "a"), (2, "b")]


def test_cli_produce_no_inputs_errors():
    assert main(["produce", "--brokers", "b:9092", "--topic", "t"]) == 1


def test_cli_produce_mixed_inputs_rejected():
    """parquet + JSON in one produce would read the parquet bytes as
    corrupt JSON rows and push garbage to the topic — refused up front."""
    assert main(["produce", "a.parquet", "b.jsonl",
                 "--brokers", "b:9092", "--topic", "t"]) == 1


def test_cli_info_brokers_requires_topic(capsys):
    assert main(["info", "--brokers", "b:9092"]) == 1
    assert "--topic" in capsys.readouterr().err


def test_cli_query_requires_program(capsys):
    assert main(["query", "--lake", "."]) == 1
    assert "-z" in capsys.readouterr().err


def test_cli_query_runs_zed_against_pool(spark, tmp_path, capsys):
    """`query -z` over a lake pool (the `zed query -z 'from Staging'`
    step of ztests/etl-demo.yaml:12)."""
    from zinger_spark.datamodel import wrap_envelope
    from zinger_spark.sources.pool import Pool

    pool = Pool.create(spark, str(tmp_path / "Raw"))
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "o long, v string")
    pool.load_batch(wrap_envelope(src, "T", src.o, src.v, src.v))
    rc = main(
        [
            "query",
            "--lake",
            str(tmp_path),
            "-z",
            'from Raw | kafka.offset >= 2 | cut kafka.offset, value | sort kafka.offset',
        ]
    )
    assert rc == 0
    out = capsys.readouterr()
    rows = [json.loads(line) for line in out.out.strip().splitlines()]
    assert [(r["kafka"]["offset"], r["value"]) for r in rows] == [(2, "b"), (3, "c")]
    assert "2 records" in out.err


def test_cli_query_time_travel(spark, tmp_path, capsys):
    """query --at <commit>: pool reads pinned to a commit id (the
    `zed query -use pool@commit` workflow)."""
    from pyspark.sql import functions as F

    from zinger_spark.datamodel import wrap_envelope
    from zinger_spark.sources.pool import Pool

    pool = Pool.create(spark, str(tmp_path / "P"))
    s1 = spark.createDataFrame([(1, "a")], "o long, v string")
    c1 = pool.load_batch(wrap_envelope(s1, "T", s1.o, s1.v, s1.v))
    s2 = spark.createDataFrame([(2, "b")], "o long, v string")
    pool.load_batch(wrap_envelope(s2, "T", s2.o, s2.v, s2.v))

    assert main(["query", "--lake", str(tmp_path), "--at", c1,
                 "-z", "from P | n:=count()"]) == 0
    rows = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    assert rows == [{"n": 1}]
    assert main(["query", "--lake", str(tmp_path),
                 "-z", "from P | n:=count()"]) == 0
    rows = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    assert rows == [{"n": 2}]


def test_cli_query_bad_program_errors(tmp_path, capsys):
    assert main(["query", "--lake", str(tmp_path), "-z", "from ( pool )"]) == 1
    assert "query:" in capsys.readouterr().err


def test_streaming_sessionize_gap_validation(spark):
    from zinger_spark.streaming.windows import streaming_sessionize

    df = spark.createDataFrame([], "user_id bigint, ts timestamp")
    with pytest.raises(ValueError, match="gap"):
        streaming_sessionize(df, gap="1 month")
    with pytest.raises(ValueError, match="positive"):
        streaming_sessionize(df, gap="0 minutes")
    # generous unit spellings parse
    streaming_sessionize(df, gap="1 day")
    streaming_sessionize(df, gap="500 ms")


def test_cli_version(capsys):
    assert main(["version"]) == 0
    assert capsys.readouterr().out.strip()


def test_cli_to_kafka_continuous_flags_parse(monkeypatch):
    """--continuous/--checkpoint/--max-files-per-trigger reach the
    handler; the handler itself is stubbed (no broker here)."""
    from zinger_spark import cli as climod

    seen = {}

    def fake_handler(args):
        seen.update(
            continuous=args.continuous,
            checkpoint=args.checkpoint,
            mft=args.max_files_per_trigger,
        )
        return 0

    monkeypatch.setattr(climod, "cmd_to_kafka", fake_handler)
    rc = climod.main(
        [
            "to-kafka", "--brokers", "b:9092", "--topic", "T",
            "--pool", "P", "--continuous",
            "--checkpoint", "/tmp/ck", "--max-files-per-trigger", "7",
        ]
    )
    assert rc == 0
    assert seen == {"continuous": True, "checkpoint": "/tmp/ck", "mft": 7}


def test_cli_etl_continuous_flags_parse(monkeypatch):
    from zinger_spark import cli as climod

    seen = {}

    def fake_handler(args):
        seen.update(continuous=args.continuous, checkpoint=args.checkpoint)
        return 0

    monkeypatch.setattr(climod, "cmd_etl", fake_handler)
    rc = climod.main(["etl", "t.yaml", "--continuous", "--checkpoint", "/tmp/ck"])
    assert rc == 0
    assert seen == {"continuous": True, "checkpoint": "/tmp/ck"}


def test_cli_load_and_zson_query(spark, tmp_path, capsys):
    """`load` (zed load analog) ingests the reference's own batch-1.zson
    into a pool; `query -Z` prints compact ZSON (`zed query -z`)."""
    import os

    demo = "/root/reference/demo/batch-1.zson"
    if not os.path.exists(demo):
        import pytest

        pytest.skip("reference corpus not present")
    assert main(["create-pool", "Raw", "--lake", str(tmp_path)]) == 0
    assert main(["load", demo, "--pool", "Raw", "--lake", str(tmp_path)]) == 0
    out = capsys.readouterr()
    assert "commit" in out.out and "4 records" in out.out
    rc = main(
        [
            "query", "--lake", str(tmp_path), "-Z", "-z",
            'from Raw | where kafka.topic=="Invoices" | head 1 '
            "| cut key, value.after",
        ]
    )
    assert rc == 0
    out = capsys.readouterr()
    assert (
        out.out.strip()
        == '{key:{ID:100},value:{after:{ID:100,customer:"Alice",item:"taco"}}}'
    )


def test_cli_load_no_inputs_errors():
    assert main(["load", "--pool", "Raw", "--lake", "."]) == 1


def test_cli_consume_zson_flag_parses(monkeypatch):
    from zinger_spark import cli as climod

    seen = {}
    monkeypatch.setattr(
        climod, "cmd_consume", lambda a: (seen.update(zson=a.zson), 0)[1]
    )
    rc = climod.main(["consume", "--brokers", "b:9092", "--topic", "t", "-Z"])
    assert rc == 0 and seen == {"zson": True}


def test_cli_load_csv(spark, tmp_path, capsys):
    csv = tmp_path / "rows.csv"
    csv.write_text("kafka_offset,v\n1,a\n2,b\n")
    # csv loads flat; wrap offsets the pool expects via a query instead:
    # here we just verify the reader path infers header + types
    from zinger_spark.cli import _read_files

    df = _read_files(spark, [str(csv)])
    assert df.columns == ["kafka_offset", "v"]
    assert df.schema["kafka_offset"].dataType.simpleString() == "int"
    assert {tuple(r) for r in df.collect()} == {(1, "a"), (2, "b")}


def test_cli_ls_lake_lists_pools(spark, tmp_path, capsys):
    from zinger_spark.sources.pool import Pool

    Pool.create(spark, str(tmp_path / "Raw"))
    pool = Pool.create(spark, str(tmp_path / "Staging"))
    pool.load_batch(spark.createDataFrame(
        [(("T", 0, 1), "data")],
        "kafka struct<topic:string,partition:long,offset:long>, _type string",
    ))
    assert main(["ls", "--lake", str(tmp_path)]) == 0
    out = capsys.readouterr().out.splitlines()
    assert any(l.startswith("Raw ") and "0 commits" in l for l in out)
    assert any(l.startswith("Staging ") and "1 commits" in l for l in out)


def test_cli_pool_at_branch_spelling(spark, tmp_path, capsys):
    """`Raw@main` (the ztest's zed load -use spelling) resolves to Raw;
    other branches are an error."""
    import pytest as _pytest

    from zinger_spark.cli import _pool_name

    assert _pool_name("Raw@main") == "Raw"
    assert _pool_name("Raw") == "Raw"
    with _pytest.raises(SystemExit):
        _pool_name("Raw@dev")


def test_query_explain_prints_physical_plan(spark, tmp_path, capsys):
    import pyspark.sql.functions as F

    from zinger_spark.cli import main as cli_main

    df = spark.range(10).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    df.write.parquet(str(tmp_path / "t.parquet"))
    rc = cli_main(
        ["query", "-z", "from t | where a >= 5 | cut a", "--lake", str(tmp_path), "--explain"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    # plan text, not rows: scan node present, filter pushed to parquet
    assert "FileScan parquet" in out and "PushedFilters: [" in out
    assert '"a"' not in out.splitlines()[0]  # no JSON rows emitted


def test_info_files_zone_map(spark, tmp_path, capsys):
    """--files reads the per-file zone map straight from the
    transaction log (stats recorded at commit) — no parquet footer IO
    at all."""
    import json as _json

    from zinger_spark.cli import main as cli_main
    from zinger_spark.sources.pool import Pool
    from tests.test_pool import _schema, env_rows

    pool = Pool.create(spark, str(tmp_path / "zp"))
    pool.load_batch(
        spark.createDataFrame(env_rows("T", [0, 1, 2]), _schema()).coalesce(1)
    )
    pool.load_batch(
        spark.createDataFrame(env_rows("T", [3, 4]), _schema()).coalesce(1)
    )
    rc = cli_main(["info", "--pool", "zp", "--lake", str(tmp_path), "--files"])
    assert rc == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 2
    ranges = sorted((l["offset_min"], l["offset_max"]) for l in lines)
    assert ranges == [(0, 2), (3, 4)]
    assert all(l["bytes"] > 0 and l["records"] >= 2 for l in lines)


def test_cli_train_quality_and_bpe_artifacts(spark, tmp_path):
    """train-quality / train-bpe produce loadable artifacts that
    rebuild the exact scoring expression / tokenizer."""
    from pyspark.sql import functions as F

    from zinger_spark.cli import main as cli_main
    from zinger_spark.operators.bpe import bpe_segment, load_merges, spaced
    from zinger_spark.operators.classifier import load_model, perceptron_margin

    emb = str(tmp_path / "emb.parquet")
    import random

    rng = random.Random(4)
    rows = [
        ([rng.uniform(-1, 1) for _ in range(8)], rng.randint(0, 2))
        for _ in range(120)
    ]
    spark.createDataFrame(rows, ["embedding", "label"]).write.parquet(emb)
    model_path = str(tmp_path / "model.json")
    assert cli_main([
        "train-quality", emb, "--out", model_path, "--dims", "8",
        "--rounds", "3",
    ]) == 0
    model = load_model(model_path)
    assert len(model["weights"]) == 9 and model["rounds"] == 3
    # the margin expression rebuilds and scores
    feats = spark.createDataFrame(rows, ["embedding", "label"]).select(
        *[F.expr(f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1024) AS BIGINT)").alias(f"f{j + 1}") for j in range(8)],
        F.lit(32).cast("long").alias("f0"),
    )
    scored = feats.select(
        perceptron_margin(model["weights"], [f"f{j}" for j in range(9)]).alias("m")
    )
    assert scored.count() == 120

    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [("low lower lowest",), ("low low newer",)], ["text"]
    ).write.parquet(docs)
    merges_path = str(tmp_path / "merges.json")
    assert cli_main([
        "train-bpe", docs, "--out", merges_path, "--merges", "4",
    ]) == 0
    merges = load_merges(merges_path)
    assert 1 <= len(merges) <= 4
    seg = (
        spark.createDataFrame([("lower",)], ["w"])
        .select(spaced(F.col("w")).alias("s"))
        .select(bpe_segment("s", merges).alias("t"))
        .collect()[0]["t"]
    )
    assert "".join(seg.split(" ")) == "lower"  # lossless re-tokenization


def test_datacard_builds_and_is_deterministic(spark):
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "tools"))
    from datacard import build_card

    a = build_card(spark, "/root/testdata/sf0.001")
    b = build_card(spark, "/root/testdata/sf0.001")
    assert a == b  # byte-identical across runs -> diffable data cards
    for section in ("# Data card", "## Column profile", "## Composition",
                    "## Duplication", "## Tokens", "by **lang**",
                    "top BPE merge candidates"):
        assert section in a, section


def test_create_pool_cli_txlog_format(spark, tmp_path, capsys):
    from zinger_spark.cli import main as cli_main
    from zinger_spark.sources.pool import Pool
    from tests.test_pool import _schema, env_rows

    rc = cli_main(["create-pool", "fmt", "--lake", str(tmp_path)])
    assert rc == 0
    pool = Pool(spark, str(tmp_path / "fmt"))
    assert pool.meta["format"] == "txlog"
    pool.load_batch(spark.createDataFrame(env_rows("T", [0]), _schema()))
    assert pool.df().count() == 1
