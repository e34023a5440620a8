import os
import sys

import pytest

# this checkout's package first, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zinger_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def jobs_started(spark):
    """``jobs_started(fn)``: how many Spark jobs ``fn()`` starts, counted
    with ``statusTracker`` over a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-started-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture()
def evolving_batches(spark):
    """Envelope batches of one topic whose nested ``value`` struct
    evolves commit by commit: a new field, the fields reordered plus a
    new one, a nested struct that later gains a field ahead of its old
    one, and a markers-only commit (no key or value column, non-nullable
    ``_type``)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    kafka = "kafka struct<topic:string,partition:bigint,offset:bigint>, key string, "

    def batch(offset, value_ddl, value):
        schema = T.StructType.fromDDL(f"{kafka}value {value_ddl}, _type string")
        return spark.createDataFrame([(("T", 0, offset), None, value, "data")], schema)

    markers = spark.createDataFrame(
        [(("T", None, 0),), (("T", None, 1),)],
        "kafka struct<topic:string,partition:bigint,offset:bigint>",
    ).withColumn("_type", F.lit("done"))
    return [
        batch(0, "struct<a:bigint>", (1,)),
        batch(1, "struct<a:bigint,b:string>", (2, "x")),
        markers,
        batch(2, "struct<b:string,a:bigint,c:double>", ("y", 3, 1.5)),
        batch(3, "struct<a:bigint,d:struct<x:bigint>>", (4, (7,))),
        batch(4, "struct<d:struct<y:string,x:bigint>,e:array<string>>", (("z", 8), ["p"])),
    ]
