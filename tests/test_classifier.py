"""Fixed-point perceptron trainer (operators/classifier.py).

The trainer's claim is bit-identical reproducibility: every margin,
gradient, and update is bigint arithmetic, so the distributed run must
equal a naive single-machine replay exactly — any partitioning, any
row order.  These tests verify that against an independent pure-Python
reference, plus the trunc-division edge the DuckDB oracle depends on.
"""

import random

import pytest
from pyspark.sql import functions as F

from zinger_spark.operators.classifier import (
    _trunc_div,
    perceptron_margin,
    perceptron_train,
    perceptron_train_df,
    quantized_embedding_features,
)


def _reference_train(rows, d, rounds, decay):
    """Naive replay: rows = list of (y, [x0..x{d-1}])."""
    w = [0] * d
    out = []
    for k in range(1, rounds + 1):
        g = [0] * d
        errors = 0
        for y, x in rows:
            m = y * sum(w[j] * x[j] for j in range(d))
            if m <= 0:
                errors += 1
                for j in range(d):
                    g[j] += y * x[j]
        step = (lambda v: _trunc_div(v, k)) if decay else (lambda v: v)
        w = [w[j] + step(g[j]) for j in range(d)]
        out.append({"round": k, "errors": errors, "weights": list(w)})
    return out


def test_trunc_div_matches_duckdb_semantics():
    # DuckDB // rounds toward zero; Python // floors.  The driver-side
    # update must take DuckDB's branch.
    assert _trunc_div(7, 2) == 3
    assert _trunc_div(-7, 2) == -3  # python -7 // 2 == -4
    assert _trunc_div(0, 5) == 0
    assert _trunc_div(-1, 3) == 0


@pytest.mark.parametrize("decay", [True, False])
@pytest.mark.parametrize("local_threshold", [131_072, 0])
def test_train_matches_reference_exactly(spark, decay, local_threshold):
    # local_threshold=131072 takes the r13 driver-replay path;
    # local_threshold=0 forces the distributed loop — both must equal
    # the naive reference bit-for-bit (negative gradients included, so
    # the trunc-div branch is exercised on both paths).
    rng = random.Random(42)
    d = 5
    rows = [
        (rng.choice([1, -1]), [1] + [rng.randint(-20, 20) for _ in range(d - 1)])
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(y, *x) for y, x in rows], ["y"] + [f"f{j}" for j in range(d)]
    ).select(*[F.col(c).cast("long").alias(c) for c in ["y"] + [f"f{j}" for j in range(d)]])
    got = perceptron_train(
        df, "y", [f"f{j}" for j in range(d)], rounds=4, decay=decay,
        local_threshold=local_threshold,
    )
    want = _reference_train(rows, d, 4, decay)
    assert got == want


def test_train_local_overflow_falls_back(spark):
    # Features near the int64 edge: the driver replay's CONSERVATIVE
    # bound check (n * max|x| >= 2^62) must refuse even though the
    # actual arithmetic here stays tiny (the two big features cancel:
    # every margin and weight is 0), and perceptron_train must fall
    # back to the distributed loop and still match the reference.
    big = (1 << 61) + 3
    rows = [(1, [1, big]), (-1, [1, big])]
    df = spark.createDataFrame(
        [(y, *x) for y, x in rows], ["y", "f0", "f1"]
    ).select(*[F.col(c).cast("long") for c in ["y", "f0", "f1"]])
    from zinger_spark.operators.classifier import _train_local

    assert _train_local(df, "y", ["f0", "f1"], 2, True, 2) is None
    got = perceptron_train(df, "y", ["f0", "f1"], rounds=2)
    assert got == _reference_train(rows, 2, 2, True)


def test_train_local_declines_int64_min_feature(spark):
    # np.abs(-2^63) wraps to -2^63, so an abs-based max |x| reads this
    # column as 0 and the replay's round-2 margin (-2^63 * -2^63)
    # silently wraps.  The bound must see |x| = 2^63 and decline; the
    # distributed loop then runs (round 1's sums still fit in int64).
    rows = [(1, [1, -(1 << 63)]), (1, [1, 0])]
    df = spark.createDataFrame(
        [(y, *x) for y, x in rows], ["y", "f0", "f1"]
    ).select(*[F.col(c).cast("long") for c in ["y", "f0", "f1"]])
    from zinger_spark.operators.classifier import _train_local

    assert _train_local(df, "y", ["f0", "f1"], 2, True, 2) is None
    got = perceptron_train(df, "y", ["f0", "f1"], rounds=1)
    assert got == _reference_train(rows, 2, 1, True)


def test_train_is_partitioning_invariant(spark):
    rng = random.Random(7)
    rows = [
        (rng.choice([1, -1]), [1, rng.randint(-9, 9), rng.randint(-9, 9)])
        for _ in range(200)
    ]
    cols = ["y", "f0", "f1", "f2"]
    base = spark.createDataFrame([(y, *x) for y, x in rows], cols).select(
        *[F.col(c).cast("long") for c in cols]
    )
    a = perceptron_train(base.coalesce(1), "y", ["f0", "f1", "f2"], rounds=3)
    b = perceptron_train(
        base.repartition(7, "f1"), "y", ["f0", "f1", "f2"], rounds=3
    )
    assert a == b


def test_margin_column_matches_driver_dot(spark):
    df = spark.createDataFrame(
        [(2, 3, -1), (0, -5, 4)], ["f0", "f1", "f2"]
    ).select(*[F.col(c).cast("long") for c in ["f0", "f1", "f2"]])
    w = [10, -2, 7]
    got = [
        r["m"]
        for r in df.select(perceptron_margin(w, ["f0", "f1", "f2"]).alias("m"))
        .orderBy("m")
        .collect()
    ]
    # row 1: 10*2 - 2*3 + 7*(-1) = 7 ; row 2: 10*0 - 2*(-5) + 7*4 = 38
    assert got == [7, 38]


def test_train_df_shape_and_l1(spark):
    df = spark.createDataFrame(
        [(1, 1, 2), (-1, 1, -2), (1, 1, 3)], ["y", "f0", "f1"]
    ).select(*[F.col(c).cast("long") for c in ["y", "f0", "f1"]])
    out = perceptron_train_df(spark, df, "y", ["f0", "f1"], rounds=2).collect()
    assert [r["rnd"] for r in out] == [1, 2]
    ref = _reference_train([(1, [1, 2]), (-1, [1, -2]), (1, [1, 3])], 2, 2, True)
    assert [r["errors"] for r in out] == [x["errors"] for x in ref]
    assert [r["w_l1"] for r in out] == [
        sum(abs(v) for v in x["weights"]) for x in ref
    ]


def test_quantized_features_exact_float32(spark):
    # floor(double(x) * 2^10) must be exact for float32 inputs: widening
    # is exact and *2^10 shifts the exponent only.
    import struct

    vals = [0.1, -0.25, 1.5, -0.0009765625, 0.3333]
    f32 = [struct.unpack("f", struct.pack("f", v))[0] for v in vals]
    df = spark.createDataFrame(
        [([float(v) for v in vals],)], ["embedding"]
    ).select(F.col("embedding").cast("array<float>").alias("embedding"))
    cols = quantized_embedding_features(dims=len(vals), scale=1024, bias=32)
    row = df.select(*cols).collect()[0]
    assert row["f0"] == 32
    import math

    for j, v in enumerate(f32):
        assert row[f"f{j + 1}"] == math.floor(v * 1024)
