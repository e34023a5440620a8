"""Fixed-point linear-classifier training, distributed.

A 100 TB curation pipeline doesn't just *apply* quality filters — it
TRAINS them: linear probes over document embeddings (and fastText-style
models over text statistics) are the standard first-stage quality /
language / topicality gate (the CCNet and GPT-3 data pipelines both
rely on one).  This module provides the Spark-native trainer in a form
that is *reproducible*: a batch perceptron over integer features with
integer weights, so every update is a sum of bigints — bit-identical
across engines, partitionings, and retries.  (A float SGD pass
produces a different model every run at scale purely from partial-agg
order; an irreproducible filter is an irreproducible training set.)

Training shape per round (MLlib's treeAggregate gradient pattern,
stripped to its scalable core):

  1. the current weight vector ``w`` (d integers) is folded into the
     plan as literals — no broadcast join, no state;
  2. one scan of the (persisted, narrow) feature frame computes the
     margin ``y * (w . x)`` per row JVM-side, inside whole-stage
     codegen;
  3. one partial-aggregated global agg produces d+1 bigint sums — the
     misclassified-gradient per feature plus the error count; the only
     exchange carries ONE pre-aggregated row per input partition;
  4. d+1 scalars travel to the driver; ``w`` updates there.

Total driver traffic: ``rounds * (d+1)`` integers.  Nothing shuffles
by key at all.

The update rule (all-integer batch perceptron with a decaying integer
step — the 1/k schedule that makes the batch form converge on
non-separable data instead of oscillating):

    g_j  =  sum over { i : y_i * (w . x_i) <= 0 }  of  y_i * x_ij
    w_j <-  w_j + trunc_div(g_j, k)          [k = 1-based round index]

``trunc_div`` (round toward zero) rather than Python's floor division:
the oracle replays the identical chain in DuckDB, whose integer ``//``
truncates — the two engines must take the same branch on negative
gradients.

Reference parity: the reference pipeline (zinger) delegates scoring to
Zed programs; a trainable filter is the natural extension its
LLM-pipeline role needs (same role as functions/text.py's CCNet LM
scorer, but supervised).  Oracle: __spark_entry__._sql_perceptron_*
unrolls the identical arithmetic as one CTE group per round,
hash-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def _trunc_div(g: int, k: int) -> int:
    """Integer division rounding toward zero (k > 0) — exact for any
    bigint, matching DuckDB's ``//`` so the oracle replays bit-for-bit."""
    q = abs(g) // k
    return q if g >= 0 else -q


def _train_local(
    feats: DataFrame,
    label_col: str,
    feature_cols: list[str],
    rounds: int,
    decay: bool,
    n: int,
) -> list[dict] | None:
    """Driver-side replay of the training loop over the collected
    feature frame — bit-identical to the distributed rounds because
    every operation is the same integer arithmetic: int64 sums are
    order-independent, the misclassified test is the same ``y * (w.x)
    <= 0``, and the decayed step uses the same trunc-toward-zero
    division.  Returns None when the replay cannot be guaranteed exact
    (numpy/pandas missing, null features, or an int64 overflow bound —
    tracked with exact Python ints per round — would be violated), in
    which case the caller falls back to the distributed loop.

    Why this exists (r13): each distributed round folds the weight
    vector into the plan as literals, so every round Janino-compiles a
    fresh 65-term margin expression and pays a full scheduler
    round-trip for d+1 scalars — pure fixed overhead ~8x per train on
    any cluster.  The gate is on ROW COUNT (data), not scale factor or
    core count: a corpus-sized feature frame trains distributed,
    unchanged.
    """
    try:  # noqa: SIM105
        import numpy as np  # noqa: PLC0415
    except ImportError:  # pragma: no cover - numpy ships with pyspark
        return None
    d = len(feature_cols)
    pdf = feats.select(label_col, *feature_cols).toPandas()
    if pdf.isnull().any().any():
        return None  # distributed NULL semantics differ; don't replay
    y = pdf[label_col].to_numpy(dtype="int64")
    X = pdf[feature_cols].to_numpy(dtype="int64")
    # max |x_j| from the exact Python ints of the column's min and max:
    # np.abs wraps int64 min (-2^63) to itself, a negative "max"
    mx = [
        max(-int(X[:, j].min()), int(X[:, j].max())) if n else 0
        for j in range(d)
    ]
    lim = 1 << 62
    if any(n * m >= lim for m in mx):
        return None  # gradient sums could overflow int64
    wv = np.zeros(d, dtype="int64")
    out: list[dict] = []
    for k in range(1, rounds + 1):
        # |margin| (and every partial sum of it) <= sum_j |w_j|*mx_j;
        # exact Python-int bound so the int64 matmuls below are safe
        if sum(abs(int(wv[j])) * mx[j] for j in range(d)) >= lim:
            return None
        margin = X @ wv
        mis = y * margin <= 0
        errors = int(mis.sum()) if n else None
        g = X.T @ np.where(mis, y, 0)
        if decay:
            q = np.abs(g) // k  # floor == trunc on the non-negative |g|
            wv = wv + np.where(g >= 0, q, -q)
        else:
            wv = wv + g
        out.append(
            {"round": k, "errors": errors, "weights": [int(v) for v in wv]}
        )
    return out


def perceptron_train(
    feats: DataFrame,
    label_col: str,
    feature_cols: list[str],
    rounds: int = 8,
    decay: bool = True,
    persist: bool = True,
    local_threshold: int = 131_072,
) -> list[dict]:
    """Train a batch perceptron; return per-round training records.

    ``feats`` must carry bigint feature columns and a bigint label
    column in {-1, +1}.  Returns ``rounds`` dicts
    ``{"round": k, "errors": n, "weights": [w_0 .. w_{d-1}]}`` —
    ``errors`` is the misclassified count *under the weights the round
    started with* (round 1 starts from w = 0, where every margin is 0
    and thus every row counts as misclassified — the standard
    convention).  ``decay=True`` applies the 1/k integer step schedule
    (trunc division); ``decay=False`` is the classic lr=1 batch rule.
    All arithmetic is bigint; sums are order-independent so the result
    is bit-identical on any engine or partitioning.

    When the persisted feature frame holds at most ``local_threshold``
    rows (a count on data, independent of cluster size or scale
    factor — at the default, <= ~70 MB of int64 features at d=65), the
    per-round loop runs on the driver over the collected frame with
    identical integer arithmetic (:func:`_train_local`) instead of
    paying ``rounds`` x (codegen + scheduler round-trip) for d+1
    scalars each.  Above the threshold — a corpus-sized feature frame —
    the distributed loop below runs unchanged.  ``local_threshold=0``
    disables the driver path.
    """
    d = len(feature_cols)
    if persist:
        feats = feats.persist()
    w = [0] * d
    out: list[dict] = []
    try:
        if persist and local_threshold:
            n = feats.count()  # also materializes the cache
            if n <= local_threshold:
                recs = _train_local(
                    feats, label_col, feature_cols, rounds, decay, n
                )
                if recs is not None:
                    return recs
        y = f"`{label_col}`"
        fs = [f"`{c}`" for c in feature_cols]
        for k in range(1, rounds + 1):
            # two deliberate plan-shape choices, both measured:
            # (a) project the d-term margin ONCE, then aggregate over
            #     the 0/1 flag — repeating the w . x expression inside
            #     all d+1 aggregates makes codegen quadratic in d
            #     (~20s/round at d=65; this shape is sub-second);
            # (b) build the whole round as TWO textual F.expr calls —
            #     composing d-term trees from Column operators costs
            #     ~25 py4j round-trips per term (~1.5s/round of pure
            #     driver chatter at d=65); SQL text is parsed JVM-side
            #     in one call.
            margin = " + ".join(f"{w[j]}L * {c}" for j, c in enumerate(fs))
            staged = feats.withColumn(
                "__mis", F.expr(f"CAST({y} * ({margin}) <= 0 AS BIGINT)")
            )
            gsums = ", ".join(
                f"CAST(COALESCE(SUM(__mis * {y} * {c}), 0) AS BIGINT) AS g{j}"
                for j, c in enumerate(fs)
            )
            row = (
                staged.groupBy()
                .agg(F.expr(
                    f"struct({gsums}, CAST(SUM(__mis) AS BIGINT) AS errors) AS r"
                ))
                .collect()[0]["r"]
            )
            step = (lambda g: _trunc_div(g, k)) if decay else (lambda g: g)
            w = [w[j] + step(row[f"g{j}"]) for j in range(d)]
            out.append({"round": k, "errors": row["errors"], "weights": list(w)})
    finally:
        if persist:
            feats.unpersist(blocking=False)
    return out


def perceptron_train_df(
    spark: SparkSession,
    feats: DataFrame,
    label_col: str,
    feature_cols: list[str],
    rounds: int = 8,
    decay: bool = True,
) -> DataFrame:
    """DataFrame form of :func:`perceptron_train` for the registry:
    one row per round — (rnd, errors, w_l1) where ``w_l1`` is the L1
    norm of the weight vector after the round's update (a compact,
    integer-exact signature of the model trajectory)."""
    recs = perceptron_train(
        feats, label_col, feature_cols, rounds=rounds, decay=decay
    )
    rows = [
        (r["round"], r["errors"], sum(abs(x) for x in r["weights"]))
        for r in recs
    ]
    df = spark.createDataFrame(rows, ["rnd", "errors", "w_l1"])
    return df.select(*[F.col(c).cast("long").alias(c) for c in ["rnd", "errors", "w_l1"]])


def perceptron_margin(weights: list[int], feature_cols: list[str]) -> F.Column:
    """The integer decision value ``w . x`` as a JVM column expression —
    apply a trained model corpus-wide with zero shuffles (a pure
    projection; whole-stage codegen keeps it in the scan stage).  Built
    as one textual expression: see perceptron_train note (b)."""
    terms = " + ".join(
        f"{int(wj)}L * `{c}`" for wj, c in zip(weights, feature_cols)
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


def quantized_embedding_features(
    vec_col: str = "embedding",
    dims: int = 64,
    scale: int = 1024,
    bias: int = 32,
) -> list[F.Column]:
    """Integer features for a linear probe over a float-vector column:
    ``f0 = bias`` then ``f{j+1} = floor(double(vec[j]) * scale)``.
    ``scale`` must be a power of two: float32 -> float64 widening is
    exact and multiplying by 2^n only shifts the exponent, so the
    quantization is bit-identical in every IEEE-754 engine (the DuckDB
    oracle reproduces it exactly)."""
    assert scale & (scale - 1) == 0, "scale must be a power of two"
    cols = [F.lit(bias).cast("long").alias("f0")]
    cols += [
        F.expr(f"CAST(floor(CAST({vec_col}[{j}] AS DOUBLE) * {scale}) AS BIGINT)").alias(
            f"f{j + 1}"
        )
        for j in range(dims)
    ]
    return cols


def save_model(path: str, weights: list[int], meta: dict | None = None) -> None:
    """Persist a trained linear model as JSON: the d integer weights
    plus caller metadata (feature recipe, rounds, label definition) —
    everything needed to rebuild the scoring expression with
    :func:`perceptron_margin` in a later session/job.  Integer weights
    round-trip exactly (no float serialization hazards)."""
    import json

    obj = {"kind": "perceptron", "weights": [int(w) for w in weights]}
    obj.update(meta or {})
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    import os

    os.replace(tmp, path)


def load_model(path: str) -> dict:
    """Load a :func:`save_model` artifact; returns the dict with
    ``weights`` as ints."""
    import json

    with open(path) as f:
        obj = json.load(f)
    if obj.get("kind") != "perceptron":
        raise ValueError(f"{path}: not a perceptron model artifact")
    obj["weights"] = [int(w) for w in obj["weights"]]
    return obj
