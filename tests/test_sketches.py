"""Sketch operators: HLL, KMV, Count-Min, Bloom, weighted priority
sampling (operators/sketches.py) + fixed-point PageRank (graph.py).

Properties under test are the ones the 100 TB design leans on:
mergeability (HLL), never-underestimate (CM), no-false-negatives
(Bloom), exactness below capacity (KMV), determinism everywhere (all
sketches are integer-exact so results cannot drift with partitioning).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row, functions as F

from zinger_spark.operators import sketches as sk
from zinger_spark.operators.graph import pagerank_fixed_point


@pytest.fixture(scope="module")
def ids(spark):
    # 5000 rows over 1000 distinct keys, skewed
    return spark.range(5000).select(
        (F.col("id") % 1000).cast("string").alias("k"),
        (F.col("id") % 7).alias("g"),
    )


def test_hll_estimate_within_error(spark, ids):
    row = sk.hll_estimate(ids, "k", p=12).collect()[0]
    # p=12 -> sigma ~ 1.04/sqrt(4096) ~ 1.6%; allow 4 sigma
    assert abs(row["estimate"] - 1000) <= 1000 * 0.065
    assert 0 < row["nonzero_registers"] <= 4096


def test_hll_deterministic_across_partitionings(spark, ids):
    a = sk.hll_estimate(ids.repartition(1), "k", p=10).collect()[0]
    b = sk.hll_estimate(ids.repartition(17, "k"), "k", p=10).collect()[0]
    assert tuple(a) == tuple(b)


def test_hll_merge_lossless(spark, ids):
    left = ids.filter(F.col("g") < 3)
    right = ids.filter(F.col("g") >= 3)
    merged = sk.hll_merge(
        sk.hll_registers(left, "k", p=10), sk.hll_registers(right, "k", p=10)
    )
    whole = sk.hll_registers(ids, "k", p=10)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_hll_by_group_matches_per_group_sketch(spark, ids):
    by = {
        r["g"]: r["estimate"]
        for r in sk.hll_by_group(ids, "g", "k", p=10).collect()
    }
    for g in (0, 3, 6):
        solo = sk.hll_estimate(ids.filter(F.col("g") == g), "k", p=10).collect()[0]
        assert by[g] == solo["estimate"]


def test_kmv_exact_below_capacity(spark):
    small = spark.range(40).select(F.col("id").cast("string").alias("k"))
    row = sk.kmv_distinct(small, "k", k=256).collect()[0]
    assert row["estimate"] == 40  # fewer distincts than k -> exact


def test_kmv_estimate_within_error(spark, ids):
    row = sk.kmv_distinct(ids, "k", k=256).collect()[0]
    # sigma ~ 1/sqrt(k-1) ~ 6.3%; allow 4 sigma
    assert abs(row["estimate"] - 1000) <= 1000 * 0.25


def test_countmin_never_underestimates(spark, ids):
    sketch = sk.countmin_sketch(ids, "k", d=4, w=256)
    truth = ids.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    est = sk.countmin_estimates(sketch, truth.select("k"), "k", d=4, w=256)
    joined = est.join(truth, "k").collect()
    assert len(joined) == 1000
    assert all(r["cm_estimate"] >= r["n"] for r in joined)


def test_countmin_weighted(spark):
    df = spark.createDataFrame(
        [Row(k="a", w=5), Row(k="a", w=7), Row(k="b", w=1)]
    )
    sketch = sk.countmin_sketch(df, "k", weight=F.col("w"), d=4, w=64)
    est = {
        r["k"]: r["cm_estimate"]
        for r in sk.countmin_estimates(
            sketch, df.select("k").distinct(), "k", d=4, w=64
        ).collect()
    }
    assert est["a"] >= 12 and est["b"] >= 1


def test_bloom_no_false_negatives(spark):
    probe = spark.range(200).select(
        F.concat(F.lit("gram-"), F.col("id")).alias("s")
    )
    bits = sk.bloom_bits(probe, "s", m_bits=1 << 14, k=3)
    # query the exact probe set back: every member must be flagged
    flagged = sk.bloom_flag_contaminated(
        probe, "s", bits, m_bits=1 << 14, k=3
    )
    assert flagged.count() == 200


def test_bloom_filters_most_nonmembers(spark):
    probe = spark.range(100).select(
        F.concat(F.lit("gram-"), F.col("id")).alias("s")
    )
    bits = sk.bloom_bits(probe, "s", m_bits=1 << 16, k=3)
    other = spark.range(2000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("s")
    )
    fp = sk.bloom_flag_contaminated(other, "s", bits, m_bits=1 << 16, k=3)
    # m/n = 65536/100 -> fp rate ~ (k*n/m)^k ~ 1e-7; a handful of hits
    # would already be suspicious, 1% is an outright failure
    assert fp.count() <= 20


def test_bloom_bitmap_matches_join_form(spark):
    """The literal-bitmap membership test (zero-join deploy path) must
    flag EXACTLY the rows the broadcast-join form flags — same hashes,
    same bit layout, same deterministic false positives."""
    m, k = 1 << 14, 3
    probe = spark.range(150).select(
        F.concat(F.lit("gram-"), F.col("id")).alias("s")
    )
    bits = sk.bloom_bits(probe, "s", m_bits=m, k=k)
    bitmap = sk.bloom_bitmap(bits, m)
    # mix members, non-members, and near-collisions
    docs = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 3 == 0, F.lit("gram-")).otherwise(F.lit("x-")),
            F.col("id") % 400,
        ).alias("s"),
    )
    via_join = sorted(
        (r["doc_id"], r["s"])
        for r in sk.bloom_flag_contaminated(docs, "s", bits, m_bits=m, k=k)
        .dropDuplicates(["doc_id", "s"]).collect()
    )
    via_bitmap = sorted(
        (r["doc_id"], r["s"])
        for r in docs.filter(sk.bloom_maybe_member(F.col("s"), bitmap, m, k))
        .dropDuplicates(["doc_id", "s"]).collect()
    )
    assert via_bitmap == via_join
    # members: id%3==0 and id%400 in 0..149 -> ~3000 * (1/3) * (150/400)
    assert len(via_bitmap) >= 350  # the member rows are all present


def test_bloom_bitmap_sparse_int32_words_still_exact(spark):
    """Regression: a SPARSE filter can pack to words that all fit in
    int32, which makes a bare F.lit() infer array<int> — and Spark's
    int-typed shiftright masks the shift amount to 5 bits, so any bit
    offset >= 32 would silently probe the wrong bit.  bloom_maybe_member
    must cast the literal to array<bigint> so the bitmap path stays
    identical to the join form even for tiny probe sets."""
    m, k = 1 << 10, 3
    probe = spark.createDataFrame([(f"g{i}",) for i in range(5)], ["s"])
    bits = sk.bloom_bits(probe, "s", m_bits=m, k=k)
    bitmap = sk.bloom_bitmap(bits, m)
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 7 == 0, F.concat(F.lit("g"), F.col("id") % 5))
        .otherwise(F.concat(F.lit("other-"), F.col("id")))
        .alias("s"),
    )
    via_join = sorted(
        (r["doc_id"], r["s"])
        for r in sk.bloom_flag_contaminated(docs, "s", bits, m_bits=m, k=k)
        .dropDuplicates(["doc_id", "s"]).collect()
    )
    via_bitmap = sorted(
        (r["doc_id"], r["s"])
        for r in docs.filter(sk.bloom_maybe_member(F.col("s"), bitmap, m, k))
        .dropDuplicates(["doc_id", "s"]).collect()
    )
    assert via_bitmap == via_join


def test_bloom_bitmap_packing(spark):
    """Bit p lands in word p>>6 at offset p&63, signed two's-complement."""
    bits = spark.createDataFrame([(0,), (63,), (64,), (127,)], ["pos"])
    words = sk.bloom_bitmap(bits, 128)
    assert len(words) == 2
    # each word sets bit 0 and bit 63; bit 63 is the sign bit, so the
    # unsigned value 1 + 2^63 folds to the signed long 1 - 2^63
    assert words[0] == 1 + (1 << 63) - (1 << 64)
    assert words[1] == 1 + (1 << 63) - (1 << 64)


def test_weighted_sample_size_and_determinism(spark):
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 9 + 1).alias("w")
    )
    a = sorted(r["doc_id"] for r in sk.weighted_priority_sample(docs, "w", 50).collect())
    b = sorted(
        r["doc_id"]
        for r in sk.weighted_priority_sample(docs.repartition(13), "w", 50).collect()
    )
    assert len(a) == 50 and a == b


def test_weighted_sample_huge_weight_always_selected(spark):
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 777, F.lit(10**9)).otherwise(F.lit(1)).alias("w"),
    )
    got = {r["doc_id"] for r in sk.weighted_priority_sample(docs, "w", 10).collect()}
    assert 777 in got


def test_weighted_sample_grouped(spark):
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).alias("grp"),
        F.lit(1).alias("w"),
    )
    out = sk.weighted_priority_sample(docs, "w", 5, by=["grp"])
    per = out.groupBy("grp").count().collect()
    assert sorted((r["grp"], r["count"]) for r in per) == [(0, 5), (1, 5), (2, 5)]


def test_weighted_sample_proportionality(spark):
    # two strata with 10x weight difference: the heavy stratum should
    # dominate the sample (integer-priority E-S keeps w-proportionality)
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, F.lit(10)).otherwise(F.lit(1)).alias("w"),
    )
    got = sk.weighted_priority_sample(docs, "w", 200).collect()
    heavy = sum(1 for r in got if r["doc_id"] < 1000)
    assert heavy > 140  # E[heavy] ~ 10/11 * 200 ~ 182


# -- PageRank ---------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])


def test_pagerank_star_center_wins(spark):
    # star: everyone links to 'hub'
    pairs = [(f"n{i}", "hub") for i in range(10)]
    pr = {r["node"]: r["rank"] for r in pagerank_fixed_point(_edges(spark, pairs), 3).collect()}
    assert pr["hub"] > max(v for k, v in pr.items() if k != "hub")


def test_pagerank_symmetric_cycle_uniform(spark):
    # directed 4-cycle: perfect symmetry -> equal ranks
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    ranks = {r["node"]: r["rank"] for r in pagerank_fixed_point(_edges(spark, pairs), 5).collect()}
    assert len(set(ranks.values())) == 1


def test_pagerank_deterministic_across_partitionings(spark):
    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)]
    e = _edges(spark, pairs)
    a = sorted(map(tuple, pagerank_fixed_point(e.repartition(1), 4).collect()))
    b = sorted(map(tuple, pagerank_fixed_point(e.repartition(11), 4).collect()))
    assert a == b


def test_pagerank_local_numpy_matches_dict_and_distributed(spark):
    """The r13 vectorized driver replay (forced via a fake n_edges above
    the 50k numpy/dict split) must equal both the pure-Python dict
    replay and the distributed loop, on string AND int ids."""
    from zinger_spark.operators.graph import _pagerank_local_rows

    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)]
    for to_int in (False, True):
        if to_int:
            e = spark.createDataFrame(
                [(int(a[1:]), int(b[1:])) for a, b in pairs],
                "src long, dst long",
            )
        else:
            e = _edges(spark, pairs)
        base = 1_000_000_000 * 15 // 100
        kw = dict(
            iterations=4, damping_pct=85, scale=1_000_000_000, base=base,
            symmetric=False,
        )
        got_np = _pagerank_local_rows(e, n_edges=60_001, **kw)
        got_py = _pagerank_local_rows(e, n_edges=40, **kw)
        want = sorted(
            map(
                tuple,
                pagerank_fixed_point(e, 4, local_threshold=0).collect(),
            )
        )
        assert sorted(got_np) == sorted(got_py) == want


def test_pagerank_without_checkpoint_still_takes_driver_path(
    spark, monkeypatch
):
    """checkpoint=False changes only the distributed loop's caching
    and lineage cuts: under the threshold the graph still replays on
    the driver, with the same ranks as the distributed loop."""
    import zinger_spark.operators.graph as graph

    calls = []
    real = graph._pagerank_local_rows

    def spy(*args, **kwargs):
        calls.append(args[-1])  # n_edges
        return real(*args, **kwargs)

    monkeypatch.setattr(graph, "_pagerank_local_rows", spy)
    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)]
    e = _edges(spark, pairs)
    got = sorted(map(tuple, pagerank_fixed_point(e, 4, checkpoint=False).collect()))
    assert calls == [40]
    want = sorted(
        map(tuple, pagerank_fixed_point(e, 4, local_threshold=0).collect())
    )
    assert calls == [40]  # local_threshold=0: distributed loop
    assert got == want


@settings(
    max_examples=4,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1, max_size=50, unique=True,
    ),
    damping_pct=st.integers(86, 99),
    iterations=st.integers(1, 30),
    # 10^9, or the largest scale the numpy replay's overflow guard
    # admits for 16 nodes: ranks then run near the int64 limit
    scale=st.sampled_from([1_000_000_000, ((1 << 63) - 1) // (7 * 100 * 16)]),
)
def test_pagerank_replay_equals_distributed_high_damping(
    spark, pairs, damping_pct, iterations, scale
):
    """Above d = 0.85 the rank mass still cannot grow (graph.py's
    overflow guard), so both driver replays equal the distributed loop
    for any damping, iteration count and scale the guard admits."""
    from zinger_spark.operators.graph import _pagerank_local_rows

    e = spark.createDataFrame(pairs, "src long, dst long")
    kw = dict(
        iterations=iterations, damping_pct=damping_pct, scale=scale,
        base=scale * (100 - damping_pct) // 100, symmetric=False,
    )
    got_np = _pagerank_local_rows(e, n_edges=60_001, **kw)
    got_py = _pagerank_local_rows(e, n_edges=len(pairs), **kw)
    want = sorted(
        map(
            tuple,
            pagerank_fixed_point(
                e, iterations, damping_pct, scale, local_threshold=0
            ).collect(),
        )
    )
    assert got_np is not None
    assert sorted(got_np) == sorted(got_py) == want


def test_pagerank_mass_conservation_bound(spark):
    # without dangling nodes, total rank converges below N*scale/(1-d)
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("b", "a")]
    total = (
        pagerank_fixed_point(_edges(spark, pairs), 8)
        .agg(F.sum("rank").alias("t"))
        .collect()[0]["t"]
    )
    n, scale = 3, 1_000_000_000
    assert n * scale * 0.9 <= total <= int(n * scale / 0.15)


# -- HDR log-linear histogram -------------------------------------------------


def test_hdr_histogram_buckets_cover_values(spark):
    df = spark.range(1, 5001).select(F.col("id").alias("v"))
    hist = sk.hdr_histogram(df, "v", mantissa_bits=4)
    rows = hist.collect()
    assert sum(r["n"] for r in rows) == 5000
    # every bucket is [lo, hi) with width 2^(e-4), and lo aligned to it
    for r in rows:
        wdt = r["bucket_hi"] - r["bucket_lo"]
        assert wdt >= 1 and r["bucket_lo"] % wdt == 0


def test_hdr_quantiles_relative_error_bound(spark):
    # skewed data: exponential-ish via id^2
    df = spark.range(1, 20001).select((F.col("id") * F.col("id")).alias("v"))
    hist = sk.hdr_histogram(df, "v", mantissa_bits=4)
    got = {r["q"]: r["estimate"] for r in sk.hdr_quantiles(hist, [0.5, 0.99]).collect()}
    exact = df.approxQuantile("v", [0.5, 0.99], 0.0)
    for q, ex in zip((0.5, 0.99), exact):
        assert abs(got[q] - ex) <= ex * 2 ** -4 + 1  # mb=4 error bound


def test_hdr_merge_matches_whole(spark):
    df = spark.range(1, 3001).select((F.col("id") * 37 % 10000 + 1).alias("v"))
    a = df.filter(F.col("v") % 2 == 0)
    b = df.filter(F.col("v") % 2 == 1)
    merged = sk.hdr_merge(
        sk.hdr_histogram(a, "v"), sk.hdr_histogram(b, "v")
    )
    whole = sk.hdr_histogram(df, "v")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_hdr_zero_and_small_values_exact(spark):
    df = spark.createDataFrame([(0,), (1,), (2,), (15,), (16,)], "v long")
    rows = {(r["bucket_lo"], r["bucket_hi"]): r["n"] for r in sk.hdr_histogram(df, "v").collect()}
    # values < 2^mb get width-1 buckets (exact); 0 takes [0,1)
    assert rows[(0, 1)] == 1 and rows[(1, 2)] == 1 and rows[(2, 3)] == 1
    assert rows[(15, 16)] == 1 and rows[(16, 17)] == 1


# -- KMV set intersection -----------------------------------------------------


def test_kmv_jaccard_tracks_exact(spark):
    """Two groups with engineered overlap: A = 0..999, B = 500..1499
    (exact Jaccard = 500/1500 = 1/3).  The KMV estimate at k=256 must
    land within ~4 sigma (sigma ~ 1/sqrt(k))."""
    rows = [("A", str(i)) for i in range(1000)] + [
        ("B", str(i)) for i in range(500, 1500)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    sigs = sk.kmv_group_signatures(df, "g", "v", k=256)
    est = sk.kmv_pairwise_jaccard(sigs, "g", k=256).collect()[0]
    assert est["a"] == "A" and est["b"] == "B"
    assert abs(est["jaccard_est"] - 1 / 3) < 4 / (256 ** 0.5)
    assert est["denom"] == 256  # enough distincts to fill the union sketch


def test_kmv_jaccard_disjoint_and_identical(spark):
    rows = (
        [("A", str(i)) for i in range(300)]
        + [("B", str(i)) for i in range(300)]        # identical to A
        + [("C", str(i)) for i in range(1000, 1300)]  # disjoint from A
    )
    df = spark.createDataFrame(rows, "g string, v string")
    sigs = sk.kmv_group_signatures(df, "g", "v", k=128)
    got = {
        (r["a"], r["b"]): r["jaccard_est"]
        for r in sk.kmv_pairwise_jaccard(sigs, "g", k=128).collect()
    }
    assert got[("A", "B")] == 1.0
    assert got[("A", "C")] == 0.0
    assert got[("B", "C")] == 0.0


# --------------------------------------------------------------------------
# Regression tests for the round-7 review findings


def test_countmin_unseen_item_estimates_zero(spark):
    """An item never ingested must report cm_estimate=0: the CM min
    runs over all d cells INCLUDING empty grid cells (left join), not
    just the cells other items happened to populate."""
    base = spark.range(50).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    sketch = sk.countmin_sketch(base, "k", d=4, w=1024)
    probes = spark.createDataFrame([("never-seen-item",)], "k string")
    rows = sk.countmin_estimates(sketch, probes, "k", d=4, w=1024).collect()
    # w=1024 vs 50 keys: all 4 probe cells are almost surely empty ->
    # the item must still appear, with estimate 0 (not vanish)
    assert len(rows) == 1
    assert rows[0]["cm_estimate"] == 0


def test_bloom_flag_contaminated_duplicate_rows(spark):
    """A duplicated (doc_id, ngram) row must still be flagged: the
    ALL-k-positions test counts DISTINCT probe indices, so doubled
    input rows cannot push the count past k and slip through."""
    probe = spark.createDataFrame([("dup-gram",)], "s string")
    bits = sk.bloom_bits(probe, "s", m_bits=1 << 14, k=3)
    docs = spark.createDataFrame(
        [(1, "dup-gram"), (1, "dup-gram")], "doc_id int, s string"
    )
    flagged = sk.bloom_flag_contaminated(docs, "s", bits, m_bits=1 << 14, k=3)
    assert flagged.collect() == [Row(doc_id=1, s="dup-gram")]


def test_weighted_sample_fractional_weights(spark):
    """double weights in (0, 1) must stay proportional — a bare
    cast('long') would truncate every weight to 0 (clamped to 1) and
    degenerate the sample to uniform.  With 2^20 fixed-point scaling
    the fractional sample must equal the integer sample on
    pre-scaled weights (identical priorities)."""
    frac = spark.range(400).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.when(F.col("id") % 4 == 0, 0.9).otherwise(0.001)).alias("w"),
    )
    scaled = frac.withColumn("w", F.round(F.col("w") * (1 << 20)).cast("long"))
    got = {r["doc_id"] for r in sk.weighted_priority_sample(frac, "w", 40).collect()}
    want = {r["doc_id"] for r in sk.weighted_priority_sample(scaled, "w", 40).collect()}
    assert got == want
    # 0.9-weight rows are 900x likelier: the sample must be dominated
    # by them, which truncation-to-uniform would break
    heavy = sum(1 for d in got if int(d[1:]) % 4 == 0)
    assert heavy >= 35


def test_hll_estimate_empty_input_is_zero(spark):
    """Empty input -> estimate 0, matching estimate_from_register_dict({})
    (the documented driver/DataFrame agreement), not NULL."""
    empty = spark.range(0).select(F.col("id").cast("string").alias("k"))
    row = sk.hll_estimate(empty, "k", p=10).collect()[0]
    assert row["estimate"] == 0
    assert sk.estimate_from_register_dict({}, p=10) == 0


def test_hdr_quantiles_q0_returns_minimum(spark):
    """q=0.0 must return the first bucket's lower bound, not silently
    drop the row (rank clamps to 1)."""
    df = spark.range(1, 1001).select(F.col("id").alias("v"))
    hist = sk.hdr_histogram(df, "v", mantissa_bits=4)
    got = {r["q"]: r["estimate"] for r in sk.hdr_quantiles(hist, [0.0, 1.0]).collect()}
    assert set(got) == {0.0, 1.0}
    assert got[0.0] == 1  # min value sits at its bucket's lower bound


def test_kmv_join_size_tracks_exact(spark):
    """Join-size estimate within a loose band of the true size on a
    multiplicity-rich key distribution, and exact when the sample
    covers every key (got < k => union_est = got => estimate = truth)."""
    import random

    from zinger_spark.operators.sketches import kmv_join_size

    rng = random.Random(31)
    a = spark.createDataFrame(
        [(rng.randint(0, 2000),) for _ in range(6000)], "k bigint"
    )
    b = spark.createDataFrame(
        [(rng.randint(0, 2000),) for _ in range(4000)], "k bigint"
    )
    exact = a.join(b, "k").count()
    row = kmv_join_size(a, "k", b, "k", k=256).collect()[0]
    assert 0.5 * exact < row["estimate"] < 2.0 * exact
    # small-key-space case: sample IS the population -> exact
    sa = spark.createDataFrame([(i % 7,) for i in range(100)], "k bigint")
    sb = spark.createDataFrame([(i % 5,) for i in range(60)], "k bigint")
    r2 = kmv_join_size(sa, "k", sb, "k", k=256).collect()[0]
    assert r2["estimate"] == sa.join(sb, "k").count()
    assert r2["sample_k"] == 7  # union of 7 distinct keys
