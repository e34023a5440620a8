"""Unit tests for datamodel.fuse and the relational/dedup/text operators
not already covered by the oracle harness or the e2e suites."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zinger_spark.datamodel import fuse, fuse_type
from zinger_spark.functions import text as ztext
from zinger_spark.operators import dedup as zdedup
from zinger_spark.operators.relational import anti_join, as_of_join, switch_route


# ---------------------------------------------------------------------------
# fuse


def test_fuse_disjoint_columns(spark):
    """{a:1},{b:2},{c:3} in one stream (ztests/from-kafka.yaml)."""
    d1 = spark.createDataFrame([(1,)], "a bigint")
    d2 = spark.createDataFrame([(2.5,)], "b double")
    d3 = spark.createDataFrame([("x",)], "c string")
    out = fuse(d1, d2, d3)
    assert out.columns == ["a", "b", "c"]
    rows = sorted(out.collect(), key=lambda r: str(r))
    assert len(rows) == 3 and out.count() == 3


def test_fuse_numeric_widening(spark):
    """int vs long -> long; int vs double -> double (the reference's
    lossy ladder, zavro/schema.go:145-172)."""
    d1 = spark.createDataFrame([(1,)], "x int")
    d2 = spark.createDataFrame([(2,)], "x bigint")
    assert dict(fuse(d1, d2).dtypes)["x"] == "bigint"
    d3 = spark.createDataFrame([(2.5,)], "x double")
    assert dict(fuse(d1, d3).dtypes)["x"] == "double"


def test_fuse_nested_struct_merge(spark):
    """Struct fields union recursively; missing fields become null,
    null parents stay null (not structs of nulls)."""
    d1 = spark.createDataFrame([((1, "a"),)], "v struct<id:bigint,name:string>")
    d2 = spark.createDataFrame([((2, True),)], "v struct<id:bigint,flag:boolean>")
    out = fuse(d1, d2)
    assert dict(out.dtypes)["v"] == "struct<id:bigint,name:string,flag:boolean>"
    rows = {r["v"]["id"]: r["v"] for r in out.collect()}
    assert rows[1]["name"] == "a" and rows[1]["flag"] is None
    assert rows[2]["name"] is None and rows[2]["flag"] is True
    d3 = spark.createDataFrame([(None,)], "v struct<id:bigint,name:string>")
    fused = fuse(d3, d2)
    null_row = [r for r in fused.collect() if r["v"] is None or r["v"]["id"] is None]
    assert any(r["v"] is None for r in fused.collect())


def test_fuse_type_incompatible_scalars():
    assert fuse_type(T.StringType(), T.LongType()) == T.StringType()
    assert fuse_type(T.NullType(), T.LongType()) == T.LongType()


# ---------------------------------------------------------------------------
# relational


def test_anti_join_null_safe(spark):
    """Null keys must not leak through the anti-join (eqNullSafe)."""
    raw = spark.createDataFrame(
        [(("T", 1),), (("T", None),), (("U", 2),)],
        "kafka struct<topic:string,offset:bigint>",
    )
    done = spark.createDataFrame(
        [(("T", None),)], "kafka struct<topic:string,offset:bigint>"
    )
    out = anti_join(raw, done)
    assert sorted((r["kafka"]["topic"], r["kafka"]["offset"]) for r in out.collect()) == [
        ("T", 1),
        ("U", 2),
    ]


def test_switch_first_match(spark):
    """A record matching several cases lands only in the FIRST
    (etl/build.go switch semantics)."""
    df = spark.createDataFrame([(1, "ab"), (2, "a"), (3, "b"), (4, "c")], "id bigint, s string")
    outs = switch_route(
        df,
        [
            (F.col("s").contains("a"), lambda d: d.select("id", F.lit("A").alias("c"))),
            (F.col("s").contains("b"), lambda d: d.select("id", F.lit("B").alias("c"))),
            (None, lambda d: d.select("id", F.lit("D").alias("c"))),
        ],
    )
    got = dict(r[0:2] for df_ in outs for r in df_.collect())
    assert got == {1: "A", 2: "A", 3: "B", 4: "D"}


def test_as_of_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (2, 5, 102)], "k bigint, ts bigint, lid bigint"
    )
    right = spark.createDataFrame(
        [(1, 10, 900), (1, 15, 901), (2, 6, 902)], "k bigint, ts bigint, rid bigint"
    )
    out = as_of_join(left, right, on=["k"], left_ts="ts", right_ts="ts", right_cols=["rid"])
    got = {r["lid"]: r["right_rid"] for r in out.collect()}
    # ts=10 matches ts=10 (inclusive); ts=20 takes latest (15); ts=5 has none
    assert got == {100: 900, 101: 901, 102: None}


# ---------------------------------------------------------------------------
# dedup / text


def test_dedup_exact_groups_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in zdedup.dedup_exact(df).collect()}
    # whitespace + case normalization collapses 1 and 2
    assert set(out) == {1, 3}
    assert out[1]["n_copies"] == 2 and out[3]["n_copies"] == 1


def test_minhash_identical_docs_same_signature(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t s")],
        "doc_id bigint, text string",
    )
    sigs = {r["doc_id"]: tuple(r["signature"]) for r in
            zdedup.minhash_signatures(df, num_hashes=8).collect()}
    assert sigs[1] == sigs[2] != sigs[3]
    pairs = zdedup.minhash_lsh_pairs(df, num_hashes=8, bands=4, jaccard_threshold=0.9)
    assert [(r["doc_a"], r["doc_b"]) for r in pairs.collect()] == [(1, 2)]


def test_ngram_jaccard_max_df_caps_stop_phrase(spark):
    """A shingle shared by every doc (boilerplate stop-phrase) must not
    generate candidates when its document frequency exceeds max_df, but
    jaccard for pairs found via rare shingles stays EXACT (computed on
    the full shingle sets, stop-phrase included)."""
    stop = "call now to subscribe"  # one 4-gram shared by ALL docs
    rows = [(i, f"{stop} unique{i} filler{i}") for i in range(1, 9)]
    # docs 101/102 also share their entire tail -> true near-dup pair
    rows += [(101, f"{stop} alpha beta gamma"), (102, f"{stop} alpha beta gamma")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    capped = zdedup.ngram_jaccard_pairs(df, shingle_k=4, threshold=0.2, max_df=5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    # only the rare-shingle pair survives; its jaccard is exact (all 4
    # shingles shared, incl. the capped stop-phrase one) = 1.0
    assert set(got) == {(101, 102)}
    assert got[(101, 102)] == 1.0

    # sanity: without the cap the stop-phrase makes every doc pair a
    # candidate (45 pairs meet threshold 0 via >=1 shared shingle)
    uncapped = zdedup.ngram_jaccard_pairs(df, shingle_k=4, threshold=0.0, max_df=10**9)
    assert uncapped.count() == 45


@pytest.mark.parametrize("max_pb", ["128m", "128mb", "134217728", "1g"])
def test_could_be_narrow_reads_size_suffixes(spark, max_pb):
    """maxPartitionBytes set with a size suffix must still size the
    narrow-input pre-filter: a plan estimated at 8 GB is never narrower
    than 2 partitions, and a 2-row frame always may be."""
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, max_pb)
    try:
        assert zdedup._could_be_narrow(spark.range(10**9), want=2) is False
        assert zdedup._could_be_narrow(spark.range(2), want=2) is True
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_could_be_narrow_probes_large_plans_not_split_by_size(spark, tmp_path):
    """Only a scan-backed plan is taken as wide from its size estimate:
    a 10^9-row range in one slice, or coalesced to one partition, is
    estimated at 8 GB and still plans to one partition, so it must be
    probed.  A parquet scan estimated above the bound is not."""
    assert zdedup._could_be_narrow(spark.range(10**9, numPartitions=1), want=2) is True
    assert zdedup._could_be_narrow(spark.range(10**9).coalesce(1), want=2) is True
    assert zdedup._could_be_narrow(spark.range(10**9).repartition(1), want=2) is True
    assert zdedup._could_be_narrow(spark.range(10**9, numPartitions=4), want=2) is False

    path = str(tmp_path / "scan.parquet")
    spark.range(100).write.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "16")
    try:
        scan = spark.read.parquet(path)
        assert zdedup._could_be_narrow(scan.filter("id > 3"), want=2) is False
        assert zdedup._could_be_narrow(scan.coalesce(1), want=2) is True
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different words entirely unrelated content here now")],
        "doc_id bigint, text string",
    )
    fp = {r["doc_id"]: r["simhash"] for r in zdedup.simhash(df, bits=32).collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(fp[1], fp[2]) < ham(fp[1], fp[3])


def test_lsh_multiprobe_recall_not_worse(spark):
    """Multi-probe widens the candidate set monotonically: probing more
    buckets can only add rows, so recall vs brute force is >= the
    single-probe recall, and the probe list starts with the query's own
    bucket."""
    import random

    from zinger_spark.operators import similarity as zsim

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = [0.1, -0.05, 0.9, -0.8, 0.3, 0.2, -0.4, 0.6]
    dims = (0, 1, 2, 3)

    probes = zsim.probe_buckets(q, dims, 16)
    assert probes[0] == "1010"  # own bucket first (signs of q[0..3])
    assert len(set(probes)) == len(probes) == 16  # all 2^4, no dupes

    truth = {r["vec_id"] for r in zsim.brute_force_topk(df, q, k=10).collect()}
    single = {r["vec_id"] for r in zsim.lsh_topk(df, q, k=10, dims=dims).collect()}
    multi = {r["vec_id"] for r in zsim.lsh_topk(df, q, k=10, dims=dims, n_probe=4).collect()}
    all_probe = {r["vec_id"] for r in zsim.lsh_topk(df, q, k=10, dims=dims, n_probe=16).collect()}
    assert len(multi & truth) >= len(single & truth)
    assert all_probe == truth  # probing every bucket == exact


def test_lang_id_stopword_langs(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is happy"),
         (2, "der hund und die katze sind nicht da"),
         (3, "xyzzy plugh qwerty")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", ztext.lang_id(F.col("text")).alias("lang")).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    out = df.select(ztext.word_shingles(F.col("text"), k=5).alias("sh")).collect()[0]["sh"]
    assert out == ["a b c"]  # shorter than k -> whole text as one shingle


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world ")], "doc_id bigint, text string"
    )
    fps = [r["fp"] for r in df.select(ztext.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_ivf_assign_numpy_matches_expression_path(spark):
    """The numpy production path and the oracle-parity expression path
    assign every vector to the same IVF cell (ties -> smaller index on
    both)."""
    import random

    from zinger_spark.operators import similarity as zsim

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(6)]
    expr_cells = {r["vec_id"]: r["ivf_cell"] for r in zsim.ivf_assign(df, cents).collect()}
    np_cells = {r["vec_id"]: r["ivf_cell"]
                for r in zsim.ivf_assign_numpy(df, cents).collect()}
    # float64 matmul vs sequential fold can differ in the last ulp; on
    # random data scores are well-separated, so cells must agree exactly
    assert np_cells == expr_cells


def test_edit_distance_join_matches_brute_force(spark):
    # Corpus with planted typos (substitution, deletion, insertion,
    # transposition), plus keys shorter than k+1 chars to exercise the
    # empty-segment path.
    words = [
        "spark structured", "spark structered", "spork structured",
        "sparkstructured", "spark  structured", "catalyst optimizer",
        "catalyst optimiser", "cattalyst optimizer", "tungsten engine",
        "tungsten enginee", "shuffle service", "shuffle servce",
        "ab", "ba", "abc", "", "x", "completely different key",
    ]
    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "doc_id long, key string")
    for k in (1, 2, 3):
        got = {
            (r.a, r.b, r.dist)
            for r in zdedup.edit_distance_join(df, "key", "doc_id", k).collect()
        }
        left = df.selectExpr("doc_id a", "key ka")
        right = df.selectExpr("doc_id b", "key kb")
        want = {
            (r.a, r.b, r.dist)
            for r in left.crossJoin(right)
            .filter("a < b")
            .selectExpr("a", "b", "levenshtein(ka, kb) dist")
            .filter(f"dist <= {k}")
            .collect()
        }
        assert got == want, f"k={k}: {got ^ want}"


def test_edit_distance_join_block_col(spark):
    # Same key in different blocks must NOT pair when block_col is set.
    rows = [(1, "hello", "en"), (2, "hullo", "en"), (3, "hello", "de")]
    df = spark.createDataFrame(rows, "doc_id long, key string, lang string")
    got = {
        (r.a, r.b)
        for r in zdedup.edit_distance_join(
            df, "key", "doc_id", 1, block_col="lang"
        ).collect()
    }
    assert got == {(1, 2)}


def test_connected_components(spark):
    from zinger_spark.operators.graph import connected_components

    verts = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    # chain 1-2-3-4-5 (diameter 4), pair 6-7, singleton 8
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)], "a long, b long"
    )
    got = {(r.id, r.cluster_id) for r in connected_components(verts, edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (6, 6), (7, 6), (8, 8)}


def test_connected_components_non_convergence_raises(spark):
    from zinger_spark.operators.graph import connected_components

    verts = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long")
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        connected_components(verts, edges, max_iter=1)


def test_knn_two_phase_matches_single_phase(spark):
    from zinger_spark.operators.similarity import knn_join, knn_join_two_phase

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q_rows = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id") % 17 == 0).collect()
    ]
    queries = spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in q_rows],
        "qid long, qvec array<double>",
    )
    single = {(r.qid, r.vec_id, r.rk) for r in knn_join(emb, queries, k=5).collect()}
    two = {
        (r.qid, r.vec_id, r.rk)
        for r in knn_join_two_phase(emb, q_rows, k=5).collect()
    }
    assert single == two


def test_knn_two_phase_no_self_pair_leak(spark):
    """A query with fewer than k non-self candidates must not emit its
    self-pair (regression: the old -inf sentinel could survive the
    partition top-k and surface as a rank<=k neighbor)."""
    from zinger_spark.operators.similarity import knn_join_two_phase

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    got = knn_join_two_phase(corpus, [(1, [1.0, 0.0])], k=5).collect()
    assert all(r.vec_id != 1 for r in got)
    assert {r.vec_id for r in got} == {2, 3}
    assert sorted(r.rk for r in got) == [1, 2]


def test_pack_offsets_matches_naive_window(spark):
    """Two-level prefix sum == the naive per-group cumsum window, with
    groups forced to span several range partitions."""
    from pyspark.sql import Window

    from zinger_spark.operators.packing import pack_offsets, prefix_sum

    rows = [(g, i, (i * 7 + ord(g)) % 50 + 1) for g in ("a", "b", "c") for i in range(200)]
    df = spark.createDataFrame(rows, "grp string, ord long, w long")
    w = Window.partitionBy("grp").orderBy("ord").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = df.select(
        "grp", "ord", (F.sum("w").over(w) - F.col("w")).alias("start")
    )
    fast = prefix_sum(df, "grp", "ord", "w", out_col="start", num_partitions=8)
    assert {(r.grp, r.ord, r.start) for r in naive.collect()} == {
        (r.grp, r.ord, r.start) for r in fast.select("grp", "ord", "start").collect()
    }
    packed = pack_offsets(df, "grp", "ord", "w", budget=100, num_partitions=8)
    for r in packed.collect():
        assert r.pack_id == r.start_off // 100


def test_global_row_number_matches_window(spark):
    """global_row_number == row_number() over an unpartitioned window,
    for ascending and descending composite orders, with the input
    spread over several range partitions."""
    from pyspark.sql import Window

    from zinger_spark.operators.packing import global_row_number

    rows = [(i, (i * 37) % 101, f"u{i:04d}") for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long, uid string")

    naive_asc = df.select(
        "id", F.row_number().over(Window.orderBy("v", "uid")).alias("rn")
    )
    fast_asc = global_row_number(df, ["v", "uid"], out_col="rn", num_partitions=8)
    assert {(r.id, r.rn) for r in naive_asc.collect()} == {
        (r.id, r.rn) for r in fast_asc.select("id", "rn").collect()
    }

    naive_desc = df.select(
        "id",
        F.row_number().over(Window.orderBy(F.col("v").desc(), "uid")).alias("rn"),
    )
    fast_desc = global_row_number(
        df, [F.col("v").desc(), F.col("uid")], out_col="rn", num_partitions=8
    )
    assert {(r.id, r.rn) for r in naive_desc.collect()} == {
        (r.id, r.rn) for r in fast_desc.select("id", "rn").collect()
    }


def test_star_cc_matches_propagation_on_random_graphs(spark):
    """Large-star/small-star labels == min-label propagation labels on
    seeded random graphs (including isolated vertices)."""
    import random

    from zinger_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    for seed in (7, 41, 1337):
        rng = random.Random(seed)
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40)
        ]
        verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edf = spark.createDataFrame(edges, "a long, b long").filter("a != b")
        want = {
            (r.id, r.cluster_id)
            for r in connected_components(verts, edf, max_iter=40).collect()
        }
        got = {
            (r.id, r.cluster_id)
            for r in connected_components_star(verts, edf).collect()
        }
        assert got == want, f"seed {seed}"


def test_contract_partitions_cap_preserves_connectivity(spark):
    """r13: with the per-task vertex cap exceeded, edges introducing
    new vertices pass through uncontracted — the output graph must have
    exactly the input's components (verified against a Python
    union-find over the raw edges)."""
    import random

    from zinger_spark.operators.graph import _contract_partitions

    rng = random.Random(11)
    edges = {(max(a, b), min(a, b))
             for a, b in ((rng.randrange(50), rng.randrange(50))
                          for _ in range(80)) if a != b}

    def components(pairs, n=50):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in range(n)}

    edf = spark.createDataFrame(sorted(edges), "u long, v long").coalesce(2)
    for cap in (3, 10, 1_000_000):
        out = [(r.u, r.v) for r in
               _contract_partitions(edf, max_vertices=cap).collect()]
        assert components(out) == components(edges)
        assert all(u > v for u, v in out)


def test_star_cc_string_and_int32_ids(spark):
    """r13 (advice #3): _contract_partitions derives its schema from
    the input — string ids must work (previously crashed on int()
    coercion) and int32 ids must come back int32, not silently widened
    to long."""
    from zinger_spark.operators.graph import connected_components_star

    verts = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "id string")
    edf = spark.createDataFrame([("a", "b"), ("c", "b")], "a string, b string")
    got = {
        (r.id, r.cluster_id)
        for r in connected_components_star(verts, edf).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d")}

    verts32 = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    edf32 = spark.createDataFrame([(2, 1), (3, 2)], "a int, b int")
    out = connected_components_star(verts32, edf32)
    assert dict(out.dtypes)["cluster_id"] == "int"
    assert {(r.id, r.cluster_id) for r in out.collect()} == {
        (1, 1), (2, 1), (3, 1)
    }


def test_star_cc_long_chain_converges_fast(spark):
    """A 200-node path (diameter 199) — propagation would need 199
    rounds; the star alternation contracts it within a dozen."""
    from zinger_spark.operators.graph import connected_components

    n = 200
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    got = connected_components(verts, edges, max_iter=12, algorithm="star")
    assert {(r.id, r.cluster_id) for r in got.collect()} == {
        (i, 0) for i in range(n)
    }


def test_group_quantile_filter_approx_close_to_exact(spark):
    from zinger_spark.operators.quantiles import group_quantile_filter

    rows = [("s%d" % (i % 4), i, float((i * 37) % 1000) / 10.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "source string, doc_id long, score double")
    exact = group_quantile_filter(df, "source", "score", 0.6, mode="exact")
    approx = group_quantile_filter(df, "source", "score", 0.6, mode="approx",
                                   accuracy=100_000)
    e = {(r.source, r.doc_id) for r in exact.collect()}
    a = {(r.source, r.doc_id) for r in approx.collect()}
    # boundary ties may differ; everything strictly above the cut agrees
    assert len(e.symmetric_difference(a)) <= 0.02 * len(e)
    # keep="bottom" is the complement up to boundary ties
    bot = group_quantile_filter(df, "source", "score", 0.6, mode="approx",
                                accuracy=100_000, keep="bottom")
    assert bot.count() + approx.count() >= df.count()


def test_bucket_by_quantiles_matches_ntile_within_epsilon(spark):
    from zinger_spark.operators.quantiles import bucket_by_quantiles

    rows = [(i, float((i * 131) % 5000)) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, score double")
    exact = bucket_by_quantiles(df, "score", 10, mode="exact")
    approx = bucket_by_quantiles(df, "score", 10, mode="approx", accuracy=100_000)
    em = {r.id: r.bucket for r in exact.collect()}
    am = {r.id: r.bucket for r in approx.collect()}
    off = [i for i in em if abs(em[i] - am[i]) > 1]
    assert not off
    # populations near-equal: each decile within 2% of n/10
    from collections import Counter

    pops = Counter(am.values())
    assert set(pops) == set(range(1, 11))
    assert all(abs(c - 500) <= 10 for c in pops.values())


def test_embedding_dup_hot_bucket_refines_not_drops(spark):
    """A dup-dense cluster wider than max_bucket must still yield its
    near-dup pairs: the cap refines the hot bucket with extra sign
    bits instead of dropping it wholesale (round-4 advice: with only
    2**len(dims) buckets a blanket drop is a silent recall collapse)."""
    from zinger_spark.operators import similarity as zsim

    # 30 vectors, all in sign bucket "11" on dims (0, 1); they split on
    # dim 2's sign into two internally-identical sub-clusters.
    rows = []
    for i in range(30):
        sub = 1.0 if i % 2 == 0 else -1.0
        rows.append((i, [1.0, 1.0, sub, 0.1, 0.2, 0.3, 0.4, 0.5]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    uncapped = zsim.embedding_dup_pairs(
        df, threshold=0.999, dims=(0, 1), max_bucket=None
    )
    capped = zsim.embedding_dup_pairs(
        df, threshold=0.999, dims=(0, 1), max_bucket=20, refine_bits=1
    )
    n_un = uncapped.count()
    n_cap = capped.count()
    # identical-vector pairs within each 15-member sub-cluster: 2*C(15,2)
    assert n_un == 2 * 15 * 7
    # refinement on dim 2 splits the hot bucket into the two sub-clusters
    # (each of width 15 <= cap) and keeps ALL their true pairs.
    assert n_cap == n_un


def test_hot_bucket_report_flags_wide_bucket(spark):
    from zinger_spark.operators import similarity as zsim

    rows = [(i, [1.0, 1.0, 0.5, 0.5]) for i in range(25)]
    rows += [(100 + i, [-1.0, 1.0, 0.5, 0.5]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    rep = zsim.hot_bucket_report(df, dims=(0, 1), max_bucket=10).collect()
    by_bucket = {r.bucket: (r.n, r.over_cap) for r in rep}
    assert by_bucket["11"] == (25, True)
    assert by_bucket["01"] == (3, False)


def test_chunk_spans_windows_and_stride(spark):
    from zinger_spark.functions import text as zt

    txt = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, txt), (2, "a b")], "id int, text string")
    rows = (
        df.select("id", F.explode(zt.chunk_spans(F.col("text"), 4, 3)).alias("c"))
        .select("id", "c.chunk_idx", "c.start_tok", "c.chunk")
        .collect()
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append(r)
    # doc 1: 10 tokens, window 4, stride 3 -> ceil((10-4)/3)+1 = 3 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["start_tok"] for r in c1] == [0, 3, 6]
    assert c1[0]["chunk"] == "w0 w1 w2 w3"
    assert c1[2]["chunk"] == "w6 w7 w8 w9"  # final window clipped to n
    # doc 2: shorter than one window -> single chunk, whole text
    assert [r["chunk"] for r in by_doc[2]] == ["a b"]


def test_scrub_pii_replaces_and_counts(spark):
    from zinger_spark.functions import text as zt

    txt = (
        "mail bob.smith+x@corp.example.org or see "
        "https://ex.com/a?b=1 or call +1 (555) 010-1234 ok"
    )
    df = spark.createDataFrame([(txt,)], "text string")
    row = df.select(
        zt.scrub_pii(F.col("text")).alias("s"),
        zt.count_matches(F.col("text"), zt.EMAIL_RE).alias("ne"),
        zt.count_matches(F.col("text"), zt.URL_RE).alias("nu"),
        zt.count_matches(F.col("text"), zt.PHONE_RE).alias("np"),
    ).collect()[0]
    assert row["s"] == "mail <EMAIL> or see <URL> or call <PHONE> ok"
    assert (row["ne"], row["nu"], row["np"]) == (1, 1, 1)


def test_repetition_ratios(spark):
    from zinger_spark.functions import text as zt

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a b"), (3, "x x x x")],
        "id int, text string",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            zt.repetition_ratio(F.col("text")).alias("rep"),
            zt.top_token_ratio(F.col("text")).alias("top"),
        ).collect()
    }
    assert rows[1]["rep"] == 0.0 and rows[1]["top"] == 0.25
    assert rows[2]["rep"] == 0.5 and rows[2]["top"] == 0.75
    assert rows[3]["rep"] == 0.75 and rows[3]["top"] == 1.0


def test_gopher_shape_metrics(spark):
    """Hand-computed Gopher document-shape signals (Rae et al. table A1
    semantics as implemented: whitespace tokens of lowered text)."""
    from zinger_spark.functions import text as zt

    doc1 = "The cat sat on the mat"          # 6 words, 17 chars of words
    doc2 = "x\n- a\n- b\nend...\nx"          # lines: x, - a, - b, end..., x
    doc3 = "## wow ##"                        # 3 words, 4 '#'
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2), (3, doc3)], "id int, text string"
    )
    ls = zt.line_shape_stats(F.col("text"))
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            zt.mean_word_length(F.col("text")).alias("mwl"),
            zt.alpha_word_ratio(F.col("text")).alias("alpha"),
            zt.symbol_word_ratio(F.col("text")).alias("sym"),
            ls.getField("n_lines").alias("nl"),
            ls.getField("dup_line_frac").alias("dup"),
            ls.getField("bullet_frac").alias("bullet"),
            ls.getField("ellipsis_frac").alias("ell"),
        ).collect()
    }
    assert rows[1]["mwl"] == round(17 / 6, 6)
    assert rows[1]["alpha"] == 1.0 and rows[1]["sym"] == 0.0
    assert rows[2]["nl"] == 5 and rows[2]["dup"] == 0.2
    assert rows[2]["bullet"] == 0.4 and rows[2]["ell"] == 0.2
    assert rows[3]["alpha"] == round(1 / 3, 6)
    assert rows[3]["sym"] == round(4 / 3, 6)


def test_top_ngram_char_fraction(spark):
    from zinger_spark.functions import text as zt

    # "ab cd ab cd ab" -> bigrams: "ab cd" x2, "cd ab" x2 -> tie breaks
    # to "ab cd" (lexicographically smallest); 2*5/14 chars
    df = spark.createDataFrame([(1, "ab cd ab cd ab"), (2, "one")],
                               "id int, text string")
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            zt.top_ngram_char_fraction(F.col("text"), 2).alias("b2"),
        ).collect()
    }
    assert rows[1]["b2"] == round(2 * 5 / 14, 6)
    assert rows[2]["b2"] == 0.0  # shorter than the gram


def test_dedup_lines_keeps_first_occurrence(spark):
    """Corpus-wide line dedup: each distinct non-blank line survives at
    its (min doc_id, min pos) occurrence only; blank lines always stay."""
    from zinger_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared line\nalpha"),     # intra-doc dup: 2nd 'alpha' drops
            (2, "beta\nshared line\n\ngamma"),    # 'shared line' drops; blank stays
            (3, "shared line"),                   # whole doc was boilerplate
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert rows[1]["text_dedup"] == "alpha\nshared line"
    assert (rows[1]["n_lines_before"], rows[1]["n_lines_after"]) == (3, 2)
    assert rows[2]["text_dedup"] == "beta\n\ngamma"
    assert (rows[2]["n_lines_before"], rows[2]["n_lines_after"]) == (4, 3)
    assert rows[3]["text_dedup"] == "" and rows[3]["n_lines_after"] == 0


def test_winnow_substring_pairs(spark):
    """Winnowing guarantee: a shared span of >= w+k-1 (=8) tokens is
    detected regardless of its offset in each document."""
    from zinger_spark.operators.dedup import substring_dup_pairs, winnow_fingerprints

    shared = "one two three four five six seven eight"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma"),
            (2, f"x y z w {shared}"),
            (3, "totally different words nothing matches here at all ok"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in substring_dup_pairs(docs).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    # fingerprint sets are offset-independent for the shared region:
    # every fingerprint of the bare shared string appears in both docs
    bare = spark.createDataFrame([(9, shared)], "doc_id long, text string")
    bare_fps = {r["fp"] for r in winnow_fingerprints(bare).collect()}
    fps1 = {r["fp"] for r in winnow_fingerprints(docs.where("doc_id=1")).collect()}
    fps2 = {r["fp"] for r in winnow_fingerprints(docs.where("doc_id=2")).collect()}
    assert bare_fps and bare_fps <= fps1 and bare_fps <= fps2


def test_incremental_line_dedup(spark):
    """Batch lines already in the corpus drop; fresh lines keep their
    first batch occurrence; blanks always survive."""
    from zinger_spark.operators.dedup import incremental_line_dedup

    corpus = spark.createDataFrame(
        [(0, "seen line\nother corpus line")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, "seen line\nnew line\n\nnew line"),
            (2, "new line\nunique here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in incremental_line_dedup(corpus, batch).collect()}
    assert rows[1]["text_dedup"] == "new line\n"   # blank kept, dup-in-batch drops
    assert (rows[1]["n_lines_before"], rows[1]["n_lines_after"]) == (4, 2)
    assert rows[2]["text_dedup"] == "unique here"  # 'new line' went to doc 1
    assert rows[2]["n_lines_after"] == 1


def test_dedup_paragraphs_via_separator(spark):
    """separator generalizes line dedup to paragraph dedup."""
    from zinger_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "para one\n\nshared para"), (2, "shared para\n\npara two")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup_lines(docs, separator="\n\n").collect()
    }
    assert rows[1]["text_dedup"] == "para one\n\nshared para"
    assert rows[2]["text_dedup"] == "para two"


def test_incremental_substring_dups(spark):
    """Batch docs sharing an 8+-token span with the corpus (or with an
    earlier batch doc) pair up, oriented new -> keeper."""
    from zinger_spark.operators.dedup import incremental_substring_dups

    shared = "one two three four five six seven eight"
    corpus = spark.createDataFrame(
        [(0, f"corpus filler {shared}")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, f"{shared} trailing words"),          # matches corpus
            (3, f"prefix {shared}"),                   # matches corpus + doc 1
            (5, "completely different content here that matches nothing"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["new_id"], r["matched_id"])
        for r in incremental_substring_dups(corpus, batch).collect()
    }
    assert (1, 0) in pairs and (3, 0) in pairs
    assert (3, 1) in pairs          # within-batch, later -> earlier
    assert not any(5 in p for p in pairs)


def test_prefix_sum_wide_passthrough_rows_dense_ranks(spark):
    """Regression (r7): prefix_sum's ranged frame feeds two consumers
    whose column pruning differs, which can compile two SEPARATE range
    exchanges — and RangePartitioner samples boundaries per execution,
    so the totals side and the join side could disagree on _pid,
    yielding duplicated AND skipped ranks.  The materialization barrier
    pins one evaluation; this asserts dense per-group ranks on a frame
    with wide pass-through columns (the shape that triggered it via
    assign_offsets)."""
    from zinger_spark.operators.packing import prefix_sum

    rows = [
        (g, i, f"pad-{i:06d}" * 3, i * 1.5, (i, f"x{i}"))
        for g in ("click", "view", "buy")
        for i in range(g.__len__() * 700)  # uneven group sizes
    ]
    df = spark.createDataFrame(
        rows, "grp string, ord long, pad string, val double, s struct<a:long,b:string>"
    )
    out = prefix_sum(
        df.withColumn("one", F.lit(1)), "grp", "ord", "one",
        out_col="rk", num_partitions=16,
    )
    got = {
        g: sorted(r.rk for r in rs)
        for g, rs in __import__("itertools").groupby(
            sorted(out.select("grp", "rk").collect(), key=lambda r: r.grp),
            key=lambda r: r.grp,
        )
    }
    for g, ranks in got.items():
        assert ranks == list(range(len(ranks))), f"non-dense ranks for {g}"


# -- bucketed range join ------------------------------------------------------


def _bands(spark):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [
            Row(lo=0.0, hi=1000.0, tier="T0"),
            Row(lo=1000.0, hi=5000.0, tier="T1"),
            Row(lo=5000.0, hi=20000.0, tier="T2"),
            Row(lo=20000.0, hi=50000.0, tier="T3"),
            Row(lo=50000.0, hi=100000.0, tier="T4"),
        ]
    )


def test_bucketed_range_join_matches_theta_join(spark):
    from zinger_spark.operators.relational import bucketed_range_join

    facts = spark.range(400).select(
        F.col("id").alias("fid"), (F.col("id") * 251.7 % 99999).alias("v")
    )
    bands = _bands(spark)
    got = bucketed_range_join(facts, bands, "v", "lo", "hi", bucket_width=7000)
    want = facts.join(
        bands, (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
    )
    assert sorted(map(tuple, got.select("fid", "tier").collect())) == sorted(
        map(tuple, want.select("fid", "tier").collect())
    )


def test_bucketed_range_join_boundaries(spark):
    from pyspark.sql import Row

    from zinger_spark.operators.relational import bucketed_range_join

    facts = spark.createDataFrame(
        [Row(fid=1, v=0.0), Row(fid=2, v=999.999), Row(fid=3, v=1000.0),
         Row(fid=4, v=99999.999), Row(fid=5, v=100000.0)]
    )
    got = {
        r["fid"]: r["tier"]
        for r in bucketed_range_join(
            facts, _bands(spark), "v", "lo", "hi", bucket_width=1000
        ).collect()
    }
    # half-open [lo, hi): 0 -> T0, 1000 -> T1 (not T0), 100000 -> no match
    assert got == {1: "T0", 2: "T0", 3: "T1", 4: "T4"}


def test_bucketed_range_join_left_keeps_unmatched(spark):
    from pyspark.sql import Row

    from zinger_spark.operators.relational import bucketed_range_join

    facts = spark.createDataFrame([Row(fid=1, v=500.0), Row(fid=2, v=1e9)])
    out = bucketed_range_join(
        facts, _bands(spark), "v", "lo", "hi", bucket_width=1000, how="left"
    ).collect()
    by = {r["fid"]: r["tier"] for r in out}
    assert by == {1: "T0", 2: None}


def test_bucketed_range_join_left_null_fact_column(spark):
    """A MATCHED fact row carrying a NULL column must appear exactly
    once: the unmatched-rows anti join is null-safe, so NULL != NULL
    cannot resurrect the row a second time null-padded."""
    from pyspark.sql import Row

    from zinger_spark.operators.relational import bucketed_range_join

    facts = spark.createDataFrame(
        [Row(fid=1, note=None, v=500.0), Row(fid=2, note=None, v=1e9)],
        "fid int, note string, v double",
    )
    out = bucketed_range_join(
        facts, _bands(spark), "v", "lo", "hi", bucket_width=1000, how="left"
    ).collect()
    assert len(out) == 2
    by = {r["fid"]: r["tier"] for r in out}
    assert by == {1: "T0", 2: None}


def test_bucketed_range_join_is_hash_join_not_bnlj(spark):
    from zinger_spark.operators.relational import bucketed_range_join

    facts = spark.range(100).select(
        F.col("id").alias("fid"), (F.col("id") * 17.0).alias("v")
    )
    plan = (
        bucketed_range_join(facts, _bands(spark), "v", "lo", "hi", 1000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_persisted_index_matches_inline(spark, tmp_path):
    """The persisted IVF index returns exactly what inline ivf_topk
    returns (same deterministic assignment), through a partition-pruned
    read of only the probed cells."""
    import random

    from zinger_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_topk,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [v for _, v in rows[:5]]
    q = rows[42][1]

    idx = str(tmp_path / "ivfidx")
    build_ivf_index(emb, cents, idx)
    got = [tuple(r) for r in ivf_index_topk(spark, idx, q, k=10, n_probe=2).collect()]
    want = [tuple(r) for r in ivf_topk(emb, cents, q, k=10, n_probe=2).collect()]
    assert got == want and len(got) == 10

    plan = (
        ivf_index_topk(spark, idx, q, k=10, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "ivf_cell" in plan.split("PartitionFilters:")[-1]


def test_kmeans_fixed_point_deterministic_and_improving(spark):
    import random

    from zinger_spark.operators.similarity import kmeans_fixed_point

    rng = random.Random(11)
    # three well-separated blobs in 8 dims
    rows = []
    for i in range(150):
        center = [(-0.8, 0.8, 0.0)[i % 3]] * 8
        rows.append(
            (i, [c + rng.uniform(-0.1, 0.1) for c in center])
        )
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    a = sorted(map(tuple, kmeans_fixed_point(emb, k=3, iterations=3).collect()))
    b = sorted(
        map(tuple, kmeans_fixed_point(emb.repartition(7), k=3, iterations=3).collect())
    )
    assert a == b and len(a) == 3 * 8  # engine/partitioning determinism

    # after convergence on separated blobs, the three centroids sit
    # near -0.8/0/0.8 (fixed-point scale quant*cscale = 1000*1024)
    per_cluster = {}
    for cluster, d, c in a:
        per_cluster.setdefault(cluster, []).append(c / (1000 * 1024))
    means = sorted(sum(v) / len(v) for v in per_cluster.values())
    assert abs(means[0] + 0.8) < 0.1
    assert abs(means[1]) < 0.1
    assert abs(means[2] - 0.8) < 0.1


def test_bm25_scores_known_values(spark):
    """BM25 against a tiny hand-checkable corpus: exact tf/df/avgdl
    math, absent terms contribute 0, longer docs are length-penalized."""
    import math

    from zinger_spark.functions.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "hash join"),
            (2, "hash hash hash scan"),
            (3, "sort merge scan filter group"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bm25_scores(docs, ["hash"]).collect()}
    assert rows[3]["bm25"] == 0.0
    # manual: N=3, df=2, idf=ln((3-2+0.5)/(2+0.5)+1); avgdl=11/3
    idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)

    def score(tf, dl):
        return idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (11 / 3))))

    assert abs(rows[1]["bm25"] - round(score(1, 2), 6)) < 1e-6
    assert abs(rows[2]["bm25"] - round(score(3, 4), 6)) < 1e-6
    # higher tf with comparable length outranks
    assert rows[2]["bm25"] > rows[1]["bm25"] > rows[3]["bm25"]


def test_leakage_safe_split_property(spark):
    """The split entry's invariant, on synthetic clusters: every member
    of a near-dup cluster gets the SAME split (no leakage across the
    boundary), proportions land near 80/20, and a doc-hash split (the
    naive form) would have straddled."""
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
    import __spark_entry__ as m
    from pyspark.sql import functions as F

    from zinger_spark.functions.text import md5_hash60

    out = m.queries()["leakage_safe_split"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) > 0
    # leakage guard: one split per cluster
    per_cluster = {}
    for r in rows:
        per_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in per_cluster.values())
    # proportions: clusters hash ~80/20
    splits = {c: next(iter(s)) for c, s in per_cluster.items()}
    frac = sum(1 for v in splits.values() if v == "train") / len(splits)
    assert 0.6 < frac < 0.95
    # negative control: at least one multi-doc cluster exists whose
    # members' DOC-hash buckets disagree — the naive split would leak
    multi = [r for r in rows if sum(
        1 for x in rows if x["cluster_id"] == r["cluster_id"]) > 1]
    if multi:
        df = spark.createDataFrame(
            [(r["doc_id"], r["cluster_id"]) for r in multi],
            "doc_id long, cluster_id long",
        ).withColumn(
            "doc_bucket",
            F.pmod(md5_hash60(F.concat(F.lit("split:"),
                                       F.col("doc_id").cast("string"))), F.lit(10)),
        )
        n_buckets = (
            df.groupBy("cluster_id")
            .agg(F.countDistinct("doc_bucket").alias("nb"))
            .agg(F.max("nb")).first()[0]
        )
        assert n_buckets >= 2  # doc-hash splitting WOULD straddle
