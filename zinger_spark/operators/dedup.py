"""Deduplication operators for large-scale training-data pipelines.

Strategies, all shuffle-conscious:

  exact            hash-groupBy on a normalized content hash (1 shuffle)
  minhash_lsh      shingle -> minhash signature -> banded LSH buckets ->
                   candidate pairs -> exact jaccard verify
  simhash          sign-sum fingerprint; near-dups = small hamming
                   distance via hamming_dup_pairs
  hamming pairs    pigeonhole-banded join over ANY b-bit fingerprint
                   (simhash text, image dHash, audio spectral contour)
  ngram_jaccard    exact word-k-gram jaccard over blocked candidates
  embedding_dup    cosine >= threshold over LSH-bucketed candidates
  edit_distance    PassJoin pigeonhole segments (fuzzy key matching)
  lines/paragraphs corpus-wide keep-first boilerplate removal
  winnowing        substring-span detection (MOSS fingerprints)

Each flavor also ships a maintained-index INCREMENTAL form (batch vs
corpus: incremental_exact_dedup, incremental_minhash_pairs,
incremental_line_dedup, incremental_substring_dups).

Everything is built from JVM expressions (md5-based hashing so the
DuckDB oracle reproduces values exactly; swap hash_fn=F.xxhash64 for
maximum throughput when oracle parity is not needed).

Scale notes (100 TB): the LSH paths never materialize the O(n^2) pair
space — candidates come from equi-joins on (band_idx, band_hash) or
bucket keys, which shuffle-partition by bucket. Skewed buckets (a
boilerplate shingle shared by millions of docs) are the classic hazard:
cap bucket width via a count filter before the self-join.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.text import fingerprint, md5_hash60, word_shingles
from ..functions.vector import let as _let


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-content hash.

    min(id) group-by — a single partial-aggregated shuffle on the hash;
    at 100 TB this is the cheapest possible full-corpus dedup.
    """
    h = fingerprint(F.col(text_col)).alias("__fp")
    return (
        df.select(F.col(id_col), h)
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies", F.col("__fp").alias("content_hash"))
    )


# Affine permutation family h_i(x) = (a_i*x + b_i) mod P31 over base
# hashes reduced mod P30, so products stay < 2^60 (safe in both Spark's
# wrapping int64 and DuckDB's checked BIGINT). Constants from a fixed
# LCG seed — embedded in both the Spark plan and the oracle SQL.
MINHASH_P30 = 1073741789  # largest prime < 2^30
MINHASH_P31 = 2147483647  # 2^31 - 1


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    state = 88172645463325252
    out = []
    for _ in range(num_hashes):
        # xorshift64 steps, deterministic
        state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
        state ^= state >> 7
        state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
        a = (state % (MINHASH_P30 - 1)) + 1
        state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
        state ^= state >> 7
        state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
        b = state % MINHASH_P31
        out.append((a, b))
    return out


def _could_be_narrow(df: DataFrame, want: int) -> bool:
    """True unless ``df`` surely plans to at least ``want`` partitions
    — the cheap, no-job pre-filter for the exact RDD-partition probe.

    "Surely" needs both an optimizer size estimate of at least ``want``
    x maxPartitionBytes and a plan whose splits follow that size: every
    leaf a file scan or a ``Range`` of at least ``want`` slices, and no
    repartition or coalesce to fewer than ``want`` partitions.  A large
    in-memory, cached or coalesced input says nothing about its split
    count from its size, so it is probed.  maxPartitionBytes comes from
    the JVM's SQLConf, already parsed to bytes, so any user spelling
    (``128m``, ``1g``, ``134217728``) counts.  Estimation failures err
    on True (probe to be sure)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        size = int(str(plan.stats().sizeInBytes()))
        max_pb = int(
            df.sparkSession._jsparkSession.sessionState()
            .conf()
            .filesMaxPartitionBytes()
        )
        return size < want * max_pb or not _splits_by_size(plan, want)
    except Exception:  # noqa: BLE001 - any estimation failure
        return True


def _splits_by_size(plan, want: int) -> bool:
    """Every leaf of the logical ``plan`` is a file scan or a ``Range``
    of at least ``want`` slices, and no repartition in it asks for fewer
    than ``want`` partitions."""
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind in ("Repartition", "RepartitionByExpression") and node.numPartitions() < want:
            return False
        children = node.children()
        n = children.size()
        if n == 0:
            if kind == "Range":
                slices = node.numSlices()
                if not (slices.isDefined() and slices.get() >= want):
                    return False
            elif not (
                kind == "LogicalRelation"
                and node.relation().getClass().getSimpleName() == "HadoopFsRelation"
            ):
                return False
        stack.extend(children.apply(i) for i in range(n))
    return True


def exploded_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """Distinct word-k-gram shingles as ROWS (id, s) instead of arrays.

    r12: explode(word_shingles) — a ZERO-shuffle map-side projection.
    word_shingles let-binds the tokenization (split runs once per row)
    and array_distinct dedups within the doc, so neither the former
    posexplode+lead token window (a full token-level sort shuffle) nor
    its trailing row-level ``distinct`` exchange is needed.  A/B at
    sf0.1 (reps=5 medians, noop sink): k=5 0.403 -> 0.227 s, k=8
    0.433 -> 0.301 s, identical row counts — and at 100 TB the win is
    structural: two corpus-wide shuffles removed from every shingle
    consumer (minhash, jaccard/containment, incremental dedup).

    Semantics match functions.text.word_shingles by construction:
    positions 0..n-k, docs shorter than k tokens yield one whole-text
    shingle, per-doc distinct.

    The old token window had one accidental virtue: its shuffle gave
    downstream hash/materialize stages shuffle-partition parallelism
    even when the scan was one unsplittable row group.  Keep that
    deliberately — widen ONLY when the input is narrower than the
    session's parallelism (at production scale the scan already has
    >= defaultParallelism splits and this is a no-op; callers that
    pre-repartition by id also skip it).

    r13: the narrowness probe is gated on the optimizer's size
    estimate first — ``df.rdd.getNumPartitions()`` converts the plan
    to an RDD (a physical-planning pass per invocation) just to make a
    repartition decision, which is gratuitous when the input is
    obviously corpus-sized.  stats().sizeInBytes is available without
    running a job; only inputs small enough that they could POSSIBLY
    plan narrower than the session's parallelism (size < parallelism x
    maxPartitionBytes) pay the exact RDD probe, i.e. the probe cost
    now scales to zero as the input grows.  The size stands for the
    split count only on scan-backed plans: a large but coalesced,
    cached or in-memory input is probed too (``_could_be_narrow``)."""
    spark = df.sparkSession
    want = spark.sparkContext.defaultParallelism
    if _could_be_narrow(df, want):
        if df.rdd.getNumPartitions() < want:
            df = df.repartition(want, F.col(id_col))
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("s"),
    )


def base_hashes(shingles: Column) -> Column:
    """One 60-bit md5 hash per shingle, reduced mod P30. Project this as
    its own column before fanning out to k permutations — otherwise each
    permutation re-inlines (and recomputes) the md5s."""
    return F.transform(shingles, lambda s: md5_hash60(s) % MINHASH_P30)


def _minhash_signature(bases: Column, num_hashes: int) -> Column:
    """k minhash values: min over base hashes of (a_i*h+b_i) mod P31.
    One nested higher-order expression, fully codegen'd; no explode,
    no shuffle."""
    coeffs = minhash_coeffs(num_hashes)

    def _perm_min(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(bases, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P31)
        )

    return F.array(*[_perm_min(a, b) for a, b in coeffs])


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """id -> minhash signature (array<bigint> of length num_hashes)."""
    sh = word_shingles(F.col(text_col), shingle_k).alias("__sh")
    return (
        df.select(F.col(id_col), sh)
        .select(id_col, base_hashes(F.col("__sh")).alias("__bases"))
        .select(id_col, _minhash_signature(F.col("__bases"), num_hashes).alias("signature"))
    )


def _materialize(df: DataFrame) -> DataFrame:
    """Cut the plan at a frame that is consumed by several downstream
    subtrees (signatures AND verification both re-derive the exploded
    shingles otherwise — Catalyst inlines the shared subplan into each
    consumer and computes it 3-4x).

    ``localCheckpoint(eager=False)``, not ``persist()``: persist
    registers the logical plan in the session cache manager, so a
    RE-RUN of the same query would silently reuse the previous run's
    data — wrong for benchmarks and for long sessions where the
    input pool grows between runs.  A local checkpoint is private to
    this DataFrame: computed once per run (MEMORY_AND_DISK, spills at
    scale), reused by every consumer, GC'd with the frame.  The known
    trade-off (executor loss loses checkpoint blocks and fails the
    job, vs. recompute-from-lineage) is acceptable for a dedup batch
    job; flip to reliable ``checkpoint()`` on a cluster with a
    checkpoint dir when running in a preemptible fleet."""
    return df.localCheckpoint(eager=False)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 1000,
    parallelism: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, with exact-jaccard
    verification of candidates.

    Plan shape: signatures (narrow) -> explode to (doc, band, band_key)
    -> self equi-join on (band, band_key) (shuffle partitions by bucket)
    -> distinct candidate pairs -> join back shingle sets -> exact
    jaccard filter. ``max_bucket`` drops degenerate mega-buckets before
    the join (skew guard). ``parallelism`` hash-repartitions the input
    on id first: the shingle explode + per-shingle md5 is the dominant
    cost and is otherwise pinned to the input's file-partition count (1
    for a small local parquet).
    """
    if parallelism and parallelism > 1:
        df = df.repartition(parallelism, F.col(id_col))
    rows_per_band = num_hashes // bands
    coeffs = minhash_coeffs(num_hashes)
    # One exploded-shingle pass feeds everything: md5 base hashes for the
    # signature aggregation, cheap xxhash64 blocking hashes + sizes for
    # the exact-jaccard verification.
    sh = exploded_shingles(df, text_col, id_col, shingle_k)
    hashed = sh.select(
        "id",
        (md5_hash60(F.col("s")) % MINHASH_P30).alias("hm"),
        F.xxhash64("s").alias("hx"),
    )
    if materialize:
        # consumed by the signature agg AND both verify joins
        hashed = _materialize(hashed)
    # Signature = one groupBy with k min-aggregates (single shuffle,
    # partial aggregation — no interpreted array lambdas).
    sigs = hashed.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("hm") + F.lit(b)) % MINHASH_P31).alias(f"__s{i}")
            for i, (a, b) in enumerate(coeffs)
        ],
        F.count(F.lit(1)).alias("__n"),
    )
    if materialize:
        # sigs has FOUR effective consumers — the band explode is
        # inlined into the hot-bucket agg AND both sides of the
        # candidate self-join (the anti-join subtree is copied per
        # side), plus the size projection — so without this cut the
        # signature aggregation over the full shingle frame runs 4x
        # (r12 plan audit: 4 HashAgg+Generate subtrees).  An earlier
        # r11 A/B that measured sigs-mat slower predates the
        # anti-join hot filter, which doubled the consumer count.
        sigs = _materialize(sigs)
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"__s{b * rows_per_band + j}").cast("string")
                                for j in range(rows_per_band)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))

    # Skew guard: drop buckets wider than max_bucket (boilerplate
    # shingles).  Pre-aggregated over-cap bucket list + broadcast
    # anti-join, NOT a count window: a window over (band, band_key)
    # sorts every banded row inside the shuffle, while the hot-bucket
    # list is near-empty by construction (it EXISTS to catch rare
    # degenerate buckets) and anti-joins in map-side hash lookups.
    hot = (
        banded.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("__w"))
        .filter(F.col("__w") > max_bucket)
        .select("band", "band_key")
    )
    counted = banded.join(F.broadcast(hot), ["band", "band_key"], "left_anti")

    left = counted.select(F.col("id").alias("a"), "band", "band_key")
    right = counted.select(F.col("id").alias("b"), "band", "band_key")
    cand = (
        left.join(right, ["band", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )

    # Exact jaccard from shared-shingle counts: shingles are distinct per
    # doc, so |A ∩ B| = join-row count and |A ∪ B| = na + nb - shared.
    ex = hashed.select("id", "hx")
    shared = (
        cand.join(ex.select(F.col("id").alias("a"), "hx"), "a")
        .join(
            ex.select(F.col("id").alias("__bid"), F.col("hx").alias("hxb")),
            (F.col("b") == F.col("__bid")) & (F.col("hx") == F.col("hxb")),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # Inner path only: a candidate pair with ZERO shared shingles has
    # jaccard 0 and can never pass a positive threshold, so the old
    # cand-left-join + fill(0) leg (a second consumer of the expensive
    # banded self-join) is pure overhead.
    if jaccard_threshold <= 0:
        raise ValueError("jaccard_threshold must be > 0")
    sizes = sigs.select("id", F.col("__n").alias("n"))
    verified = (
        shared
        .join(sizes.select(F.col("id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash fingerprint: bit j is the sign of sum over tokens of
    (+1 if bit j of h(token) else -1). Pure higher-order expressions —
    per-row cost O(tokens*bits), no shuffle."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # One sum-aggregate per bit (j is a Python int so shiftright stays a
    # static expression); the oracle SQL mirrors this shape exactly.
    # Lambda arity matters to F.aggregate — build via factory, not defaults.
    def _bit_sum(j: int):
        return lambda acc, t: acc + F.when(
            F.shiftright(md5_hash60(t), j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1)).cast("long")

    bit_counts = [
        F.aggregate(toks, F.lit(0).cast("long"), _bit_sum(j)) for j in range(bits)
    ]
    fp = None
    for j, c in enumerate(bit_counts):
        term = F.when(c > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return df.select(F.col(id_col), fp.alias("simhash"))


def _shingle_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    max_df: int,
    parallelism: int | None,
    materialize: bool,
) -> DataFrame:
    """Shared core of the set-overlap dedup family: (a, b, shared, na,
    nb) for every candidate pair — exact intersection and set sizes
    over the FULL shingle sets, candidates blocked by shared shingle
    under the ``max_df`` hot-shingle cap.  jaccard / containment are
    ratio projections over this frame.

    ``max_df`` is the hot-bucket guard (same role as ``max_bucket`` in
    minhash_lsh_pairs): a shingle shared by M docs yields M^2
    blocking-join rows, so one boilerplate phrase in a skewed corpus
    is quadratic — shingles with document frequency above the cap are
    excluded from CANDIDATE GENERATION only.  Verification still
    counts every shared shingle, so the ratios stay exact; the only
    loss is recall for pairs whose overlap is exclusively ultra-common
    shingles (which near-always means boilerplate, not duplication)."""
    # Block on a 64-bit hash of the shingle, not the string: ~8 bytes vs
    # ~50 through the shuffle. Shingles are distinct per doc, so the
    # self-join emits exactly one row per shared shingle. (A 64-bit
    # collision between two shingles of the same doc pair could perturb
    # one count; probability ~2^-64 per pair — ignored.)
    if parallelism and parallelism > 1:
        df = df.repartition(parallelism, F.col(id_col))
    exploded = exploded_shingles(df, text_col, id_col, shingle_k).select(
        "id", F.xxhash64("s").alias("h")
    )
    if materialize:
        # consumed by candidate generation, both verify joins, and sizes
        exploded = _materialize(exploded)
    # DF cap as a pre-aggregated hot-shingle list + broadcast anti-join
    # (see minhash_lsh_pairs: the count-window form sorts every row).
    hot = (
        exploded.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__w"))
        .filter(F.col("__w") > max_df)
        .select("h")
    )
    if materialize:
        # the anti-join below is inlined into BOTH sides of the
        # candidate self-join; without this cut each side re-runs the
        # full-corpus hot-shingle aggregate (2 scans + 2 exchanges for
        # one bounded list)
        hot = _materialize(hot)
    blocked = exploded.join(F.broadcast(hot), "h", "left_anti")
    # The ONLY intended broadcast in this operator is the bounded hot
    # list above.  Every other join is pinned to shuffle-hash: both the
    # candidate and verify sides grow with the corpus, and letting
    # AQE's size estimate pick a broadcast build turns a planner whim
    # into a driver OOM at scale (observed at sf3).
    cand = (
        blocked.alias("l")
        .join(blocked.alias("r").hint("shuffle_hash"), "h")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )
    # Exact |A ∩ B| from the UNCAPPED shingle sets, restricted to the
    # candidates (the minhash verify-stage shape, see minhash_lsh_pairs).
    shared = (
        cand.hint("shuffle_hash")
        .join(exploded.select(F.col("id").alias("a"), "h"), "a")
        .join(
            exploded.select(F.col("id").alias("__bid"), F.col("h").alias("hb")).hint(
                "shuffle_hash"
            ),
            (F.col("b") == F.col("__bid")) & (F.col("h") == F.col("hb")),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = exploded.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    if materialize:
        # consumed by the na AND nb attach joins — one doc-size
        # aggregate pass instead of two
        sizes = _materialize(sizes)
    return shared.join(
        sizes.select(F.col("id").alias("a"), F.col("n").alias("na")).hint(
            "shuffle_hash"
        ),
        "a",
    ).join(
        sizes.select(F.col("id").alias("b"), F.col("n").alias("nb")).hint(
            "shuffle_hash"
        ),
        "b",
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.5,
    max_df: int = 1000,
    parallelism: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked by shared shingle:
    the symmetric ratio over `_shingle_pair_counts` (see its docstring
    for the physical shape and the ``max_df`` cap semantics — jaccard
    values are exact, the cap bounds candidate generation only)."""
    counted = _shingle_pair_counts(
        df, text_col, id_col, shingle_k, max_df, parallelism, materialize
    )
    return (
        counted.withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.8,
    max_df: int = 1000,
    parallelism: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Directional n-gram CONTAINMENT near-dup pairs — the subset/quote
    detector symmetric Jaccard misses.

    C(A->B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|: a short doc
    quoted verbatim inside a long one has containment ~1.0 from the
    short side while its Jaccard is tiny (the union is dominated by the
    long doc).  Training-data curation uses this to drop documents
    subsumed by others (boilerplate-wrapped mirrors, quote farms,
    pages that embed a whole article) — the Broder (1997) "resemblance
    vs containment" distinction, public literature.

    Physical shape is `_shingle_pair_counts` (ngram_jaccard_pairs'),
    only the final ratio differs: both directions are emitted as
    columns and the pair survives if EITHER direction clears
    ``threshold``.  Containment values are exact — the cap bounds
    candidate generation only.
    """
    counted = _shingle_pair_counts(
        df, text_col, id_col, shingle_k, max_df, parallelism, materialize
    )
    c_ab = F.col("shared").cast("double") / F.col("na").cast("double")
    c_ba = F.col("shared").cast("double") / F.col("nb").cast("double")
    return counted.filter(F.greatest(c_ab, c_ba) >= threshold).select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        F.round(c_ab, 6).alias("containment_ab"),
        F.round(c_ba, 6).alias("containment_ba"),
    )


def edit_distance_join(
    df: DataFrame,
    key_col: str = "key",
    id_col: str = "doc_id",
    max_dist: int = 2,
    block_col: str | None = None,
    lengths: list[int] | None = None,
) -> DataFrame:
    """All pairs within levenshtein ``max_dist``, via pigeonhole
    segment blocking (the PassJoin family — Li/Deng/Feng, ICDE'11,
    public literature) instead of a coarse blocking key.

    Why: a blocking-key self-join (e.g. ``fuzzy_prefix_pairs``
    blocking on ``source``) is quadratic inside each block — fatal
    when the block key has low cardinality over a 100 TB corpus.
    Segment blocking is recall-complete with NO coarse key at all:
    split each key into ``k+1`` segments (k = max_dist); if
    ed(a, b) <= k then at most k segments are touched by an edit, so
    by pigeonhole at least one segment of ``a`` survives verbatim in
    ``b``, shifted by at most k positions (net insertions/deletions
    before it). So every true pair shares an exact (key_length,
    seg_idx, seg_text) bucket between a's segments and b's probe
    substrings — an equi-join, shuffled by segment text, never a
    block-wide cross product.

    Cost per row: k+1 segment rows; probe rows bounded by
    (2k+1 lengths) x (k+1 segs) x (<=2k+1 shifts) — linear in n with
    a k^3 constant, so keep keys SHORT (normalized prefixes, titles,
    codes — same contract as fuzzy_prefix_pairs / the reference's
    short-key joins). ``block_col`` (optional) further ANDs an exact
    block key into the bucket, e.g. a language or source column.

    Candidates are verified with exact ``levenshtein`` so the output
    is precision-exact; segment blocking only bounds candidate
    generation. Returns (a, b, dist) with a < b.

    NOTE — construction-time action: unless ``lengths`` is given, this
    function runs one Spark job AT DATAFRAME-CONSTRUCTION TIME (a
    distinct+collect over the key-length column — column-pruned, and
    bounded by the max key length this operator's short-key contract
    implies) to freeze the observed length set into the probe plan;
    probing absent lengths can never match but pays explode cost.
    Consequences: building (not executing) the plan scans the key
    column once, and a built plan reused after the input CHANGES would
    miss newly appearing lengths — rebuild the plan per batch (every
    caller in this repo does).  Callers that know their key-length
    set statically (fixed-width codes, ids) pass ``lengths=`` — it
    must be a SUPERSET of the observed key lengths (missing a length
    silently drops recall; extra lengths only cost probe explode) —
    and the construction stays fully lazy.
    """
    k = int(max_dist)
    k1 = k + 1
    blk = [block_col] if block_col else []
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(key_col).alias("__key"),
        F.length(key_col).alias("__len"),
        *blk,
    )
    # Segment i of a length-L key: chars [i*L div k1, (i+1)*L div k1).
    seg_expr = F.expr(
        f"""transform(sequence(0, {k}), i -> struct(
              i AS idx,
              substring(__key, (i * __len) div {k1} + 1,
                        ((i + 1) * __len) div {k1} - (i * __len) div {k1}) AS seg))"""
    )
    segs = base.select(
        F.col("__id").alias("a"),
        F.col("__key").alias("ka"),
        F.col("__len").alias("la"),
        *blk,
        F.explode(seg_expr).alias("s"),
    ).select("a", "ka", "la", *blk, F.col("s.idx").alias("idx"), F.col("s.seg").alias("seg"))
    # Probes: for every plausible partner length l and segment idx,
    # every substring of THIS key with segment-i-of-l's length,
    # starting within +-k of segment i's home position.
    # sequence() reverses when hi < lo, so guard with an empty array.
    #
    # Direction restriction (r12 optimization): probe only partners
    # with l <= __len.  PassJoin's pigeonhole guarantee is directional
    # -- if ed(x, y) <= k then y contains one of x's k+1 segments
    # verbatim within shift k -- so ONE direction per pair suffices for
    # recall: index every key's segments, and let the longer key of
    # each pair probe the shorter's length (equal lengths probe each
    # other both ways; the distinct collapses them).  The symmetric
    # l in [len-k, len+k] window generated both directions for every
    # pair: 2x the probe rows and 2x the join candidates for zero
    # recall gain.  Pair orientation is normalized AFTER the join
    # (least/greatest) instead of relying on seg-side id < probe-side
    # id, which one-directional generation no longer implies.
    # Only lengths that EXIST in the data are probed: the length is a
    # join key, so a probe at an absent partner length can never match
    # — it only pays explode + substring cost.  The distinct-length set
    # is bounded by the max key length (short-key contract of this
    # operator), so the driver collect is O(max_len) at any corpus
    # size.  With uniform-length keys (the fuzzy-prefix case: every
    # full-length doc yields exactly 16 chars) this cuts probe rows ~5x.
    lens = sorted(
        {int(x) for x in lengths}
        if lengths is not None
        else (
            r[0]
            for r in base.select("__len").distinct().collect()
            if r[0] is not None
        )
    )
    lens_arr = "CAST(array(" + ",".join(str(x) for x in lens) + ") AS array<int>)"
    probe_expr = F.expr(
        f"""flatten(transform(filter({lens_arr}, l -> l >= greatest(__len - {k}, 0) AND l <= __len), l ->
              flatten(transform(sequence(0, {k}), i ->
                CASE WHEN least((i * l) div {k1} + {k},
                              __len - (((i + 1) * l) div {k1} - (i * l) div {k1}))
                        >= greatest((i * l) div {k1} - {k}, 0)
                THEN transform(
                    sequence(greatest((i * l) div {k1} - {k}, 0),
                             least((i * l) div {k1} + {k},
                                   __len - (((i + 1) * l) div {k1} - (i * l) div {k1}))),
                    p -> struct(l AS l, i AS idx,
                                substring(__key, p + 1,
                                          ((i + 1) * l) div {k1} - (i * l) div {k1}) AS seg))
                ELSE array() END))))"""
    )
    probes = base.select(
        F.col("__id").alias("b"),
        F.col("__key").alias("kb"),
        *blk,
        F.explode(probe_expr).alias("p"),
    ).select(
        "b", "kb", *blk,
        F.col("p.l").alias("la"), F.col("p.idx").alias("idx"), F.col("p.seg").alias("seg"),
    )
    join_keys = ["la", "idx", "seg", *blk]
    # Verify BEFORE the distinct (r12 optimization): levenshtein on a
    # <=16-char pair is a few ns of codegen per candidate, while the
    # distinct is a shuffle -- filtering first means the exchange
    # carries only true pairs (585 rows vs 85k candidate rows at
    # sf0.1), and duplicate candidates (one per shared bucket) cost a
    # cheap recomputation instead of a wide shuffle row.  levenshtein
    # is symmetric, so the least/greatest normalization can follow it.
    return (
        segs.join(probes, join_keys)
        .filter(F.col("a") != F.col("b"))
        .withColumn("dist", F.levenshtein("ka", "kb"))
        .filter(F.col("dist") <= k)
        .select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            "dist",
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs an existing corpus index.
#
# At 100 TB you never re-dedup the whole corpus per crawl — you maintain
# an index and join each NEW batch against it.  Two tiers:
#   incremental_exact_dedup   content-hash anti-join (Catalyst injects a
#                             runtime bloom filter on the corpus side —
#                             spark.sql.optimizer.runtime.bloomFilter
#                             .enabled is on by default — so the scan of
#                             the new batch is bloom-prefiltered before
#                             the shuffle)
#   build_minhash_index /     persisted (bands, shingles, sizes) frames;
#   incremental_minhash_pairs candidates = new-bands ⋈ (index ∪ new)
#                             bands, so cost ∝ batch size + matched
#                             buckets, never corpus size


def incremental_exact_dedup(
    corpus: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows of ``new`` whose normalized content does not already occur
    in ``corpus`` (nor earlier in ``new`` itself — first id wins, the
    same keep rule as dedup_exact).

    One shuffle on an 8-byte hash for the anti-join; the corpus side
    aggregates to distinct hashes first (partial agg), and Spark's
    runtime bloom filter prunes new-batch partitions before the
    exchange.  Store the corpus as the running union of accepted
    batches' (content_hash) column to make this O(|new|) per step.
    """
    h = fingerprint(F.col(text_col)).alias("__fp")
    corpus_hashes = corpus.select(fingerprint(F.col(text_col)).alias("__fp")).distinct()
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    fresh_in_batch = (
        new.select(F.col(id_col), F.col(text_col), h)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
    return (
        fresh_in_batch.join(corpus_hashes, "__fp", "left_anti")
        .select(id_col, text_col, F.col("__fp").alias("content_hash"))
    )


def build_minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    parallelism: int | None = None,
) -> dict[str, DataFrame]:
    """The persistent minhash state for incremental near-dup: three
    frames keyed by doc id —

      bands     (id, band, band_key)   the LSH bucket postings
      shingles  (id, hx)               xxhash64 shingle set (exact-
                                       jaccard verification)
      sizes     (id, n)                distinct-shingle count

    Persist with ``save_minhash_index``; at scale, write ``bands``
    partitioned/bucketed by (band, band_key-hash) so the incremental
    candidate join co-locates, and ``shingles`` bucketed by id so the
    verify join does.  Storage is ~8 bytes per shingle — the same
    order as the text itself."""
    if parallelism and parallelism > 1:
        df = df.repartition(parallelism, F.col(id_col))
    rows_per_band = num_hashes // bands
    coeffs = minhash_coeffs(num_hashes)
    sh = exploded_shingles(df, text_col, id_col, shingle_k)
    hashed = sh.select(
        "id",
        (md5_hash60(F.col("s")) % MINHASH_P30).alias("hm"),
        F.xxhash64("s").alias("hx"),
    )
    hashed = _materialize(hashed)
    sigs = hashed.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("hm") + F.lit(b)) % MINHASH_P31).alias(f"__s{i}")
            for i, (a, b) in enumerate(coeffs)
        ],
        F.count(F.lit(1)).alias("n"),
    )
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"__s{b * rows_per_band + j}").cast("string")
                                for j in range(rows_per_band)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    return {
        "bands": banded,
        "shingles": hashed.select("id", "hx"),
        "sizes": sigs.select("id", "n"),
    }


def save_minhash_index(index: dict[str, DataFrame], path: str) -> None:
    for name, df in index.items():
        df.write.mode("overwrite").parquet(f"{path}/{name}")


def load_minhash_index(spark, path: str) -> dict[str, DataFrame]:
    return {name: spark.read.parquet(f"{path}/{name}") for name in ("bands", "shingles", "sizes")}


def merge_minhash_index(a: dict[str, DataFrame], b: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {name: a[name].unionByName(b[name]) for name in ("bands", "shingles", "sizes")}


def incremental_minhash_pairs(
    index: dict[str, DataFrame],
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 1000,
    parallelism: int | None = None,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Near-dup pairs touching the NEW batch: new×corpus and new×new,
    with the same banded-candidate + exact-jaccard semantics as
    minhash_lsh_pairs (pair output (doc_a < doc_b, jaccard)).

    Returns (pairs, new_index) — union the new index into the stored
    one (merge_minhash_index) once the batch is accepted.

    Cost model: the candidate join probes only the buckets the new
    batch lands in — the corpus ``bands`` frame is hit with an
    equi-join on (band, band_key) whose left side is tiny, so with the
    index bucketed on those keys this is a map-side join against the
    matched buckets, never a corpus scan.  The hot-bucket cap is
    computed over the COMBINED postings (a bucket that is degenerate
    corpus-wide must stay capped for every future batch, or each
    increment pays M joins against it)."""
    new_index = build_minhash_index(
        new_df, text_col, id_col, num_hashes, bands, shingle_k, parallelism
    )
    # Everything below is restricted to the buckets the NEW batch
    # touches (a semi-join the bucket-partitioned index layout prunes
    # to those buckets' files): postings, hot-bucket counts, and the
    # candidate join all cost O(matched buckets), not O(corpus) —
    # counting width over the full index per batch would quietly
    # reintroduce the corpus-scan this operator exists to avoid.
    touched = new_index["bands"].select("band", "band_key").distinct()
    all_bands = index["bands"].unionByName(new_index["bands"])
    relevant = all_bands.join(touched, ["band", "band_key"], "left_semi")
    hot = (
        relevant.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("__w"))
        .filter(F.col("__w") > max_bucket)
        .select("band", "band_key")
    )
    probe = new_index["bands"].join(F.broadcast(hot), ["band", "band_key"], "left_anti")
    post = relevant.join(F.broadcast(hot), ["band", "band_key"], "left_anti")
    cand = (
        probe.select(F.col("id").alias("x"), "band", "band_key")
        .join(post.select(F.col("id").alias("y"), "band", "band_key"), ["band", "band_key"])
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
    )
    ex = merge_minhash_index(index, new_index)
    shared = (
        cand.join(ex["shingles"].select(F.col("id").alias("a"), "hx"), "a")
        .join(
            ex["shingles"].select(F.col("id").alias("__bid"), F.col("hx").alias("hxb")),
            (F.col("b") == F.col("__bid")) & (F.col("hx") == F.col("hxb")),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    if jaccard_threshold <= 0:
        raise ValueError("jaccard_threshold must be > 0")
    sizes = ex["sizes"]
    pairs = (
        shared
        .join(sizes.select(F.col("id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
    return pairs, new_index


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    separator: str = "\n",
) -> DataFrame:
    """Corpus-wide line deduplication (the C4/FineWeb boilerplate pass):
    every distinct non-blank line keeps exactly ONE occurrence — the
    (min doc_id, min position) one — and every other occurrence is
    dropped; blank lines are structure and always survive.  Documents
    come back rebuilt in original line order with before/after counts.

    Shuffle shape at 100 TB: posexplode is narrow; the keeper choice is
    one partial-aggregated min-struct groupBy on the trimmed line; the
    keep/drop decision is an equi-join back on that line; the rebuild
    is one per-doc aggregation.  Three keyed shuffles, no window over
    the corpus, no pair space.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), re.escape(separator))).alias("pos", "line"),
    )
    norm = F.trim(F.col("line"))
    content = lines.where(norm != "").withColumn("__n", norm)
    keeper = content.groupBy("__n").agg(
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
        ).alias("k")
    )
    kept = (
        content.join(keeper, "__n")
        .where((F.col(id_col) == F.col("k.d")) & (F.col("pos") == F.col("k.p")))
        .select(id_col, "pos", "line")
    )
    survivors = kept.unionByName(
        lines.where(norm == "").select(id_col, "pos", "line")
    )
    rebuilt = survivors.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.getField("line"),
            ),
            separator,
        ).alias("text_dedup"),
        F.count("*").alias("n_lines_after"),
    )
    base = docs.select(
        id_col, F.size(F.split(F.col(text_col), re.escape(separator))).alias("n_lines_before")
    )
    return (
        base.join(rebuilt, id_col, "left")
        .fillna({"text_dedup": "", "n_lines_after": 0})
        .select(id_col, "n_lines_before", "n_lines_after", "text_dedup")
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003, the MOSS
    algorithm): hash every k-token gram, then keep the MINIMUM hash of
    each window of ``w`` consecutive gram hashes.  Guarantee: any two
    documents sharing a substring of >= w+k-1 tokens share at least one
    fingerprint, REGARDLESS of where the substring sits in each doc —
    the alignment-robustness that fixed-stride chunk hashing lacks.

    Returns (id, fp) distinct rows.

    r12: the whole pipeline is a ZERO-shuffle map-side projection
    (the exploded_shingles treatment): gram hashes as a per-doc array
    (tokenization let-bound, split runs once), the rolling min as
    array_min over slices, per-doc distinct via array_distinct —
    replacing the former posexplode + per-doc token sort window +
    rolling-min window + count window + global distinct (one
    token-level shuffle plus a distinct exchange).  Values and the
    position cutoff (windows that would run past the last gram are
    excluded: fingerprints at gram positions 0..m-w) are identical by
    construction.
    """

    def fps_of(toks: Column) -> Column:
        n = F.size(toks)
        gram_hashes = F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: md5_hash60(F.concat_ws(" ", F.slice(toks, i + 1, k)))
            % MINHASH_P30,
        )
        empty = F.expr("CAST(array() AS ARRAY<BIGINT>)")

        def mins_of(hs: Column) -> Column:
            m = F.size(hs)
            rolled = F.transform(
                F.sequence(F.lit(0), m - w),
                lambda i: F.array_min(F.slice(hs, i + 1, w)),
            )
            return F.array_distinct(F.when(m < w, empty).otherwise(rolled))

        return F.when(n < k, empty).otherwise(_let(gram_hashes, mins_of))

    toks_col = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(_let(toks_col, fps_of)).alias("fp"),
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_len: int = 12,
    max_df: int = 1000,
    against: DataFrame | None = None,
) -> DataFrame:
    """EXACT duplicated token spans between document pairs — the
    ExactSubstr criterion of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better") at word granularity: every
    maximal run of >= ``min_len`` consecutive tokens appearing verbatim
    in both documents, WITH its position in each.  Where
    ``substring_dup_pairs`` (winnowing) answers "do these docs share a
    span?", this answers "which span, where, how long" — the shape the
    cut-the-span-out-of-one-copy dedup treatment needs.

    -> (doc_a, doc_b, start_a, start_b, span_len), doc_a < doc_b,
    positions 0-based token offsets.

    Plan (no suffix array needed — the paper's suffix-array machinery
    is for sub-token granularity over one giant concatenation; at word
    granularity the same maximal spans fall out of pure relational
    algebra):
      1. one posexplode+lead pass hashes every k-gram with its POSITION
         (the winnow_fingerprints gram stage, minus the rolling min);
      2. gram matches from a position-carrying equi-join on the hash,
         under the usual ``max_df`` document-frequency cap (a gram in M
         docs is M^2 join rows — boilerplate never generates spans
         worth keeping anyway);
      3. a shared span of L tokens == a run of L-k+1 consecutive
         matches at CONSTANT alignment diff = pos_a - pos_b, so runs
         consolidate with gaps-and-islands (pa - row_number() per
         (pair, diff) group) and one groupBy emits each maximal span
         exactly once: span_len = run_count + k - 1.

    ``against``: a second corpus (same schema) switches to CROSS-corpus
    mode — doc_a comes from ``against`` (the reference/benchmark side),
    doc_b from ``docs`` — which is the decontamination form: feed the
    result to ``remove_duplicate_spans`` to cut benchmark-overlapping
    spans out of the training corpus while the benchmark stays intact.

    100 TB shape: the gram pass shuffles per doc id (window state
    bounded by the longest doc); the match join shuffles on the gram
    hash with the hot keys capped; the island window partitions by
    (doc_a, doc_b, diff) — bounded by a single pair's overlap, never
    the corpus.  No cartesian products, no driver state.
    """
    if min_len < k:
        raise ValueError(f"min_len ({min_len}) must be >= k ({k})")

    def _grams(frame: DataFrame) -> DataFrame:
        # r12: array-based gram builder — a zero-shuffle map-side
        # projection (the exploded_shingles treatment): the former
        # posexplode + per-doc ordered window with k-1 leads shuffled
        # and sorted every TOKEN of the corpus just to pair adjacent
        # words.  Tokenization is let-bound so the regex split runs
        # once per row; positions and the short-doc cutoff (< k tokens
        # -> no grams) are identical to the window form by
        # construction.
        def build(toks: Column) -> Column:
            n = F.size(toks)
            grams_arr = F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    F.concat_ws(" ", F.slice(toks, i + 1, k)).alias("g"),
                ),
            )
            empty = F.expr("CAST(array() AS ARRAY<STRUCT<pos:INT, g:STRING>>)")
            return F.when(n < k, empty).otherwise(grams_arr)

        toks_col = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ex = frame.select(
            F.col(id_col).alias("id"),
            F.explode(_let(toks_col, build)).alias("pg"),
        )
        return ex.select(
            "id",
            F.col("pg.pos").alias("pos"),
            md5_hash60(F.col("pg.g")).alias("h"),
        )

    grams = _grams(docs)
    # grams is consumed by the hot-gram aggregate AND the anti-join
    # that feeds BOTH match sides — without this cut the corpus gram
    # pass runs up to 4x (r12, guide §5; the narrow (id, pos, h) rows
    # spill if needed)
    grams = _materialize(grams)
    # boilerplate cap by document frequency on the (large) docs side —
    # in cross-corpus mode the `against` side is the small benchmark,
    # whose grams never blow the join up on their own
    hot = (
        grams.select("id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("h")
    )
    # bounded over-cap list, broadcast into BOTH match sides' anti-joins
    hot = _materialize(hot)
    cold = grams.join(F.broadcast(hot), "h", "left_anti")
    if against is not None:
        # cross-corpus: doc_a from `against` (the reference/benchmark
        # side that survives), doc_b from `docs` (the side
        # remove_duplicate_spans cuts); id spaces are distinct, so no
        # ordering filter — every cross match is a real pair
        a_side = _grams(against).join(F.broadcast(hot), "h", "left_anti")
        a = a_side.select(
            F.col("id").alias("doc_a"), F.col("pos").alias("pa"), "h"
        )
        b = cold.select(
            F.col("id").alias("doc_b"), F.col("pos").alias("pb"), "h"
        )
        m = a.join(b, "h").select(
            "doc_a", "doc_b", "pa", "pb",
            (F.col("pa") - F.col("pb")).alias("diff"),
        )
    else:
        a = cold.select(
            F.col("id").alias("doc_a"), F.col("pos").alias("pa"), "h"
        )
        b = cold.select(
            F.col("id").alias("doc_b"), F.col("pos").alias("pb"), "h"
        )
        m = (
            a.join(b, "h")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select(
                "doc_a", "doc_b", "pa", "pb",
                (F.col("pa") - F.col("pb")).alias("diff"),
            )
        )
    iw = Window.partitionBy("doc_a", "doc_b", "diff").orderBy("pa")
    return (
        m.withColumn("__isl", F.col("pa") - F.row_number().over(iw))
        .groupBy("doc_a", "doc_b", "diff", "__isl")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_len")
    )


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The TREATMENT side of exact-substring dedup (Lee et al. 2022:
    "remove one copy of each duplicated span"): given
    ``duplicate_spans`` output, cut every b-side span out of its
    document (doc_a < doc_b, so the EARLIEST copy survives — the
    keep-canonical convention the exact-dedup keeper uses too) and
    rebuild the text.

    -> every input row as (doc_id, text, removed_tokens):
    untouched docs pass through verbatim; cut docs are rebuilt from
    their original-case tokens minus the removed positions (positions
    are case-insensitive-match positions, but '\\s+' tokenization is
    case-independent, so they index the original tokens exactly;
    inter-token whitespace is normalized to single spaces in rebuilt
    docs — the same normalization every downstream tokenizer applies).

    Plan: spans' (start, end) ranges per victim doc are merged with the
    classic intervals window (running max of ``e`` over the sorted
    ranges; both windows partition by doc id), collected to a per-doc
    array (bounded by spans-per-doc, not the corpus), joined back on the
    doc id (AQE broadcasts the usually-tiny cut list and falls back to
    a shuffle join on pathological span volume), and the rebuild is one
    ``filter(tokens, (t, i) -> ...)`` —
    pure column algebra inside codegen, no explode of untouched docs.
    """
    ranges = spans.select(
        F.col("doc_b").alias("id"),
        F.col("start_b").cast("long").alias("s"),
        (F.col("start_b") + F.col("span_len")).cast("long").alias("e"),
    )
    w = Window.partitionBy("id").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        ranges.withColumn(
            "__new",
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
        )
        .withColumn(
            "__grp", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("id", "__grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    per_doc = merged.groupBy("id").agg(
        F.collect_list(F.struct("s", "e")).alias("__cuts")
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")

    def _kept(t, i):
        return ~F.exists(
            F.col("__cuts"), lambda c: (i >= c["s"]) & (i < c["e"])
        )

    joined = docs.join(per_doc, docs[id_col] == per_doc["id"], "left")
    kept_toks = F.filter(toks, _kept)
    return joined.select(
        F.col(id_col),
        F.when(F.col("__cuts").isNull(), F.col(text_col))
        .otherwise(F.concat_ws(" ", kept_toks))
        .alias(text_col),
        F.when(F.col("__cuts").isNull(), F.lit(0).cast("long"))
        .otherwise((F.size(toks) - F.size(kept_toks)).cast("long"))
        .alias("removed_tokens"),
    )


def substring_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    max_df: int = 1000,
) -> DataFrame:
    """Document pairs sharing at least ``min_shared`` winnowing
    fingerprints — i.e. likely sharing verbatim spans of >= w+k-1
    tokens (Lee et al. 2022's repeated-substring contamination, at the
    granularity fingerprints allow).  ``max_df`` drops fingerprints
    present in more than that many docs (boilerplate guard — the same
    skew cap as the shingle-blocked joins: a fingerprint shared by M
    docs would otherwise emit M² join rows).
    """
    # materialize: fps feeds THREE subtrees (the hot-fp broadcast
    # build and both sides of the self-join) — without the cut the
    # whole winnowing pipeline (tokenize + k-gram hash + rolling-min
    # window) runs 3x per action (r12 optimization).  The cut holds
    # only narrow (id, fp) rows.
    fps = _materialize(winnow_fingerprints(docs, text_col, id_col, k, w))
    hot = (
        fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("fp")
    )
    cold = fps.join(F.broadcast(hot), "fp", "left_anti")
    left = cold.select(F.col("id").alias("doc_a"), "fp")
    right = cold.select(F.col("id").alias("doc_b"), "fp")
    return (
        left.join(right, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def incremental_containment_dups(
    corpus: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """Batch-vs-corpus directional containment: for each NEW doc, the
    corpus docs that contain ≥ ``threshold`` of its shingles — the
    recrawl question "is this page substantially a quote/subset of
    something already crawled?", which exact and Jaccard incremental
    passes both miss (a wrapped excerpt has a new fingerprint and a
    low symmetric overlap).

    C(new→corpus) = |shingles(new) ∩ shingles(corpus)| / |shingles(new)|.

    Physical shape: only the BATCH side's full shingle sets matter for
    the denominator, and candidates come from a batch×corpus shingle
    equi-join under the corpus-frequency ``max_df`` cap (a boilerplate
    shingle shared by M corpus docs fans each batch shingle out M ways
    otherwise).  Per step the corpus is touched by one exploded
    projection — store it as the running (id, shingle-hash) index to
    make this O(|new| + matches).  Containment values are exact: the
    cap bounds candidate generation only, the shared counts use every
    shingle."""
    new_ex = exploded_shingles(new, text_col, id_col, shingle_k).select(
        F.col("id").alias("nid"), F.xxhash64("s").alias("h")
    )
    new_ex = _materialize(new_ex)
    corp_ex = exploded_shingles(corpus, text_col, id_col, shingle_k).select(
        F.col("id").alias("cid"), F.xxhash64("s").alias("h")
    )
    corp_ex = _materialize(corp_ex)
    hot = (
        corp_ex.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__w"))
        .filter(F.col("__w") > max_df)
        .select("h")
    )
    blocked_corp = corp_ex.join(F.broadcast(hot), "h", "left_anti")
    cand = (
        new_ex.join(blocked_corp.hint("shuffle_hash"), "h")
        .select("nid", "cid")
        .distinct()
    )
    shared = (
        cand.hint("shuffle_hash")
        .join(new_ex, "nid")
        .join(
            corp_ex.select(F.col("cid").alias("__c2"), F.col("h").alias("hc")).hint(
                "shuffle_hash"
            ),
            (F.col("cid") == F.col("__c2")) & (F.col("h") == F.col("hc")),
        )
        .groupBy("nid", "cid")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = new_ex.groupBy("nid").agg(F.count(F.lit(1)).alias("nn"))
    c = F.col("shared").cast("double") / F.col("nn").cast("double")
    return (
        shared.join(sizes.hint("shuffle_hash"), "nid")
        .filter(c >= threshold)
        .select(
            F.col("nid").alias("new_id"),
            F.col("cid").alias("corpus_id"),
            F.round(c, 6).alias("containment"),
        )
    )


def incremental_line_dedup(
    corpus: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    separator: str = "\n",
) -> DataFrame:
    """Corpus-maintained line dedup for a NEW batch: drop every
    non-blank line already present anywhere in ``corpus`` (trimmed
    match) or earlier in the batch itself (same (min id, min pos) keep
    rule as dedup_lines), rebuild the batch docs, and report
    before/after counts.  The ingest-time form of the C4 boilerplate
    pass: the corpus contributes only a distinct-line-hash projection
    (store it as a running index — one narrow column — to make each
    step O(|new|))."""
    lines = new.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), re.escape(separator))).alias("pos", "line"),
    )
    norm = F.trim(F.col("line"))
    content = lines.where(norm != "").withColumn("__n", norm)
    seen = (
        corpus.select(
            F.explode(F.split(F.col(text_col), re.escape(separator))).alias("line")
        )
        .select(F.trim(F.col("line")).alias("__n"))
        .where(F.col("__n") != "")
        .distinct()
    )
    fresh = content.join(seen, "__n", "left_anti")
    keeper = fresh.groupBy("__n").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("k")
    )
    kept = (
        fresh.join(keeper, "__n")
        .where((F.col(id_col) == F.col("k.d")) & (F.col("pos") == F.col("k.p")))
        .select(id_col, "pos", "line")
    )
    survivors = kept.unionByName(
        lines.where(norm == "").select(id_col, "pos", "line")
    )
    rebuilt = survivors.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.getField("line"),
            ),
            separator,
        ).alias("text_dedup"),
        F.count("*").alias("n_lines_after"),
    )
    base = new.select(
        id_col, F.size(F.split(F.col(text_col), re.escape(separator))).alias("n_lines_before")
    )
    return (
        base.join(rebuilt, id_col, "left")
        .fillna({"text_dedup": "", "n_lines_after": 0})
        .select(id_col, "n_lines_before", "n_lines_after", "text_dedup")
    )


def hamming_dup_pairs(
    fps: DataFrame,
    fp_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 3,
    max_bucket: int | None = 10000,
) -> DataFrame:
    """Near-dup pairs under a Hamming-distance bound over b-bit
    fingerprints (SimHash text sketches, image dHash/aHash) — the
    pigeonhole banding of Manku et al. 2007: split the fingerprint into
    ``max_hamming + 1`` bands, so any pair within the bound agrees on
    at least one band; candidates come from band equi-joins, then the
    exact distance verifies via bit_count(xor).  ``max_bucket`` drops
    degenerate bands (e.g. the all-zero band of blank images) before
    the self-join — the standard hot-key cap; pass ``None`` to disable
    it, which makes the operator RECALL-COMPLETE for any data (the
    oracle-parity mode — banding alone never misses a pair within the
    bound) at the cost of quadratic blow-up on degenerate bands.
    """
    bands = max_hamming + 1
    band_bits = -(-bits // bands)  # ceil
    mask = (1 << band_bits) - 1
    fp = F.col(fp_col)
    banded = fps.select(
        F.col(id_col).alias("id"),
        fp.alias("__fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(fp, b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "__fp", F.col("bk.band").alias("band"), F.col("bk.val").alias("val"))
    if max_bucket is None:
        cold = banded
    else:
        hot = (
            banded.groupBy("band", "val")
            .agg(F.count(F.lit(1)).alias("__w"))
            .filter(F.col("__w") > max_bucket)
            .select("band", "val")
        )
        cold = banded.join(F.broadcast(hot), ["band", "val"], "left_anti")
    left = cold.select(F.col("id").alias("id_a"), F.col("__fp").alias("fp_a"), "band", "val")
    right = cold.select(F.col("id").alias("id_b"), F.col("__fp").alias("fp_b"), "band", "val")
    return (
        left.join(right, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def incremental_hamming_dups(
    corpus_fps: DataFrame,
    new_fps: DataFrame,
    fp_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 3,
    max_bucket: int | None = 10000,
) -> DataFrame:
    """Hamming near-dup pairs for a NEW batch against a maintained
    fingerprint corpus — the incremental form of ``hamming_dup_pairs``
    for any banded b-bit sketch (SimHash text, image dHash, audio
    spectral contours).  Emits every pair within the bound that has at
    least one NEW side (new-vs-corpus and new-vs-new; corpus-vs-corpus
    pairs were the previous runs' output), canonicalized id_a < id_b —
    identical to filtering the full self-join's output, which is what
    the equivalence test asserts.

    Only the BATCH explodes into probe bands; the corpus contributes
    its (id, fp, band, val) rows build-side, so per-batch cost is
    batch x matched buckets, never corpus² — at 100 TB the corpus side
    is the persisted index (store the banded frame like
    ``build_minhash_index`` stores signature bands) and each arriving
    batch pays one band equi-join."""
    bands = max_hamming + 1
    band_bits = -(-bits // bands)
    mask = (1 << band_bits) - 1

    def banded(df: DataFrame) -> DataFrame:
        fp = F.col(fp_col)
        return df.select(
            F.col(id_col).alias("id"),
            fp.alias("__fp"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftrightunsigned(fp, b * band_bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("val"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select(
            "id", "__fp", F.col("bk.band").alias("band"), F.col("bk.val").alias("val")
        )

    # band the batch ONCE and reuse it on both sides (probe, and the
    # new-vs-new half of the build) — materialized because it has two
    # consumers and is batch-sized; without this the batch's
    # fingerprint scan + band explode runs twice per call
    new_banded = _materialize(banded(new_fps.select(id_col, fp_col)))
    build = banded(corpus_fps.select(id_col, fp_col)).unionByName(new_banded)
    probe = new_banded
    if max_bucket is not None:
        hot = (
            build.groupBy("band", "val")
            .agg(F.count(F.lit(1)).alias("__w"))
            .filter(F.col("__w") > max_bucket)
            .select("band", "val")
        )
        build = build.join(F.broadcast(hot), ["band", "val"], "left_anti")
        probe = new_banded.join(F.broadcast(hot), ["band", "val"], "left_anti")
    cand = (
        probe.select(F.col("id").alias("pa"), F.col("__fp").alias("fa"), "band", "val")
        .join(
            build.select(
                F.col("id").alias("pb"), F.col("__fp").alias("fb"), "band", "val"
            ),
            ["band", "val"],
        )
        .filter(F.col("pa") != F.col("pb"))
        .select(
            F.least("pa", "pb").alias("id_a"),
            F.greatest("pa", "pb").alias("id_b"),
            # fp follows its id through the canonicalization
            F.when(F.col("pa") < F.col("pb"), F.col("fa")).otherwise(F.col("fb")).alias("fp_a"),
            F.when(F.col("pa") < F.col("pb"), F.col("fb")).otherwise(F.col("fa")).alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def incremental_substring_dups(
    corpus: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    max_df: int = 1000,
) -> DataFrame:
    """Substring-dup pairs for a NEW batch against a maintained corpus:
    (new doc, matched doc) pairs where the match is any corpus doc OR an
    earlier batch doc sharing >= min_shared winnowing fingerprints.
    Store the corpus side as its (id, fp) fingerprint index — the
    running union of accepted batches' winnow_fingerprints output — so
    each step hashes only the batch and probes the index with one
    equi-join (never re-fingerprinting the corpus).
    """
    corpus_fps = winnow_fingerprints(corpus, text_col, id_col, k, w)
    return incremental_substring_dups_indexed(
        corpus_fps, new, text_col, id_col, k, w, min_shared, max_df
    )


def incremental_substring_dups_indexed(
    corpus_fps: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    max_df: int = 1000,
) -> DataFrame:
    """incremental_substring_dups against a MAINTAINED (id, fp) index —
    the shape the docstring above prescribes: each step hashes only the
    batch and probes the stored fingerprints with one equi-join,
    never re-fingerprinting the corpus.  ``corpus_fps`` is the running
    union of accepted batches' winnow_fingerprints output (the
    ``index update --kind winnow`` CLI maintains it)."""
    new_fps = winnow_fingerprints(new, text_col, id_col, k, w)
    hot = (
        corpus_fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("fp")
    )
    cold_new = new_fps.join(F.broadcast(hot), "fp", "left_anti")
    cold_corpus = corpus_fps.join(F.broadcast(hot), "fp", "left_anti")
    vs_corpus = (
        cold_new.select(F.col("id").alias("new_id"), "fp")
        .join(cold_corpus.select(F.col("id").alias("matched_id"), "fp"), "fp")
        .groupBy("new_id", "matched_id")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    # within-batch pairs orient later-doc -> earlier-doc so new_id is
    # always the droppable duplicate and matched_id its keeper
    within = substring_dup_pairs(
        new, text_col, id_col, k, w, min_shared, max_df
    ).select(
        F.col("doc_b").alias("new_id"),
        F.col("doc_a").alias("matched_id"),
        "shared_fps",
    )
    return (
        vs_corpus.unionByName(within)
        .filter(F.col("shared_fps") >= min_shared)
    )
