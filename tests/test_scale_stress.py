"""Scale-behavior tests: invariants that must hold as the corpus grows.

These don't measure speed (bench.py does); they pin the *algebra* that
makes scale-out safe — replicating the corpus transforms the index in a
fully predictable way, and extreme key skew changes nothing but timing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    from mapreduceindexer_spark.sources.tables import load_table

    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


def test_postings_of_replicated_corpus_are_derived_postings(spark, docs):
    """build(docs ∪ shift(docs, K)) must equal the 1× postings with every
    posting list unioned with its +K shift and df doubled — replication
    never changes which terms exist or their relative ranking."""
    from mapreduceindexer_spark.operators.index import build_postings

    k = 1_000_000
    shifted = docs.select((F.col("doc_id") + k).alias("doc_id"), "text")
    base = {r.term: list(r.doc_ids) for r in build_postings(docs, salt_buckets=16).collect()}
    got = {
        r.term: (list(r.doc_ids), r.df)
        for r in build_postings(docs.unionByName(shifted), salt_buckets=16).collect()
    }
    assert set(got) == set(base)
    for term, ids in base.items():
        want_ids = ids + [i + k for i in ids]
        assert got[term] == (want_ids, 2 * len(ids)), term


def test_postings_identical_across_parallelism(spark, docs):
    """The reference's determinism grid (same output for every (M,R) in
    {1,2,4}², checker.sh:141-247) translated to Spark: identical postings
    for any shuffle-partition count."""
    from mapreduceindexer_spark.operators.index import build_postings

    results = []
    original = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("1", "7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results.append(
                sorted(
                    (r.term, list(r.doc_ids), r.df)
                    for r in build_postings(docs, salt_buckets=4).collect()
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    assert results[0] == results[1] == results[2]


def test_lsh_finds_every_exact_replica(spark, docs):
    """Identical documents have identical shingle sets, hence identical
    minhash signatures in every band — LSH recall for exact replicas is
    exactly 1, not probabilistic. Replicate the corpus and require every
    (doc, replica) pair at jaccard 1.0."""
    from mapreduceindexer_spark.operators.dedup import near_duplicates

    k = 1_000_000
    both = docs.unionByName(
        docs.select((F.col("doc_id") + k).alias("doc_id"), "text")
    )
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in near_duplicates(both, threshold=0.99).collect()
    }
    doc_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    missing = [d for d in doc_ids if (d, d + k) not in pairs]
    assert not missing, f"{len(missing)} replica pairs missed: {missing[:5]}"
    assert all(abs(pairs[(d, d + k)] - 1.0) < 1e-9 for d in doc_ids)


def test_salted_aggregation_under_extreme_skew(spark):
    """A term present in EVERY document (the 100 TB stopword scenario,
    maximally skewed) must aggregate correctly through the salted two-level
    path: one complete, ordered posting row."""
    from mapreduceindexer_spark.operators.index import build_postings

    n = 20_000
    # Unique term must survive normalization ([^A-Za-z] stripped), so spell
    # the doc number in letters.
    docs = spark.range(1, n + 1).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(
            F.lit("common unique"),
            F.translate(F.col("id").cast("string"), "0123456789", "abcdefghij"),
        ).alias("text"),
    )
    postings = build_postings(docs, salt_buckets=16)
    hot = postings.filter(F.col("term") == "common").collect()
    assert len(hot) == 1
    assert hot[0].df == n
    assert list(hot[0].doc_ids) == list(range(1, n + 1))
    # Distinct-term count is intact: one hot term + n unique terms.
    assert postings.count() == n + 1


def test_salting_bounds_hot_term_fanin_at_500k(spark):
    """The "and" pathology at load: one term in 100% of 500 k documents
    (the reference's own corpus has "and" in 343/355 docs —
    checker/test_out/a.txt line 1; at 100 TB that is a posting list the
    size of the corpus routed to ONE reduce task when unsalted).

    Two pins on the REAL salted path (not a reconstruction):

    1. Fan-in bound — the second-level aggregate receives exactly
       min(salt_buckets, n) pre-aggregated arrays for the hot term
       (operators/index.salted_partials, the first level build_postings
       uses), so no single task ever sees the hot term's n raw rows.
    2. Exactness at load — the full 500 k salted build returns the hot
       term as one complete, ordered row. (Wall-clock salted-vs-unsalted
       numbers live in PLANS.md; timing assertions don't belong in CI.)
    """
    from mapreduceindexer_spark.operators.index import (
        build_postings,
        salted_partials,
        term_doc_pairs,
    )

    n = 500_000
    docs = spark.range(1, n + 1).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(
            F.lit("and unique"),
            F.translate(F.col("id").cast("string"), "0123456789", "abcdefghij"),
        ).alias("text"),
    )
    # Pin 1: structural fan-in bound for the hot term.
    partials = salted_partials(term_doc_pairs(docs), 16)
    hot_partials = partials.filter(F.col("term") == "and")
    assert hot_partials.count() == 16
    # Every partial array is a bounded slice, not the whole posting list.
    max_slice = hot_partials.select(
        F.max(F.size("_partial")).alias("m")
    ).collect()[0].m
    assert max_slice < n, max_slice
    assert max_slice >= n // 16 // 2  # roughly balanced, not degenerate
    # Pin 2: end-to-end exactness through the salted build at 500 k.
    hot = build_postings(docs, salt_buckets=16).filter(
        F.col("term") == "and"
    ).collect()
    assert len(hot) == 1
    assert hot[0].df == n
    assert list(hot[0].doc_ids) == list(range(1, n + 1))


def test_lsh_bucket_guard_bounds_degenerate_corpus(spark):
    """1k IDENTICAL documents collapse into one (band, sig) bucket per
    band; without the guard that is ~500k candidate pairs per band. The
    star-pattern guard must (a) bound candidates to O(n), (b) still link
    every document to the cluster via the verify stage at jaccard 1.0."""
    from mapreduceindexer_spark.operators.dedup import (
        doc_shingles,
        lsh_band_signatures,
        lsh_candidates,
        minhash_signatures,
        near_duplicates,
    )

    n = 1000
    docs = spark.range(n).select(
        F.col("id").cast("int").alias("doc_id"),
        F.lit("the same exact document body repeated verbatim everywhere").alias(
            "text"
        ),
    )
    sigs = lsh_band_signatures(minhash_signatures(doc_shingles(docs, k=3), 16), 2)
    cands = lsh_candidates(sigs, max_bucket=64)
    n_cands = cands.count()
    # Star pattern: n-1 pairs total (same min doc in every band, distinct-ed),
    # vs n*(n-1)/2 = 499500 unguarded.
    assert n_cands == n - 1, n_cands
    # End-to-end: every doc still joins doc 0's duplicate cluster.
    pairs = near_duplicates(docs, threshold=0.99).collect()
    assert len(pairs) == n - 1
    assert all(r.doc_a == 0 and abs(r.jaccard - 1.0) < 1e-9 for r in pairs)


def test_lsh_bucket_guard_inactive_below_cap(spark):
    """Buckets at or below max_bucket keep exact all-pairs generation —
    the guard must not change results for sane corpora (oracle parity)."""
    from mapreduceindexer_spark.operators.dedup import (
        doc_shingles,
        lsh_band_signatures,
        lsh_candidates,
        minhash_signatures,
    )

    n = 10
    docs = spark.range(n).select(
        F.col("id").cast("int").alias("doc_id"),
        F.lit("identical tiny cluster body for the guard boundary test").alias(
            "text"
        ),
    )
    sigs = lsh_band_signatures(minhash_signatures(doc_shingles(docs, k=3), 16), 2)
    got = sorted(
        (r.doc_a, r.doc_b) for r in lsh_candidates(sigs, max_bucket=64).collect()
    )
    want = sorted((a, b) for a in range(n) for b in range(a + 1, n))
    assert got == want


def test_prefix_filter_bounds_common_shingle_corpus(spark):
    """A shingle shared by 100% of documents must NOT explode the exact
    tier-2 Jaccard join: under the df-ascending prefix order the
    universal shingle is the last in every document's ranking, so it
    lands in almost no prefixes. 500 otherwise-disjoint docs sharing one
    universal shingle → the naive shared-shingle join builds
    C(500,2) = 124 750 candidate rows; the prefix filter must build ZERO
    (no pair can reach the threshold, and the only shared shingle is
    df-maximal). Prefix pruning power is ceil(θ·n_sh)−1 shingles per
    doc, so docs carry 10 shingles here (θ=0.2 → exactly the one
    universal shingle is pruned); real documents have hundreds of
    shingles and shed their ~θ-fraction most common — precisely the
    explosive ones."""
    from mapreduceindexer_spark.operators.dedup import (
        doc_shingles,
        jaccard_pairs,
        prefix_filter_candidates,
    )

    n = 500
    # Each doc: the shared phrase "the quick fox" + 9 unique tokens →
    # 10 shingles, exactly one of which (the shared phrase) has df = n.
    uniq = F.translate(F.col("id").cast("string"), "0123456789", "abcdefghij")
    parts = [F.lit("the quick fox")]
    for suffix in "abcdefghi":
        parts += [F.lit(" "), uniq, F.lit(suffix)]
    docs = spark.range(n).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(*parts).alias("text"),
    )
    sh = doc_shingles(docs, 3)
    assert sh.filter(F.col("doc_id") == 7).count() == 10
    assert prefix_filter_candidates(sh, 0.2).count() == 0
    assert jaccard_pairs(sh, 0.2).count() == 0


def test_prefix_filter_is_lossless_vs_brute_force(spark):
    """Prefix filtering must be a pure optimization: jaccard_pairs over a
    corpus WITH real near-duplicates returns exactly the brute-force
    all-pairs result (the registered oracle states the brute-force SQL,
    so this is also what keeps q_ngram_jaccard's oracle contract valid
    without mirroring the filter)."""
    from mapreduceindexer_spark.operators.dedup import doc_shingles, jaccard_pairs
    from mapreduceindexer_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    k = 1_000_000
    both = docs.unionByName(
        docs.select((F.col("doc_id") + k).alias("doc_id"), "text")
    )
    sh = doc_shingles(both, 3)
    got = sorted(tuple(r) for r in jaccard_pairs(sh, 0.3).collect())

    # Brute force: the pre-prefix-filter formulation, inline.
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    want = sorted(
        tuple(r)
        for r in inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.3)
        .select("doc_a", "doc_b", "jaccard")
        .collect()
    )
    assert got == want
    assert want, "fixture corpus must contain at least one qualifying pair"


def test_containment_scores_full_inclusion_as_one(spark):
    """A document fully embedded in a longer one must score containment
    1.0 on its side (and < 1.0 on the long side) — the asymmetric signal
    the metric exists for. Verify stage driven directly with an explicit
    pair (candidate recall for tiny-inside-huge is the documented LSH
    caveat, not what this pins)."""
    from mapreduceindexer_spark.operators.dedup import (
        containment_for_pairs,
        doc_shingles,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " eta theta iota kappa lambda mu nu xi"
    docs = spark.createDataFrame(
        [(0, short), (1, long)], "doc_id int, text string"
    )
    pairs = spark.createDataFrame([(0, 1)], "doc_a int, doc_b int")
    rows = containment_for_pairs(doc_shingles(docs, 3), pairs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert abs(r.cont_a - 1.0) < 1e-9          # all of A inside B
    assert r.cont_b < 1.0                      # B only partially covered


def test_lm_score_identical_across_parallelism(spark):
    """The scaled-integer probability contract must make the LM score
    bit-identical for any shuffle-partition count — no float accumulates
    across rows, so parallelism cannot perturb a single output value."""
    from mapreduceindexer_spark.operators.textstats import lm_score
    from mapreduceindexer_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    results = []
    original = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("1", "7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results.append(
                sorted(tuple(r) for r in lm_score(docs).collect())
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    assert results[0] == results[1] == results[2]


def test_substring_dedup_bounded_on_fully_duplicated_corpus(spark):
    """Pathological ExactSubstr load: thousands of IDENTICAL documents, so
    EVERY window is duplicated and every window hash is a maximal hot key.

    What must stay bounded: the corpus-wide shuffle carries (digest,
    count) pairs — the hot digest aggregates map-side, so the reduce task
    for a digest receives one partial count per upstream partition, never
    one row per occurrence. The join back is digest-equi (each window row
    matches exactly one digest row), linear in windows. Coverage must be
    exactly 100% for every document.
    """
    from mapreduceindexer_spark.operators.dedup import substring_duplicates

    n = 5000
    text = " ".join(f"w{i % 17}" for i in range(200))
    docs = (
        spark.range(n)
        .toDF("doc_id")
        .withColumn("text", F.lit(text))
        .repartition(32)
    )
    out = substring_duplicates(docs, w=20).collect()
    assert len(out) == n
    for r in out:
        assert r.n_tokens == 200
        assert r.n_windows == 181
        assert r.n_dup_windows == 181
        assert r.dup_tokens == 200
        assert r.dup_frac_ppm == 1_000_000


def test_salted_join_spreads_hot_key_and_preserves_answer(spark):
    """A key owning 75% of 200k fact rows must land on MANY reduce
    partitions after salting (a salt derived from the join key alone
    would reproduce the skew verbatim — the bug class this pins), and
    the salted aggregate must equal the plain join's."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators.relational import salted_join_agg

    n_fact, n_dim, buckets = 200_000, 1_000, 16
    fact = spark.range(n_fact).select(
        F.when(F.col("id") % 4 != 0, F.lit(7))
        .otherwise(F.pmod(F.col("id") * 2654435761, n_dim))
        .cast("bigint")
        .alias("fk"),
        (F.col("id") % 100).cast("double").alias("val"),
    )
    dim = spark.range(n_dim).select(
        F.col("id").cast("bigint").alias("dk"),
        F.pmod(F.col("id"), F.lit(5)).cast("int").alias("grp"),
    )
    salted_fact = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(buckets)).cast(
            "int"
        ),
    )
    hot_salts = (
        salted_fact.filter(F.col("fk") == 7).select("_salt").distinct().count()
    )
    # The hot rows here carry only 100 distinct contents (val = id%100),
    # so a bucket can stay empty by chance — require a wide spread, not
    # a perfect one. (A key-derived salt — the pinned bug — gives 1.)
    assert hot_salts >= buckets * 3 // 4, hot_salts

    plain = (
        fact.join(dim, fact["fk"] == dim["dk"])
        .groupBy("grp")
        .agg(F.count("*").alias("n"))
    )
    salted = salted_join_agg(
        fact, dim, fact_key="fk", dim_key="dk", group_col="grp",
        sum_col="val", buckets=buckets,
    )
    p = {r["grp"]: r["n"] for r in plain.collect()}
    s = {r["grp"]: r["n_rows"] for r in salted.collect()}
    assert p == s


def test_srp_bucket_guard_bounds_identical_vectors(spark):
    """Degenerate SRP corpus: N copies of (rolls of) near-identical
    vectors share sign patterns, so a fixed-width signature cannot split
    them. With max_bucket set, oversized buckets emit the star pattern
    (linear in bucket size); every member still reaches the verify stage
    through its hub edge."""
    from mapreduceindexer_spark.operators.similarity import srp_candidate_pairs

    n = 500
    base = [float((i * 7) % 13 - 6) for i in range(64)]
    rows = [(i, [x + 0.001 * (i % 3) for x in base], 0) for i in range(n)]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    guarded = srp_candidate_pairs(emb, n_bits=8, max_bucket=64)
    n_pairs = guarded.count()
    # One bucket of 500 -> star gives 499 edges; unguarded would emit
    # C(500,2) = 124,750. Allow a handful of sign flips from the jitter.
    assert n_pairs < 3 * n, n_pairs
    # Connectivity: every vector appears in at least one emitted pair.
    touched = (
        guarded.select(F.col("vec_a").alias("v"))
        .union(guarded.select(F.col("vec_b").alias("v")))
        .distinct()
        .count()
    )
    assert touched == n, touched


def test_srp_scaled_dial_tracks_corpus_size(spark):
    """The scaled SRP's per-band bit count is data-driven: r = min(16,
    ceil(log2 n)). Pin both the dial (via collision statistics — a 16-row
    corpus gets 4-bit bands, so random vectors MUST collide somewhere;
    candidate pairs dedupe across bands with n_bands_hit <= n_bands) and
    the star guard (a degenerate corpus of near-identical vectors stays
    linear, never C(n,2))."""
    import hashlib

    from mapreduceindexer_spark.operators.similarity import (
        srp_candidate_pairs_scaled,
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # Small corpus: 16 vectors -> r = 4 bits/band -> 2^4 buckets/band for
    # 16 vectors; E[pairs/band] = 16*15/2 / 16 = 7.5 — collisions certain
    # in practice, and the query must be non-vacuous.
    rows = [
        (i, [float(h60(f"sv:{i}:{j}") % 2001 - 1000) / 1000 for j in range(64)], 0)
        for i in range(16)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = srp_candidate_pairs_scaled(emb, n_bands=2, max_bits_per_band=16)
    got = out.collect()
    assert len(got) > 0
    assert all(1 <= r["n_bands_hit"] <= 2 for r in got)
    assert all(r["vec_a"] < r["vec_b"] for r in got)

    # Degenerate corpus: 300 near-identical vectors share every sign ->
    # one oversized bucket per band -> star pattern, linear in n.
    n = 300
    base = [float((i * 7) % 13 - 6) for i in range(64)]
    drows = [(i, [x + 0.001 * (i % 3) for x in base], 0) for i in range(n)]
    demb = spark.createDataFrame(
        drows, "vec_id bigint, embedding array<float>, label int"
    )
    guarded = srp_candidate_pairs_scaled(
        demb, n_bands=2, max_bits_per_band=16, max_bucket=64
    )
    n_pairs = guarded.count()
    assert n_pairs < 3 * n, n_pairs


def test_srp_guard_inactive_below_cap_matches_unguarded(spark):
    """On a healthy corpus (no bucket above the cap) the guard must be a
    no-op: identical pair set and cosines with and without it."""
    from mapreduceindexer_spark.operators.similarity import srp_candidate_pairs
    from mapreduceindexer_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plain = sorted(map(tuple, srp_candidate_pairs(emb, n_bits=8).collect()))
    guarded = sorted(
        map(tuple, srp_candidate_pairs(emb, n_bits=8, max_bucket=10**6).collect())
    )
    assert plain == guarded
