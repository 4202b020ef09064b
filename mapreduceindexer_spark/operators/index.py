"""The inverted-index pipeline — the reference engine's entire core, Spark-first.

Reference semantics (gabrieltintu/MapReduceIndexer, verified vs its golden
outputs):

- per-document distinct terms (term frequency discarded):
  ``src/functions.cpp:75,86`` — here ``dropDuplicates(['term','doc_id'])``,
  which Catalyst executes as a partial (map-side) + final hash aggregate,
  the exact analogue of the reference's per-file hash map followed by the
  mutex-guarded merge (``src/functions.cpp:110-128``). Spark's shuffle
  replaces the shared-state mutex entirely.
- postings: term → ascending set of doc IDs (``std::set``,
  ``src/functions.cpp:124``) — here ``sort_array(collect_set(doc_id))``.
- doc frequency = posting size (``src/functions.cpp:8-9,143``).
- letter partition: first char of the (all-[a-z]) term
  (``src/functions.cpp:114-118``).
- output ordering within a letter: df DESC, term ASC
  (``src/functions.cpp:7-12,142-143``).

Scale design (100 TB):

- The whole pipeline is shuffle-minimal: ONE exchange builds the postings
  (map-side partial ``collect_set`` dedups per-partition — the analogue of
  the reference's per-file hash map — so no separate distinct pass is
  needed), plus one optional exchange for letter-partitioned output and
  one more when ``salt_buckets`` splits the aggregation in two levels.
- **Stopword skew**: a term appearing in ~every document produces a posting
  list the size of the corpus, all routed to one reduce task.
  ``salt_buckets=N`` is the semantics-preserving mitigation — two-level
  aggregation: partial posting sets per (term, salt) land on N different
  tasks, then N pre-aggregated arrays (not millions of rows) merge per
  term. Cuts final-stage shuffle record count by ~|docs per term| / N and
  lets AQE balance the first stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduceindexer_spark.functions.text import tokens_normalized


def term_doc_pairs(docs: DataFrame) -> DataFrame:
    """documents → distinct (doc_id, term) pairs (operators D1 after T1/T2/F1)."""
    return tokens_normalized(docs).dropDuplicates(["term", "doc_id"])


def salted_partials(pairs: DataFrame, salt_buckets: int) -> DataFrame:
    """First level of the skew-safe two-level posting aggregation:
    partial posting sets per (term, salt). For a term in n documents the
    SECOND level receives min(salt_buckets, n) pre-aggregated arrays
    instead of n raw rows — the fan-in bound that makes a 100%-df
    stopword safe (pinned by tests/test_scale_stress.py)."""
    return pairs.groupBy(
        "term", F.pmod(F.hash("doc_id"), F.lit(salt_buckets)).alias("_salt")
    ).agg(F.collect_set("doc_id").alias("_partial"))


def _postings_rows(term_ids: DataFrame) -> DataFrame:
    """(term, doc_ids) → the postings row format (term, letter, doc_ids,
    df): letter is the term's first character, df the posting size."""
    return term_ids.select(
        "term",
        F.substring("term", 1, 1).alias("letter"),
        "doc_ids",
        F.size("doc_ids").cast("bigint").alias("df"),
    )


def build_postings(docs: DataFrame, *, salt_buckets: int | None = None) -> DataFrame:
    """documents → postings(term, letter, doc_ids ASC, df).

    ``salt_buckets``: skew mitigation, see module docstring. Output values
    are identical with and without it — verified by tests — so callers
    pick purely on scale grounds.
    """
    # No pre-distinct: collect_set dedups (term, doc_id) inside the
    # aggregation, and duplicates of a pair hash to the same salt bucket,
    # so a dropDuplicates first would only add a second exchange carrying
    # the same bytes. Map-side partial collect_set performs the dedup the
    # reference does per-file (src/functions.cpp:75,86) before any shuffle.
    pairs = tokens_normalized(docs)
    if salt_buckets:
        merged = salted_partials(pairs, salt_buckets).groupBy("term").agg(
            F.sort_array(
                F.array_distinct(F.flatten(F.collect_list("_partial")))
            ).alias("doc_ids")
        )
    else:
        merged = pairs.groupBy("term").agg(
            F.sort_array(F.collect_set("doc_id")).alias("doc_ids")
        )
    return _postings_rows(merged)


def merge_postings_colocated(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental index maintenance: merge a delta postings relation into
    a base one — a full-outer join on term, per-term array union.

    ``merge(build(A), build(B)) ≡ build(A ∪ B)`` for disjoint doc sets
    (posting sets union; df re-derives from the merged array), which is the
    whole contract of incremental indexing: ingest new documents by
    building postings over the delta only, then merge — never re-scan the
    base corpus. Pinned by ``q_postings_merge``'s oracle, which is the
    full-rebuild SQL.

    A join lets Spark use each side's bucketing, so when both sides are
    bucketed by ``term`` the merge plan has ZERO exchanges (pinned by
    tests/test_streaming.py for the streaming state path and
    tests/test_bucketing.py for batch). This is the 100 TB shape: the
    big maintained index is never re-shuffled to absorb a delta.

    The ``merge`` hint pins sort-merge: at test scale AQE would broadcast
    the tiny side (a broadcast EXCHANGE, and broadcast also ignores
    bucketing); production-size state plans SMJ on its own and the hint
    is a no-op.
    """
    b = base.select("term", F.col("doc_ids").alias("_ids_a"))
    d = delta.select("term", F.col("doc_ids").alias("_ids_b"))
    merged = b.hint("merge").join(d, "term", "full_outer").select(
        "term",
        F.when(F.col("_ids_a").isNull(), F.col("_ids_b"))
        .when(F.col("_ids_b").isNull(), F.col("_ids_a"))
        .otherwise(
            F.sort_array(F.array_distinct(F.concat("_ids_a", "_ids_b")))
        )
        .alias("doc_ids"),
    )
    return _postings_rows(merged)


def delete_from_postings(base: DataFrame, deleted_postings: DataFrame) -> DataFrame:
    """Incremental index DOWNDATE: remove a batch of deleted documents
    from a postings relation WITHOUT re-scanning the surviving corpus —
    the GDPR-erasure / retention-expiry shape. Contract (the oracle of
    ``q_postings_unmerge`` is the full rebuild over survivors):

        delete(build(A ∪ B), B) ≡ build(A)

    The touched-term set is derived from the DELETED documents' own
    text — build postings over the delete batch exactly as ingest would
    (``build_postings``), then one left join on term: untouched terms
    pass through with their arrays unread; touched terms get
    ``array_except`` (order-preserving on the already-sorted base
    arrays) and df re-derived; terms whose posting sets empty out drop
    from the index entirely. Cost is O(|index| passthrough + |terms in
    deleted docs| array work) with ONE shuffle on term — and zero
    exchanges when the maintained index and the delta are both
    bucketed by term, same as ``merge_postings_colocated`` (the
    ``merge`` hint pins SMJ for the same reason documented there).

    Reference parity: the reference (src/functions.cpp:146-162) only
    builds the index batch-fresh; downdate is what its pipeline would
    need the moment a source file is retracted.
    """
    delta = deleted_postings.select("term", F.col("doc_ids").alias("_gone"))
    joined = base.hint("merge").join(delta, "term", "left")
    return _postings_rows(
        joined.select(
            "term",
            F.when(F.col("_gone").isNull(), F.col("doc_ids"))
            .otherwise(F.array_except("doc_ids", "_gone"))
            .alias("doc_ids"),
        ).filter(F.size("doc_ids") > 0)
    )


def letter_histogram(postings: DataFrame) -> DataFrame:
    """letter → number of distinct terms (P1 as a query)."""
    return postings.groupBy("letter").agg(
        F.count("term").cast("bigint").alias("n_terms"),
        F.sum("df").cast("bigint").alias("sum_df"),
    )


def sorted_index(postings: DataFrame) -> DataFrame:
    """Rank terms within each letter by (df DESC, term ASC) — O1 as a query.

    ``row_number`` pins the reference's exact output order as checkable
    data (ties broken by term, so the rank is deterministic).
    """
    w = Window.partitionBy("letter").orderBy(F.desc("df"), F.asc("term"))
    return postings.select(
        "letter", "term", "df", F.row_number().over(w).cast("bigint").alias("rn")
    )


def index_lines(postings: DataFrame) -> DataFrame:
    """Format ``term:[id1 id2 … idK]`` output lines (S3's formatting step).

    Matches the reference's writer byte-for-byte
    (``src/functions.cpp:150-162``): ids ascending, single-space separated.
    """
    return postings.select(
        "letter",
        F.concat(
            F.col("term"),
            F.lit(":["),
            F.concat_ws(" ", F.transform("doc_ids", lambda d: d.cast("string"))),
            F.lit("]"),
        ).alias("line"),
        "df",
        "term",
    )
