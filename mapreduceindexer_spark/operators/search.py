"""Boolean search over the inverted index (SURVEY §2.2).

The reference builds the index but ships no query executor — lookups are
what the output format is *for* (``/root/reference/README.md:14-16``). These
are the first-class Spark versions.

Scale design: every operator here works on the **distinct (term, doc_id)
pair** relation, not on materialized posting arrays. Filtering
``term IN (...)`` is a pushed-down predicate on the (letter-partitionable)
pairs table, and AND/OR/NOT become semi/anti joins and unions on ``doc_id``
— shapes that stay bounded per task no matter how long a stopword's posting
list gets. (``array_intersect`` on pre-built posting rows is the
small-scale shortcut; joins are the 100 TB path, so that is the default.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def docs_with_term(pairs: DataFrame, term: str) -> DataFrame:
    """doc_ids containing ``term`` (term lookup)."""
    return pairs.filter(F.col("term") == term).select("doc_id")


def bool_and(pairs: DataFrame, terms: Sequence[str]) -> DataFrame:
    """Documents containing ALL of ``terms`` (conjunctive query).

    Chain of left-semi joins: each term's doc set filters the running
    result; Catalyst turns these into shuffled or broadcast hash joins
    depending on runtime sizes (AQE).
    """
    result = docs_with_term(pairs, terms[0])
    for t in terms[1:]:
        result = result.join(docs_with_term(pairs, t), "doc_id", "left_semi")
    return result


def bool_or(pairs: DataFrame, terms: Sequence[str]) -> DataFrame:
    """Documents containing ANY of ``terms`` — one pass, no per-term union."""
    return (
        pairs.filter(F.col("term").isin(list(terms))).select("doc_id").distinct()
    )


def bool_not(pairs: DataFrame, include: str, exclude: str) -> DataFrame:
    """Documents containing ``include`` but not ``exclude`` (anti join)."""
    return docs_with_term(pairs, include).join(
        docs_with_term(pairs, exclude), "doc_id", "left_anti"
    )


def bm25_topk(
    docs: DataFrame,
    term: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranking for a single-term query — what the inverted index is
    FOR: (doc_id, tf, dl, score, rn) for the top-k documents.

    ``score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` with the
    Lucene-style ``idf = ln((N − df + 0.5)/(df + 0.5) + 1)``, built from
    the same per-doc stats and contribution expression as
    ``bm25_multi_topk``, so its scores equal ``bm25_multi_topk([term])``
    bit for bit. One tokenize pass over the corpus; all counts are exact
    integers, so scores are bit-identical across engines and
    partitionings.
    """
    per_doc, stats = _bm25_per_doc_stats(docs, [term])
    # Top-k FIRST via distributed TakeOrderedAndProject (each partition
    # surrenders at most k rows), THEN rank the k survivors — the global
    # row_number window only ever sees k rows, never the full match set
    # (a stopword probe at 100 TB would otherwise funnel every matching
    # document through one partition).
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.filter(F.col("tf0") > 0)
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.col("tf0").alias("tf"),
            "dl",
            F.round(_bm25_contrib(0, k1, b), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
    )


def phrase_search(docs: DataFrame, first: str, second: str) -> DataFrame:
    """Positional phrase search: documents where ``first`` is immediately
    followed by ``second`` — the positional-postings extension of the
    index (term, doc_id, pos), matched by a pos+1 self-join.

    Both sides filter to their term BEFORE the join, so the join input is
    two slim posting streams, not the full positional index.
    """
    from mapreduceindexer_spark.functions.text import normalized_token_array

    pos = docs.select(
        "doc_id", F.posexplode(normalized_token_array("text")).alias("pos", "term")
    )
    a = pos.filter(F.col("term") == first).select("doc_id", F.col("pos").alias("pos_a"))
    bdf = pos.filter(F.col("term") == second).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    return (
        a.join(bdf, "doc_id")
        .filter(F.col("pos_b") == F.col("pos_a") + 1)
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
    )


def top_terms(postings: DataFrame, k: int = 20) -> DataFrame:
    """Top-k terms by (df DESC, term ASC) — planned as TakeOrderedAndProject,
    so only k rows ever leave each partition."""
    return postings.select("term", "df").orderBy(F.desc("df"), F.asc("term")).limit(k)


def _bm25_per_doc_stats(docs: DataFrame, terms: Sequence[str]):
    """Shared BM25 preamble for every scorer here: ONE tokenize pass
    building (per_doc: doc_id, dl, tf{i}...) and the single-row (stats:
    n_docs, avgdl, df{i}...) relation. Shared so the scorers — whose
    contract is exact output EQUALITY — cannot drift."""
    from mapreduceindexer_spark.functions.text import tokens_normalized

    aggs = [F.count("*").cast("bigint").alias("dl")]
    for i, t in enumerate(terms):
        aggs.append(
            F.count(F.when(F.col("term") == t, True))
            .cast("bigint")
            .alias(f"tf{i}")
        )
    per_doc = tokens_normalized(docs).groupBy("doc_id").agg(*aggs)
    stat_aggs = [
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    ]
    for i in range(len(terms)):
        stat_aggs.append(
            F.count(F.when(F.col(f"tf{i}") > 0, True)).alias(f"df{i}")
        )
    stats = docs.agg(F.count("*").alias("n_docs")).crossJoin(
        per_doc.agg(*stat_aggs)
    )
    return per_doc, stats


def _bm25_contrib(i: int, k1: float, b: float) -> "F.Column":
    """Term i's BM25 contribution expression (identical AST in every
    scorer; the oracle replays the same grouping)."""
    idf = F.log(
        (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        + 1.0
    )
    denom = F.col(f"tf{i}") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    return idf * F.col(f"tf{i}") * (k1 + 1.0) / denom


def bm25_multi_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Multi-term BM25: per-document score summed over the query terms —
    the standard ranked disjunctive query.

    Same one-tokenize-pass shape as the single-term ranker: one per-doc
    aggregate produces dl and one conditional tf per query term (a query
    is a handful of terms — each is a cheap conditional count in the SAME
    aggregate, not a join); one tiny corpus-stats aggregate yields every
    df plus avgdl. The per-term score contributions are combined in a
    fixed expression order, so the sum is bit-deterministic. Top-k via
    TakeOrderedAndProject, then the k survivors are ranked.
    """
    per_doc, stats = _bm25_per_doc_stats(docs, terms)
    scored = per_doc.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(terms)):
        score = score + _bm25_contrib(i, k1, b)
    scored = scored.filter(
        sum((F.col(f"tf{i}") > 0).cast("int") for i in range(len(terms))) > 0
    ).select("doc_id", "dl", F.round(score, 6).alias("score"))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
    )


def prefix_search(postings: DataFrame, prefix: str) -> DataFrame:
    """Prefix (wildcard ``prefix*``) dictionary lookup over the postings
    relation: every indexed term starting with ``prefix``, with its df.

    On the letter-partitioned postings layout the first-letter partition
    prunes the scan to one partition; within it the term dictionary is
    sorted, so at scale this is a range scan, not a full filter.
    """
    return (
        postings.filter(F.col("term").startswith(prefix))
        .select("term", "letter", "df")
    )


def bm25_pruned_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Bound-pruned exact BM25 top-k (the MaxScore family, Turtle &
    Flood IPM'95): score only the documents whose UPPER BOUND can still
    reach the top-k, instead of every matching document.

    Phases (all relational, all deterministic):

    1. per-term max contribution ``ub_i = max over docs of contrib_i``
       (in a real index this is stored at build time — here one extra
       aggregate over the per-doc relation);
    2. ``bound(doc) = Σ ub_i over the terms the doc contains`` — an
       upper bound on its true score since each contribution is
       maximized independently;
    3. provisional threshold: exact-score the k docs with the highest
       bounds; ``theta`` = their minimum exact score;
    4. final: exact-score ONLY docs with ``bound >= theta`` (any doc
       below cannot beat k docs that already score >= theta), top-k.

    Soundness survives the 6-decimal parity rounding because rounding
    is monotone: bound >= score implies round(bound) >= round(score).
    The result is IDENTICAL to full-scoring BM25 — and the oracle
    exploits that: it replays the phases AND the equality, so an
    unsound prune breaks the value hash, not just performance. At scale
    the win is phase 4's candidate count: ``n_scored`` rides the output
    as the audit column (stopword-heavy queries score a fraction of
    their posting union).
    """
    per_doc, stats = _bm25_per_doc_stats(docs, terms)

    enriched = per_doc.crossJoin(F.broadcast(stats))

    enriched = enriched.select(
        "doc_id",
        "dl",
        *[F.col(f"tf{i}") for i in range(len(terms))],
        *[_bm25_contrib(i, k1, b).alias(f"c{i}") for i in range(len(terms))],
    ).filter(
        sum((F.col(f"tf{i}") > 0).cast("int") for i in range(len(terms))) > 0
    ).localCheckpoint()  # bounds, theta, and final scoring all read it

    ubs = enriched.agg(
        *[F.max(f"c{i}").alias(f"ub{i}") for i in range(len(terms))]
    )
    bound = F.lit(0.0)
    score = F.lit(0.0)
    for i in range(len(terms)):
        bound = bound + F.when(F.col(f"tf{i}") > 0, F.col(f"ub{i}")).otherwise(
            0.0
        )
        score = score + F.col(f"c{i}")
    scored = enriched.crossJoin(F.broadcast(ubs)).select(
        "doc_id",
        "dl",
        F.round(bound, 6).alias("bound"),
        F.round(score, 6).alias("score"),
    ).localCheckpoint()

    theta = (
        scored.orderBy(F.desc("bound"), F.asc("doc_id"))
        .limit(k)
        .agg(F.min("score").alias("theta"))
    )
    candidates = scored.crossJoin(F.broadcast(theta)).filter(
        F.col("bound") >= F.col("theta")
    )
    n_scored = candidates.agg(
        F.count("*").cast("bigint").alias("n_scored")
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        candidates.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .crossJoin(F.broadcast(n_scored))
        .select(
            "doc_id",
            "dl",
            "score",
            "n_scored",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
    )
