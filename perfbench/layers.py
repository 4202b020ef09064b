"""Per-layer metrics of a traced run, computed from its spans.

Every metric is named ``<layer>.<what>`` after the engine module it
measures. ``MOVES`` records which end-to-end metric each one should move,
and on which workload, so a change to one layer can be traced to the
result it claims.

Unless noted, a metric is the median over the traced operations that
enter the layer of that operation's total (self time, or count) in the
layer. Set-up metrics (``session.start_s``, ``similarity.build_s``,
``similarity.edges``), and steps no operation runs, come from the traced
set-up instead.
"""

from __future__ import annotations

import statistics

from spans import Span, self_times

# metric -> (unit, end-to-end metric it should move, on which workloads)
MOVES = {
    "session.start_s": ("s", "setup_s", "all"),
    "sources.scan_s": ("s", "ops_s, op_p50_ms", "bulk_build"),
    "sources.input_mb": ("MB", "ops_s, op_p50_ms", "bulk_build"),
    "transact.commit_s": ("s", "ops_s", "ingest_update; setup_s on query_serve"),
    "transact.write_amp": ("ratio", "ops_s, index_bytes_ratio", "ingest_update"),
    "text.tokenize_s": ("s", "ops_s, op_p50_ms on bulk_build; op_tail_ms", "query_serve"),
    "text.tokens": ("count", "ops_s, op_p50_ms", "bulk_build"),
    "index.postings_s": ("s", "ops_s, op_p50_ms", "bulk_build"),
    "index.pairs": ("count", "ops_s, op_p50_ms", "bulk_build"),
    "index.terms": ("count", "ops_s, op_p50_ms", "bulk_build"),
    "index.shuffle_mb": ("MB", "ops_s, op_p50_ms", "bulk_build"),
    "index.merge_s": ("s", "ops_s", "ingest_update"),
    "index.downdate_s": ("s", "ops_s", "ingest_update"),
    "sink.write_s": ("s", "ops_s, op_p50_ms", "bulk_build"),
    "sink.bytes_out": ("bytes", "index_bytes_ratio", "bulk_build"),
    "dedup.signature_s": ("s", "ops_s", "ingest_update"),
    "dedup.probe_s": ("s", "ops_s", "ingest_update"),
    "dedup.candidate_pairs": ("count", "ops_s; dedup.recall", "ingest_update"),
    "dedup.useful_ratio": ("ratio", "ops_s; dedup.recall", "ingest_update"),
    "dedup.recall": ("ratio", "none (quality: planted duplicates flagged / planted)", "ingest_update"),
    "search.plan_ms": ("ms", "op_p50_ms, ops_s", "query_serve, ingest_update"),
    "search.exec_ms": ("ms", "op_p50_ms, ops_s", "query_serve, ingest_update"),
    "search.jobs_per_query": ("count", "op_p50_ms, ops_s", "query_serve, ingest_update"),
    "search.rows_read_per_result": ("ratio", "op_p50_ms", "query_serve"),
    "similarity.build_s": ("s", "setup_s", "query_serve"),
    "similarity.edges": ("count", "setup_s; similarity.recall", "query_serve"),
    "similarity.search_ms": ("ms", "op_tail_ms, ops_s", "query_serve"),
    "similarity.jobs_per_query": ("count", "op_tail_ms, ops_s", "query_serve"),
    "similarity.recall": ("ratio", "none (quality: ann recall@5 against exact cosine)", "query_serve"),
    "spark.sched_wait_ms": ("ms", "op_tail_ms, ops_s", "query_serve"),
    "spark.gc_s": ("s", "op_tail_ms on query_serve; op_p50_ms", "bulk_build"),
    "spark.spill_mb": ("MB", "ops_s, op_p50_ms", "bulk_build"),
    "trace.overhead_ratio": ("ratio", "none (traced / untraced median op latency - 1)", "all"),
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(
    spans: list[Span],
    op_ids: set[str],
    setup_ids: set[str],
    session_s: float,
    overhead_ratio: float,
    quality: dict[str, float],
) -> dict[str, float]:
    """``op_ids``: trace ids of the traced timed operations;
    ``setup_ids``: trace ids of the traced set-up's spans; ``quality``:
    the recall figures the checks measured."""
    selfs = self_times(spans)
    per_op: dict[str, list[Span]] = {}
    for s in spans:
        per_op.setdefault(s.trace_id, []).append(s)
    ops = {t: per_op.get(t, []) for t in op_ids}
    setup = [s for t in setup_ids for s in per_op.get(t, [])]

    def per_op_sum(pred, value) -> list[float]:
        out = []
        for sp in ops.values():
            hit = [s for s in sp if pred(s)]
            if hit:
                out.append(sum(value(s) for s in hit))
        return out

    def self_s(name):
        """Per-operation median; a step that only the set-up runs (the
        base bulk build of ingest_update) reports its set-up total."""
        xs = per_op_sum(lambda s: s.name == name, lambda s: selfs[s.id])
        return _median(xs) if xs else sum(selfs[s.id] for s in setup if s.name == name)

    def self_layer_ms(layer):
        return 1000.0 * _median(per_op_sum(lambda s: s.layer == layer and not s.name.startswith("op."),
                                           lambda s: selfs[s.id]))

    def count(name, key):
        xs = per_op_sum(lambda s: s.name == name and key in s.counts, lambda s: s.counts[key])
        return _median(xs) if xs else sum(s.counts.get(key, 0) for s in setup if s.name == name)

    def spark_sum(pred, key, scale=1.0):
        return _median(per_op_sum(pred, lambda s: s.counts.get(key, 0) * scale))

    def total(name, key):
        return sum(s.counts.get(key, 0) for sp in ops.values() for s in sp if s.name == name)

    def ratio(num, den):
        return num / den if den else 0.0

    search = lambda s: s.layer == "search"  # noqa: E731
    similar = lambda s: s.layer == "similarity"  # noqa: E731
    index_ = lambda s: s.layer == "index"  # noqa: E731
    any_ = lambda s: True  # noqa: E731
    rows_per_result = per_op_sum(
        search,
        lambda s: s.counts.get("input_records", 0) + s.counts.get("shuffle_read_records", 0),
    )
    results = per_op_sum(lambda s: s.name == "search.exec", lambda s: s.counts.get("result_rows", 0))
    return {
        "session.start_s": session_s,
        "sources.scan_s": self_s("sources.scan"),
        "sources.input_mb": spark_sum(any_, "input_bytes", 1e-6),
        "transact.commit_s": self_s("transact.commit"),
        "transact.write_amp": ratio(total("transact.commit", "bytes_committed"),
                                    total("transact.commit", "text_bytes")),
        "text.tokenize_s": self_s("text.tokenize"),
        "text.tokens": count("text.tokenize", "tokens"),
        "index.postings_s": self_s("index.postings"),
        "index.pairs": count("op.build", "pairs") or count("op.ingest", "pairs"),
        "index.terms": count("index.postings", "terms"),
        "index.shuffle_mb": spark_sum(index_, "shuffle_write_bytes", 1e-6),
        "index.merge_s": self_s("index.merge"),
        "index.downdate_s": self_s("index.downdate"),
        "sink.write_s": self_s("sink.write"),
        "sink.bytes_out": count("sink.write", "bytes_out"),
        "dedup.signature_s": self_s("dedup.signature"),
        "dedup.probe_s": self_s("dedup.probe"),
        "dedup.candidate_pairs": count("op.ingest", "candidate_pairs"),
        "dedup.useful_ratio": ratio(total("op.ingest", "flagged"), total("op.ingest", "candidate_pairs")),
        "search.plan_ms": 1000.0 * self_s("search.plan"),
        "search.exec_ms": 1000.0 * self_s("search.exec"),
        "search.jobs_per_query": spark_sum(search, "jobs"),
        "search.rows_read_per_result": _median(
            r / max(1, n) for r, n in zip(rows_per_result, results)),
        "similarity.build_s": sum(selfs[s.id] for s in setup if s.name == "similarity.build"),
        "similarity.edges": sum(s.counts.get("edges", 0) for s in setup if s.name == "similarity.build"),
        "similarity.search_ms": self_layer_ms("similarity"),
        "similarity.jobs_per_query": spark_sum(similar, "jobs"),
        "spark.sched_wait_ms": spark_sum(any_, "sched_wait_ms"),
        "spark.gc_s": spark_sum(any_, "gc_ms", 1e-3),
        "spark.spill_mb": spark_sum(any_, "spill_bytes", 1e-6),
        "dedup.recall": quality.get("dedup.recall", 0.0),
        "similarity.recall": quality.get("similarity.recall", 0.0),
        "trace.overhead_ratio": overhead_ratio,
    }
