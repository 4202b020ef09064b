"""Batch/stream parity: the streaming tumbling aggregation must reproduce
the batch (oracle-checked) result exactly over a bounded backlog."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_streaming_sliding_equals_batch(spark):
    from mapreduceindexer_spark.operators.events import sliding_hourly
    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.streaming import run_streaming_sliding

    batch = {
        r.window_start: (r.n, r.sum_value)
        for r in sliding_hourly(load_table(spark, SF_SMOKE, "events")).collect()
    }
    stream = {
        r.window_start: (r.n, r.sum_value)
        for r in run_streaming_sliding(spark, SF_SMOKE).collect()
    }
    assert batch == stream


def test_stateful_sessions_equal_batch(spark):
    """The applyInPandasWithState session machine, replayed over a 4-slice
    multi-microbatch backlog (state crosses batch boundaries), must emit
    exactly the batch session_window result."""
    from mapreduceindexer_spark.operators.events import user_sessions
    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.streaming.stateful import streaming_user_sessions

    batch = sorted(
        tuple(r)
        for r in user_sessions(load_table(spark, SF_SMOKE, "events"), "10 minutes")
        .select("user_id", "session_start", "n_events")
        .collect()
    )
    stream = sorted(tuple(r) for r in streaming_user_sessions(spark, SF_SMOKE).collect())
    assert batch == stream


def test_streaming_tumbling_equals_batch(spark):
    from mapreduceindexer_spark.operators.events import tumbling_hourly
    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.streaming import run_streaming_tumbling

    batch = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in tumbling_hourly(load_table(spark, SF_SMOKE, "events")).collect()
    }
    stream = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in run_streaming_tumbling(spark, SF_SMOKE).collect()
    }
    assert batch == stream


def test_streaming_dedup_restores_original_events(spark):
    """The doubled stream deduplicates back to exactly the original event
    set: one row per event_id, count equal to the batch table."""
    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.streaming.windows import run_streaming_dedup
    from tests.conftest import SF_SMOKE

    out = run_streaming_dedup(spark, SF_SMOKE)
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_stream_stream_attribution_equals_batch(spark):
    """The watermarked stream-stream join emits exactly the batch interval
    join's rows over the full backlog."""
    from mapreduceindexer_spark.operators.events import view_purchase_attribution
    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.streaming.joins import run_streaming_attribution
    from tests.conftest import SF_SMOKE

    batch = {
        tuple(r)
        for r in view_purchase_attribution(
            load_table(spark, SF_SMOKE, "events"), 30
        ).collect()
    }
    stream = {tuple(r) for r in run_streaming_attribution(spark, SF_SMOKE, 30).collect()}
    assert stream == batch
    assert batch, "fixture must produce at least one attributed pair"


def test_streaming_index_build_equals_batch_rebuild(spark):
    """The incremental streaming index (delta build + merge per
    microbatch) must equal the batch full rebuild exactly — the merge
    identity merge(build(A), build(B)) == build(A ∪ B) operationalized
    through foreachBatch versioned state.

    Also pins the 100 TB state contract on the ACTUAL stream path: every
    per-batch merge joins two bucketed-by-term tables (versioned state ⋈
    delta), so each captured merge plan must be a sort-merge join with
    ZERO exchanges — the maintained index is never re-shuffled to absorb
    a delta."""
    from mapreduceindexer_spark.operators.index import build_postings
    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.streaming.index_stream import streaming_index_build

    sf = SF_SMOKE
    merge_plans: list[str] = []
    result = streaming_index_build(spark, sf, n_slices=3, merge_plans=merge_plans)
    got = {
        r.term: (r.letter, list(r.doc_ids), r.df) for r in result.collect()
    }
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    want = {
        r.term: (r.letter, list(r.doc_ids), r.df)
        for r in build_postings(docs, salt_buckets=4).collect()
    }
    assert got == want
    # 3 slices → batches 1 and 2 each perform one co-located merge.
    assert len(merge_plans) == 2, merge_plans
    for plan in merge_plans:
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    # The returned relation is table-backed (no driver materialization):
    # its plan must be a scan of the bucketed state table, not a
    # LocalTableScan of collected rows.
    final_plan = result._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in final_plan, final_plan


def test_twstate_totals_match_batch(spark):
    """The running-totals stateful kernel must equal the batch groupBy
    aggregate after the full backlog replay. Where google.protobuf (the
    TWS state client's wire protocol) is installed this drives
    transformWithStateInPandas (Spark 4 stateful API); where it isn't,
    the gate's error message is pinned and the IDENTICAL kernel
    (shared ``_accumulate_batch``) is driven end-to-end on
    ``applyInPandasWithState`` instead — the kernel is always tested,
    never skipped (round-7 verdict item 5)."""
    import pytest

    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.streaming import twstate

    if twstate.AVAILABLE:
        stream_df = twstate.streaming_user_totals(spark, SF_SMOKE)
    else:
        with pytest.raises(RuntimeError, match="google.protobuf"):
            twstate.streaming_user_totals(spark, SF_SMOKE)
        # The apws twin ON the RocksDB provider — exactly what the
        # registered q_tws_totals runs here (round-9 verdict item 4).
        stream_df = twstate.streaming_user_totals_apws(
            spark, SF_SMOKE, rocksdb=True
        )

    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events")
    # The batch twin of the kernel's DECIMAL discipline (round-11):
    # CAST(value AS DECIMAL(18,6)) * 1e6 → exact int64 per row, summed.
    # Spark's non-ANSI cast yields NULL for NaN/inf/overflow (|v| ≥
    # 1e12) and the sum skips NULLs — exactly where the kernel drops
    # non-finite/overflow values, so no explicit filter is needed.
    scaled = (
        F.col("value").cast("decimal(18,6)")
        * F.lit(1_000_000).cast("decimal(7,0)")
    ).cast("bigint")
    batch = sorted(
        tuple(r)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(scaled).alias("sum_scaled"),
        )
        .collect()
    )
    stream = sorted(tuple(r) for r in stream_df.collect())
    assert batch == stream


def test_bundled_totals_match_batch(spark):
    """The STATE-BUNDLED kernel (bucket-keyed, per-user array state —
    the r12 fix for the per-key kernel's per-group-per-batch API tax)
    must produce the identical final totals as the batch aggregate and
    hence as the per-key kernels. n_buckets=7 forces multi-user
    buckets AND multi-bucket state; RocksDB provider as in
    production."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.streaming import twstate

    stream_df = twstate.streaming_user_totals_bundled(
        spark, SF_SMOKE, n_buckets=7, rocksdb=True
    )
    ev = load_table(spark, SF_SMOKE, "events")
    scaled = (
        F.col("value").cast("decimal(18,6)")
        * F.lit(1_000_000).cast("decimal(7,0)")
    ).cast("bigint")
    batch = sorted(
        tuple(r)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(scaled).alias("sum_scaled"),
        )
        .collect()
    )
    assert batch == sorted(tuple(r) for r in stream_df.collect())


def test_streaming_hll_registers_equal_batch(spark):
    """Streaming HLL maintenance: the flushed register state after the
    multi-microbatch replay equals the batch-built register relation
    BIT-FOR-BIT (same hash/bucket/rho expressions shared by
    construction; what's verified is the cross-batch state max)."""
    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.streaming.sketch_stream import (
        hll_registers_batch,
        streaming_hll_registers,
    )
    from tests.conftest import SF_SMOKE

    stream = sorted(
        map(tuple, streaming_hll_registers(spark, SF_SMOKE).collect())
    )
    batch = sorted(
        map(
            tuple,
            hll_registers_batch(
                load_table(spark, SF_SMOKE, "events").select(
                    "event_type", "user_id"
                )
            ).collect(),
        )
    )
    assert stream == batch and len(stream) > 0


def test_streaming_cdc_apply_equals_batch_latest(spark):
    """CDC replay through the transactional table == batch latest-wins."""
    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.streaming.cdc_stream import (
        latest_per_user,
        streaming_cdc_apply,
    )
    from tests.conftest import SF_SMOKE

    s = sorted(map(tuple, streaming_cdc_apply(spark, SF_SMOKE).collect()))
    b = sorted(
        map(
            tuple,
            latest_per_user(load_table(spark, SF_SMOKE, "events")).collect(),
        )
    )
    assert s == b and len(s) > 0


def test_streaming_knn_graph_equals_batch(spark):
    """Incremental ANN-index maintenance == cold batch build: after the
    sliced replay, the maintained edge relation must be bit-identical
    to knn_graph over the full corpus (same assignment, same rounded
    cosines, same tie-breaks) — the touched-cells-only delta recompute
    may never diverge from the rebuild."""
    from mapreduceindexer_spark.operators.similarity import knn_graph
    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.streaming.ann_stream import streaming_knn_graph
    from tests.conftest import SF_SMOKE

    s = sorted(map(tuple, streaming_knn_graph(spark, SF_SMOKE).collect()))
    b = sorted(
        map(
            tuple,
            knn_graph(
                load_table(spark, SF_SMOKE, "embeddings"), k=3, n_centroids=8
            ).collect(),
        )
    )
    assert s == b and len(s) > 0


def test_streaming_hnsw_index_equals_cold_build_and_serves(spark, tmp_path):
    """Full-hierarchy HNSW maintenance == cold build: after the sliced
    replay (L0 delta-driven, hub layers rebuilt per batch from the
    members state), the payload-joined edge relation must be
    bit-identical to hnsw_graph_edges over the full corpus. The
    composition contract on top: persisting the streamed index through
    the serving table and walking external queries over it must equal
    the staged-relation walk over the cold edges — streaming ingest ->
    incremental index -> transactional serving table, end to end."""
    from mapreduceindexer_spark.operators import similarity as sim
    from mapreduceindexer_spark.sources.tables import load_table
    from mapreduceindexer_spark.sources.transact import TransactionalTable
    from mapreduceindexer_spark.streaming.ann_stream import streaming_hnsw_index
    from tests.conftest import SF_SMOKE

    def norm(rows):
        return sorted(
            (r["vec_id"], r["nbr_id"], tuple(r["nbr_vec"]), r["nbr_nrm"])
            for r in rows
        )

    table = TransactionalTable(str(tmp_path / "serving"))
    streamed = streaming_hnsw_index(spark, SF_SMOKE, serving_table=table)
    emb = load_table(spark, SF_SMOKE, "embeddings").localCheckpoint()
    cold = sim.hnsw_graph_edges(emb, k_edges=3, n_centroids=8, n_coarse=3)
    assert norm(streamed.collect()) == norm(cold.collect())
    assert len(streamed.columns) == 4

    qv = spark.createDataFrame(
        [(9000, [0.3, -0.1, 0.5, 0.2] * (len(emb.first()["embedding"]) // 4))],
        "probe_id: bigint, qv: array<float>",
    )
    want = sorted(
        tuple(r)
        for r in sim.ann_graph_search_vectors(
            emb, qv, k=4, ef=4, hops=5, edges=cold.localCheckpoint()
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in sim.ann_graph_search_vectors(
            emb, qv, k=4, ef=4, hops=5, edges=sim.graph_index_edges(spark, table)
        ).collect()
    )
    assert got == want and len(got) > 0


def test_ann_stream_retry_after_partial_commit_is_exact(spark, tmp_path):
    """Crash-window replay: if a batch's MEMBERS append landed but its
    EDGES overwrite did not, the retried batch must dedup its own rows
    out of the state it reads — otherwise duplicate vectors rank into
    the top-k and the maintained edges diverge from the batch rebuild
    (round-7 review finding, second pass)."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators.similarity import (
        assign_to_centroids,
        knn_graph,
    )
    from mapreduceindexer_spark.sources.transact import TransactionalTable
    from mapreduceindexer_spark.streaming.ann_stream import _apply_batch
    from tests.test_new_ops_edges import _clustered_embeddings

    emb = _clustered_embeddings(spark)
    b1 = emb.filter(F.col("vec_id") < 80)
    b2 = emb.filter(F.col("vec_id") >= 80)
    members = TransactionalTable(str(tmp_path / "members"))
    edges = TransactionalTable(str(tmp_path / "edges"))
    _apply_batch(members, edges, b1, 0, k=3, n_centroids=8)
    # Simulate the crash window for batch 1: members append lands
    # (exactly as _apply_batch would commit it), edges commit does not.
    cents = (
        members.read(spark)
        .filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
    )
    nm = b2.join(assign_to_centroids(b2, cents), "vec_id").select(
        "vec_id", "cell", "embedding"
    )
    members.commit(nm, mode="append", meta={"batch_id": 1})
    # The retried batch must produce edges identical to the cold build.
    _apply_batch(members, edges, b2, 1, k=3, n_centroids=8)
    got = sorted(
        map(
            tuple,
            edges.read(spark)
            .select("vec_id", "nbr_id", "cos_sim", "rn")
            .collect(),
        )
    )
    want = sorted(map(tuple, knn_graph(emb, k=3, n_centroids=8).collect()))
    assert got == want and len(got) > 0


def test_read_result_empty_table_returns_typed_empty(spark, tmp_path):
    """An empty drained backlog commits no version; read_result must
    return an empty DataFrame of the declared schema, not raise."""
    from mapreduceindexer_spark.sources.transact import TransactionalTable
    from mapreduceindexer_spark.streaming.table_sink import read_result

    t = TransactionalTable(str(tmp_path / "t"))
    df = read_result(t, spark, "a bigint, b string")
    assert df.columns == ["a", "b"] and df.count() == 0


def test_table_sink_batches_record_skipping_stats(spark, tmp_path):
    """stats_cols/bloom_cols flow through the streaming sink's per-batch
    commits, so a streaming-built table prunes ranged and point reads
    like a batch-built one; batch_id idempotence is unchanged."""
    from mapreduceindexer_spark.streaming.table_sink import (
        TransactionalTable,
        _append_batch,
    )

    t = TransactionalTable(str(tmp_path / "t"))
    _append_batch(t, spark.range(0, 5), 0, stats_cols=("id",), bloom_cols=("id",))
    _append_batch(t, spark.range(5, 9), 1, stats_cols=("id",))
    m = t._manifest(2)
    d1, d2 = m["dirs"]
    assert m["stats"][d1]["cols"]["id"] == [0, 4]
    assert "bloom" in m["stats"][d1]
    assert m["stats"][d2]["cols"]["id"] == [5, 8]
    kept, skipped = t.pruned_dirs("id", lo=6, hi=7)
    assert kept == [d2] and skipped == [d1]
    _append_batch(t, spark.range(99, 100), 1, stats_cols=("id",))
    assert t.current_version() == 2  # retried batch still no-ops


# -- table as a streaming SOURCE (sources/table_stream.py) --------------------


def _drain_table_stream(spark, table_path, sink, cp):
    from mapreduceindexer_spark.sources.table_stream import (
        register_table_stream_source,
    )

    register_table_stream_source(spark)
    q = (
        spark.readStream.format("mri_table")
        .option("path", table_path)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()
    return spark.read.parquet(sink)


def test_table_stream_and_change_feed_across_schema_evolution(
    spark, tmp_path
):
    """Round-9 verdict item: the table STREAMING source and the change
    feed must read straight across an add-only ALTER boundary —
    pre-evolution snapshots project NULL for the later-added column,
    and a consumer checkpointed BEFORE the ALTER resumes with the
    evolved schema (derived from the current manifest at restart) and
    receives exactly the delta, exactly once."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.sources.transact import TransactionalTable

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5).withColumn("x", F.col("id") * 2))
    sink1, cp1 = str(tmp_path / "sink1"), str(tmp_path / "cp1")
    got = _drain_table_stream(spark, t.path, sink1, cp1)
    assert sorted(got.columns) == ["id", "x"]
    # ALTER: the next append carries a NEW column y — metadata-only
    # evolution, no historic dir rewritten.
    t.commit(
        spark.range(5, 9)
        .withColumn("x", F.col("id") * 2)
        .withColumn("y", F.col("id") + 100),
        mode="append",
    )
    # The pre-ALTER checkpointed consumer resumes across the boundary:
    # exactly the delta arrives (9 rows total, no duplicates), carrying
    # the evolved schema; the sink now holds pre- and post-ALTER files,
    # so it is read with mergeSchema (a plain read would pick an
    # arbitrary footer — the mixed-schema sink is the consumer's own
    # migration concern, not the source's).
    _drain_table_stream(spark, t.path, sink1, cp1)
    merged = spark.read.option("mergeSchema", "true").parquet(sink1)
    assert sorted(merged.columns) == ["id", "x", "y"]
    rows = merged.collect()
    assert sorted(r["id"] for r in rows) == list(range(9))  # exactly once
    y1 = {r["id"]: r["y"] for r in rows}
    assert all(y1[i] is None for i in range(5))
    assert all(y1[i] == i + 100 for i in range(5, 9))
    # A FRESH consumer derives the evolved schema; the pre-evolution
    # dir's rows project NULL for y, the appended rows carry values.
    sink2, cp2 = str(tmp_path / "sink2"), str(tmp_path / "cp2")
    got2 = _drain_table_stream(spark, t.path, sink2, cp2)
    assert sorted(got2.columns) == ["id", "x", "y"]
    y_of = {r["id"]: r["y"] for r in got2.collect()}
    assert all(y_of[i] is None for i in range(5))
    assert all(y_of[i] == i + 100 for i in range(5, 9))
    # The change feed spans the same boundary with the same NULL
    # geometry (full history), and a delta-only read carries values.
    ch = {r["id"]: r["y"] for r in t.read_changes(spark, 0, 2).collect()}
    assert ch == y_of
    delta = t.read_changes(spark, 1, 2)
    assert sorted((r["id"], r["y"]) for r in delta.collect()) == [
        (i, i + 100) for i in range(5, 9)
    ]


def test_table_stream_restarts_read_only_the_delta(spark, tmp_path):
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.sources.transact import TransactionalTable

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5).withColumn("x", F.col("id") * 2))
    t.commit(spark.range(5, 9).withColumn("x", F.col("id") * 2), mode="append")
    sink, cp = str(tmp_path / "sink"), str(tmp_path / "cp")
    got = _drain_table_stream(spark, t.path, sink, cp)
    assert sorted(r["id"] for r in got.collect()) == list(range(9))
    # Restart from the checkpoint after two more appends: exactly the
    # delta arrives (offsets are durable table versions).
    t.commit(spark.range(9, 12).withColumn("x", F.col("id") * 2), mode="append")
    t.commit(spark.range(12, 14).withColumn("x", F.col("id") * 2), mode="append")
    got = _drain_table_stream(spark, t.path, sink, cp)
    assert sorted(r["id"] for r in got.collect()) == list(range(14))
    # Stream ≡ batch: the sink holds exactly the table's rows.
    assert sorted((r["id"], r["x"]) for r in got.collect()) == sorted(
        (r["id"], r["x"]) for r in t.read(spark).collect()
    )


def test_table_stream_rewrite_is_a_feed_boundary(spark, tmp_path):
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from mapreduceindexer_spark.sources.transact import TransactionalTable

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 6))
    sink, cp = str(tmp_path / "sink"), str(tmp_path / "cp")
    _drain_table_stream(spark, t.path, sink, cp)
    t.delete_where(spark, "id", lo=0, hi=1)
    with pytest.raises(StreamingQueryException, match="change feed|mode"):
        _drain_table_stream(spark, t.path, sink, cp)


def test_table_stream_pads_pre_evolution_files_with_null(spark, tmp_path):
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.sources.transact import TransactionalTable

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 3))
    t.commit(
        spark.range(3, 5).withColumn("w", F.lit("new")), mode="append"
    )
    sink, cp = str(tmp_path / "sink"), str(tmp_path / "cp")
    got = _drain_table_stream(spark, t.path, sink, cp)
    rows = {r["id"]: r["w"] for r in got.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: "new", 4: "new"}


# -- streaming ingest dedup (online LSH vs persisted state) --------------------


def test_ingest_stream_equals_sequential_replay(spark, tmp_path):
    """The streamed admitted set must equal driving the SAME per-batch
    kernel sequentially over the same slices — the transport/idempotence
    twin; the probe/verify kernel's values are oracle-checked by
    q_ingest_dedup."""
    import os

    from pyspark.sql import functions as F

    from mapreduceindexer_spark.sources.transact import TransactionalTable
    from mapreduceindexer_spark.streaming.ingest_stream import (
        _ingest_batch,
        streaming_ingest_dedup,
    )

    sf_dir = SF_SMOKE
    streamed = {
        r["doc_id"]
        for r in streaming_ingest_dedup(spark, sf_dir, n_slices=3).collect()
    }
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    state = TransactionalTable(str(tmp_path / "state"))
    rejects = TransactionalTable(str(tmp_path / "rejects"))
    for i in range(3):
        sl = docs.filter(F.col("doc_id") % 3 == i)
        _ingest_batch(state, rejects, sl, i, threshold=0.5)
    sequential = {
        r["doc_id"]
        for r in state.read(spark).select("doc_id").distinct().collect()
    }
    assert streamed == sequential
    # Replaying a batch must not change state (exactly-once).
    v = state.current_version()
    _ingest_batch(
        state, rejects, docs.filter(F.col("doc_id") % 3 == 2), 2, 0.5
    )
    assert state.current_version() == v
    # Audit property: every rejected doc names >= 1 match and is NOT
    # in the admitted set; admitted + rejected = all docs.
    rej = {r["doc_id"] for r in rejects.read(spark).select("doc_id").collect()}
    assert rej.isdisjoint(sequential)
    assert rej | sequential == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    assert (
        rejects.read(spark).filter("n_matches < 1 OR best_est < 0.5").count()
        == 0
    )


def test_table_stream_across_partition_spec_evolution(spark, tmp_path):
    """Partition-spec evolution is invisible to the table streaming
    source: a consumer checkpointed under the day spec resumes across
    the evolve-append (month spec) and receives exactly the new dirs'
    rows — the microbatch is a manifest dir-diff, and evolved appends
    are ordinary new dirs."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.sources.transact import TransactionalTable

    t = TransactionalTable(str(tmp_path / "t"))
    rows = spark.range(12).select(
        "id",
        F.date_add(
            F.lit("2024-01-10").cast("date"), (F.col("id") * 20).cast("int")
        ).alias("d"),
    )
    t.commit_partitioned(
        spark, rows.filter(F.col("id") < 6), "d", transform="day"
    )
    sink, cp = str(tmp_path / "sink"), str(tmp_path / "cp")
    got = _drain_table_stream(spark, t.path, sink, cp)
    assert sorted(r["id"] for r in got.collect()) == list(range(6))
    t.commit_partitioned(
        spark,
        rows.filter(F.col("id") >= 6),
        "d",
        mode="append",
        transform="month",
        evolve=True,
    )
    got2 = _drain_table_stream(spark, t.path, sink, cp)
    assert sorted(r["id"] for r in got2.collect()) == list(range(12))


def test_stream_into_partitioned_table_then_expire(spark, tmp_path):
    """The full streamed-table lifecycle: microbatches land as
    day-partitioned append-commits (hidden-partition layout, batch-id
    exactly-once), the streamed table prunes like a batch-built one,
    a replayed drain is a no-op, and retention expiry drops whole
    streamed days with zero data movement."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from mapreduceindexer_spark.sources.transact import TransactionalTable
    from mapreduceindexer_spark.streaming.table_sink import (
        run_stream_to_table,
    )

    rows = spark.range(12).select(
        "id",
        F.date_add(
            F.lit("2024-01-10").cast("date"), (F.col("id") % 4).cast("int")
        ).alias("d"),
    )
    backlog = str(tmp_path / "backlog")
    os.makedirs(backlog)
    for i in range(3):
        rows.filter(F.col("id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(backlog)
    src = (
        spark.readStream.schema("id bigint, d date")
        .option("maxFilesPerTrigger", "1")
        .parquet(backlog)
    )
    t = TransactionalTable(str(tmp_path / "t"))
    run_stream_to_table(
        src, t, output_mode="append", part_col="d", transform="day"
    )
    v = t.current_version()
    assert v >= 3  # one commit per non-empty microbatch
    m = t._manifest(v)
    assert m["meta"]["partitioned_by"] == "d"
    assert m["meta"]["partition_transform"] == "day"
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(12))
    # The streamed layout prunes: one day touches only that day's dirs.
    kept, skipped = t.pruned_dirs_part(
        "d", dt.date(2024, 1, 11), dt.date(2024, 1, 11)
    )
    assert kept and skipped
    got = sorted(r["id"] for r in t.read_pruned_part(
        spark, "d", dt.date(2024, 1, 11), dt.date(2024, 1, 11)
    ).collect())
    assert got == [i for i in range(12) if i % 4 == 1]
    # Replaying the whole backlog (fresh query, same table) must no-op
    # via batch-id idempotence — not duplicate a single row.
    src2 = (
        spark.readStream.schema("id bigint, d date")
        .option("maxFilesPerTrigger", "1")
        .parquet(backlog)
    )
    run_stream_to_table(
        src2, t, output_mode="append", part_col="d", transform="day"
    )
    assert t.current_version() == v
    # Retention: expire the first two streamed days — interior days
    # drop with zero IO (aligned day bound rewrites conservatively).
    v2 = t.delete_where_part(spark, hi=dt.date(2024, 1, 11, ))
    meta = t.meta_of(v2)
    assert meta["dropped_partitions"] >= 1
    survivors = sorted(r["id"] for r in t.read(spark).collect())
    assert survivors == [i for i in range(12) if i % 4 >= 2]
