"""Degenerate-input behavior for the round-4 session-3 operators: empty
relations and collapsed domains must produce typed empty/sane results,
not exceptions — the same hygiene the sink family pins for empty letter
files."""

from __future__ import annotations

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def test_sparse_cosine_empty_corpus(spark):
    from mapreduceindexer_spark.operators.textstats import sparse_cosine_pairs

    out = sparse_cosine_pairs(_empty_docs(spark))
    assert out.columns == ["doc_a", "doc_b", "cosine"]
    assert out.count() == 0


def test_sparse_cosine_single_doc_has_no_pairs(spark):
    from mapreduceindexer_spark.operators.textstats import sparse_cosine_pairs

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "en", "s", 16)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    assert sparse_cosine_pairs(docs).count() == 0


def test_triangle_counts_empty_and_triangle_free(spark):
    from mapreduceindexer_spark.operators.graph import triangle_counts

    empty = spark.createDataFrame([], "u string, v string")
    assert triangle_counts(empty).count() == 0
    # a path graph has wedges but no closed triangle
    path = spark.createDataFrame([("a", "b"), ("b", "c")], "u string, v string")
    assert triangle_counts(path).count() == 0


def test_triangle_counts_single_triangle(spark):
    from mapreduceindexer_spark.operators.graph import triangle_counts

    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "u string, v string"
    )
    rows = {r["node"]: r["n_triangles"] for r in tri.transform(triangle_counts).collect()}
    assert rows == {"a": 1, "b": 1, "c": 1}


def test_salted_join_empty_fact(spark):
    from mapreduceindexer_spark.operators.relational import salted_join_agg

    fact = spark.createDataFrame([], "fk bigint, val double")
    dim = spark.createDataFrame([(1, 0)], "dk bigint, grp int")
    assert salted_join_agg(
        fact, dim, fact_key="fk", dim_key="dk", group_col="grp", sum_col="val"
    ).count() == 0


def test_dsir_all_target_corpus_selects_nothing_strictly(spark):
    """When every document IS the target, target and raw models coincide:
    every ratio is ~1 (floor'd to <= scale), so no document can score
    strictly above the raw model — `selected` must be all False."""
    from mapreduceindexer_spark.operators.curation import dsir_weights

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "en", "s", 22) for i in range(4)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    out = dsir_weights(docs, target_lang="en").collect()
    assert len(out) == 4
    assert all(not r["selected"] for r in out)


def test_important_stock_single_part_keeps_nothing(spark):
    """One part owns 100% of value: avg == total, threshold 1.5x avg is
    unreachable, result is empty (never a divide-by-zero)."""
    from mapreduceindexer_spark.operators.relational import important_stock

    li = spark.createDataFrame(
        [(1, 2.0)], "l_partkey bigint, l_quantity double"
    )
    part = spark.createDataFrame(
        [(1, 10.0)], "p_partkey bigint, p_retailprice double"
    )
    assert important_stock(li, part).count() == 0


def test_power_iteration_on_identity_like_corpus(spark):
    """Two orthogonal axis vectors: gram is diagonal; the dominant
    direction must be the axis with the larger diagonal entry."""
    from mapreduceindexer_spark.operators.similarity import principal_component

    emb = spark.createDataFrame(
        [(0, [2.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    rows = {r["i"]: r["component"] for r in principal_component(emb, rounds=4).collect()}
    assert abs(rows[0]) == 1.0  # dominant axis saturates the max-norm
    assert abs(rows[1]) < 0.1  # weaker axis decays toward 0


def test_token_stats_arrow_unicode_and_null_parity(spark):
    """The mapInArrow kernel (Arrow C++ regex/length) must agree with the
    DuckDB oracle on Unicode text and NULL blobs — chars are counted as
    codepoints, NULL text yields NULL counts in both engines."""
    import duckdb

    from mapreduceindexer_spark.operators.textstats import token_stats_arrow

    rows = [
        (0, "héllo wörld"),
        (1, "a  b\tc "),
        (2, ""),
        (3, None),
        (4, "漢字 kanji mix aeiou"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_chars_utf8"], r["n_tokens"], r["n_vowels"])
        for r in token_stats_arrow(docs).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = {
        k: (a, b, c)
        for k, a, b, c in con.execute(
            r"""SELECT doc_id, length(text),
                       len(regexp_extract_all(text, '\S+')),
                       len(regexp_extract_all(text, '[aeiou]'))
                FROM d"""
        ).fetchall()
    }
    assert got == want, (got, want)


def test_knn_graph_small_corpus_and_empty(spark):
    from mapreduceindexer_spark.operators.similarity import knn_graph

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>, label int"
    )
    assert knn_graph(empty, k=3).count() == 0
    # Two vectors, one cell: each gets exactly one neighbor (the other).
    two = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.9, 0.1], 0)],
        "vec_id bigint, embedding array<float>, label int",
    )
    rows = knn_graph(two, k=3, n_centroids=1).collect()
    assert {(r["vec_id"], r["nbr_id"]) for r in rows} == {(0, 1), (1, 0)}


def test_ann_recall_bounds_and_missing_probe_cells(spark):
    """hits is always within [0, k]; a probe whose cell holds no other
    vector yields hits=0/recall=0.0, never a dropped row."""
    from mapreduceindexer_spark.operators.similarity import ann_recall

    # 6 vectors in 2 well-separated clusters + 1 isolate; centroids are
    # vec_ids < 3, so vector 6's nearest centroid cell may hold only
    # itself after exclusion.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.99, 0.01]),
        (4, [1.0, 0.01, 0.0]),
        (5, [0.0, 1.0, 0.01]),
        (6, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in rows],
        "vec_id bigint, embedding array<float>, label int",
    )
    out = {r["probe_id"]: r for r in ann_recall(emb, [0, 6], k=4, n_centroids=3).collect()}
    assert set(out) == {0, 6}
    for r in out.values():
        assert 0 <= r["hits"] <= 4
        assert abs(r["recall"] - r["hits"] / 4.0) < 1e-9


def test_interval_overlap_bin_dedup_and_touching(spark):
    """Bin-bucketed interval join: a pair sharing MANY bins counts once;
    intervals touching at a single instant count as overlapping (closed
    intervals, overlap_us = 0); non-overlapping pairs don't pair."""
    import datetime as dt

    from mapreduceindexer_spark.operators.events import interval_overlap_stats

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, start_min, dur_min):
        return (eid, t0 + dt.timedelta(minutes=start_min), uid, "x",
                float(dur_min), "{}")

    rows = [
        # user 1: a spans 5 hours, b inside it (shares 6 bins -> 1 pair);
        # c touches a's end exactly; d is disjoint.
        ev(1, 1, 0, 300), ev(2, 1, 30, 10), ev(3, 1, 300, 5), ev(4, 1, 400, 5),
        # user 2: single interval, no pairs.
        ev(5, 2, 0, 10),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    got = {r["user_id"]: (r["n_overlaps"], r["overlap_us"]) for r in
           interval_overlap_stats(events).collect()}
    # pairs for user 1: (1,2) overlap = 10 min, (1,3) overlap = 0 (touch).
    assert got == {1: (2, 10 * 60_000_000)}


def test_interval_overlap_fanout_guard_fails_loudly(spark):
    """A single interval covering more bins than max_bins_per_interval
    must RAISE (with the offending event_id in the message), never
    silently fan out unboundedly (round-6 advisor finding)."""
    import datetime as dt

    import pytest

    from mapreduceindexer_spark.operators.events import interval_overlap_stats

    t0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [(7, t0, 1, "x", 600.0, "{}")],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    # 600 min / 60-min bins = 11 bins > 4 allowed.
    with pytest.raises(Exception, match="event_id=7 covers 11 bins"):
        interval_overlap_stats(events, max_bins_per_interval=4).collect()
    # At the default guard the same input is fine.
    assert interval_overlap_stats(events).count() == 0
    # A NEGATIVE duration (e < s) must also fail loudly, not walk a
    # silent descending bin sequence (round-7 review finding).
    neg = spark.createDataFrame(
        [(8, t0, 1, "x", -120.0, "{}")],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    with pytest.raises(Exception, match="event_id=8 covers -1 bins"):
        interval_overlap_stats(neg).collect()
    # A negative duration CONTAINED in one bin (n_bins == 1) must also
    # raise — it would otherwise contribute negative overlap silently
    # (round-7 review finding, second pass).
    neg_inbin = spark.createDataFrame(
        [(9, t0 + dt.timedelta(minutes=59), 1, "x", -30.0, "{}")],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    with pytest.raises(Exception, match="event_id=9 covers 1 bins"):
        interval_overlap_stats(neg_inbin).collect()


def test_hll_bucket_rho_pad_width_follows_m():
    """rho's zero-pad width must derive from m (60 - log2 m); non-power-
    of-two register counts are rejected (round-6 advisor finding)."""
    import pytest

    from mapreduceindexer_spark.functions.hashing import hll_bucket_rho

    for bad in (0, -8, 3, 100, 257):
        with pytest.raises(ValueError):
            hll_bucket_rho("h", bad)
    # m=1024 -> 50 remaining bits -> empty-register rho = 51.
    _, rho = hll_bucket_rho("h", 1024)
    s = rho._jc.toString() if hasattr(rho, "_jc") else str(rho)
    assert "51" in s and "lpad" in s.lower()


def _clustered_embeddings(spark, n_clusters=8, per_cluster=20, dim=16):
    """Planted-cluster fixture: cluster c lives on axis 2c (magnitude
    1000) with a small distinct per-member perturbation on axis 2c+1,
    so within-cluster cosines ~1 (all distinct) and cross-cluster ~0.
    vec_id i belongs to cluster i % n_clusters, so the IVF seed vectors
    0..7 are one per cluster and cells == clusters."""
    rows = []
    for i in range(n_clusters * per_cluster):
        c, m = i % n_clusters, i // n_clusters
        v = [0.0] * dim
        v[2 * c] = 1000.0
        v[2 * c + 1] = float(m + 1)
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_ann_graph_recall_is_perfect_on_clustered_data(spark):
    """The graph-ANN quality claim: on data with actual cluster
    structure (the case ANN indexes exist for), NSW beam search must
    find the EXACT top-5 for every panel probe — recall 1.0. On the
    driver fixture's near-random vectors the same walk floors at 0.2
    (q_ann_graph_recall's contract); this pins that the gap is the
    data, not the algorithm."""
    from mapreduceindexer_spark.operators.similarity import (
        ann_graph_recall,
        nsw_graph_edges,
    )

    emb = _clustered_embeddings(spark)
    edges = nsw_graph_edges(emb, 3, 8).localCheckpoint()
    # Panel mixes the global entry (0), mid-cluster members, and the
    # highest ids of several clusters.
    rec = ann_graph_recall(
        emb, [0, 17, 42, 101, 155], k=5, ef=8, hops=4, floor_permille=200,
        edges=edges,
    ).collect()
    assert len(rec) == 5
    for r in rec:
        assert r["recall"] == 1.0 and r["meets_floor"], (r["probe_id"], r["recall"])


def test_nsw_edges_connect_the_whole_corpus(spark):
    """Navigability precondition: the two-layer edge set (in-cell KNN +
    hubs + hub mesh + membership) must form ONE connected component —
    the in-cell KNN graph alone does not (its components are the cells),
    which is exactly why the hub layer exists."""
    from mapreduceindexer_spark.operators.similarity import nsw_graph_edges

    emb = _clustered_embeddings(spark)
    n = emb.count()
    adj = {}
    for r in nsw_graph_edges(emb, k_edges=3, n_centroids=8).collect():
        adj.setdefault(r["vec_id"], set()).add(r["nbr_id"])
        adj.setdefault(r["nbr_id"], set()).add(r["vec_id"])
    seen, stack = {0}, [0]
    while stack:
        for nb in adj.get(stack.pop(), ()):
            if nb not in seen:
                seen.add(nb)
                stack.append(nb)
    assert len(seen) == n


def test_twolevel_assignment_matches_flat_on_clustered_data(spark):
    """Two-level (IVF-on-IVF) assignment must (a) cover every vector and
    (b) agree with the exact flat argmin when the data has real cluster
    structure — the coarse layer's approximation only bites when a
    vector and its true centroid straddle a coarse boundary, which
    planted orthogonal clusters never do. With k=8 the coarse count is
    4 (< k), so the blocked path is genuinely exercised, not the
    degenerate coarse==fine case."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators.similarity import (
        assign_to_centroids,
        assign_to_centroids_twolevel,
    )

    emb = _clustered_embeddings(spark)
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    flat = {r["vec_id"]: r["cell"] for r in assign_to_centroids(emb, cents).collect()}
    two = {
        r["vec_id"]: r["cell"]
        for r in assign_to_centroids_twolevel(emb, cents).collect()
    }
    assert len(two) == emb.count()
    assert two == flat


def test_bm25_pruned_equals_full_and_actually_prunes(spark):
    """Pruned BM25 returns the IDENTICAL top-k as the full scorer for
    several query shapes, and never exact-scores more docs than match.
    For single-term queries (incl. a hot term and a missing one) the
    single-term ranker returns the identical top-k as well."""
    from mapreduceindexer_spark.operators.search import (
        bm25_multi_topk,
        bm25_pruned_topk,
        bm25_topk,
    )
    from tests.conftest import SF_SMOKE

    from mapreduceindexer_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    for terms in (
        ("table", "window", "stream"),
        ("join", "zq"),
        ("scan",),
        ("query",),  # hot: in 415 of the 500 docs
        ("zq",),  # in no doc
    ):
        full = [
            (r["doc_id"], r["score"], r["rn"])
            for r in bm25_multi_topk(docs, terms, k=5).collect()
        ]
        pruned_rows = bm25_pruned_topk(docs, terms, k=5).collect()
        pruned = [(r["doc_id"], r["score"], r["rn"]) for r in pruned_rows]
        assert sorted(pruned) == sorted(full), terms
        if len(terms) == 1:
            single = [
                (r["doc_id"], r["score"], r["rn"])
                for r in bm25_topk(docs, terms[0], k=5).collect()
            ]
            assert sorted(single) == sorted(full), terms
        if pruned_rows:
            n_scored = pruned_rows[0]["n_scored"]
            n_matching = bm25_multi_topk(docs, terms, k=10**6).count()
            assert 5 <= n_scored <= n_matching


def test_hnsw_recall_is_perfect_on_clustered_data(spark):
    """The three-layer hierarchy must not trade away recall the flat
    mesh delivers: on planted-cluster data, beam search over
    hnsw_graph_edges finds the exact top-5 for every panel probe (one
    extra hop pays for the extra descent layer)."""
    from mapreduceindexer_spark.operators.similarity import (
        ann_graph_recall,
        hnsw_graph_edges,
    )

    emb = _clustered_embeddings(spark)
    edges = hnsw_graph_edges(emb, k_edges=3, n_centroids=8, n_coarse=3)
    rec = ann_graph_recall(
        emb, [0, 17, 42, 101, 155], k=5, ef=8, hops=5, floor_permille=200,
        edges=edges.localCheckpoint(),
    ).collect()
    assert len(rec) == 5
    for r in rec:
        assert r["recall"] == 1.0 and r["meets_floor"], (r["probe_id"], r["recall"])


def test_hnsw_edges_connect_the_whole_corpus(spark):
    """Navigability survives the hierarchy: the three-layer edge set is
    one connected component (member -> hub -> coarse hub -> mesh)."""
    from mapreduceindexer_spark.operators.similarity import hnsw_graph_edges

    emb = _clustered_embeddings(spark)
    n = emb.count()
    adj = {}
    for r in hnsw_graph_edges(emb, k_edges=3, n_centroids=8, n_coarse=3).collect():
        adj.setdefault(r["vec_id"], set()).add(r["nbr_id"])
        adj.setdefault(r["nbr_id"], set()).add(r["vec_id"])
    seen, stack = {0}, [0]
    while stack:
        for nb in adj.get(stack.pop(), ()):
            if nb not in seen:
                seen.add(nb)
                stack.append(nb)
    assert len(seen) == n


def test_hnsw_hub_layer_is_sub_quadratic_in_hub_count(spark):
    """The point of the hierarchy: with many cells (production dial:
    cells ~ n/target), the flat NSW hub mesh is hubs^2 edges while the
    HNSW hub layer stays linear in hub count. Pinned by counting the
    hub-layer edges (edges between hub nodes) on a 64-cluster corpus:
    flat = 64*63 = 4032; hierarchical (k_edges=3, n_coarse=8) is an
    order of magnitude smaller."""
    from mapreduceindexer_spark.operators.similarity import (
        hnsw_graph_edges,
        nsw_graph_edges,
    )

    emb = _clustered_embeddings(spark, n_clusters=64, per_cluster=4, dim=128)
    flat = nsw_graph_edges(emb, k_edges=3, n_centroids=64).count()
    hier = hnsw_graph_edges(
        emb, k_edges=3, n_centroids=64, n_coarse=8
    ).count()
    # Hub ids are 0..63 (one per planted cluster); count hub<->hub edges.
    assert hier < flat
    assert flat - hier > 2000  # the 4032-edge mesh is gone, stars remain


def test_hnsw_scaled_equals_fixed_at_the_same_dials(spark):
    """The broadcast-dial path must produce the IDENTICAL edge set as
    the fixed-dial build when the dials coincide (800 vectors ->
    cells = max(8, 4) = 8, n_coarse = max(3, floor(sqrt(8))) = 3) —
    the live dial changes the plan shape, never the result."""
    from mapreduceindexer_spark.operators.similarity import (
        hnsw_graph_edges,
        hnsw_graph_edges_scaled,
    )

    emb = _clustered_embeddings(spark, n_clusters=8, per_cluster=100, dim=16)
    fixed = sorted(
        (r["vec_id"], r["nbr_id"])
        for r in hnsw_graph_edges(
            emb, k_edges=3, n_centroids=8, n_coarse=3
        ).collect()
    )
    scaled = sorted(
        (r["vec_id"], r["nbr_id"])
        for r in hnsw_graph_edges_scaled(
            emb, k_edges=3, target_cell_size=200, min_cells=8, min_coarse=3
        ).collect()
    )
    assert fixed == scaled and len(fixed) > 0


def test_external_query_recall_is_perfect_on_clustered_data(spark):
    """The serving path's honesty instrument: an external query vector
    pointing into a planted cluster must recover that cluster's exact
    top-5 (recall 1.0) via the entry-seeded walk over the HNSW index."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators.similarity import (
        ann_graph_recall_vectors,
        hnsw_graph_edges,
    )

    emb = _clustered_embeddings(spark)
    # External queries: each cluster-c member direction, nudged — the
    # mean of two same-cluster members (ids c and c+8 share cluster c).
    a = emb.filter(F.col("vec_id").isin([2, 5])).select(
        F.col("vec_id").alias("aid"), F.col("embedding").alias("av")
    )
    b = emb.select((F.col("vec_id") - 8).alias("aid"), F.col("embedding").alias("bv"))
    qv = a.join(b, "aid").select(
        (F.col("aid") + 9000).cast("bigint").alias("probe_id"),
        F.zip_with(
            "av", "bv", lambda x, y: (x.cast("double") + y.cast("double")) / 2
        ).alias("qv"),
    )
    edges = hnsw_graph_edges(emb, k_edges=3, n_centroids=8, n_coarse=3)
    rec = ann_graph_recall_vectors(
        emb, qv, k=5, ef=8, hops=5, floor_permille=200,
        edges=edges.localCheckpoint(),
    ).collect()
    assert len(rec) == 2
    for r in rec:
        assert r["recall"] == 1.0 and r["meets_floor"], (r["probe_id"], r["recall"])


# -- incremental ingest dedup (signature state) -------------------------------


def _mk_docs(spark, rows):
    return spark.createDataFrame(
        [
            (i, t, "en", "s", len(t))
            for i, t in rows
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )


def test_ingest_dedup_flags_only_state_matches(spark):
    from mapreduceindexer_spark.operators import dedup as dd

    base = "the quick brown fox jumps over the lazy dog again and again"
    state = _mk_docs(spark, [(1, base), (2, "completely different words here " * 3)])
    batch = _mk_docs(
        spark,
        [
            (10, base),  # exact dup of state doc 1
            (11, "utterly unrelated content about spark shuffles and joins"),
        ],
    )
    st = dd.ingest_signatures(state)
    pb = dd.ingest_signatures(batch)
    out = dd.ingest_dedup_against(st, pb, threshold=0.5).collect()
    assert len(out) == 1
    row = out[0]
    assert row["doc_id"] == 10 and row["best_est"] == 1.0


def test_ingest_dedup_is_incremental_across_batches(spark, tmp_path):
    """Batch 2 must dedup against batch 1's SURVIVORS (appended state),
    not just the original corpus — the property that makes the state
    table the single source of truth."""
    from mapreduceindexer_spark.operators import dedup as dd
    from mapreduceindexer_spark.sources.transact import TransactionalTable

    t = TransactionalTable(str(tmp_path / "state"))
    corpus = _mk_docs(spark, [(1, "alpha beta gamma delta epsilon zeta eta theta")])
    t.commit(dd.ingest_signatures(corpus), stats_cols=["doc_id"])

    novel = "some brand new sentence with its own vocabulary entirely"
    b1 = dd.ingest_signatures(_mk_docs(spark, [(10, novel)])).localCheckpoint()
    d1 = dd.ingest_dedup_against(t.read(spark), b1, threshold=0.5)
    assert d1.count() == 0  # novel text passes
    t.commit(
        b1.join(d1.select("doc_id"), "doc_id", "left_anti"),
        mode="append",
        stats_cols=["doc_id"],
    )
    # Batch 2 repeats batch 1's text under a new id: only the state
    # grown by the first append can catch it.
    b2 = dd.ingest_signatures(_mk_docs(spark, [(20, novel)]))
    d2 = dd.ingest_dedup_against(t.read(spark), b2, threshold=0.5).collect()
    assert len(d2) == 1 and d2[0]["doc_id"] == 20 and d2[0]["best_est"] == 1.0


def test_ingest_dedup_empty_sides(spark):
    from mapreduceindexer_spark.operators import dedup as dd

    docs = _mk_docs(spark, [(1, "alpha beta gamma delta epsilon zeta")])
    sigs = dd.ingest_signatures(docs)
    empty = dd.ingest_signatures(_empty_docs(spark))
    assert dd.ingest_dedup_against(sigs, empty).count() == 0
    assert dd.ingest_dedup_against(empty, sigs).count() == 0
    cols = dd.ingest_dedup_against(empty, sigs).columns
    assert cols == ["doc_id", "n_matches", "best_est"]


# -- boilerplate passage removal ----------------------------------------------


def test_boilerplate_removal_repairs_shared_spans(spark):
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators.textstats import remove_boilerplate

    span = " ".join(f"tpl{i}" for i in range(10))  # the shared template
    docs = _mk_docs(
        spark,
        [
            (1, f"{span} unique alpha beta gamma"),
            (2, f"delta {span} epsilon zeta"),
            (3, f"eta theta {span}"),
            (4, "wholly original words only here nothing shared at all"),
        ],
    )
    out = {r["doc_id"]: r for r in remove_boilerplate(docs, w=10, max_df=2).collect()}
    # The 10-token template appears in 3 > max_df docs: removed from
    # each, in-order survivors reassembled; doc 4 untouched.
    assert out[1]["clean_text"] == "unique alpha beta gamma"
    assert out[2]["clean_text"] == "delta epsilon zeta"
    assert out[3]["clean_text"] == "eta theta"
    assert out[4]["n_removed"] == 0
    assert out[1]["n_removed"] == 10
    # A doc that is ONLY the template survives as an empty repair row,
    # never a silent drop.
    docs2 = _mk_docs(
        spark, [(i, span) for i in range(1, 4)] + [(9, "all fresh words")]
    )
    out2 = {r["doc_id"]: r for r in remove_boilerplate(docs2, w=10, max_df=2).collect()}
    assert out2[1]["clean_text"] == "" and out2[1]["n_tokens"] == 0
    assert out2[9]["n_removed"] == 0
    # Shorter-than-w docs have no windows and pass through verbatim.
    short = _mk_docs(spark, [(1, "tiny doc"), (2, "tiny doc")])
    out3 = {r["doc_id"]: r for r in remove_boilerplate(short, w=10, max_df=1).collect()}
    assert out3[1]["clean_text"] == "tiny doc" and out3[1]["n_removed"] == 0
