"""Filtered vector search: predicate AND nearest (the production serving
shape), both tiers — exact pre-filter and IVF-with-sound-fallback.

The contract under test: filtered search returns min(k, |matches|) rows
that ALL satisfy the predicate; the IVF tier widens to an exact scan of
the filtered slice whenever the probed cells cannot supply k candidates
(never a silently short result), and says so in its output columns.
"""

from __future__ import annotations

import math

import pytest

from mapreduceindexer_spark.operators import similarity as sim

from tests.conftest import SF_SMOKE


def _embeddings(spark, n=60, dim=4, n_labels=5):
    rows = [
        (
            i,
            [
                math.sin(0.7 * i + j) + 0.01 * ((i * 31 + j * 7) % 13)
                for j in range(dim)
            ],
            i % n_labels,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id: bigint, embedding: array<float>, label: int"
    )


@pytest.fixture(scope="module")
def emb(spark):
    return _embeddings(spark).localCheckpoint()


@pytest.fixture(scope="module")
def edges(emb):
    return sim.nsw_graph_edges(emb, 3, 4).localCheckpoint()


def test_exact_filtered_topk_respects_predicate_and_k(emb):
    out = sim.filtered_topk(emb, probe_id=0, label=2, k=5).collect()
    assert len(out) == 5
    matches = {r.vec_id for r in emb.filter("label = 2").collect()}
    assert all(r.vec_id in matches for r in out)
    assert [r.rn for r in out] == [1, 2, 3, 4, 5]
    sims = [r.cos_sim for r in out]
    assert sims == sorted(sims, reverse=True)


def test_exact_filtered_topk_returns_all_matches_when_k_exceeds(emb):
    # 12 vectors carry label 2 (60 / 5); k=50 must return exactly them
    # (minus the probe if it matched), never pad with non-matching rows.
    out = sim.filtered_topk(emb, probe_id=0, label=2, k=50).collect()
    matches = {r.vec_id for r in emb.filter("label = 2").collect()} - {0}
    assert {r.vec_id for r in out} == matches


def test_ivf_filtered_happy_path_stays_in_probed_cells(emb):
    out = sim.ivf_filtered_topk(
        emb, probe_id=0, label=2, k=2, n_centroids=4, n_probe_cells=2
    ).collect()
    assert len(out) == 2
    assert all(r.fallback is False for r in out)
    # Candidates must come from the probe's 2 nearest cells ∩ label=2.
    cells = sim.ivf_assignments(emb, 4)
    probed = {
        r.probe_cell
        for r in sim._nearest_probe_cells(emb, cells, 0, 4, 2).collect()
    }
    cell_of = {r.vec_id: r.cell for r in cells.collect()}
    label_of = {r.vec_id: r.label for r in emb.collect()}
    for r in out:
        assert cell_of[r.vec_id] in probed
        assert label_of[r.vec_id] == 2
    # n_cand is the true intersection size.
    expected = sum(
        1
        for v, c in cell_of.items()
        if c in probed and label_of[v] == 2 and v != 0
    )
    assert out[0].n_cand == expected


def test_ivf_filtered_falls_back_to_exact_when_starved(emb):
    # k far above what 2 cells ∩ one label can hold → the widen rule
    # fires and the result equals the exact filtered top-k.
    out = sim.ivf_filtered_topk(
        emb, probe_id=0, label=2, k=11, n_centroids=4, n_probe_cells=2
    ).collect()
    assert all(r.fallback is True for r in out)
    assert all(r.n_cand < 11 for r in out)
    exact = sim.filtered_topk(emb, probe_id=0, label=2, k=11).collect()
    assert [(r.vec_id, r.cos_sim, r.rn) for r in out] == [
        (r.vec_id, r.cos_sim, r.rn) for r in exact
    ]


def test_filtered_predicate_pushes_to_parquet_scan(spark):
    from mapreduceindexer_spark.plans import pushed_filters
    from mapreduceindexer_spark.sources.tables import load_table

    df = sim.filtered_topk(
        load_table(spark, SF_SMOKE, "embeddings"), probe_id=0, label=3, k=10
    )
    pf = " ".join(pushed_filters(df))
    assert "label" in pf, pf


def test_graph_filtered_matches_predicate_and_per_probe_counts(emb, edges):
    out = sim.ann_graph_search(
        emb, probe_ids=[0, 7], k=2, ef=8, hops=4, edges=edges, label=2
    ).collect()
    label_of = {r.vec_id: r.label for r in emb.collect()}
    assert all(label_of[r.vec_id] == 2 for r in out)
    by_probe = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert set(by_probe) == {0, 7}
    for rows in by_probe.values():
        assert sorted(r.rn for r in rows) == [1, 2]
        # n_cand/fallback are constant per probe.
        assert len({(r.n_cand, r.fallback) for r in rows}) == 1


def test_graph_filtered_starved_probe_falls_back_to_exact(emb, edges):
    # k above anything a 4-hop walk's visited ∩ label can hold → every
    # probe widens, and the result equals the exact filtered top-k.
    k = 11  # |label=2| = 12, minus the probe where it matches
    out = sim.ann_graph_search(
        emb, probe_ids=[0], k=k, ef=2, hops=1, edges=edges, label=2
    ).collect()
    assert out and all(r.fallback is True for r in out)
    exact = sim.filtered_topk(emb, probe_id=0, label=2, k=k).collect()
    assert [(r.vec_id, r.cos_sim, r.rn) for r in sorted(out, key=lambda r: r.rn)] == [
        (r.vec_id, r.cos_sim, r.rn) for r in exact
    ]


def test_graph_filtered_mixed_probes_gate_independently(emb, edges):
    # A tiny walk starves some probes but not others; each decides alone.
    out = sim.ann_graph_search(
        emb, probe_ids=[0, 7, 13], k=3, ef=2, hops=2, edges=edges, label=2
    ).collect()
    flags = {}
    for r in out:
        flags.setdefault(r.probe_id, set()).add((r.fallback, r.n_cand))
    for probe, fs in flags.items():
        assert len(fs) == 1, (probe, fs)
        (fb, n_cand), = fs
        assert fb == (n_cand < 3)


def test_external_filtered_serving_matches_predicate_and_gates(spark, emb, edges):
    qv = spark.createDataFrame(
        [(9000, [0.5, -0.2, 0.8, 0.1]), (9001, [-0.9, 0.4, 0.0, 0.3])],
        "probe_id: bigint, qv: array<float>",
    )
    out = sim.ann_graph_search_vectors(
        emb, qv, k=3, ef=4, hops=3, edges=edges, label=2
    ).collect()
    label_of = {r.vec_id: r.label for r in emb.collect()}
    assert all(label_of[r.vec_id] == 2 for r in out)
    by_probe = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert set(by_probe) == {9000, 9001}
    for rows in by_probe.values():
        assert sorted(r.rn for r in rows) == [1, 2, 3]
        (gate,) = {(r.n_cand, r.fallback) for r in rows}
        assert gate[1] == (gate[0] < 3)
        if gate[1]:  # a starved external probe equals the exact slice
            got = [(r.vec_id, r.cos_sim) for r in sorted(rows, key=lambda r: r.rn)]
            from pyspark.sql import functions as F
            from mapreduceindexer_spark.functions.vector import cosine_similarity
            pv = qv.filter(F.col("probe_id") == rows[0].probe_id).select(
                F.col("qv").alias("pv")
            )
            exact = (
                emb.filter(F.col("label") == 2)
                .crossJoin(F.broadcast(pv))
                .select("vec_id", F.round(cosine_similarity("embedding", "pv"), 6).alias("c"))
                .orderBy(F.desc("c"), F.asc("vec_id")).limit(3).collect()
            )
            assert got == [(r.vec_id, r.c) for r in exact]


def test_embedding_drift_surfaces_one_sided_labels(spark):
    # A label present ONLY in the new half (odd vec_ids) is the
    # strongest drift event; it must appear with n_ref=0, not vanish.
    rows = [(i, [float(i % 3), 1.0], 0) for i in range(8)]
    rows += [(9, [5.0, 5.0], 7), (11, [5.0, 4.0], 7)]  # odd-only label
    emb2 = spark.createDataFrame(
        rows, "vec_id: bigint, embedding: array<float>, label: int"
    )
    out = {r.label: r for r in sim.embedding_drift(emb2, mod=2).collect()}
    assert 7 in out
    assert out[7].n_ref == 0 and out[7].n_new == 2
    assert out[7].centroid_cos is None
    assert out[0].n_ref > 0 and out[0].n_new > 0
    assert out[0].centroid_cos is not None
