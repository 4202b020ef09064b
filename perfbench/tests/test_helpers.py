"""Unit tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import Span, check_nesting, covered, self_times  # noqa: E402
from stats import percentile, spread, tail  # noqa: E402

SMALL = gen.CorpusSpec(n_docs=60, vocab_size=500, zipf_s=1.1, len_median=20, len_sigma=0.5)
QUERIES = gen.QuerySpec(n_ops=50, mix={"term": 2, "and": 1, "prefix": 1, "rank": 1, "ann": 1})
EMB = gen.EmbeddingSpec(n_vectors=40, dim=4, n_clusters=3, noise=0.3, n_queries=5)
INGEST = gen.IngestSpec(n_batches=3, batch_docs=10, dup_rate=0.5, dup_edit=0.05,
                        retract_every=3, retract_docs=5)


def _files(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    return sorted(out)


def _generate(path, seed):
    return gen.generate(str(path), seed, SMALL, queries=QUERIES, embeddings=EMB, ingest=INGEST)


def test_generator_is_deterministic_for_a_seed(tmp_path):
    a = _generate(tmp_path / "a", 7)
    b = _generate(tmp_path / "b", 7)
    c = _generate(tmp_path / "c", 8)
    assert a == b
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b")
    assert "documents.parquet/part-000.parquet" in names
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors
    _, mismatch_c, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names, shallow=False)
    assert "documents.parquet/part-000.parquet" in mismatch_c


def test_generator_plants_duplicates_and_disjoint_retractions(tmp_path):
    desc = _generate(tmp_path, 3)
    dups = [pair for b in desc["batches"] for pair in b["dups"]]
    assert dups, "dup_rate 0.5 over 30 documents plants some duplicates"
    lo, hi = desc["batches"][-1]["retract"]
    assert all(src < lo for _, src in dups), "a duplicate's source is never retracted"
    assert hi == SMALL.n_docs


def test_normalize_matches_tokenizer_contract():
    assert gen.normalize("  The, don't\nabc123def 42 X ") == ["the", "dont", "abcdef", "x"]


def test_tail_needs_ten_samples_beyond():
    t = tail(list(range(1, 101)))
    assert (t["pct"], t["value"], t["beyond"], t["n"], t["enough"]) == (90.0, 90, 10, 100, True)
    t = tail(list(range(1000, 0, -1)))
    assert (t["pct"], t["value"], t["beyond"]) == (99.0, 990, 10)
    t = tail(list(range(1, 31)))
    assert t["value"] == 20 and t["pct"] == pytest.approx(200 / 3)
    # exactly ten values lie beyond the reported one
    xs = [5.0, 1.0, 9.0, 7.0, 3.0, 8.0, 2.0, 6.0, 4.0, 10.0, 11.0, 12.0]
    t = tail(xs)
    assert sum(1 for x in xs if x > t["value"]) == 10 and t["n"] == 12


def test_tail_with_too_few_samples_reports_the_median_and_n():
    t = tail([5.0, 1.0, 3.0])
    assert (t["value"], t["pct"], t["n"], t["enough"]) == (3.0, 50.0, 3, False)
    assert not tail(list(range(10)))["enough"]
    with pytest.raises(ValueError):
        tail([])


def test_percentile_and_spread():
    assert percentile([4, 1, 3, 2], 50) == 2
    assert percentile([4, 1, 3, 2], 100) == 4
    s = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["median"] == 3.0
    assert s["spread"] == pytest.approx((4.5 - 1.5) / 3.0)


def test_self_time_with_overlapping_children():
    spans = [
        Span(1, "op.q", None, "t", 0.0, 10.0),
        Span(2, "search.plan", 1, "t", 1.0, 4.0),
        Span(3, "search.exec", 1, "t", 3.0, 6.0),  # overlaps span 2
        Span(4, "spark.x", 1, "t", 8.0, 9.0),
        Span(5, "search.inner", 3, "t", 3.5, 4.5),
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - 5.0 - 1.0)  # [1,6] and [8,9]
    assert selfs[3] == pytest.approx(3.0 - 1.0)
    assert selfs[2] == pytest.approx(3.0)
    assert all(selfs[s.id] <= s.duration for s in spans)
    assert check_nesting(spans) == []


def test_nesting_check_flags_a_child_outside_its_parent():
    spans = [Span(1, "op.q", None, "t", 0.0, 2.0), Span(2, "search.exec", 1, "t", 1.0, 3.0)]
    assert any("outside parent" in v for v in check_nesting(spans))
    assert covered([(1.0, 3.0)], 0.0, 2.0) == pytest.approx(1.0)


def _letter_files():
    texts = {1: "apple banana", 2: "Apple cherry!", 3: "banana 42 zebra"}
    return oracle.letter_files(oracle.postings_of(texts))


def test_letter_files_follow_reference_order():
    files = _letter_files()
    assert files["a"] == b"apple:[1 2]\n"
    assert files["b"] == b"banana:[1 3]\n"
    assert files["x"] == b""
    assert oracle.compare_letter_files(files, dict(files))["ok"]


def test_comparator_flags_one_byte_index_corruption():
    files = _letter_files()
    bad = dict(files)
    bad["b"] = b"banana:[1 4]\n"
    cmp = oracle.compare_letter_files(files, bad)
    assert not cmp["ok"] and cmp["bad_letters"] == ["b"]
    assert cmp["line_recall"] < 1.0


def test_comparator_flags_swapped_topk_order():
    ranked = [(7, 2.5), (3, 1.25), (9, 1.0)]
    assert oracle.compare_topk(ranked, list(ranked))
    swapped = [ranked[1], ranked[0], ranked[2]]
    assert not oracle.compare_topk(ranked, swapped)
    assert oracle.compare_topk(ranked, [(7, 2.5000001), (3, 1.25), (9, 1.0)], tol=1e-6)
    assert not oracle.compare_topk(ranked, ranked[:2])


def test_postings_comparator_and_exact_topk():
    exp = {"a": [1, 2], "b": [3]}
    assert oracle.compare_postings(exp, {"a": [1, 2], "b": [3]})["ok"]
    assert not oracle.compare_postings(exp, {"a": [1], "b": [3]})["ok"]
    import numpy as np

    vecs = np.array([[1, 0], [0, 1], [1, 1]], dtype=np.float32)
    ids = np.array([1, 2, 3])
    assert oracle.exact_cosine_topk(vecs, ids, np.array([1, 0.1], dtype=np.float32), 2) == [1, 3]
    assert oracle.recall_at_k([1, 3], [3, 2]) == 0.5


def test_benchmark_json_matches_the_code():
    import json

    import layers
    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        (k, unit, better) for k, (unit, better) in run.END_TO_END.items()]
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (k, v[0]) for k, v in layers.MOVES.items()]
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")
