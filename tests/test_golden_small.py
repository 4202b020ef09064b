"""End-to-end golden test: the reference's own small fixture, byte-for-byte.

Fixture ported verbatim from the reference checker
(``checker/test_in_small/``, ``checker/test_out_small/``,
``checker/test_small.txt``): 3 one-sentence documents → 26 per-letter
output files that pin tokenization, normalization, per-doc distinct,
posting order (ascending ids), letter bucketing, (df DESC, term ASC) line
order, the ``term:[ids]`` format, and empty-letter files.
"""

from __future__ import annotations

import os
import string

import pytest

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
MANIFEST = os.path.join(FIXTURES, "manifest_small.txt")
GOLDEN = os.path.join(FIXTURES, "golden_small")


@pytest.fixture(scope="module")
def corpus(spark):
    from mapreduceindexer_spark.sources.corpus import read_manifest_corpus

    return read_manifest_corpus(spark, MANIFEST)


def golden_lines(letter: str) -> list[str]:
    with open(os.path.join(GOLDEN, f"{letter}.txt"), encoding="utf-8") as fh:
        return fh.read().splitlines()


def test_corpus_doc_ids_are_manifest_positions(corpus):
    rows = {r.doc_id: os.path.basename(r.path) for r in corpus.collect()}
    assert rows == {1: "file1.txt", 2: "file2.txt", 3: "file3.txt"}


def test_postings_match_golden_content(corpus):
    from mapreduceindexer_spark.operators.index import build_postings, index_lines

    lines_df = index_lines(build_postings(corpus))
    got = {}
    for r in lines_df.collect():
        got.setdefault(r.letter, []).append((r.df, r.term, r.line))
    for letter in string.ascii_lowercase:
        expected = golden_lines(letter)
        ours = [line for _, _, line in sorted(got.get(letter, []), key=lambda t: (-t[0], t[1]))]
        assert ours == expected, f"letter {letter}: {ours} != {expected}"


def test_salted_variant_identical(corpus):
    from mapreduceindexer_spark.operators.index import build_postings

    base = build_postings(corpus)
    salted = build_postings(corpus, salt_buckets=4)
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, salted.collect()))


def test_written_files_match_golden_exactly(corpus, tmp_path):
    from mapreduceindexer_spark.operators.index import build_postings
    from mapreduceindexer_spark.operators.sink import read_index_letter, write_index

    out = str(tmp_path / "index_out")
    write_index(build_postings(corpus), out)
    for letter in string.ascii_lowercase:
        assert read_index_letter(out, letter) == golden_lines(letter), f"letter {letter}"
