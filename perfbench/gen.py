"""Seeded input generator for the benchmark workloads.

Everything the engine reads during a run is produced here, from the seed
alone, and written as parquet before any timer starts. The same seed
always gives byte-identical inputs (pinned by ``tests/test_helpers.py``).

What is generated, and the properties the engine's cost depends on:

- a vocabulary of ``vocab_size`` distinct [a-z] words whose first letters
  cover a..z, drawn with a Zipf(``zipf_s``) rank distribution, so a few
  stopword-like terms sit in most documents and a long tail sits in one;
- document lengths from a log-normal with a stated median and sigma,
  clipped to [len_min, len_max] tokens; tokens carry occasional
  capitals, punctuation and digit-only tokens, which the tokenizer must
  normalise away;
- planted near-duplicates: an ingest-batch document is, with
  probability ``dup_rate``, a copy of a base document with each token
  replaced with probability ``dup_edit`` (the ground truth is kept);
- clustered embeddings (``n_clusters`` Gaussian clusters) and external
  query vectors drawn near the cluster centres;
- a query stream whose terms follow the same Zipf law (hot terms repeat)
  mixed with rare terms (document frequency <= 3).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_PUNCT = np.array(list(",.;:!?"))
CORPUS_PARTS = 8
BATCH_PARTS = 2
_NON_ALPHA = re.compile("[^A-Za-z]")


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    vocab_size: int
    zipf_s: float
    len_median: int
    len_sigma: float
    len_min: int = 5
    len_max: int = 2000


@dataclass(frozen=True)
class QuerySpec:
    n_ops: int
    # op name -> count per block. The stream repeats one block holding
    # exactly these counts, each kind spread evenly through it in a fixed
    # order, so every run's window sees the same mix and the same pattern
    # of heavy queries whatever the seed; only terms and probes are seeded.
    mix: dict = field(default_factory=dict)
    rare_share: float = 0.25


@dataclass(frozen=True)
class EmbeddingSpec:
    n_vectors: int
    dim: int
    n_clusters: int
    noise: float
    n_queries: int


@dataclass(frozen=True)
class IngestSpec:
    n_batches: int
    batch_docs: int
    dup_rate: float
    dup_edit: float
    retract_every: int
    retract_docs: int


def make_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase words; index = Zipf rank - 1. Frequent
    words are short, as in natural text (length ~ 2 + log2(rank)/2), so
    the corpus's bytes per token do not hinge on the lengths drawn for
    the few top-ranked words."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    ranks = np.arange(1, size + 1)
    lens = np.clip(2 + np.log2(ranks + 1) / 2 + rng.integers(0, 2, size=size), 2, 12).astype(int)
    words: list[str] = []
    seen: set[str] = set()
    for n in lens:
        while True:
            w = "".join(rng.choice(letters, size=n))
            if w not in seen:
                break
        seen.add(w)
        words.append(w)
    return np.array(words, dtype=object)


def zipf_probs(size: int, s: float) -> np.ndarray:
    p = np.arange(1, size + 1, dtype=np.float64) ** -s
    return p / p.sum()


def render_tokens(rng: np.random.Generator, words: np.ndarray) -> list[str]:
    """Surface forms for a token sequence: ~8 % capitalised, ~5 % with
    trailing punctuation, ~1 % digit-only (normalises to nothing)."""
    out = words.astype(object).copy()
    n = len(out)
    cap = rng.random(n) < 0.08
    punct = rng.random(n) < 0.05
    digits = rng.random(n) < 0.01
    marks = rng.choice(_PUNCT, size=n)
    nums = rng.integers(0, 10000, size=n)
    for i in np.flatnonzero(cap):
        out[i] = out[i].capitalize()
    for i in np.flatnonzero(punct):
        out[i] = out[i] + marks[i]
    for i in np.flatnonzero(digits):
        out[i] = str(nums[i])
    return list(out)


def doc_lengths(rng: np.random.Generator, spec: CorpusSpec, n: int) -> np.ndarray:
    raw = rng.lognormal(np.log(spec.len_median), spec.len_sigma, size=n)
    return np.clip(raw.astype(np.int64), spec.len_min, spec.len_max)


def make_docs(
    rng: np.random.Generator,
    spec: CorpusSpec,
    vocab: np.ndarray,
    probs: np.ndarray,
    n: int,
) -> list[list[str]]:
    """``n`` documents as rendered token lists."""
    lens = doc_lengths(rng, spec, n)
    ranks = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    toks = render_tokens(rng, vocab[ranks])
    out, at = [], 0
    for n_tok in lens:
        out.append(toks[at : at + n_tok])
        at += n_tok
    return out


def join_text(tokens: list[str]) -> str:
    """Single spaces, a newline every 16 tokens (both are whitespace to
    every tokenizer involved)."""
    lines = [" ".join(tokens[i : i + 16]) for i in range(0, len(tokens), 16)]
    return "\n".join(lines)


def normalize(text: str) -> list[str]:
    """The engine's tokenizer contract in plain Python: whitespace split,
    strip non-letters inside each token, lowercase, drop empties."""
    out = []
    for tok in text.split():
        t = _NON_ALPHA.sub("", tok).lower()
        if t:
            out.append(t)
    return out


def near_duplicate(
    rng: np.random.Generator,
    tokens: list[str],
    vocab: np.ndarray,
    probs: np.ndarray,
    edit: float,
) -> list[str]:
    """Copy of ``tokens`` with each token replaced w.p. ``edit``."""
    out = list(tokens)
    hit = np.flatnonzero(rng.random(len(out)) < edit)
    if len(hit):
        repl = render_tokens(rng, vocab[rng.choice(len(vocab), size=len(hit), p=probs)])
        for i, w in zip(hit, repl):
            out[i] = w
    return out


def write_docs(path: str, ids: list[int], texts: list[str], parts: int) -> None:
    """A directory of ``parts`` parquet files, so the engine's scan gets
    ``parts`` input splits as a multi-file dataset would."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(ids) // parts)
    for p, at in enumerate(range(0, len(ids), step)):
        table = pa.table(
            {
                "doc_id": pa.array(ids[at : at + step], pa.int32()),
                "text": pa.array(texts[at : at + step], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{p:03d}.parquet"))


def write_embeddings(path: str, ids: np.ndarray, vecs: np.ndarray, id_col: str, vec_col: str) -> None:
    table = pa.table(
        {
            id_col: pa.array(ids.astype(np.int32)),
            vec_col: pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)


def make_embeddings(rng: np.random.Generator, spec: EmbeddingSpec):
    centres = rng.normal(size=(spec.n_clusters, spec.dim))
    who = rng.integers(0, spec.n_clusters, size=spec.n_vectors)
    vecs = centres[who] + rng.normal(scale=spec.noise, size=(spec.n_vectors, spec.dim))
    qwho = rng.integers(0, spec.n_clusters, size=spec.n_queries)
    qvecs = centres[qwho] + rng.normal(scale=spec.noise, size=(spec.n_queries, spec.dim))
    # The engine stores float32; the oracle must see the same values.
    return vecs.astype(np.float32), qvecs.astype(np.float32)


def rare_terms(texts: list[str]) -> list[str]:
    """Terms of the corpus with document frequency <= 3."""
    df: dict[str, int] = {}
    for t in texts:
        for term in set(normalize(t)):
            df[term] = df.get(term, 0) + 1
    return sorted(w for w, c in df.items() if c <= 3)


def make_queries(
    rng: np.random.Generator,
    spec: QuerySpec,
    vocab: np.ndarray,
    probs: np.ndarray,
    rare: list[str],
    n_query_vectors: int,
) -> list[dict]:
    """The op stream. Each op: {op, t1, t2, probe}; unused fields are
    '' / -1. Terms are Zipf-hot (repeating) or, w.p. ``rare_share``, a
    rare term of the corpus."""
    kinds = sorted(spec.mix)
    block = [op for _, op in sorted(
        ((i + (k + 0.5) / len(kinds)) / spec.mix[op], op)
        for k, op in enumerate(kinds) for i in range(spec.mix[op]))]
    ops = block * -(-spec.n_ops // len(block))

    def term() -> str:
        if rare and rng.random() < spec.rare_share:
            return rare[int(rng.integers(len(rare)))]
        return str(vocab[rng.choice(len(vocab), p=probs)])

    out = []
    for i, op in enumerate(ops[: spec.n_ops]):
        q = {"qid": i, "op": op, "t1": "", "t2": "", "probe": -1}
        if op in ("term", "rank"):
            q["t1"] = term()
        elif op in ("and", "not"):
            q["t1"], q["t2"] = term(), term()
        elif op == "prefix":
            q["t1"] = term()[:3]
        elif op == "ann":
            q["probe"] = int(rng.integers(n_query_vectors))
        out.append(q)
    return out


def write_queries(path: str, queries: list[dict]) -> None:
    cols = {k: [q[k] for q in queries] for k in ("qid", "op", "t1", "t2", "probe")}
    pq.write_table(pa.table(cols), path)


def read_queries(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def generate(
    out_dir: str,
    seed: int,
    corpus: CorpusSpec,
    queries: QuerySpec | None = None,
    embeddings: EmbeddingSpec | None = None,
    ingest: IngestSpec | None = None,
) -> dict:
    """Write one workload's inputs under ``out_dir``; returns the input
    description (sizes, parameters, ground truth file names) that is also
    saved as ``inputs.json``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = make_vocab(rng, corpus.vocab_size)
    probs = zipf_probs(corpus.vocab_size, corpus.zipf_s)
    docs = make_docs(rng, corpus, vocab, probs, corpus.n_docs)
    texts = [join_text(d) for d in docs]
    ids = list(range(1, corpus.n_docs + 1))
    write_docs(os.path.join(out_dir, "documents.parquet"), ids, texts, CORPUS_PARTS)
    desc = {
        "seed": seed,
        "corpus": asdict(corpus),
        "n_docs": corpus.n_docs,
        "text_bytes": sum(len(t.encode()) for t in texts),
        "n_tokens": sum(len(d) for d in docs),
    }

    if embeddings is not None:
        vecs, qvecs = make_embeddings(rng, embeddings)
        write_embeddings(
            os.path.join(out_dir, "embeddings.parquet"),
            np.arange(1, embeddings.n_vectors + 1), vecs, "vec_id", "embedding",
        )
        # probe ids are disjoint from corpus vec_ids (external queries).
        write_embeddings(
            os.path.join(out_dir, "query_vectors.parquet"),
            np.arange(1_000_001, 1_000_001 + embeddings.n_queries), qvecs, "probe_id", "qv",
        )
        desc["embeddings"] = asdict(embeddings)

    if queries is not None:
        rare = rare_terms(texts)
        n_qv = embeddings.n_queries if embeddings is not None else 0
        qs = make_queries(rng, queries, vocab, probs, rare, n_qv)
        write_queries(os.path.join(out_dir, "queries.parquet"), qs)
        desc["queries"] = asdict(queries)
        desc["n_rare_terms"] = len(rare)

    if ingest is not None:
        desc["ingest"] = asdict(ingest)
        desc["batches"] = _write_ingest(out_dir, rng, corpus, ingest, vocab, probs, docs)

    with open(os.path.join(out_dir, "inputs.json"), "w") as fh:
        json.dump(desc, fh, indent=1, sort_keys=True)
    return desc


def _write_ingest(out_dir, rng, corpus, spec, vocab, probs, base_docs) -> list[dict]:
    """Ingest batches plus retraction ranges. Retractions take contiguous
    base doc-id ranges from the top of the base id space; planted
    duplicates copy only base documents below it, so a duplicate's
    source is never retracted."""
    n_base = corpus.n_docs
    n_retract_batches = spec.n_batches // spec.retract_every
    retract_floor = n_base - n_retract_batches * spec.retract_docs
    if retract_floor < n_base // 2:
        raise ValueError("retractions would remove more than half the base corpus")
    next_id = n_base + 1
    batches = []
    hi = n_base
    for b in range(spec.n_batches):
        fresh = make_docs(rng, corpus, vocab, probs, spec.batch_docs)
        is_dup = rng.random(spec.batch_docs) < spec.dup_rate
        src = rng.integers(1, retract_floor + 1, size=spec.batch_docs)
        ids, texts, truth = [], [], []
        for i in range(spec.batch_docs):
            doc_id = next_id + i
            if is_dup[i]:
                toks = near_duplicate(rng, base_docs[src[i] - 1], vocab, probs, spec.dup_edit)
                truth.append([doc_id, int(src[i])])
            else:
                toks = fresh[i]
            ids.append(doc_id)
            texts.append(join_text(toks))
        next_id += spec.batch_docs
        name = f"batch_{b:03d}.parquet"
        write_docs(os.path.join(out_dir, name), ids, texts, BATCH_PARTS)
        entry = {"file": name, "dups": truth}
        if (b + 1) % spec.retract_every == 0:
            entry["retract"] = [hi - spec.retract_docs + 1, hi]
            hi -= spec.retract_docs
        batches.append(entry)
    return batches
