"""Independent reference answers and the comparators that judge the
engine's outputs against them.

- index: a pure-Python inverted index rendered as the reference's 26
  letter files (``term:[id1 id2 ...]``, df DESC then term ASC);
- lookups and BM25 ranking: DuckDB SQL over the generated corpus;
- ANN: exact cosine top-k in NumPy;
- maintained postings: a pure-Python build over the surviving documents.
"""

from __future__ import annotations

import math
import os
import string

import numpy as np

from gen import normalize

BM25_K1 = 1.2
BM25_B = 0.75


def postings_of(texts: dict[int, str]) -> dict[str, list[int]]:
    """term -> ascending doc ids."""
    post: dict[str, set[int]] = {}
    for doc_id, text in texts.items():
        for term in set(normalize(text)):
            post.setdefault(term, set()).add(doc_id)
    return {t: sorted(ids) for t, ids in post.items()}


def letter_files(post: dict[str, list[int]]) -> dict[str, bytes]:
    """The expected bytes of each letter's index file."""
    by_letter: dict[str, list[tuple[int, str, list[int]]]] = {c: [] for c in string.ascii_lowercase}
    for term, ids in post.items():
        by_letter[term[0]].append((-len(ids), term, ids))
    out = {}
    for c, rows in by_letter.items():
        rows.sort()
        out[c] = "".join(f"{t}:[{' '.join(map(str, ids))}]\n" for _, t, ids in rows).encode()
    return out


def read_letter_files(out_dir: str) -> dict[str, bytes]:
    """Concatenated part files of each ``letter=<c>`` directory."""
    out = {}
    for c in string.ascii_lowercase:
        d = os.path.join(out_dir, f"letter={c}")
        data = b""
        if os.path.isdir(d):
            for name in sorted(os.listdir(d)):
                if name.startswith(("part-", "part_")) and not name.endswith(".crc"):
                    with open(os.path.join(d, name), "rb") as fh:
                        data += fh.read()
        out[c] = data
    return out


def compare_letter_files(expected: dict[str, bytes], actual: dict[str, bytes]) -> dict:
    """{ok, bad_letters, line_recall}: ok iff every letter file is
    byte-identical; line_recall = expected lines found verbatim."""
    bad = sorted(c for c in expected if expected[c] != actual.get(c, b""))
    want = found = 0
    for c, exp in expected.items():
        lines = exp.splitlines()
        got = set(actual.get(c, b"").splitlines())
        want += len(lines)
        found += sum(1 for ln in lines if ln in got)
    return {"ok": not bad, "bad_letters": bad, "line_recall": found / want if want else 1.0}


def compare_topk(expected: list, actual: list, tol: float = 0.0) -> bool:
    """Ranked results must agree item by item, order included. Items are
    tuples whose last element may be a float score (compared with
    ``tol``); every other field must be equal."""
    if len(expected) != len(actual):
        return False
    for e, a in zip(expected, actual):
        if len(e) != len(a) or tuple(e[:-1]) != tuple(a[:-1]):
            return False
        if isinstance(e[-1], float) or isinstance(a[-1], float):
            if not math.isclose(e[-1], a[-1], rel_tol=0.0, abs_tol=tol):
                return False
        elif e[-1] != a[-1]:
            return False
    return True


def compare_postings(expected: dict[str, list[int]], actual: dict[str, list[int]]) -> dict:
    missing = sorted(set(expected) - set(actual))
    extra = sorted(set(actual) - set(expected))
    wrong = sorted(t for t in set(expected) & set(actual) if expected[t] != actual[t])
    return {"ok": not (missing or extra or wrong), "missing": missing[:5],
            "extra": extra[:5], "wrong": wrong[:5]}


class DuckOracle:
    """Lookups and BM25 over the generated corpus, in DuckDB."""

    def __init__(self, docs_path: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE docs AS SELECT doc_id, text FROM read_parquet('{docs_path}/*.parquet')"
        )
        self.con.execute(
            r"""CREATE TABLE toks AS
                SELECT doc_id, lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS term
                FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok FROM docs)
                WHERE lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) <> ''"""
        )
        self.con.execute("CREATE TABLE pairs AS SELECT DISTINCT term, doc_id FROM toks")
        self.n_docs = self.con.execute("SELECT count(*) FROM docs").fetchone()[0]

    def _ids(self, sql: str, params) -> list[int]:
        return [r[0] for r in self.con.execute(sql, params).fetchall()]

    def answer(self, q: dict):
        op, t1, t2 = q["op"], q["t1"], q["t2"]
        if op == "term":
            return self._ids("SELECT doc_id FROM pairs WHERE term = ? ORDER BY 1", [t1])
        if op == "and":
            return self._ids(
                "SELECT doc_id FROM pairs WHERE term = ? INTERSECT SELECT doc_id FROM pairs WHERE term = ? ORDER BY 1",
                [t1, t2],
            )
        if op == "not":
            return self._ids(
                "SELECT doc_id FROM pairs WHERE term = ? EXCEPT SELECT doc_id FROM pairs WHERE term = ? ORDER BY 1",
                [t1, t2],
            )
        if op == "prefix":
            return [
                tuple(r) for r in self.con.execute(
                    "SELECT term, count(*) FROM pairs WHERE starts_with(term, ?) GROUP BY term ORDER BY term",
                    [t1],
                ).fetchall()
            ]
        if op == "rank":
            return self.bm25(t1)
        raise ValueError(f"no oracle for op {op!r}")

    def bm25(self, term: str, k: int = 10) -> list[tuple[int, float]]:
        """(doc_id, score) best first, score rounded to 6 places, ties by
        doc_id — the engine's ranking contract."""
        rows = self.con.execute(
            f"""WITH tf_t AS (SELECT doc_id, count(*) AS tf FROM toks WHERE term = ? GROUP BY doc_id),
                     dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
                     st AS (SELECT {self.n_docs} AS n_docs,
                                   (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl,
                                   (SELECT count(*) FROM tf_t) AS df_t)
                SELECT tf_t.doc_id,
                       ROUND(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0) * tf * ({BM25_K1} + 1.0)
                             / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)), 6) AS score
                FROM tf_t JOIN dl USING (doc_id), st
                ORDER BY score DESC, doc_id ASC LIMIT {k}""",
            [term],
        ).fetchall()
        return [(int(d), float(s)) for d, s in rows]


def exact_cosine_topk(vecs: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> list[int]:
    """Exact top-k vec ids by cosine (rounded to 6 places like the
    engine), ties by ascending id."""
    v = vecs.astype(np.float64)
    qq = q.astype(np.float64)
    cos = np.round(v @ qq / (np.linalg.norm(v, axis=1) * np.linalg.norm(qq)), 6)
    order = np.lexsort((ids, -cos))
    return [int(ids[i]) for i in order[:k]]


def recall_at_k(exact: list[int], got: list[int]) -> float:
    return len(set(exact) & set(got)) / len(exact) if exact else 1.0
