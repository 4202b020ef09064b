"""The three benchmark workloads, driven only through the engine's public
functions.

Every workload has the same life cycle, run by ``run.py``:

- ``inputs``: generate the seeded inputs (never timed);
- ``prepare``: program-side set-up, repeated; its median enters ``setup_s``;
- ``warm``: operations that pay JIT compilation and class loading, untimed;
- ``phase``: the timed operations, for ``seconds``;
- ``check``: compare every operation's output with the oracles.

Every engine call sits inside a tracer span named ``<layer>.<step>``. With
tracing off a span costs one branch and ``Ctx.mat`` leaves DataFrames
lazy, so the untraced run makes exactly the calls a user would make. With
tracing on, ``Ctx.mat`` materialises each layer's output at its boundary
so that layer's work lands in its own span.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from spans import Tracer

from pyspark.sql import functions as F

from mapreduceindexer_spark.functions.text import tokens_normalized
from mapreduceindexer_spark.operators import dedup, search, sink
from mapreduceindexer_spark.operators import index as ix
from mapreduceindexer_spark.operators import similarity as sim
from mapreduceindexer_spark.sources.tables import load_table
from mapreduceindexer_spark.sources.transact import TransactionalTable

ANN_K = 5
RANK_K = 10
LOOKUP_OPS = ("term", "and", "not", "prefix")


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    data: str
    work: str
    seconds: float
    desc: dict
    clients: int
    # Per thread: the serve clients materialise concurrently.
    _local: threading.local = field(default_factory=threading.local)

    def _cached(self) -> list:
        if not hasattr(self._local, "dfs"):
            self._local.dfs = []
        return self._local.dfs

    def mat(self, df, sp=None, count_key: str | None = None):
        """Traced: cache and count ``df`` so its work is done inside the
        current span (later plans over the same subtree read the cache).
        Untraced: return ``df`` untouched."""
        if not self.tracer.enabled:
            return df
        df = df.cache()
        n = df.count()
        if sp is not None and count_key:
            sp.counts[count_key] = sp.counts.get(count_key, 0) + n
        self._cached().append(df)
        return df

    def release(self) -> None:
        """Unpersist what this thread materialised."""
        for df in self._cached():
            df.unpersist()
        self._cached().clear()


@dataclass
class Op:
    kind: str
    trace_id: str
    start: float = 0.0
    end: float = 0.0
    result: object = None
    error: str | None = None
    ok: bool | None = None
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def timed(kind: str, trace_id: str, fn, ops: list, lock=None) -> Op:
    """Run ``fn(op)`` as one operation; an exception marks it failed."""
    op = Op(kind, trace_id, time.perf_counter())
    try:
        op.result = fn(op)
    except Exception as exc:  # a failed operation is counted, not fatal
        op.error = f"{type(exc).__name__}: {str(exc)[:300]}"
        op.ok = False
    op.end = time.perf_counter()
    if lock is None:
        ops.append(op)
    else:
        with lock:
            ops.append(op)
    return op


def dir_bytes(path: str) -> int:
    """Bytes of data files under ``path``; checksums and table manifests
    are not index data."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_manifests"]
        for f in files:
            if not f.endswith(".crc") and not f.startswith("."):
                total += os.path.getsize(os.path.join(root, f))
    return total


def docs_text(path: str) -> dict[int, str]:
    t = pq.read_table(path)
    return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


# ---------------------------------------------------------------- queries

def query_df(q: dict, srv: dict):
    """The engine call for one query of the stream."""
    op, t1, t2 = q["op"], q["t1"], q["t2"]
    if op == "term":
        return search.docs_with_term(srv["pairs"], t1)
    if op == "and":
        return search.bool_and(srv["pairs"], [t1, t2])
    if op == "not":
        return search.bool_not(srv["pairs"], t1, t2)
    if op == "prefix":
        return search.prefix_search(srv["postings"], t1)
    if op == "rank":
        return search.bm25_topk(srv["docs"], t1, k=RANK_K)
    if op == "ann":
        qv = srv["qv"].filter(F.col("probe_id") == 1_000_001 + q["probe"])
        return sim.ann_graph_search_vectors(srv["emb"], qv, k=ANN_K, edges=srv["edges"])
    raise ValueError(f"unknown op {op!r}")


def shape_result(op: str, rows) -> object:
    if op in ("term", "and", "not"):
        return sorted(r["doc_id"] for r in rows)
    if op == "prefix":
        return sorted((r["term"], r["df"]) for r in rows)
    if op == "rank":
        return [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rn"])]
    if op == "ann":
        return [r["vec_id"] for r in sorted(rows, key=lambda r: r["rn"])]
    raise ValueError(op)


def run_query(ctx: Ctx, q: dict, srv: dict, op: Op):
    """One query: plan (builder call plus physical planning, traced runs
    only) then execution. Traced rank queries first materialise the
    tokenized corpus in a ``text`` span, which bm25 then reads."""
    kind = q["op"]
    layer = "similarity" if kind == "ann" else "search"
    op.info["q"] = q
    with ctx.tracer.span(f"op.{kind}", op.trace_id):
        if kind == "rank":
            with ctx.tracer.span("text.tokenize") as sp:
                ctx.mat(tokens_normalized(srv["docs"]), sp, "tokens")
        with ctx.tracer.span(f"{layer}.plan"):
            df = query_df(q, srv)
            if ctx.tracer.enabled:
                df._jdf.queryExecution().executedPlan()
        with ctx.tracer.span(f"{layer}.exec") as sp:
            rows = df.collect()
            if sp is not None:
                sp.counts["result_rows"] = len(rows)
        ctx.release()
    return shape_result(kind, rows)


def lookup_answer(post: dict[str, list[int]], q: dict):
    """Pure-Python answer of a lookup over a postings dict."""
    op, t1, t2 = q["op"], q["t1"], q["t2"]
    a = set(post.get(t1, ()))
    if op == "term":
        return sorted(a)
    if op == "and":
        return sorted(a & set(post.get(t2, ())))
    if op == "not":
        return sorted(a - set(post.get(t2, ())))
    if op == "prefix":
        return sorted((t, len(ids)) for t, ids in post.items() if t.startswith(t1))
    raise ValueError(op)


# ------------------------------------------------------------- bulk_build

def closed_loop_rate(clients: int, ops: list[Op]) -> float:
    """Throughput of a closed loop without think time (Little's law):
    clients / mean latency. Unlike completions / wall time it does not
    depend on how long the last operations in flight take to drain."""
    busy = sum(o.seconds for o in ops)
    return clients * len(ops) / busy if busy else 0.0


class BulkBuild:
    """build_postings -> write_index over a Zipf corpus, one client."""

    name = "bulk_build"
    corpus = gen.CorpusSpec(n_docs=3000, vocab_size=30000, zipf_s=1.1, len_median=150, len_sigma=0.8)
    # The session keeps at most 20k records per sort buffer, far fewer
    # than the build's ~600k token rows, so the aggregation and the
    # shuffle run out of core (the spill shows as spark.spill_mb in the
    # traced run).
    confs = {"spark.shuffle.spill.numElementsForceSpillThreshold": "20000"}
    driver_mem = "1g"
    setup_reps = 3

    def inputs(self, data: str, seed: int) -> dict:
        return gen.generate(data, seed, self.corpus)

    def prepare(self, ctx: Ctx, prev: dict | None) -> dict:
        with ctx.tracer.span("sources.scan") as sp:
            docs = load_table(ctx.spark, ctx.data, "documents")
            ctx.mat(docs, sp, "rows")
        ctx.release()
        return {"n": 0}

    def _build(self, ctx: Ctx, out: str, op: Op) -> None:
        with ctx.tracer.span("op.build", op.trace_id) as osp:
            with ctx.tracer.span("sources.scan"):
                docs = load_table(ctx.spark, ctx.data, "documents")
            with ctx.tracer.span("text.tokenize") as sp:
                ctx.mat(tokens_normalized(docs), sp, "tokens")
            with ctx.tracer.span("index.postings") as sp:
                postings = ctx.mat(ix.build_postings(docs), sp, "terms")
            if osp is not None:
                osp.counts["pairs"] = postings.agg(F.sum("df")).first()[0]
            with ctx.tracer.span("sink.write") as sp:
                sink.write_index(postings, out)
                if sp is not None:
                    sp.counts["bytes_out"] = dir_bytes(out)
            ctx.release()
        op.info["out"] = out

    def _next_out(self, st: dict) -> str:
        st["n"] += 1
        return os.path.join(st["root"], f"out_{st['n']:03d}")

    def warm(self, ctx: Ctx, st: dict) -> None:
        st["root"] = os.path.join(ctx.work, "bulk_out")
        out = self._next_out(st)
        self._build(ctx, out, Op("warm", "w0"))
        shutil.rmtree(out)

    def phase(self, ctx: Ctx, st: dict) -> tuple[list[Op], float]:
        ops: list[Op] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < ctx.seconds:
            out = self._next_out(st)
            timed("build", f"b{st['n']}", lambda o: self._build(ctx, out, o), ops)
        return ops, time.perf_counter() - t0

    def throughput(self, ctx: Ctx, ops: list[Op]) -> float:
        return closed_loop_rate(1, [o for o in ops if o.error is None])

    def check(self, ctx: Ctx, st: dict, ops: list[Op]) -> dict:
        expected = oracle.letter_files(oracle.postings_of(docs_text(os.path.join(ctx.data, "documents.parquet"))))
        ratios = []
        for op in ops:
            if op.error is not None:
                continue
            out = op.info["out"]
            cmp = oracle.compare_letter_files(expected, oracle.read_letter_files(out))
            op.ok = cmp["ok"]
            op.info["bad_letters"] = cmp["bad_letters"]
            op.info["line_recall"] = cmp["line_recall"]
            ratios.append(dir_bytes(out) / ctx.desc["text_bytes"])
            shutil.rmtree(out)
        good = [o.seconds for o in ops if o.error is None]
        text_mb = ctx.desc["text_bytes"] / 1e6
        return {
            "build_mb_s": text_mb / statistics.median(good) if good else 0.0,
            "index_bytes_ratio": statistics.median(ratios) if ratios else 0.0,
            "recall": None,
            "report": {"input_mb": text_mb, "n_docs": ctx.desc["n_docs"],
                       "n_tokens": ctx.desc["n_tokens"]},
        }


# ------------------------------------------------------------ query_serve

class QueryServe:
    """A closed loop of ``clients`` callers over a static in-memory index."""

    name = "query_serve"
    corpus = gen.CorpusSpec(n_docs=1200, vocab_size=20000, zipf_s=1.1, len_median=60, len_sigma=0.7)
    queries = gen.QuerySpec(
        n_ops=4000,
        # Per block of 50: 82 % single-scan lookups (term, prefix), 14 %
        # join lookups (and, not), 2 % rank, 2 % ann, the classes in
        # order of latency. p50 falls inside the first class and the tail
        # (11th-largest latency) inside the second for any run of 60 to
        # 250 queries, never on a boundary between two classes.
        mix={"term": 29, "prefix": 12, "and": 5, "not": 2, "rank": 1, "ann": 1},
        rare_share=0.25,
    )
    embeddings = gen.EmbeddingSpec(n_vectors=300, dim=16, n_clusters=8, noise=0.5, n_queries=64)
    confs: dict = {}
    driver_mem = "1g"
    setup_reps = 2

    def inputs(self, data: str, seed: int) -> dict:
        return gen.generate(data, seed, self.corpus, queries=self.queries, embeddings=self.embeddings)

    def prepare(self, ctx: Ctx, prev: dict | None) -> dict:
        """Load the corpus, build the postings and commit them as a
        transactional table, load that and the (term, doc_id) pairs into
        memory, and build the HNSW edge set over the embeddings.
        ``build_mb_s`` times build_postings plus the commit."""
        if prev is not None:
            for key in ("docs", "postings", "pairs", "emb", "qv", "edges"):
                prev[key].unpersist()
        spark = ctx.spark
        root = os.path.join(ctx.work, "serve_index")
        shutil.rmtree(root, ignore_errors=True)
        with ctx.tracer.span("sources.scan"):
            docs = load_table(spark, ctx.data, "documents").cache()
            docs.count()
        t0 = time.perf_counter()
        with ctx.tracer.span("index.postings") as sp:
            postings_rel = ctx.mat(ix.build_postings(docs), sp, "terms")
        with ctx.tracer.span("transact.commit"):
            table = TransactionalTable(root)
            table.commit(postings_rel)
        build_s = time.perf_counter() - t0
        ctx.release()
        with ctx.tracer.span("sources.scan"):
            postings = table.read(spark).cache()
            postings.count()
        with ctx.tracer.span("index.pairs"):
            pairs = ix.term_doc_pairs(docs).cache()
            pairs.count()
        with ctx.tracer.span("sources.scan"):
            emb = load_table(spark, ctx.data, "embeddings").cache()
            emb.count()
            qv = load_table(spark, ctx.data, "query_vectors").cache()
            qv.count()
        with ctx.tracer.span("similarity.build") as sp:
            edges = sim.hnsw_graph_edges(emb).localCheckpoint()
            n_edges = edges.count()
            if sp is not None:
                sp.counts["edges"] = n_edges
        build_times = (prev or {}).get("build_times", []) + [build_s]
        return {"docs": docs, "postings": postings, "pairs": pairs,
                "emb": emb, "qv": qv, "edges": edges, "build_times": build_times,
                "index_bytes": dir_bytes(root), "n_edges": n_edges}

    def warm(self, ctx: Ctx, st: dict) -> None:
        """One query of each code path (lookups share theirs), taken from
        the end of the stream, which the timed phase never reaches; run
        concurrently, as the clients will."""
        st["queries"] = gen.read_queries(os.path.join(ctx.data, "queries.parquet"))
        st["cursor"] = iter(st["queries"])
        first = {}
        for q in reversed(st["queries"]):
            first.setdefault("lookup" if q["op"] in LOOKUP_OPS else q["op"], q)
        with ThreadPoolExecutor(len(first)) as pool:
            futures = [pool.submit(run_query, ctx, q, st, Op("warm", f"w{q['qid']}"))
                       for q in first.values()]
            for f in futures:
                f.result()

    def phase(self, ctx: Ctx, st: dict) -> tuple[list[Op], float]:
        ops: list[Op] = []
        lock = threading.Lock()
        errors: list[BaseException] = []
        deadline = time.perf_counter() + ctx.seconds

        def client() -> None:
            try:
                while time.perf_counter() < deadline:
                    with lock:
                        q = next(st["cursor"], None)
                    if q is None:
                        errors.append(RuntimeError("query stream exhausted before the deadline"))
                        return
                    timed(q["op"], f"q{q['qid']}", lambda o: run_query(ctx, q, st, o), ops, lock)
            except BaseException as exc:  # re-raised in the caller after join
                errors.append(exc)

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, daemon=True) for _ in range(ctx.clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=ctx.seconds + 150)
            if th.is_alive():
                raise RuntimeError("a query client did not finish")
        if errors:
            raise errors[0]
        return ops, time.perf_counter() - t0

    def throughput(self, ctx: Ctx, ops: list[Op]) -> float:
        """Over the whole blocks of the stream only, so the sample holds
        exactly the declared mix whatever the seed."""
        block = sum(self.queries.mix.values())
        done = {o.info["q"]["qid"] for o in ops if o.error is None}
        whole = 0
        while all(q in done for q in range(whole, whole + block)):
            whole += block
        sample = [o for o in ops if o.error is None and o.info["q"]["qid"] < whole]
        return closed_loop_rate(ctx.clients, sample)

    def check(self, ctx: Ctx, st: dict, ops: list[Op]) -> dict:
        duck = oracle.DuckOracle(os.path.join(ctx.data, "documents.parquet"))
        emb_t = pq.read_table(os.path.join(ctx.data, "embeddings.parquet"))
        vec_ids = np.array(emb_t.column("vec_id").to_pylist())
        vecs = np.array(emb_t.column("embedding").to_pylist(), dtype=np.float32)
        qv_t = pq.read_table(os.path.join(ctx.data, "query_vectors.parquet"))
        qvecs = np.array(qv_t.column("qv").to_pylist(), dtype=np.float32)
        for op in ops:
            if op.error is not None:
                continue
            q = op.info["q"]
            if q["op"] == "ann":
                op.ok = len(op.result) == ANN_K
                exact = oracle.exact_cosine_topk(vecs, vec_ids, qvecs[q["probe"]], ANN_K)
                op.info["recall"] = oracle.recall_at_k(exact, op.result)
            elif q["op"] == "rank":
                op.ok = oracle.compare_topk(duck.answer(q), op.result, tol=1.5e-6)
            else:
                op.ok = duck.answer(q) == op.result
        recalls = [o.info["recall"] for o in ops if "recall" in o.info]
        return {
            "build_mb_s": ctx.desc["text_bytes"] / 1e6 / statistics.median(st["build_times"]),
            "index_bytes_ratio": st["index_bytes"] / ctx.desc["text_bytes"],
            "recall": statistics.fmean(recalls) if recalls else None,
            "report": {"n_edges": st["n_edges"], "ann_recall_n": len(recalls),
                       "input_mb": ctx.desc["text_bytes"] / 1e6},
        }


# ---------------------------------------------------------- ingest_update

class IngestUpdate:
    """Batches through dedup -> postings -> merge -> commit against a
    bulk-built, committed index and signature state, retractions every
    few batches, and lookups between commits."""

    name = "ingest_update"
    corpus = gen.CorpusSpec(n_docs=600, vocab_size=20000, zipf_s=1.1, len_median=60, len_sigma=0.7, len_min=20)
    ingest = gen.IngestSpec(n_batches=40, batch_docs=50, dup_rate=0.3, dup_edit=0.05,
                            retract_every=2, retract_docs=10)
    # One block of reads after each batch: 75 % single-scan lookups, so the
    # run's p50 falls inside that class (batches and retractions, a fifth
    # of the operations, are the slowest).
    queries = gen.QuerySpec(n_ops=2000, mix={"term": 4, "prefix": 2, "and": 1, "not": 1})
    reads_per_batch = 8
    confs: dict = {}
    driver_mem = "1g"
    setup_reps = 2

    def inputs(self, data: str, seed: int) -> dict:
        return gen.generate(data, seed, self.corpus, queries=self.queries, ingest=self.ingest)

    def prepare(self, ctx: Ctx, prev: dict | None) -> dict:
        """Bulk-build the base index (build_postings -> write_index, the
        reference program's letter files) and commit it, then commit the
        base dedup-signature state. ``build_mb_s`` times the build, the
        write and the commit."""
        spark = ctx.spark
        root = os.path.join(ctx.work, "ingest_state")
        shutil.rmtree(root, ignore_errors=True)
        with ctx.tracer.span("sources.scan"):
            base = load_table(spark, ctx.data, "documents")
        index_t = TransactionalTable(os.path.join(root, "index"))
        sigs_t = TransactionalTable(os.path.join(root, "sigs"))
        letters = os.path.join(root, "letters")
        t0 = time.perf_counter()
        with ctx.tracer.span("index.postings") as sp:
            postings = ctx.mat(ix.build_postings(base), sp, "terms")
        with ctx.tracer.span("sink.write") as sp:
            sink.write_index(postings, letters)
            if sp is not None:
                sp.counts["bytes_out"] = dir_bytes(letters)
        with ctx.tracer.span("transact.commit"):
            index_t.commit(postings)
        build_s = time.perf_counter() - t0
        ctx.release()
        with ctx.tracer.span("dedup.signature"):
            sigs = dedup.ingest_signatures(base)
        with ctx.tracer.span("transact.commit"):
            sigs_t.commit(sigs)
        build_times = (prev or {}).get("build_times", []) + [build_s]
        return {"index": index_t, "sigs": sigs_t, "letters": letters, "build_times": build_times}

    def _batch(self, ctx: Ctx, st: dict, batch: dict, op: Op):
        spark = ctx.spark
        op.info["batch"] = batch
        with ctx.tracer.span("op.ingest", op.trace_id) as osp:
            with ctx.tracer.span("sources.scan") as sp:
                bd = ctx.mat(load_table(spark, ctx.data, batch["name"]), sp, "rows")
            with ctx.tracer.span("dedup.signature"):
                bsig = dedup.ingest_signatures(bd).localCheckpoint()
            with ctx.tracer.span("dedup.probe"):
                state = st["sigs"].read(spark)
                flagged = sorted(r["doc_id"] for r in dedup.ingest_dedup_against(state, bsig).collect())
            if osp is not None:
                osp.counts["candidate_pairs"] = candidate_pairs(state, bsig)
                osp.counts["flagged"] = len(flagged)
            survivors = bd.filter(~F.col("doc_id").isin(flagged)) if flagged else bd
            with ctx.tracer.span("text.tokenize") as sp:
                ctx.mat(tokens_normalized(survivors), sp, "tokens")
            with ctx.tracer.span("index.postings") as sp:
                delta = ctx.mat(ix.build_postings(survivors), sp, "terms")
            if osp is not None:
                osp.counts["pairs"] = delta.agg(F.sum("df")).first()[0] or 0
            with ctx.tracer.span("index.merge"):
                merged = ctx.mat(ix.merge_postings_colocated(st["index"].read(spark), delta))
            with ctx.tracer.span("transact.commit") as sp:
                before = dir_bytes(st["index"].path) + dir_bytes(st["sigs"].path) if sp is not None else 0
                version = st["index"].commit(merged)
                keep = bsig.filter(~F.col("doc_id").isin(flagged)) if flagged else bsig
                st["sigs"].commit(keep, mode="append")
                if sp is not None:
                    sp.counts["bytes_committed"] = (
                        dir_bytes(st["index"].path) + dir_bytes(st["sigs"].path) - before)
                    sp.counts["text_bytes"] = batch["text_bytes"]
            ctx.release()
            bsig.unpersist()
        op.info.update(flagged=flagged, version=version)

    def _retract(self, ctx: Ctx, st: dict, lo: int, hi: int, op: Op):
        spark = ctx.spark
        with ctx.tracer.span("op.retract", op.trace_id):
            with ctx.tracer.span("sources.scan") as sp:
                gone = ctx.mat(load_table(spark, ctx.data, "documents")
                               .filter(F.col("doc_id").between(lo, hi)), sp, "rows")
            with ctx.tracer.span("index.postings"):
                gone_post = ctx.mat(ix.build_postings(gone))
            with ctx.tracer.span("index.downdate"):
                down = ctx.mat(ix.delete_from_postings(st["index"].read(spark), gone_post))
            with ctx.tracer.span("transact.commit"):
                version = st["index"].commit(down)
                st["sigs"].delete_where(spark, "doc_id", lo, hi)
            ctx.release()
        op.info.update(version=version, retract=(lo, hi))

    def _reads(self, ctx: Ctx, st: dict, tag: str, ops: list[Op]) -> None:
        postings = st["index"].read(ctx.spark)
        srv = {"postings": postings,
               "pairs": postings.select("term", F.explode("doc_ids").alias("doc_id"))}
        version = st["index"].current_version()
        for i in range(self.reads_per_batch):
            q = next(st["queries"])
            o = timed(q["op"], f"{tag}r{i}", lambda o: run_query(ctx, q, srv, o), ops)
            o.info["version"] = version

    def _step(self, ctx: Ctx, st: dict, ops: list[Op], kind: str) -> None:
        """One batch, its retraction if one is due, then the reads (the
        warm-up step skips the reads: the read path warms in a few ms)."""
        bi = st["next"]
        if bi >= len(st["batches"]):
            raise RuntimeError("ingest batches exhausted before the deadline")
        st["next"] += 1
        batch = st["batches"][bi]
        log = st["history"]
        log.append(timed(kind, f"b{bi}", lambda o: self._batch(ctx, st, batch, o), ops))
        if "retract" in batch:
            lo, hi = batch["retract"]
            log.append(timed("retract" if kind == "ingest" else kind, f"d{bi}",
                             lambda o: self._retract(ctx, st, lo, hi, o), ops))
        if kind == "ingest":
            self._reads(ctx, st, f"b{bi}", ops)

    def warm(self, ctx: Ctx, st: dict) -> None:
        st["batches"] = ctx.desc["batches"]
        for b in st["batches"]:
            t = pq.read_table(os.path.join(ctx.data, b["file"]))
            b["name"] = b["file"][: -len(".parquet")]
            b["n_docs"] = t.num_rows
            b["text_bytes"] = sum(len(x.encode()) for x in t.column("text").to_pylist())
        st["queries"] = iter(gen.read_queries(os.path.join(ctx.data, "queries.parquet")))
        st["next"] = 0
        st["history"] = []
        self._step(ctx, st, [], "warm")

    def phase(self, ctx: Ctx, st: dict) -> tuple[list[Op], float]:
        """Whole retraction cycles only (``retract_every`` steps), so every
        run measures the same mix of batches, retractions and reads even
        when a slow host fits fewer steps into ``seconds``."""
        ops: list[Op] = []
        t0 = time.perf_counter()
        steps = 0
        while time.perf_counter() - t0 < ctx.seconds or steps % self.ingest.retract_every:
            self._step(ctx, st, ops, "ingest")
            steps += 1
        return ops, time.perf_counter() - t0

    def throughput(self, ctx: Ctx, ops: list[Op]) -> float:
        return closed_loop_rate(1, [o for o in ops if o.error is None])

    def check(self, ctx: Ctx, st: dict, ops: list[Op]) -> dict:
        """Replay the committed history in pure Python; every read must
        match the index at its version, and the final index must equal a
        from-scratch build over the surviving documents."""
        live = docs_text(os.path.join(ctx.data, "documents.parquet"))
        letters = oracle.compare_letter_files(
            oracle.letter_files(oracle.postings_of(live)), oracle.read_letter_files(st["letters"]))
        at_version: dict[int, dict] = {}
        done = [o for o in st["history"] if o.error is None]
        for o in sorted(done, key=lambda o: o.info["version"]):
            if "retract" in o.info:
                lo, hi = o.info["retract"]
                for d in range(lo, hi + 1):
                    live.pop(d, None)
            else:
                flagged = set(o.info["flagged"])
                for d, t in docs_text(os.path.join(ctx.data, o.info["batch"]["file"])).items():
                    if d not in flagged:
                        live[d] = t
            at_version[o.info["version"]] = dict(live)
        postings_at: dict[int, dict] = {}
        for o in ops:
            if o.kind in LOOKUP_OPS and o.error is None:
                v = o.info["version"]
                if v not in postings_at:
                    postings_at[v] = oracle.postings_of(at_version[v])
                o.ok = lookup_answer(postings_at[v], o.info["q"]) == o.result
        final = {r["term"]: list(r["doc_ids"]) for r in st["index"].read(ctx.spark).collect()}
        final_cmp = oracle.compare_postings(oracle.postings_of(live), final)
        for o in ops:
            if o.kind in ("ingest", "retract") and o.error is None:
                o.ok = final_cmp["ok"]

        batches = [o for o in st["history"] if "batch" in o.info]
        planted = {d for o in batches for d, _ in o.info["batch"]["dups"]}
        flagged = {d for o in batches if o.error is None for d in o.info["flagged"]}
        timed_batches = [o for o in ops if o.kind == "ingest" and o.error is None]
        st["index"].vacuum(keep_versions=1, grace_seconds=0)
        surv_bytes = sum(len(t.encode()) for t in live.values())
        return {
            "build_mb_s": ctx.desc["text_bytes"] / 1e6 / statistics.median(st["build_times"]),
            "index_bytes_ratio": dir_bytes(st["index"].path) / surv_bytes,
            "recall": len(planted & flagged) / len(planted) if planted else 1.0,
            "setup_ok": letters["ok"],
            "report": {
                "base_letter_files_ok": letters["ok"],
                "batches": len(timed_batches),
                "planted": len(planted),
                "flagged": len(flagged),
                "false_flags": len(flagged - planted),
                "ingest_docs_s": statistics.median(
                    o.info["batch"]["n_docs"] / o.seconds for o in timed_batches)
                if timed_batches else 0.0,
                "final_index_ok": final_cmp["ok"],
                "final_index_diff": {k: v for k, v in final_cmp.items() if k != "ok"},
            },
        }


def candidate_pairs(state_sigs, batch_sigs) -> int:
    """Distinct (state, batch) document pairs sharing an LSH bucket
    (band, sig): the dedup probe's candidate volume before verification,
    not counting the oversized-bucket star."""
    s = state_sigs.select(F.col("doc_id").alias("a"), "band", "sig").distinct()
    b = batch_sigs.select(F.col("doc_id").alias("b"), "band", "sig").distinct()
    return s.join(b, ["band", "sig"]).select("a", "b").distinct().count()


# BENCHMARK.json gates query_serve and ingest_update only; bulk_build stays
# runnable with the same command, and its pipeline also runs, checked, in
# ingest_update's set-up.
WORKLOADS = {w.name: w for w in (BulkBuild(), QueryServe(), IngestUpdate())}
