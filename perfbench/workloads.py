"""The benchmark workloads.

Each is a closed loop: one single-threaded client sends its next
operation only after the previous one returned. A workload runs whole
units of work (a request, a pass over registry entries) until `seconds`
of timed wall have passed, then compares every recorded output with its
oracle, untimed. An operation that raises, is
cancelled by the per-operation timeout, or ran on a session that has
died counts as failed.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import oracles

DIM = 64
TOP_K = 10
HYBRID_WEIGHT = 0.5
RECALL_FLOOR = 0.7  # per query, nsw vs exact top-k
OP_TIMEOUT_S = 60.0

# serve_read: every block of requests holds one of each kind, shuffled,
# so the mix is uniform and the pooled median does not drift with the
# seed. Requests are drawn uniformly from a pool of SERVE_POOL_PER_KIND
# per kind, so some repeat; no published trace fixes the mix or the
# repeat share, so both are plain choices and each run records the
# repeat share it measured.
SERVE_KINDS = ["text", "vector", "metadata", "hybrid"]
SERVE_POOL_PER_KIND = 5
SERVE_MIN_BLOCKS = 8
# warm-up rounds of one request per kind, from outside the pool; query
# latency still fell through a run's first blocks after two rounds
SERVE_WARMUP_ROUNDS = 3
SERVE_DOCS = 500
# batch_pipeline: ordered passes over these registry entries. Together
# they cover connected components, eager actions during plan construction, table
# loads and an execution-bound scan.
BATCH_ENTRIES = [
    "dedup_cluster_sample", "chunk_bm25_topk",
    "regional_supplier_volume", "top_orders_q3", "lineitem_pricing",
]
BATCH_MIN_PASSES = 2
BATCH_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings",
]


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool = True
    error: str | None = None
    detail: dict = field(default_factory=dict)


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    # (seconds, all operations ok) per unit of work: the end-to-end sample
    units: list[tuple[float, bool]] = field(default_factory=list)
    wall_s: float = 0.0
    window: tuple[float, float] = (0.0, 0.0)
    checks_failed: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Runner:
    """Times operations, applies the per-operation timeout, and tracks
    whether the session is still alive."""

    def __init__(self, spark, tracer, deadline: float):
        self.spark = spark
        self.tracer = tracer
        self.deadline = deadline  # perf_counter time after which ops fail
        self.dead = False

    def alive(self) -> bool:
        if self.dead:
            return False
        try:
            self.spark.sparkContext._jsc.sc().isStopped()
        except Exception:  # py4j gateway gone: the JVM died
            self.dead = True
        return not self.dead

    def run(self, kind: str, fn, *args) -> tuple[Op, object]:
        if time.perf_counter() > self.deadline:
            self.dead = True
        if self.dead:
            return Op(kind, 0.0, ok=False, error="session dead or run deadline passed"), None
        timer = threading.Timer(OP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                out = fn(*args)
            return Op(kind, time.perf_counter() - t0), out
        except Exception as e:  # an op failure is data, not a crash
            op = Op(kind, time.perf_counter() - t0, ok=False, error=f"{type(e).__name__}: {e}"[:300])
            if not self.alive():
                op.error = f"session dead: {op.error}"
            return op, None
        finally:
            timer.cancel()


# ------------------------------------------------------------------ inputs
def load_corpus(sf_dir: str, n: int):
    """The hybrid corpus (documents joined with embeddings on id), in id
    order: texts, float32 vectors and {lang, source} metadata."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pandas()
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pandas()
    m = docs.merge(emb, left_on="doc_id", right_on="vec_id").sort_values("doc_id").head(n)
    texts = m["text"].tolist()
    vectors = np.stack(m["embedding"].to_numpy()).astype(np.float32)
    metas = [{"lang": a, "source": b} for a, b in zip(m["lang"], m["source"])]
    return texts, vectors, metas


def _query_text(rng) -> str:
    from perfbench.datagen import WORDS

    return " ".join(rng.choice(WORDS[1:], size=2, replace=False))


def _query_vector(rng, vectors: np.ndarray) -> list[float]:
    v = vectors[int(rng.integers(0, len(vectors)))].astype(np.float64)
    v = v + rng.normal(0.0, 0.05, size=v.shape)
    return [float(x) for x in v / np.linalg.norm(v)]


def _request(kind: str, rng, vectors, metas) -> tuple:
    if kind == "text":
        return (_query_text(rng),)
    if kind == "vector":
        return (_query_vector(rng, vectors),)
    if kind == "hybrid":
        return (_query_text(rng), _query_vector(rng, vectors))
    m = metas[int(rng.integers(0, len(metas)))]
    cond = {"lang": m["lang"]} if rng.random() < 0.5 else dict(m)
    return (cond,)


def _call(db, kind: str, req: tuple):
    if kind == "text":
        return db.query_text(req[0], top_k=TOP_K, return_scores=True)
    if kind == "vector":
        return db.query_vector(req[0], top_k=TOP_K)
    if kind == "hybrid":
        return db.hybrid_search(req[0], req[1], top_k=TOP_K,
                                vector_weight=HYBRID_WEIGHT, return_scores=True)
    return db.query_metadata(conditions=req[0], top_k=TOP_K)


def _check(corpus: oracles.Corpus, kind: str, req: tuple, out) -> tuple[bool, dict]:
    """(correct, detail) of one facade answer against its oracle."""
    if kind == "text":
        want = corpus.text_topk(req[0], TOP_K)
        scores = dict(enumerate(np.round(corpus.bm25(req[0]), 6)))
        return oracles.ranked_match(out, want, scores), {}
    if kind == "hybrid":
        want = corpus.hybrid_topk(req[0], req[1], TOP_K, HYBRID_WEIGHT)
        return oracles.ranked_match(out, want), {}
    if kind == "vector":
        exact = set(corpus.exact_knn(req[0], TOP_K))
        recall = len(exact & set(out)) / TOP_K
        return len(out) == TOP_K and recall >= RECALL_FLOOR, {"recall": recall}
    return out == corpus.metadata_ids(req[0], TOP_K), {}


def _new_db(spark):
    from homemade_vector_db_spark.db import VectorDatabase

    return VectorDatabase(spark, dim=DIM, index_type="hnsw")


# --------------------------------------------------------------- serve_read
def serve_read(spark, runner: Runner, sf_dir: str, seed: int, seconds: float, setup_mark):
    rng = np.random.default_rng(seed + 1)
    texts, vectors, metas = load_corpus(sf_dir, SERVE_DOCS)
    db = _new_db(spark)
    db.add(texts, vectors.tolist(), metas)
    pool = {k: [_request(k, rng, vectors, metas) for _ in range(SERVE_POOL_PER_KIND)]
            for k in SERVE_KINDS}
    # warm-up with requests outside the pool: the first of each kind builds
    # the BM25 stats and the graph index, the rest let the JIT settle
    for _ in range(SERVE_WARMUP_ROUNDS):
        for kind in SERVE_KINDS:
            _call(db, kind, _request(kind, rng, vectors, metas))
    setup_mark()

    res = Result()
    corpus = oracles.Corpus()
    corpus.extend(texts, vectors, metas)
    answers = []
    asked = set()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(res.ops) < SERVE_MIN_BLOCKS * len(SERVE_KINDS):
        for kind in rng.permutation(SERVE_KINDS):
            req = pool[kind][int(rng.integers(0, SERVE_POOL_PER_KIND))]
            op, out = runner.run(kind, _call, db, kind, req)
            op.detail["repeat"] = (kind, repr(req)) in asked
            asked.add((kind, repr(req)))
            res.ops.append(op)
            answers.append((op, req, out))
        if runner.dead:
            break
    res.window = (t0, time.perf_counter())
    res.wall_s = res.window[1] - t0
    for op, req, out in answers:
        if op.ok:
            op.ok, detail = _check(corpus, op.kind, req, out)
            op.detail.update(detail)
            if not op.ok:
                op.error = "wrong answer"
    res.units = [(op.seconds, op.ok) for op in res.ops]
    res.extra["requests"] = len(res.ops)
    res.extra["distinct_requests"] = len(asked)
    res.extra["repeat_share"] = 1.0 - len(asked) / len(res.ops) if res.ops else 0.0
    return res


# ----------------------------------------------------------- batch_pipeline
def batch_pipeline(spark, runner: Runner, sf_dir: str, seed: int, seconds: float, setup_mark):
    import __spark_entry__ as ent
    from homemade_vector_db_spark.session import release_transient

    registry = ent.queries()
    entries = [(name, registry[name]) for name in BATCH_ENTRIES]
    tracer = runner.tracer

    def run_entry(fn):
        with tracer.span("queries.build"):
            df = fn(spark, sf_dir)
        if tracer.enabled:
            with tracer.span("spark.plan", own_group=False):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.collect", own_group=False):
            pdf = df.toPandas()
        release_transient()
        return pdf

    res = Result()
    for name, fn in entries:  # pre-build pass: derived state, session caches
        t = time.perf_counter()
        run_entry(fn)
        res.extra.setdefault("prebuild_s", {})[name] = time.perf_counter() - t
    setup_mark()

    digests = []
    pass_s = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(pass_s) < BATCH_MIN_PASSES:
        p0 = time.perf_counter()
        for name, fn in entries:
            op, pdf = runner.run(name, run_entry, fn)
            op.detail["pass"] = len(pass_s)
            res.ops.append(op)
            digests.append((op, name, pdf))
        pass_s.append(time.perf_counter() - p0)
        if runner.dead:
            break
    res.window = (t0, time.perf_counter())
    res.wall_s = res.window[1] - t0

    oracle_sql = ent.oracle_sql()
    duck = oracles.DuckOracle(sf_dir, BATCH_TABLES)
    try:
        want = {name: duck.digest(oracle_sql[name]) for name in BATCH_ENTRIES}
    finally:
        duck.close()
    for op, name, pdf in digests:
        if op.ok:
            got = oracles.value_hash(pdf)
            op.detail["rows"] = got[0]
            if got != want[name]:
                op.ok, op.error = False, f"hash mismatch: {got} vs oracle {want[name]}"
    n = len(entries)
    res.units = [(sec, all(o.ok for o in res.ops[i * n:(i + 1) * n])) for i, sec in enumerate(pass_s)]
    return res


WORKLOADS = {
    "serve_read": serve_read,
    "batch_pipeline": batch_pipeline,
}
