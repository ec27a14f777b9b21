"""Distributed kNN-graph construction via NN-Descent (Dong, Moses & Li,
"Efficient k-nearest neighbor graph construction for generic similarity
measures", WWW 2011) — the ANN-candidate tier for corpus-wide kNN graphs.

Why this exists: the exact graph (queries.q_knn_graph, built on
knn.knn_batch_chunked) scans the whole corpus once per query chunk —
O(N²/chunk) scan work. That is the right ORACLE but the wrong plan at
scale: at 100 TB it is N/chunk full-corpus passes. NN-Descent replaces the
exhaustive scan with local refinement: start from a cheap approximate
graph, then repeatedly propose each node's neighbors-of-neighbors as
candidates and keep the best `big_k` per node. Empirically it converges in
a handful of rounds on generic metrics; each round costs
O(N · (2·big_k)²) candidate evaluations — LINEAR in N for fixed big_k,
versus the exact tier's quadratic scan.

Spark shape (no driver state anywhere):
- Init: `n_bucketings` independent xxhash64 bucketings with expected
  bucket size ≈ 2·big_k; one applyInPandas kernel per bucket computes the
  bucket-local exact top-m edges with BLAS. A SINGLE random bucketing
  would be a closed block-diagonal graph — neighbors-of-neighbors never
  leave the bucket and NN-Descent cannot converge; unioning ≥2
  independent bucketings makes the init graph an expander and restores
  convergence (measured on the 2000×64 test corpus: 1 bucketing stalls,
  3 bucketings reach recall@3 ≈ 0.97 in 3 rounds).
- Rounds: forward ∪ reverse edges grouped by pivot; the co-neighbor self
  join proposes (a,b) for every neighbor pair of a pivot, trimmed by the
  paper's local-join rule (skip pairs where BOTH sides are old — any such
  pair was already proposed the round the younger edge arrived); known
  pairs are anti-joined out; survivors get an exact distance via the
  fixed-dim codegen `squared_l2_fixed` expansion (JVM-side, inside
  whole-stage codegen — no Python in the hot path; the HOF aggregate
  form is CodegenFallback and was the sf1 cost center, round 13); a
  per-node window keeps the best `big_k`.
  Every step is a key-partitioned shuffle on src — no collect, no
  broadcast of corpus data, so the same plan runs on 1000 executors.
- Reverse edges reuse the already-known symmetric distance; only truly
  new candidate pairs are scored.

Determinism contract: bucket assignment is xxhash64(seed, id); all
rankings order by (exact float64 distance asc, neighbor id asc); the
init kernel sums distances with a fixed-axis numpy reduction and the
round kernel uses the strict left-to-right `squared_l2_fixed` sum, so the
graph is a pure function of the input rows. Emitted scores follow the
engine-wide 1/(1+L2²) similarity convention rounded to `score_decimals`
(SURVEY.md §2.3-1).

This is NOT oracle-expressible in one SQL statement (it is iterative), so
the registered entry is rows-only and the hash-checked gate is
queries.q_knn_graph_recall: recall vs the exact graph ≥ 0.9 pinned in a
contract row (same pattern as ann_batch_recall / nsw_batch_recall).

Reference context: /root/reference/local_db.py:137-200 serves per-query
k-NN; the corpus-scale payoff of that capability (graph-based SemDeDup,
label propagation, connectivity audits) needs the all-nodes graph this
module builds.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from homemade_vector_db_spark.functions.vector import squared_l2_fixed


def knn_graph_auto(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    exact_threshold: int = 10_000,
    score_decimals: int = 6,
    **nnd_kwargs,
) -> DataFrame:
    """Tiered corpus kNN-graph dispatch — the registered scale entry
    (same count-probe pattern as dedup.embedding_neardup_pairs_auto).

    Below `exact_threshold` rows the exact local-top-k kernel
    (knn.knn_batch_chunked with the corpus as its own query block) wins:
    its BLAS distance block plus a single window costs 2-3 Spark jobs,
    while NN-Descent pays ~5 stages per refinement round — and at N ≈
    exact_threshold the candidate volume N·(2·big_k)²·iters is no
    smaller than the N² exhaustive scan anyway. Above the threshold the
    exhaustive tier's N²/chunk scan work takes over and NN-Descent's
    linear-in-N rounds win (measured crossover and exponents: SCALE.md).

    The exact tier reproduces queries.q_knn_graph bit-for-bit (same
    rounded-score ranking and id tie law), so below the threshold this
    entry stays hash-checkable against the relational oracle; above it
    the result is approximate and gated by q_knn_graph_recall.
    """
    from pyspark.sql import Window as _W

    from homemade_vector_db_spark.operators import knn

    n = df.count()
    if n <= exact_threshold:
        queries = df.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        cand = knn.knn_batch_chunked(
            df,
            queries,
            id_col=id_col,
            vec_col=vec_col,
            k=k + 1,
            score_decimals=score_decimals,
            # the corpus IS the query block here, so the chunk bound is
            # the dispatch threshold: below it one chunk suffices
            max_query_rows=2 * exact_threshold,
        ).where(F.col(id_col) != F.col("query_id"))
        w = _W.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc(id_col)
        )
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select(
                F.col("query_id").alias("src"),
                "rn",
                F.col(id_col).alias("neighbor_id"),
                "score",
            )
            .orderBy("src", "rn")
        )
    return knn_graph_nndescent(
        df,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        score_decimals=score_decimals,
        **nnd_kwargs,
    )


def knn_graph_add(
    old_graph: DataFrame,
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    score_decimals: int = 6,
) -> DataFrame:
    """EXACT incremental kNN-graph maintenance: merge a batch of new rows
    into an existing graph without rebuilding — the ingest-path twin of
    the reference's add-after-train index updates (local_db.py:56-80),
    lifted to the corpus-graph tier.

    Decomposition (each node's true top-k over old ∪ new is contained in
    the union of its per-block top-k pools, so the merge is EXACT — a
    from-scratch rebuild produces identical rows, pytest-pinned and
    oracle-checked):
      (a) new → old:  knn_join(old corpus, new queries, k)
      (b) new → new:  knn_join(new block, new queries, k+1) minus self
      (c) old → new:  knn_join(new block, ALL old queries, k) — the
          reverse repair: every old node whose top-k should now contain
          a new row gets the candidate; knn_join's block-matrix shape
          makes the corpus-sized query side free of driver state
      (d) pool = old_graph ∪ (a) ∪ (b) ∪ (c), window top-k per src.
    The pools target disjoint neighbor sets by construction (old ids vs
    new ids), so no dedup join is needed.

    Cost per ingest batch: one pass over the old corpus (a) + one pass
    over old queries against the small new block (c) + |new|² local work
    (b) — O(N·|new|/blocks) instead of the O(N²) rebuild. If old_graph
    came from the NN-Descent tier the same merge applies and the result
    inherits that tier's recall floor (the merge itself loses nothing).

    Determinism: every input pool rounds scores to `score_decimals`
    before selection and ranks (score desc, id asc) — the knn_graph law.
    Raises if old and new id sets overlap (graph identity would break).
    """
    from homemade_vector_db_spark.operators.knn import knn_join

    overlap = (
        new_df.select(F.col(id_col))
        .join(old_df.select(F.col(id_col)), id_col, "left_semi")
        .limit(1)
        .count()
    )
    if overlap:
        raise ValueError("new rows reuse ids already present in the graph")
    newq = new_df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    oldq = old_df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    a = knn_join(
        old_df, newq, id_col=id_col, vec_col=vec_col, k=k,
        score_decimals=score_decimals,
    )
    b = knn_join(
        new_df, newq, id_col=id_col, vec_col=vec_col, k=k + 1,
        score_decimals=score_decimals,
    ).where(F.col(id_col) != F.col("query_id"))
    c = knn_join(
        new_df, oldq, id_col=id_col, vec_col=vec_col, k=k,
        score_decimals=score_decimals,
    )
    as_edges = lambda df: df.select(
        F.col("query_id").alias("src"),
        F.col(id_col).alias("neighbor_id"),
        "score",
    )
    pool = (
        old_graph.select("src", "neighbor_id", "score")
        .unionByName(as_edges(a))
        .unionByName(as_edges(b))
        .unionByName(as_edges(c))
    )
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        pool.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("src", "rn", "neighbor_id", "score")
        .orderBy("src", "rn")
    )


def knn_graph_delete(
    old_graph: DataFrame,
    old_df: DataFrame,
    ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    score_decimals: int = 6,
) -> DataFrame:
    """EXACT mutation-driven graph maintenance (VERDICT r10 Next #7):
    remove `ids` from the corpus kNN graph WITHOUT a rebuild. Law: a
    node's top-k changes only if one of its current neighbors was
    deleted, so
      (a) drop deleted nodes' own adjacency rows,
      (b) keep every surviving node whose list is untouched verbatim,
      (c) recompute ONLY the affected nodes (those that lost >= 1
          neighbor) exactly against the post-delete corpus — a
          knn_join whose query side is |affected| <= k·|deleted| rows.
    Cost: one corpus pass sized by the mutation, not the corpus — vs
    the O(N²)/multi-round rebuild the fingerprint-rotation path pays.
    A from-scratch exact rebuild produces identical rows
    (pytest-pinned). old_df is the PRE-delete corpus; ids absent from
    it are ignored (idempotent replay)."""
    from homemade_vector_db_spark.operators.knn import knn_join

    id_list = [int(i) for i in ids]
    corpus = old_df.where(~F.col(id_col).isin(id_list))
    kept = old_graph.where(~F.col("src").isin(id_list))
    affected = (
        kept.where(F.col("neighbor_id").isin(id_list))
        .select("src")
        .distinct()
    )
    if affected.limit(1).count() == 0:
        # deleted ids were nobody's neighbor: every surviving adjacency
        # list is already exact — no repair pass, no empty knn_join
        return kept.select("src", "rn", "neighbor_id", "score").orderBy(
            "src", "rn"
        )
    intact = kept.join(affected, "src", "left_anti").select(
        "src", "neighbor_id", "score"
    )
    repair_q = (
        corpus.join(
            affected.withColumnRenamed("src", id_col), id_col, "left_semi"
        )
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    )
    repaired = (
        knn_join(
            corpus,
            repair_q,
            id_col=id_col,
            vec_col=vec_col,
            k=k + 1,
            score_decimals=score_decimals,
        )
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            F.col("query_id").alias("src"),
            F.col(id_col).alias("neighbor_id"),
            "score",
        )
    )
    pool = intact.unionByName(repaired)
    w = Window.partitionBy("src").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        pool.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("src", "rn", "neighbor_id", "score")
        .orderBy("src", "rn")
    )


def knn_graph_update(
    old_graph: DataFrame,
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    score_decimals: int = 6,
) -> DataFrame:
    """EXACT in-place vector update of graph nodes (ids STABLE — the
    db.update contract lifted to the graph tier): strip the updated ids
    via knn_graph_delete's repair law, then re-insert the replacement
    vectors via knn_graph_add's three-pool merge (new→rest, new→new,
    rest→new reverse repair). Both halves are exact, so the composition
    equals a from-scratch rebuild on the post-update corpus
    (pytest-pinned) at one mutation-sized cost instead of O(N²). The
    updated id set is collected to the driver — mutations are
    driver-issued id lists by nature (db.update), bounded by the
    mutation batch, never corpus-sized."""
    id_list = [
        int(r[id_col]) for r in new_df.select(id_col).distinct().collect()
    ]
    stripped = knn_graph_delete(
        old_graph,
        old_df,
        id_list,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        score_decimals=score_decimals,
    )
    rest = old_df.where(~F.col(id_col).isin(id_list))
    return knn_graph_add(
        stripped,
        rest,
        new_df,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        score_decimals=score_decimals,
    )


def label_propagation(
    graph: DataFrame,
    seeds: DataFrame,
    id_col: str = "id",
    label_col: str = "label",
    iters: int = 3,
) -> DataFrame:
    """Semi-supervised label propagation over a kNN graph (Zhu &
    Ghahramani 2002, hard-clamp variant) — the classic use of the corpus
    graph for training-data curation: spread a small set of human/LLM
    quality judgments (the seeds) to every similar document.

    Per round, every NON-seed node takes the label with the largest
    total edge weight among its labeled neighbors (undirected edges =
    graph ∪ reverse, max score per pair); seeds are clamped and never
    change; nodes with no labeled neighbor stay unlabeled and may be
    reached in a later round. Ties break on the smallest label.

    Determinism at any executor count: edge weights are the graph's
    6dp-rounded scores lifted to EXACT BIGINT microscores
    (round(score·1e6)), so vote sums are integer — partial-agg order
    cannot flip an argmax (the repo-wide exact-sufficient-statistics
    pattern, _PROBE_SQL). One round is fully relational (the
    hash-checked entry label_prop_round); the multi-round loop is the
    same relation iterated with localCheckpoint lineage truncation.

    Returns (id, label, seeded): seeds plus every node labeled within
    `iters` rounds. Graph schema: (src, neighbor_id, score) — the
    knn_graph family's output.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    micro = (F.round(F.col("score") * 1_000_000, 0)).cast("bigint")
    fwd = graph.select(
        F.col("src").alias("a"), F.col("neighbor_id").alias("b"), micro.alias("w")
    )
    edges = (
        fwd.unionByName(
            fwd.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        )
        .groupBy("a", "b")
        .agg(F.max("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    seed_rel = seeds.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.lit(True).alias("seeded"),
    ).localCheckpoint(eager=True)
    labels = seed_rel
    for _ in range(iters):
        votes = (
            edges.join(
                labels.select(F.col("id").alias("b"), "label"), "b"
            )
            .groupBy("a", "label")
            .agg(F.sum("w").alias("vw"))
        )
        w = Window.partitionBy("a").orderBy(F.desc("vw"), F.asc("label"))
        best = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("a").alias("id"), "label")
            .join(seed_rel.select("id"), "id", "left_anti")
            .withColumn("seeded", F.lit(False))
        )
        labels = seed_rel.unionByName(best).localCheckpoint(eager=True)
    return labels.orderBy("id")


def knn_graph_nndescent(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    big_k: int = 24,
    iters: int = 3,
    n_bucketings: int = 3,
    score_decimals: int = 6,
    dim: int | None = None,
    min_updates_frac: float = 0.001,
) -> DataFrame:
    """Approximate corpus kNN graph: (src, rn, neighbor_id, score) with
    rn = 1..k per node — same schema and score convention as the exact
    q_knn_graph, built in O(iters · N · big_k²) instead of O(N²).

    `big_k` is the internal working degree (the paper's K): recall@k
    improves with big_k and iters; the defaults (24, 3, 3 bucketings)
    measure recall@3 ≈ 0.97 on the hardest test corpus (near-uniform
    unit vectors) and are gated at ≥ 0.9 by q_knn_graph_recall.

    `dim` (round 13): with a known vector width the round kernel scores
    candidates with the fixed-dim codegen expansion (squared_l2_fixed —
    bit-identical left-associated sum) instead of the HOF aggregate,
    which is CodegenFallback and evaluated INTERPRETED: at sf1 the
    scoring pass over ~13M round-1 candidates measured 35.6 s HOF vs
    ~5 s codegen (85 s → 46 s whole-build). Derived from the first row
    when omitted.

    `min_updates_frac` (round 13): Dong et al.'s §2.3 termination rule —
    stop early when a round's update count (edges that newly entered
    the working graph) falls to ≤ δ·N·big_k, δ = 0.001 per the paper.
    On clustered real embeddings NN-Descent converges in 2-3 rounds and
    later rounds would be pure waste; on THIS fixture's near-uniform
    unit vectors the tail of each node's big_k list churns forever
    (measured: 234k of 480k edges still new in round 3 at sf1) so the
    rule never fires and the fixed `iters` bound is what terminates —
    both behaviors are correct, the rule is the robustness guard for
    the data regime where early exit is real. The per-round count is
    one scan of the just-checkpointed edge relation (~0.1 s at sf1).
    """
    if k < 1 or big_k < k:
        raise ValueError(f"need 1 <= k <= big_k, got k={k} big_k={big_k}")
    if iters < 1 or n_bucketings < 2:
        # one bucketing is a closed block-diagonal init — see module doc
        raise ValueError("need iters >= 1 and n_bucketings >= 2")
    nodes = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    n = nodes.count()
    if n < 2:
        raise ValueError(f"need >= 2 rows to build a graph, got {n}")
    if dim is None:
        dim = len(nodes.select("vec").first()[0])
    eff_big_k = min(big_k, n - 1)
    eff_k = min(k, n - 1)
    # expected bucket size ≈ 2·big_k keeps the init kernel's all-pairs
    # block tiny and bounded regardless of N
    nb = max(1, n // (2 * big_k))
    m = max(1, big_k // n_bucketings)

    def bucket_topm(key, pdf):
        pdf = pdf.sort_values("id").reset_index(drop=True)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame(
                {
                    "src": np.array([], dtype=np.int64),
                    "dst": np.array([], dtype=np.int64),
                    "d2": np.array([], dtype=np.float64),
                }
            )
        X = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        D = ((X[:, None, :] - X[None, :, :]) ** 2).sum(axis=2)
        np.fill_diagonal(D, np.inf)
        mm = min(m, len(ids) - 1)
        out_s, out_d, out_v = [], [], []
        for p in range(len(ids)):
            order = np.lexsort((ids, D[p]))[:mm]
            out_s.append(np.full(mm, ids[p]))
            out_d.append(ids[order])
            out_v.append(D[p][order])
        return pd.DataFrame(
            {
                "src": np.concatenate(out_s),
                "dst": np.concatenate(out_d),
                "d2": np.concatenate(out_v),
            }
        )

    inits = []
    for s in range(1, n_bucketings + 1):
        bucketed = nodes.withColumn(
            "bucket", F.pmod(F.xxhash64(F.lit(s), F.col("id")), F.lit(nb))
        )
        inits.append(
            bucketed.groupBy("bucket").applyInPandas(
                bucket_topm, "src long, dst long, d2 double"
            )
        )
    w = Window.partitionBy("src").orderBy(F.asc("d2"), F.asc("dst"))
    init = (
        reduce(DataFrame.unionByName, inits)
        .groupBy("src", "dst")
        .agg(F.min("d2").alias("d2"))
    )
    # localCheckpoint after every round: the round body references the
    # previous frame ~5 times, so without lineage truncation the logical
    # plan grows ~5× PER ROUND (measured: a 2 GB plan string by round 3)
    # — the same idiom as dedup.connected_components' label loop.
    b = (
        init.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= eff_big_k)
        .select("src", "dst", "d2", F.lit(True).alias("is_new"))
        .localCheckpoint(eager=True)
    )

    for _ in range(iters):
        # forward ∪ reverse: the reverse edge reuses the known symmetric
        # distance — no recompute for either direction. `in_b` tracks
        # provenance so next round's is_new needs no join back to b:
        # an edge survives as "old" only if it was already a B-edge.
        rev = b.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "d2", "is_new"
        )
        und = (
            b.select("src", "dst", "d2", "is_new", F.lit(True).alias("in_b"))
            .unionByName(rev.withColumn("in_b", F.lit(False)))
            .groupBy("src", "dst")
            .agg(
                F.min("d2").alias("d2"),
                F.bool_or("is_new").alias("is_new"),
                F.bool_or("in_b").alias("in_b"),
            )
            .localCheckpoint(eager=True)  # referenced 3× below
        )
        lhs, rhs = und.alias("l"), und.alias("r")
        # local join (paper §2.3): propose co-neighbor pairs at each
        # pivot, skipping pairs where both sides are old
        pairs = lhs.join(
            rhs,
            (F.col("l.src") == F.col("r.src"))
            & (F.col("l.dst") < F.col("r.dst"))
            & (F.col("l.is_new") | F.col("r.is_new")),
        )
        # distinct BEFORE the vector-attach joins: the same pair arrives
        # once per shared pivot, and letting duplicates through the
        # 64-element distance aggregate measured 3× slower end to end
        cand = (
            pairs.select(F.col("l.dst").alias("src"), F.col("r.dst").alias("dst"))
            .unionByName(
                pairs.select(
                    F.col("r.dst").alias("src"), F.col("l.dst").alias("dst")
                )
            )
            .distinct()
        )
        # fixed-dim codegen distance (bit-identical to the HOF fold —
        # left-associated, 0.0+t1 == t1 in IEEE); the HOF aggregate is
        # CodegenFallback and was the round's cost center at sf1
        scored = (
            cand.join(
                nodes.select(F.col("id").alias("src"), F.col("vec").alias("__sv")),
                "src",
            )
            .join(
                nodes.select(F.col("id").alias("dst"), F.col("vec").alias("__dv")),
                "dst",
            )
            .select(
                "src",
                "dst",
                squared_l2_fixed("__sv", "__dv", dim).alias("d2"),
                F.lit(False).alias("in_b"),
            )
        )
        # one (src,dst) groupBy both dedups proposals (the same pair can
        # arrive via several pivots) and folds them into the known set —
        # replaces a distinct + anti-join + post-rank join (3 shuffles)
        pool = (
            und.select("src", "dst", "d2", "in_b")
            .unionByName(scored)
            .groupBy("src", "dst")
            .agg(F.min("d2").alias("d2"), F.bool_or("in_b").alias("in_b"))
        )
        b = (
            pool.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= eff_big_k)
            .select("src", "dst", "d2", (~F.col("in_b")).alias("is_new"))
            .localCheckpoint(eager=True)
        )
        # paper §2.3 termination: new-edge count ≤ δ·N·K ends the loop
        # (one scan of the checkpointed relation; see docstring for why
        # this fires on clustered data but not on this fixture)
        if (
            min_updates_frac > 0
            and b.where("is_new").count() <= min_updates_frac * n * eff_big_k
        ):
            break

    return (
        b.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= eff_k)
        .select(
            "src",
            "rn",
            F.col("dst").alias("neighbor_id"),
            F.round(1.0 / (1.0 + F.col("d2")), score_decimals).alias("score"),
        )
        .orderBy("src", "rn")
    )
