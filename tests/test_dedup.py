"""Dedup operators on the sf0.001 corpus (driver plants ~5% near-dup docs
whose text is another doc's text + ' dup')."""

import pytest
from pyspark.sql import functions as F

from homemade_vector_db_spark.operators import dedup
from homemade_vector_db_spark.sources.tables import load_documents
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_documents(spark, SF_SMOKE).cache()


@pytest.fixture(scope="module")
def planted(docs):
    """Ground-truth near-dup pairs: text b == text a + ' dup'."""
    a, b = docs.alias("a"), docs.alias("b")
    rows = a.join(
        b, F.col("b.text") == F.concat(F.col("a.text"), F.lit(" dup"))
    ).select(
        F.least("a.doc_id", "b.doc_id").alias("x"),
        F.greatest("a.doc_id", "b.doc_id").alias("y"),
    ).collect()
    return {(r.x, r.y) for r in rows}


def test_exact_dedup_no_dupes_on_distinct_corpus(spark, docs):
    out = dedup.exact_dedup(docs, key_cols=["text"]).collect()
    assert all(r.n_copies == 1 for r in out)
    assert len(out) == docs.count()


def test_exact_dedup_finds_planted_copies(spark, docs):
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 100000))
    out = dedup.exact_dedup(doubled, key_cols=["text"]).collect()
    assert all(r.n_copies == 2 for r in out)
    # representative is the stable minimum id
    assert all(r.keep_id < 100000 for r in out)


def test_exact_dedup_hashed_key_same_groups(spark, docs):
    plain = dedup.exact_dedup(docs, key_cols=["text"]).collect()
    hashed = dedup.exact_dedup(docs, key_cols=["text"], key_hash=True).collect()
    assert sorted((r.keep_id, r.n_copies) for r in plain) == sorted(
        (r.keep_id, r.n_copies) for r in hashed
    )


def test_ngram_jaccard_finds_planted_pairs(spark, docs, planted):
    assert planted, "fixture corpus should contain planted near-dups"
    got = {
        (r.a_id, r.b_id)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    # superset: the corpus also contains coincidental near-dup chains
    # (e.g. dup-of-dup clusters) that a correct operator must report too
    assert got >= planted


def test_minhash_matches_exact_jaccard(spark, docs, planted):
    exact = {
        (r.a_id, r.b_id)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    got = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.6).collect()
    }
    assert got == exact


def test_minhash_jaccard_values_match_exact(spark, docs):
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    approx = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.6).collect()
    }
    assert exact == approx  # verification recomputes exact jaccard


def test_simhash_recall_on_planted(spark, docs, planted):
    got = {
        (r.a_id, r.b_id)
        for r in dedup.simhash_pairs(docs, max_hamming=6).collect()
    }
    rec = len(got & planted) / len(planted)
    assert rec >= 0.6


@pytest.mark.parametrize("radius", [0, 4, 8])
def test_simhash_banding_complete_for_radius(spark, docs, radius):
    """Pigeonhole guarantee: banded candidates must reproduce the exact
    all-pairs Hamming-ball join at the advertised radius — including pairs
    whose differing bits are spread across several bands."""
    sh = dedup.simhash_table(docs).cache()
    a, b = sh.alias("a"), sh.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    exact = {
        (r.a_id, r.b_id)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            ham.alias("h"),
        )
        .where(F.col("h") <= radius)
        .collect()
    }
    got = {
        (r.a_id, r.b_id)
        for r in dedup.simhash_pairs(docs, max_hamming=radius).collect()
    }
    assert got == exact
    sh.unpersist()


def test_simhash_planted_pair_bits_spread_across_bands(spark):
    """A pair at Hamming 4 whose flipped bits land in 4 DIFFERENT bands of
    the old fixed-4x16 blocking is still found: with bands=max_hamming+1=5
    at least one band must be identical."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    # perturb tokens until a pair lands at 1 <= hamming <= 4 with bits in
    # distinct 16-bit quarters (asserted below, deterministic corpus)
    rows = [(0, base)]
    rows += [(i, base.replace("beta", f"b{i}eta", i)) for i in range(1, 24)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    sh = {r.doc_id: r.sh for r in dedup.simhash_table(df).collect()}
    spread = [
        (i, j)
        for i in sh
        for j in sh
        if i < j
        and 1 <= bin(sh[i] ^ sh[j]).count("1") <= 4
        and len({k // 16 for k in range(64) if (sh[i] ^ sh[j]) >> k & 1})
        == bin(sh[i] ^ sh[j]).count("1") > 1
    ]
    assert spread, "corpus must contain a cross-band pair for this test"
    got = {(r.a_id, r.b_id) for r in dedup.simhash_pairs(df, max_hamming=4).collect()}
    assert set(spread) <= got


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([(0, "one two"), (1, "a b c d")], "doc_id LONG, text STRING")
    out = df.select(dedup.shingles("text", 3).alias("s")).collect()
    assert out[0].s == []
    assert out[1].s == ["a b c", "b c d"]


def test_embedding_neardup_blas_matches_allpairs(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)
    ]
    # planted dup + zero-norm row (cos defined as 0, never a candidate)
    rows.append((60, [x * 2.0 for x in rows[3][1]]))
    rows.append((61, [0.0] * 8))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    want = [
        (r.a_id, r.b_id, r.cosine)
        for r in dedup.embedding_neardup_pairs(df, threshold=0.6, dim=8).collect()
    ]
    got = [
        (r.a_id, r.b_id, r.cosine)
        for r in dedup.embedding_neardup_pairs_blas(df, threshold=0.6).collect()
    ]
    assert got == want
    assert (3, 60) in {(a, b) for a, b, _ in got}


def test_embedding_neardup_lsh_matches_allpairs(spark):
    import random

    rng = random.Random(8)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)]
    rows.append((60, [x * 3.0 for x in rows[5][1]]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    want = [
        (r.a_id, r.b_id, r.cosine)
        for r in dedup.embedding_neardup_pairs(df, threshold=0.9, dim=8).collect()
    ]
    got = [
        (r.a_id, r.b_id, r.cosine)
        for r in dedup.embedding_neardup_pairs_lsh(df, threshold=0.9, dim=8).collect()
    ]
    assert got == want


def test_embedding_neardup_blas_guards(spark):
    df = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id LONG, embedding ARRAY<FLOAT>")
    with pytest.raises(ValueError, match="threshold"):
        dedup.embedding_neardup_pairs_blas(df, threshold=0.0)
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        dedup.embedding_neardup_pairs_blas(df, threshold=0.5, max_broadcast_rows=0)


def test_embedding_neardup_self_excluded(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    out = dedup.embedding_neardup_pairs(df, threshold=0.99).collect()
    assert [(r.a_id, r.b_id) for r in out] == [(0, 1)]


def test_connected_components_chains(spark):
    # chain 1-2-3 plus isolated pair 5-6: two clusters, min-id canonical
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 6)], "a_id LONG, b_id LONG"
    )
    got = {r.doc_id: r.component for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path: worst diameter for propagation, still converges
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "a_id LONG, b_id LONG"
    )
    got = {r.doc_id: r.component for r in dedup.connected_components(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == 12


def test_connected_components_probe_tier_boundary(spark, monkeypatch):
    # a graph ONE edge over the bound must take the distributed loop and
    # still agree with the driver union-find result; driver memory is
    # bounded by construction, so no collect inside an over-bound call
    # returns more than driver_threshold rows
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (4, 5)], "a_id LONG, b_id LONG"
    )
    cls = type(pairs)
    collect, sizes = cls.collect, []

    def sized(df, *args, **kwargs):
        out = collect(df, *args, **kwargs)
        sizes.append(len(out))
        return out

    def components(threshold):
        sizes.clear()
        out = dedup.connected_components(pairs, driver_threshold=threshold)
        got = out.collect()
        sizes.pop()  # the caller's own collect of the result
        return {r.doc_id: r.component for r in got}

    monkeypatch.setattr(cls, "collect", sized)
    want = {1: 1, 2: 1, 3: 3, 4: 3, 5: 3}
    for threshold in (0, 2):
        assert components(threshold) == want
        assert all(n <= threshold for n in sizes), (threshold, sizes)
    assert components(3) == want
    assert sizes == [3]  # at the bound the edges are collected once


def test_embedding_neardup_auto_dispatches_blas_below_bound(spark):
    """Auto tier: under the row bound the plan is the broadcast-matmul
    form (MapInPandas) and the result equals the exact all-pairs form."""
    import random

    from homemade_vector_db_spark.plans.explain import has_operator

    rng = random.Random(9)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    rows.append((40, [x * 2.0 for x in rows[7][1]]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    auto = dedup.embedding_neardup_pairs_auto(df, threshold=0.9, dim=8)
    assert has_operator(auto, "MapInPandas")
    want = [
        (r.a_id, r.b_id, r.cosine)
        for r in dedup.embedding_neardup_pairs(df, threshold=0.9, dim=8).collect()
    ]
    assert [(r.a_id, r.b_id, r.cosine) for r in auto.collect()] == want


def test_embedding_neardup_auto_dispatches_lsh_above_bound(spark):
    """Auto tier: above the row bound the plan is the LSH-bucketed form
    (no MapInPandas, no driver collect) with the same verified pairs."""
    import random

    from homemade_vector_db_spark.plans.explain import has_operator

    rng = random.Random(10)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    rows.append((40, [x * 2.0 for x in rows[7][1]]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    auto = dedup.embedding_neardup_pairs_auto(
        df, threshold=0.9, dim=8, blas_max_rows=10
    )
    assert not has_operator(auto, "MapInPandas")
    want = [
        (r.a_id, r.b_id, r.cosine)
        for r in dedup.embedding_neardup_pairs(df, threshold=0.9, dim=8).collect()
    ]
    assert [(r.a_id, r.b_id, r.cosine) for r in auto.collect()] == want


def test_dedup_normalized_collapses_case_and_punct(spark):
    """Planted variants differing only in case/punctuation/whitespace
    collapse to one cluster; genuinely different texts do not."""
    import homemade_vector_db_spark.queries as q

    df = spark.createDataFrame(
        [
            (0, "Hello, World!"),
            (1, "hello world"),
            (2, "HELLO   world."),
            (3, "goodbye world"),
        ],
        ["doc_id", "text"],
    )
    orig = q.load_documents
    try:
        q.load_documents = lambda spark, sf: df
        rows = {r.keep_id: r.n_copies for r in q.q_dedup_normalized(spark, "x").collect()}
    finally:
        q.load_documents = orig
    assert rows == {0: 3, 3: 1}


def test_dedup_keeper_quality_policy(spark):
    # the keeper maximizes type-token ratio (least-repetitive copy),
    # ties broken by length then id — verified against an independent
    # recomputation; the policy is distinct from neardup_canonical's
    # pure-length rule
    from homemade_vector_db_spark import queries as Q
    from tests.conftest import SF_SMOKE

    rows = Q.q_dedup_keeper_quality(spark, SF_SMOKE).collect()
    comp = {
        (r.doc_id): r.component
        for r in Q.q_neardup_components(spark, SF_SMOKE).collect()
    }
    docs = {
        r.doc_id: (r.text, r.n_chars)
        for r in Q.load_documents(spark, SF_SMOKE)
        .select("doc_id", "text", "n_chars")
        .collect()
    }

    def ttr(did):
        toks = [t for t in docs[did][0].split() if t]
        return round(len(set(toks)) / len(toks), 6)

    by_comp = {}
    for did, c in comp.items():
        by_comp.setdefault(c, []).append(did)
    assert len(rows) == len(by_comp) > 0
    for r in rows:
        members = by_comp[r.component]
        assert r.n_members == len(members) >= 2
        best = min(members, key=lambda d: (-ttr(d), -docs[d][1], d))
        assert (r.keeper_id, round(r.keeper_ttr, 6)) == (best, ttr(best))


def _brute_containment(texts, n, t):
    """Pure-Python oracle: directed containment over n-gram shingle sets."""
    sets = {}
    for did, txt in texts:
        toks = txt.split()
        if len(toks) >= n:
            sets[did] = {
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            }
    out = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a != b:
                c = len(sa & sb) / len(sa)
                if c >= t:
                    out[(a, b)] = round(c, 6)
    return out


def test_containment_matches_brute_force(spark, docs):
    # prefix filter + length filter are candidate PRUNING only — the
    # verified result must equal the all-pairs computation exactly
    got = {
        (r.a_id, r.b_id): r.containment
        for r in dedup.containment_pairs(docs, n=3, threshold=0.8).collect()
    }
    texts = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    assert got == _brute_containment(texts, 3, 0.8)


def test_containment_is_directed_where_jaccard_dilutes(spark):
    # A subset of B at ~4x length: containment A->B fires, B->A and
    # jaccard both stay silent — the reason the asymmetric law exists
    spark_ = spark
    base = "alpha beta gamma delta epsilon zeta"
    long = base + " " + " ".join(f"w{i} x{i} y{i}" for i in range(8))
    d = spark_.createDataFrame([(1, base), (2, long)], "doc_id long, text string")
    pairs = {
        (r.a_id, r.b_id): r.containment
        for r in dedup.containment_pairs(d, n=3, threshold=0.9).collect()
    }
    assert pairs.get((1, 2)) == 1.0  # every shingle of A appears in B
    assert (2, 1) not in pairs  # the container is not contained
    jac = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.9).collect()
    assert jac == []  # symmetric jaccard misses the subset duplicate


def test_tfidf_prefix_filter_equals_unfiltered(spark):
    """Bayardo prefix filtering is EXACT candidate pruning: the
    filtered plan must produce the identical pair relation as the full
    co-occurrence self-join — on the fixture corpus (the degenerate
    all-stop-terms worst case) AND on a skewed synthetic corpus where
    the prefix actually prunes (near-dup pair on rare terms + docs
    sharing only the stop term, which can never reach the
    threshold)."""
    import homemade_vector_db_spark.queries as Qm

    def normalized(u_docs):
        tf = (
            u_docs.select(
                "doc_id",
                F.explode(
                    F.expr("filter(split(text, '\\\\s+'), t -> t <> '')")
                ).alias("term"),
            )
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        n_docs = tf.select("doc_id").distinct().count()
        idf = tf.groupBy("term").agg(
            (F.log((n_docs + 1.0) / (F.count(F.lit(1)) + 1.0)) + 1.0)
            .alias("idf")
        )
        w = tf.join(idf, "term").select(
            "doc_id", "term", (F.col("tf") * F.col("idf")).alias("w")
        )
        nrm = w.groupBy("doc_id").agg(
            F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nn")
        )
        return w.join(nrm, "doc_id").select(
            "doc_id", "term", (F.col("w") / F.col("nn")).alias("w")
        )

    norm_rows = lambda rows: sorted((r.a_id, r.b_id, r.cos) for r in rows)

    # fixture corpus through the registered entry's own relation
    # (round 12: the entry applies the declared TFIDF_MAX_DF_FRAC cap,
    # so the unfiltered twin is built through the same capped kernel)
    entry_rows = Qm.q_tfidf_cosine_neardup(spark, SF_SMOKE).collect()
    tfm = Qm._bm25_stats(spark, SF_SMOKE).postings.select(
        "doc_id", "term", "tf"
    )
    n_docs = tfm.select("doc_id").distinct().count()
    u = dedup.tfidf_normalized_postings(
        tfm, n_docs, max_df_frac=Qm.TFIDF_MAX_DF_FRAC
    )
    full = dedup.tfidf_cosine_pairs(
        u, Qm.TFIDF_COS_THRESHOLD, prefix_filter=False
    ).collect()
    assert norm_rows(entry_rows) == norm_rows(full)

    # skewed synthetic corpus: docs 1/2 are near-dups on rare terms,
    # docs 3..8 share only the stop term 'the' with everything
    rows = [
        (1, "zebra quark flux the"),
        (2, "zebra quark flux the the"),
        (3, "the alpha"),
        (4, "the beta"),
        (5, "the gamma"),
        (6, "the delta"),
        (7, "the epsilon"),
        (8, "the zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    u2 = normalized(docs)
    got = dedup.tfidf_cosine_pairs(u2, 0.8, prefix_filter=True).collect()
    want = dedup.tfidf_cosine_pairs(u2, 0.8, prefix_filter=False).collect()
    assert norm_rows(got) == norm_rows(want)
    assert {(r.a_id, r.b_id) for r in got} == {(1, 2)}


def test_tfidf_auto_tier_dispatch(spark):
    """The auto tier picks the unfiltered join on a near-uniform
    vocabulary (every prefix ≈ whole doc) and the filtered plan on a
    skewed one — and both dispatch results equal the explicit tiers."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

    def normalized(u_docs):
        tf = (
            u_docs.select(
                "doc_id",
                F.explode(
                    F.expr("filter(split(text, '\\\\s+'), t -> t <> '')")
                ).alias("term"),
            )
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        n_docs = tf.select("doc_id").distinct().count()
        idf = tf.groupBy("term").agg(
            (F.log((n_docs + 1.0) / (F.count(F.lit(1)) + 1.0)) + 1.0)
            .alias("idf")
        )
        w = tf.join(idf, "term").select(
            "doc_id", "term", (F.col("tf") * F.col("idf")).alias("w")
        )
        nrm = w.groupBy("doc_id").agg(
            F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nn")
        )
        return w.join(nrm, "doc_id").select(
            "doc_id", "term", (F.col("w") / F.col("nn")).alias("w")
        )

    norm_rows = lambda rows: sorted((r.a_id, r.b_id, r.cos) for r in rows)
    skew = normalized(mk([
        (1, "zebra quark flux the"),
        (2, "zebra quark flux the the"),
        (3, "the alpha"), (4, "the beta"), (5, "the gamma"),
        (6, "the delta"), (7, "the epsilon"), (8, "the zeta"),
    ]))
    auto = dedup.tfidf_cosine_pairs(skew, 0.8).collect()
    assert norm_rows(auto) == norm_rows(
        dedup.tfidf_cosine_pairs(skew, 0.8, prefix_filter=True).collect()
    )
    uniform = normalized(mk([
        (1, "a b c"), (2, "a b c"), (3, "b c a"), (4, "c a b"),
    ]))
    auto_u = dedup.tfidf_cosine_pairs(uniform, 0.95).collect()
    assert norm_rows(auto_u) == norm_rows(
        dedup.tfidf_cosine_pairs(
            uniform, 0.95, prefix_filter=False
        ).collect()
    )


def test_tfidf_max_df_cap_tier(spark):
    """The declared max_df vocabulary cap (round 12, sklearn
    TfidfVectorizer max_df semantics) — the scale tier for near-uniform
    vocabularies where Bayardo prefixes cannot prune:

    1. On a corpus where no term exceeds the cap, capped ≡ uncapped
       bit-for-bit (the cap is a no-op, never a perturbation).
    2. On the skewed synthetic corpus (stop term 'the' in every doc,
       df = N > 0.5N), the cap drops only the stop term; the DETECTED
       PAIR SET is unchanged (a stop term shared by everything never
       decides a near-dup pair) while the norms legitimately change.
    3. Filtered/unfiltered tiers stay pinned identical over the capped
       relation (cap composes with the Bayardo filter)."""
    import math

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

    def raw_tf(u_docs):
        return (
            u_docs.select(
                "doc_id",
                F.explode(
                    F.expr("filter(split(text, '\\\\s+'), t -> t <> '')")
                ).alias("term"),
            )
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )

    norm_rows = lambda rows: sorted((r.a_id, r.b_id, r.cos) for r in rows)
    pair_set = lambda rows: {(r.a_id, r.b_id) for r in rows}

    # 1. cap does not bind -> identical relation and identical pairs
    low_df = mk([
        (1, "zebra quark flux"),
        (2, "zebra quark flux nova"),
        (3, "alpha beta"),
        (4, "gamma delta"),
    ])  # max df = 2 of 4 docs = exactly 0.5 -> kept (<= floor(0.5*4))
    tf1 = raw_tf(low_df)
    n1 = tf1.select("doc_id").distinct().count()
    capped = dedup.tfidf_normalized_postings(tf1, n1, max_df_frac=0.5)
    uncapped = dedup.tfidf_normalized_postings(tf1, n1, max_df_frac=None)
    as_rows = lambda u: sorted(
        (r.doc_id, r.term, round(r.w, 9)) for r in u.collect()
    )
    assert as_rows(capped) == as_rows(uncapped)

    # 2. skewed corpus: 'the' in all 8 docs is pruned; pair set invariant
    skew = mk([
        (1, "zebra quark flux the"),
        (2, "zebra quark flux the the"),
        (3, "the alpha"), (4, "the beta"), (5, "the gamma"),
        (6, "the delta"), (7, "the epsilon"), (8, "the zeta"),
    ])
    tf2 = raw_tf(skew)
    n2 = tf2.select("doc_id").distinct().count()
    u_cap = dedup.tfidf_normalized_postings(tf2, n2, max_df_frac=0.5)
    u_raw = dedup.tfidf_normalized_postings(tf2, n2, max_df_frac=None)
    # the stop term is gone from the capped vocabulary
    assert u_cap.where(F.col("term") == "the").count() == 0
    got_cap = dedup.tfidf_cosine_pairs(u_cap, 0.8, prefix_filter=False).collect()
    got_raw = dedup.tfidf_cosine_pairs(u_raw, 0.8, prefix_filter=False).collect()
    assert pair_set(got_cap) == pair_set(got_raw) == {(1, 2)}

    # 3. Bayardo filter stays exact over the capped relation
    got_filt = dedup.tfidf_cosine_pairs(u_cap, 0.8, prefix_filter=True).collect()
    assert norm_rows(got_filt) == norm_rows(got_cap)
