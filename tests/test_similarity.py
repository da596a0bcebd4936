"""Self-verification for the non-SQL-expressible similarity operators
(SURVEY.md §5): approximate results are checked against exact
computations and planted duplicates, not against the DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from k8e_fetch_spark.operators.similarity import (
    hamming64,
    minhash_candidate_pairs,
    minhash_signature,
    shingle_hashes,
    shingles,
    simhash64,
)
from k8e_fetch_spark.queries.registry import REGISTRY, queries
from tests.conftest import SF_DIR

queries()


def test_minhash_recovers_exact_jaccard_pairs(spark):
    """Every exact-Jaccard pair > 0.5 must be recovered by the LSH
    candidate generator (8 bands of 4: p(miss at j=0.5) ≈ (1-.5^4)^8 ≈
    0.6 per band config — but the planted dups sit at j≈0.9+ where
    p(miss) < 1e-4)."""
    exact = REGISTRY["dedup_ngram_jaccard"].fn(spark, SF_DIR).filter(F.col("jaccard") > 0.5)
    exact_pairs = {(r.doc_a, r.doc_b) for r in exact.collect()}
    lsh = REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR).filter(F.col("jaccard") > 0.5)
    lsh_pairs = {(r.doc_a, r.doc_b) for r in lsh.collect()}
    assert exact_pairs, "fixture should contain planted near-duplicates"
    missed = exact_pairs - lsh_pairs
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"
    # Note: lsh_pairs can legitimately exceed exact_pairs — the exact
    # query blocks by source, LSH searches globally; its jaccard values
    # are exact-verified inside the operator, so no false positives.


def test_minhash_signature_similarity_estimates_jaccard(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "completely different words entirely unrelated content here now"),
        ],
        ["doc_id", "text"],
    )
    sig = df.select("doc_id", minhash_signature(shingle_hashes(shingles(F.col("text")))).alias("sig"))
    rows = {r.doc_id: r.sig for r in sig.collect()}
    agree_12 = sum(a == b for a, b in zip(rows[1], rows[2])) / len(rows[1])
    agree_13 = sum(a == b for a, b in zip(rows[1], rows[3])) / len(rows[1])
    assert agree_12 > 0.4  # true jaccard ≈ 0.5-0.6
    assert agree_13 == 0.0


def test_simhash_determinism_and_locality(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # identical
            (3, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),  # 1 word off
            (4, "nu xi omicron pi rho sigma tau upsilon phi chi"),  # disjoint
        ],
        ["doc_id", "text"],
    )
    sigs = df.select("doc_id", simhash64(F.col("text")).alias("sig"))
    pairs = (
        sigs.alias("a")
        .crossJoin(sigs.alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("h"),
        )
    )
    h = {(r.da, r.db): r.h for r in pairs.collect()}
    assert h[(1, 2)] == 0  # identical text -> identical signature
    assert h[(1, 3)] < h[(1, 4)]  # near-dup closer than disjoint text


def test_ivf_recall_vs_exact(spark):
    exact = REGISTRY["sim_topk_cosine_exact"].fn(spark, SF_DIR).collect()
    approx = REGISTRY["sim_topk_ivf"].fn(spark, SF_DIR).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.q_id, set()).add(r.n_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.q_id, set()).add(r.n_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # unstructured random embeddings are the worst case for IVF; still
    # expect meaningfully-above-chance recall with 4/16 cells probed
    assert mean_recall >= 0.2, f"IVF mean recall {mean_recall:.2f}"


def test_cosine_lsh_recall_on_planted_neardups(spark):
    """Hyperplane-LSH recovers planted near-duplicate vectors (cosine
    ~0.998) and, because every candidate is exact-verified, reports no
    pair below the threshold. The natural fixture has no high-cosine
    pairs (max ~0.48 at sf0.001), so duplicates are planted — the
    SURVEY.md §5 strategy for approximate operators."""
    import numpy as np

    from k8e_fetch_spark.functions.vectors import cosine
    from k8e_fetch_spark.operators.similarity import cosine_lsh_pairs

    rng = np.random.RandomState(7)
    base = rng.randn(250, 64)
    rows = [(i, base[i].tolist()) for i in range(250)]
    planted = set()
    for j in range(20):  # vec 1000+j is a jittered copy of vec j
        noisy = base[j] + 0.03 * rng.randn(64)
        rows.append((1000 + j, noisy.tolist()))
        planted.add((j, 1000 + j))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    approx = cosine_lsh_pairs(df, "vec_id", "embedding", dim=64, n_bands=4, threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in approx.collect()}

    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"LSH recall {recall:.2f} below floor"

    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("score", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("score") > 0.9)
    )
    want = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert got <= want  # exact verify: no false positives above threshold


def test_cosine_band_keys_arrow_matches_expression_form(spark):
    """The Arrow matmul band-key path must agree bit-for-bit with the
    column-expression reference form (same planes, same d>0 sign rule)."""
    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.operators.similarity import (
        cosine_lsh_band_keys,
        cosine_lsh_band_keys_arrow,
    )

    emb = load(spark, SF_DIR, "embeddings").limit(200)
    expr = emb.select(
        "vec_id",
        F.explode(
            cosine_lsh_band_keys(F.col("embedding"), 64, 4, 10, seed=7)
        ).alias("b"),
    ).select("vec_id", "b.band_idx", "b.band_key")
    arrow = emb.select(
        "vec_id",
        F.posexplode(
            cosine_lsh_band_keys_arrow(64, 4, 10, seed=7)(F.col("embedding"))
        ).alias("band_idx", "band_key"),
    )
    assert expr.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(expr).count() == 0


def test_minhash_signature_arrow_matches_fold_form(spark):
    """The Arrow segmented-min signature must agree bit-for-bit with the
    fold reference form (same coefficients, same mod-p arithmetic)."""
    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.operators.similarity import (
        minhash_signature,
        minhash_signature_arrow,
    )

    docs = load(spark, SF_DIR, "documents").limit(300)
    hashed = docs.select(
        "doc_id", shingle_hashes(shingles(F.col("text"))).alias("h")
    )
    both = hashed.select(
        "doc_id",
        minhash_signature(F.col("h")).alias("fold_sig"),
        minhash_signature_arrow()(F.col("h")).alias("arrow_sig"),
    )
    assert both.filter(F.col("fold_sig") != F.col("arrow_sig")).count() == 0
    assert both.count() == 300


def test_minhash_signature_agg_matches_fold_form(spark):
    """The production explode+groupBy signature (whole-stage codegen,
    the form minhash_candidate_pairs runs) must agree bit-for-bit with
    the fold reference form on the same 64-bit shingle-identity domain:
    same coefficients, same fold of h64 into h < 2^32, same
    (a*h+b) mod p."""
    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.operators.similarity import (
        hashed_shingles,
        minhash_signature,
        minhash_signature_agg,
    )

    docs = load(spark, SF_DIR, "documents").limit(300)
    sh = docs.select(F.col("doc_id").alias("doc"), hashed_shingles("text").alias("sh"))
    agg_sig = minhash_signature_agg(sh)
    fold_sig = sh.select(
        "doc",
        minhash_signature(
            F.transform(F.col("sh"), lambda h: F.pmod(h, F.lit(1 << 32)))
        ).alias("fold_sig"),
    )
    both = agg_sig.join(fold_sig, on="doc")
    assert both.count() == 300
    assert both.filter(F.col("sig") != F.col("fold_sig")).count() == 0


def test_minhash_mega_bucket_star_linking(spark):
    """Buckets above max_bucket switch from clique to star candidates:
    O(m) edges anchored at the bucket's min doc id, exact-verified like
    any other pair, and connectivity-equivalent for clustering."""
    from k8e_fetch_spark.operators.clustering import connected_components
    from k8e_fetch_spark.operators.similarity import minhash_candidate_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, text) for i in range(30)] + [(100, "a completely different document about spark shuffles and joins")],
        "doc_id long, text string",
    )
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", max_bucket=8).filter(
        F.col("jaccard") > 0.9
    )
    rows = pairs.collect()
    # star form: every edge is (0, member), NOT the C(30,2)=435 clique
    assert len(rows) == 29
    assert all(r["doc_a"] == 0 for r in rows)
    assert sorted(r["doc_b"] for r in rows) == list(range(1, 30))
    assert all(r["jaccard"] == 1.0 for r in rows)
    # connectivity is preserved: one 30-member component via the anchor
    comps = connected_components(pairs).collect()
    assert {r["component"] for r in comps} == {0}
    assert len(comps) == 30


def test_minhash_small_buckets_unchanged_by_cap(spark):
    """Below the cap the candidate set is identical with or without the
    guard in range (the declared queries run in this regime)."""
    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.operators.similarity import minhash_candidate_pairs

    corpus = load(spark, SF_DIR, "documents").select("doc_id", "text")
    capped = minhash_candidate_pairs(corpus, "doc_id", "text", max_bucket=1024)
    huge_cap = minhash_candidate_pairs(corpus, "doc_id", "text", max_bucket=1 << 30)
    a = sorted(map(tuple, capped.select("doc_a", "doc_b").collect()))
    b = sorted(map(tuple, huge_cap.select("doc_a", "doc_b").collect()))
    assert a == b


def test_simhash_mega_group_star_linking(spark):
    """Identical-signature groups above max_group collapse to anchor +
    Hamming-0 stars; the anchor still represents the group in the block
    join against other signatures."""
    from k8e_fetch_spark.operators.similarity import simhash_candidate_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, text) for i in range(30)],
        "doc_id long, text string",
    )
    pairs = simhash_candidate_pairs(docs, "doc_id", "text", max_group=8)
    rows = pairs.collect()
    # the 29 star edges at Hamming 0, instead of the C(30,2)=435 clique
    assert len(rows) == 29
    assert all(r["doc_a"] == 0 and r["hamming"] == 0 for r in rows)
    assert sorted(r["doc_b"] for r in rows) == list(range(1, 30))
    # with the cap out of range the same corpus produces the full clique
    clique = simhash_candidate_pairs(docs, "doc_id", "text", max_group=1 << 30).collect()
    assert len(clique) == 435


def test_simhash_small_groups_unchanged_by_cap(spark):
    """Below the cap the pair set is identical with or without the
    guard in range (the declared queries run in this regime; the
    fixtures' largest natural identical-sig group is 3)."""
    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.operators.similarity import simhash_candidate_pairs

    corpus = load(spark, SF_DIR, "documents").select("doc_id", "text")
    capped = simhash_candidate_pairs(corpus, "doc_id", "text", max_group=256)
    huge_cap = simhash_candidate_pairs(corpus, "doc_id", "text", max_group=1 << 30)
    a = sorted(map(tuple, capped.collect()))
    b = sorted(map(tuple, huge_cap.collect()))
    assert a == b


def test_cosine_lsh_mega_bucket_star_linking(spark):
    """Identical-vector clusters share keys in every band at any width;
    above max_bucket they star-link to the min-vid anchor (exact-cosine
    verified) instead of being dropped or clique-enumerated."""
    import numpy as np

    from k8e_fetch_spark.operators.similarity import cosine_lsh_pairs

    rng = np.random.RandomState(11)
    v = rng.randn(64).tolist()
    others = [(200 + i, rng.randn(64).tolist()) for i in range(50)]
    df = spark.createDataFrame(
        [(i, v) for i in range(30)] + others, "vec_id long, embedding array<double>"
    )
    pairs = cosine_lsh_pairs(
        df, "vec_id", "embedding", dim=64, n_bits=40, n_bands=4, threshold=0.9, max_bucket=8
    )
    rows = [r for r in pairs.collect() if r["id_b"] < 200]
    assert len(rows) == 29
    assert all(r["id_a"] == 0 for r in rows)
    assert sorted(r["id_b"] for r in rows) == list(range(1, 30))
    assert all(r["score"] > 0.99 for r in rows)


def test_keep_best_per_cluster_policy(spark):
    """Retention policy: highest quality wins; exact ties keep the
    smallest id; the aggregation is a single struct-max (no window),
    so member count is unbounded-cluster safe."""
    from k8e_fetch_spark.operators.dedup import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (7, 20), (8, 20)],
        "doc_id long, cluster_id long",
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (7, 0.4), (8, 0.4)],
        "doc_id long, quality double",
    )
    got = {
        r["cluster_id"]: (r["keep_doc_id"], r["best_quality"], r["n_members"])
        for r in keep_best_per_cluster(clusters, quality).collect()
    }
    # cluster 10: quality tie 0.9 between 2 and 3 -> min id 2
    # cluster 20: tie 0.4 between 7 and 8 -> min id 7
    assert got == {10: (2, 0.9, 3), 20: (7, 0.4, 2)}


def test_keep_best_per_cluster_string_ids(spark):
    """Web-corpus doc ids are strings (URLs, UUIDs): the retention
    policy must order ties lexicographically on the id's own type and
    return keep_doc_id as a string, not require numeric ids."""
    from k8e_fetch_spark.operators.dedup import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [("urn:a", 10), ("urn:b", 10), ("urn:c", 10), ("urn:z", 20), ("urn:y", 20)],
        "doc_id string, cluster_id long",
    )
    quality = spark.createDataFrame(
        [("urn:a", 0.5), ("urn:b", 0.9), ("urn:c", 0.9), ("urn:z", 0.4), ("urn:y", 0.4)],
        "doc_id string, quality double",
    )
    out = keep_best_per_cluster(clusters, quality)
    assert dict(out.dtypes)["keep_doc_id"] == "string"
    got = {
        r["cluster_id"]: (r["keep_doc_id"], r["best_quality"], r["n_members"])
        for r in out.collect()
    }
    # cluster 10: 0.9 tie between urn:b and urn:c -> lexicographic min
    # cluster 20: 0.4 tie -> urn:y < urn:z
    assert got == {10: ("urn:b", 0.9, 3), 20: ("urn:y", 0.4, 2)}


def test_ivf_trained_recall_vs_exact(spark):
    """The trained IVF path (kmeans codebook -> coarse assign -> probe
    search) must keep recall@5 vs the exact top-k above the same bar
    the fixed-codebook variant meets."""
    from k8e_fetch_spark.queries import REGISTRY, queries

    queries()
    from tests.conftest import SF_DIR

    approx = REGISTRY["sim_topk_ivf_trained"].fn(spark, SF_DIR).collect()
    exact = REGISTRY["sim_topk_cosine_exact"].fn(spark, SF_DIR).collect()
    approx_sets: dict = {}
    for r in approx:
        approx_sets.setdefault(r["q_id"], set()).add(r["n_id"])
    exact_sets: dict = {}
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["n_id"])
    assert set(approx_sets) == set(exact_sets)
    hits = sum(len(approx_sets[q] & exact_sets[q]) for q in exact_sets)
    total = sum(len(v) for v in exact_sets.values())
    assert hits / total >= 0.5, f"recall {hits}/{total}"


def test_hashed_shingles_edge_texts(spark):
    """The 64-bit shingle identities handle degenerate texts: NULL and
    empty/whitespace text fold to a single whole-text identity (equal
    for equal trimmed text), sub-k docs get one whole-text shingle,
    exactly-k docs one gram, and the pipeline built on them neither
    crashes nor pairs unequal short docs."""
    from k8e_fetch_spark.operators.similarity import hashed_shingles

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "one"),
        (5, "one two"),
        (6, "one two three"),
        (7, "one two three"),       # exact dup of 6 (single gram)
        (8, "one two three four"),  # superset: shares gram with 6/7
        (9, "one"),                 # exact dup of 4 (whole-text shingle)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", hashed_shingles("text").alias("s")).collect()
    }
    # sub-k docs: exactly one whole-text identity; equal text => equal id
    for d in (1, 2, 3, 4, 5):
        assert len(sh[d]) == 1, (d, sh[d])
    assert sh[4] == sh[9]
    assert sh[2] == sh[3]  # both trim to ""
    # k and k+1 token docs: n-k+1 distinct grams
    assert len(sh[6]) == 1 and sh[6] == sh[7]
    assert len(sh[8]) == 2 and sh[6][0] in sh[8]
    # the full pipeline over this corpus: exact dups verify at jaccard 1,
    # and no unequal sub-k docs pair up (distinct whole-text identities)
    pairs = minhash_candidate_pairs(df, "doc_id", "text")
    exact = {(r["doc_a"], r["doc_b"]) for r in pairs.filter(F.col("jaccard") == 1.0).collect()}
    assert (6, 7) in exact and (4, 9) in exact
    assert (2, 3) in exact  # equal-after-trim empties are duplicates
    assert not any({a, b} & {1} for a, b in exact if (a, b) != (1, 1))


def test_pq_adc_recall_vs_exact_l2(spark):
    """PQ-ADC approximates squared-L2 through 8 nibble codes (16x
    compression); recall@5 against the EXACT L2 top-5 (numpy over the
    same vectors) must be far above CHANCE (5/(N-1) for top-5 of N).
    The synthetic embeddings are structureless random vectors — the
    known worst case for PQ, and the init-only (untrained, what keeps
    the query SQL-oracle-checkable) codebooks are the floor config —
    so the honest claim is "load-bearing approximation", pinned as
    >=10x chance and an absolute >=0.15, not the 0.9+ a trained
    codebook reaches on clustered real-world embeddings (measured
    0.25 here)."""
    import numpy as np

    from k8e_fetch_spark.io import load

    queries()
    got = REGISTRY["sim_topk_pq_adc"].fn(spark, SF_DIR).collect()
    approx = {}
    for r in got:
        approx.setdefault(r["q_id"], set()).add(r["n_id"])

    rows = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    hits = total = 0
    for q in sorted(approx):
        qi = np.where(ids == q)[0][0]
        d2 = ((X - X[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        order = np.lexsort((ids, d2))
        exact5 = set(ids[order[:5]].tolist())
        hits += len(exact5 & approx[q])
        total += 5
    recall = hits / total
    chance = 5.0 / (len(ids) - 1)
    assert recall >= max(0.15, 10 * chance), (
        f"PQ recall@5 {recall:.2f} not load-bearing (chance {chance:.4f})"
    )


def test_pq_trained_deterministic_and_load_bearing(spark):
    """The trained-PQ twin: repeat runs hash identically (the driver's
    rows-only contract), and recall@5 clears the same chance-relative
    floor as the init variant. NO improvement over init is asserted —
    measured 0.225 vs 0.25 on these structureless vectors (1 hit in
    40, noise): isotropic random data gives Lloyd nothing to learn,
    which the query docstring states outright."""
    import numpy as np

    from k8e_fetch_spark.io import load

    queries()
    fn = REGISTRY["sim_topk_pq_trained"].fn
    a = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    b = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert a == b and len(a) > 0  # deterministic

    approx = {}
    for q_id, n_id, _rank, _score in a:
        approx.setdefault(q_id, set()).add(n_id)
    rows = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    hits = total = 0
    for q in sorted(approx):
        qi = np.where(ids == q)[0][0]
        d2 = ((X - X[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        exact5 = set(ids[np.lexsort((ids, d2))[:5]].tolist())
        hits += len(exact5 & approx[q])
        total += 5
    recall = hits / total
    chance = 5.0 / (len(ids) - 1)
    assert recall >= max(0.15, 10 * chance), (
        f"trained PQ recall@5 {recall:.2f} not load-bearing (chance {chance:.4f})"
    )

def test_ivfpq_cell_containment_and_recall(spark):
    """The composed IVFPQ query (coarse cells restrict candidates, PQ
    codes score them) holds its structural invariant — every returned
    neighbor is coarse-assigned to one of its query's 4 probed cells,
    recomputed independently in numpy — and recall@5 vs exact L2 stays
    load-bearing (measured 0.325 at sf0.001: the cell restriction
    prunes some PQ false positives on this corpus, so the composition
    lands ABOVE plain PQ's 0.25; pinned conservatively at the same
    chance-relative floor, not at the measured value)."""
    import numpy as np

    from k8e_fetch_spark.io import load

    queries()
    got = REGISTRY["sim_topk_ivfpq_adc"].fn(spark, SF_DIR).collect()
    approx = {}
    for r in got:
        approx.setdefault(r["q_id"], set()).add(r["n_id"])
    assert len(got) > 0

    rows = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order16 = np.argsort(ids)[:16]
    cent, cent_ids = X[order16], ids[order16]

    def unit(A):
        return A / np.linalg.norm(A, axis=1, keepdims=True)

    assign = cent_ids[np.argmax(unit(X) @ unit(cent).T, axis=1)]
    hits = total = 0
    for q in sorted(approx):
        qi = np.where(ids == q)[0][0]
        qsim = (unit(X[qi : qi + 1]) @ unit(cent).T)[0]
        probed = set(cent_ids[np.argsort(-qsim, kind="stable")[:4]].tolist())
        for n in approx[q]:
            ni = np.where(ids == n)[0][0]
            assert assign[ni] in probed, (
                f"neighbor {n} of query {q} lies outside its probed cells"
            )
        d2 = ((X - X[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        exact5 = set(ids[np.lexsort((ids, d2))[:5]].tolist())
        hits += len(exact5 & approx[q])
        total += 5
    recall = hits / total
    chance = 5.0 / (len(ids) - 1)
    assert recall >= max(0.15, 10 * chance), (
        f"IVFPQ recall@5 {recall:.2f} not load-bearing (chance {chance:.4f})"
    )

def test_pq_arrow_twins_match_expression_forms(spark):
    """The Arrow/numpy PQ encode + ADC scorer (the production fast
    path) must agree with the interpreted HOF expression twins —
    codes bit-identical, fold scores equal bitwise on these fixtures
    (both accumulate float64 per dimension; only a near-exact argmin
    tie could diverge, and the exact-duplicate case gives d2 == 0.0
    in both forms). Same evidence pattern as the three bit-identical
    MinHash signature forms."""
    from pyspark.sql import functions as F

    from k8e_fetch_spark.functions.vectors import pq_adc_score_arrow, pq_encode_arrow
    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.queries.similarity import (
        _pq_code_col,
        _pq_lut_score,
        _pq_query_luts,
    )

    queries()
    emb = load(spark, SF_DIR, "embeddings")
    M, K, D = 8, 16, 8
    init = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect()
    }
    codebook = [[init[j][m * D : (m + 1) * D] for j in range(K)] for m in range(M)]

    both = emb.select(
        "vec_id",
        _pq_code_col(codebook, M, K, D).alias("code_expr"),
        pq_encode_arrow(codebook)(F.col("embedding")).alias("code_arrow"),
    )
    diff = both.filter(F.col("code_expr") != F.col("code_arrow")).count()
    assert diff == 0, f"{diff} rows encode differently between HOF and Arrow forms"

    lut_df = _pq_query_luts(spark, emb, codebook, M, K, D)
    scored = (
        both.select("vec_id", F.col("code_arrow").alias("code"))
        .crossJoin(F.broadcast(lut_df))
        .select(
            _pq_lut_score(M).alias("s_expr"),
            pq_adc_score_arrow(F.col("code"), F.col("lut")).alias("s_arrow"),
        )
    )
    sdiff = scored.filter(F.col("s_expr") != F.col("s_arrow")).count()
    assert sdiff == 0, f"{sdiff} ADC scores differ between HOF and Arrow forms"

def test_ivf_assign_arrow_matches_expression_form(spark):
    """The Arrow coarse assign (batch matmul argmax) and the
    literal-inlined expression twin must produce IDENTICAL cell
    assignments — including on a corpus with planted exact duplicates,
    where both forms must tie the duplicate into its original's cell.
    Same twin discipline as the PQ encode pin."""
    from pyspark.sql import functions as F

    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.operators.similarity import ivf_assign

    queries()
    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    arrow = ivf_assign(corpus, centroids, "vec_id", use_arrow=True).select(
        "vec_id", F.col("centroid_id").alias("cid_arrow")
    )
    expr = ivf_assign(corpus, centroids, "vec_id", use_arrow=False).select(
        "vec_id", F.col("centroid_id").alias("cid_expr")
    )
    diff = (
        arrow.join(expr, on="vec_id")
        .filter(F.col("cid_arrow") != F.col("cid_expr"))
        .count()
    )
    assert diff == 0, f"{diff} vectors assigned to different cells by the two forms"

    # planted duplicates land in their original's cell in BOTH forms
    both = arrow.join(expr, on="vec_id")
    orig = {r["vec_id"]: r["cid_arrow"] for r in both.filter(F.col("vec_id") < 25).collect()}
    for r in both.filter(F.col("vec_id") >= 100000).collect():
        assert r["cid_arrow"] == orig[r["vec_id"] - 100000]

def test_arrow_twins_exact_tie_break(spark):
    """Crafted EXACT ties — the one case where the twin-equality
    argument needs more than 'no realistic near-tie': two IDENTICAL
    centroids (different ids) produce bitwise-equal scores for every
    vector, and both assign forms must break toward the LOWER id;
    likewise a duplicated PQ codebook entry must encode to the lower
    code in both forms."""
    from pyspark.sql import functions as F

    from k8e_fetch_spark.functions.vectors import pq_encode_arrow
    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.operators.similarity import ivf_assign
    from k8e_fetch_spark.queries.similarity import _pq_code_col

    emb = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 4).collect()
    # centroid 7 duplicates centroid 2's vector exactly
    rows = [(i, list(r["embedding"])) for i, r in enumerate(base)]
    rows.append((7, rows[2][1]))
    cents = spark.createDataFrame(
        rows, "centroid_id int, centroid array<float>"
    )
    for use_arrow in (True, False):
        got = ivf_assign(emb.limit(50), cents, "vec_id", use_arrow=use_arrow)
        assert got.filter(F.col("centroid_id") == 7).count() == 0, (
            f"use_arrow={use_arrow}: tie with an identical lower-id centroid "
            "must never resolve to the higher id"
        )

    # PQ codebook with entry j=9 duplicating j=3 in every subspace
    M, K, D = 8, 16, 8
    init = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16).collect()
    }
    codebook = [[init[j][m * D : (m + 1) * D] for j in range(K)] for m in range(M)]
    for m in range(M):
        codebook[m][9] = list(codebook[m][3])
    both = emb.limit(50).select(
        _pq_code_col(codebook, M, K, D).alias("ce"),
        pq_encode_arrow(codebook)(F.col("embedding")).alias("ca"),
    )
    bad = both.filter(
        F.array_contains("ce", 9) | F.array_contains("ca", 9)
    ).count()
    assert bad == 0, "duplicated codebook entry must encode to the lower code"
    assert both.filter(F.col("ce") != F.col("ca")).count() == 0

def test_arrow_twins_on_random_data_sweep(spark):
    """Twin equality beyond the parquet fixtures: five seeded random
    corpora (float32 vectors, the embeddings column's type) through
    both the coarse-assign and PQ-encode twins — assignments and codes
    must match exactly on every draw. Deterministic (fixed seeds), so
    a failure is a reproducible counterexample, not flake."""
    import numpy as np
    from pyspark.sql import functions as F

    from k8e_fetch_spark.functions.vectors import pq_encode_arrow
    from k8e_fetch_spark.operators.similarity import ivf_assign
    from k8e_fetch_spark.queries.similarity import _pq_code_col

    M, K, D = 4, 8, 8  # dim 32 keeps the literal twin's plan small
    for seed in range(5):
        rng = np.random.default_rng(seed)
        X = rng.normal(size=(120, M * D)).astype(np.float32)
        rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        cents = spark.createDataFrame(
            rows[:8], "centroid_id int, centroid array<float>"
        )
        a = ivf_assign(df, cents, "vec_id", use_arrow=True).select(
            "vec_id", F.col("centroid_id").alias("ca")
        )
        e = ivf_assign(df, cents, "vec_id", use_arrow=False).select(
            "vec_id", F.col("centroid_id").alias("ce")
        )
        assert a.join(e, "vec_id").filter(F.col("ca") != F.col("ce")).count() == 0, (
            f"seed {seed}: coarse assignment diverged between twins"
        )
        codebook = [
            [[float(v) for v in X[j][m * D : (m + 1) * D]] for j in range(K)]
            for m in range(M)
        ]
        both = df.select(
            _pq_code_col(codebook, M, K, D).alias("ce"),
            pq_encode_arrow(codebook)(F.col("embedding")).alias("ca"),
        )
        assert both.filter(F.col("ce") != F.col("ca")).count() == 0, (
            f"seed {seed}: PQ codes diverged between twins"
        )

def test_incremental_minhash_mega_bucket_anchor(spark):
    """The incremental pair generator's skew guard: when an existing
    band bucket exceeds max_bucket (boilerplate mega cluster), a new
    doc matching the cluster must STILL be flagged — via the min-id
    anchor representative — with O(1) candidates per band instead of
    O(cluster)."""
    from pyspark.sql import functions as F

    from k8e_fetch_spark.operators.similarity import minhash_incremental_pairs

    boiler = "the same boilerplate sentence repeated for every mirror page here"
    existing = spark.createDataFrame(
        [(i, boiler) for i in range(30)] + [(100, "a completely different document about spark and parquet files")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame([(9000, boiler)], "doc_id long, text string")
    got = minhash_incremental_pairs(existing, new, max_bucket=5).filter(
        F.col("jaccard") == 1.0
    )
    rows = got.collect()
    # the new doc is flagged against the cluster anchor (min doc id 0)
    assert any(r["new_doc"] == 9000 and r["old_doc"] == 0 for r in rows), rows
    # bounded candidates: far fewer than the 30-member cluster
    assert len(rows) <= 8, f"anchor guard leaked {len(rows)} candidates"


def test_incremental_minhash_partial_overlap_jaccard(spark):
    """Regression (r9 advice, high): the r8 exact-verify stage joined
    the one-row-per-doc shingle ARRAY table on whole-array equality,
    so any partial-overlap candidate (a true near-dup, J < 1) was
    silently dropped — only byte-identical docs survived. A J=9/11
    planted pair must come back with its true fractional jaccard."""
    from pyspark.sql import functions as F

    from k8e_fetch_spark.operators.similarity import minhash_incremental_pairs

    old_text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    # same 12 tokens, last one changed: 10 shingles each, 9 shared,
    # union 11 -> jaccard 9/11 (k=3 word shingles, all distinct)
    new_text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo zulu"
    existing = spark.createDataFrame(
        [(1, old_text), (2, "a completely unrelated document about parquet row groups")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame([(500, new_text)], "doc_id long, text string")
    rows = minhash_incremental_pairs(existing, new).collect()
    match = [r for r in rows if r["new_doc"] == 500 and r["old_doc"] == 1]
    assert match, f"near-dup pair not surfaced as a candidate: {rows}"
    assert abs(match[0]["jaccard"] - 9 / 11) < 1e-5, match


def test_semdedup_drops_planted_and_keeps_low_centroid_sim(spark):
    """SemDeDup semantics on the declared query: every planted exact
    copy (vec_id+100000) must come back kept=0 with its original
    kept (unless the original is itself suppressed by an earlier-
    ranked eps-neighbor — which the fixture's well-separated random
    embeddings do not produce), and within every cluster the rank-1
    member (lowest centroid similarity) is always kept — the paper's
    retention rule has no one to suppress it."""
    from k8e_fetch_spark.queries import REGISTRY, queries

    queries()
    out = REGISTRY["dedup_semantic_semdedup"].fn(spark, SF_DIR).collect()
    by_id = {r["vec_id"]: r for r in out}
    planted = [r for r in out if r["vec_id"] >= 100000]
    assert planted, "fixture must plant copies"
    for r in planted:
        assert r["kept"] == 0, f"planted copy {r['vec_id']} survived"
        orig = by_id[r["vec_id"] - 100000]
        assert orig["kept"] == 1
        assert orig["cluster_id"] == r["cluster_id"]
        assert orig["centroid_sim"] == r["centroid_sim"]
    # rank-1 per cluster == the min (centroid_sim, vec_id) member; it
    # can never be suppressed
    import collections

    clusters = collections.defaultdict(list)
    for r in out:
        clusters[r["cluster_id"]].append(r)
    for cid, rows in clusters.items():
        first = min(rows, key=lambda r: (r["centroid_sim"], r["vec_id"]))
        assert first["kept"] == 1, f"cluster {cid} rank-1 member dropped"


def test_hybrid_rrf_fusion_semantics(spark):
    """RRF semantics independent of the declared query's corpus: a doc
    ranked mid-list in BOTH legs must outrank docs that top only one
    leg (the property RRF exists for), and the fused scores are the
    exact rationals 1/(60+r) — integer-rank inputs, no float hazard."""
    sf = "/root/testdata/sf0.001"
    from k8e_fetch_spark.queries.registry import REGISTRY, queries

    queries()
    rows = {r.doc_id: r for r in REGISTRY["sim_hybrid_rrf"].fn(spark, sf).collect()}
    assert len(rows) == 10
    for r in rows.values():
        exp = (1.0 / (60 + r.r_lex) if r.r_lex is not None else 0.0) + (
            1.0 / (60 + r.r_vec) if r.r_vec is not None else 0.0
        )
        assert abs(r.rrf - round(exp, 6)) < 1e-12
    both = [r for r in rows.values() if r.r_lex is not None and r.r_vec is not None]
    single = [r for r in rows.values() if (r.r_lex is None) != (r.r_vec is None)]
    if both and single:
        # with top-20 legs the worst both-leg score is 2/(60+20) = 0.025
        # and the best single-leg score is 1/(60+1) ~= 0.0164, so every
        # doc present in both lists strictly outranks every one-leg doc
        assert min(r.rrf for r in both) > max(r.rrf for r in single)


def test_binary_sig_packing_matches_numpy_reference(spark):
    """The sign-bit packing (both 32-bit halves) cross-checked against
    an independent numpy reference on the real fixture vectors, and
    the Hamming distance against numpy popcount."""
    import numpy as np

    from k8e_fetch_spark.queries.similarity import _binary_sig_spark

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {
        r["vec_id"]: (r["lo"], r["hi"])
        for r in emb.select(
            "vec_id",
            _binary_sig_spark("embedding", 0).alias("lo"),
            _binary_sig_spark("embedding", 1).alias("hi"),
        )
        .limit(50)
        .collect()
    }
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in emb.limit(50).collect()}
    for vid, v in rows.items():
        bits = (v > 0).astype(np.uint64)
        lo = sum(int(bits[i]) << i for i in range(32))
        hi = sum(int(bits[32 + i]) << i for i in range(32))
        assert got[vid] == (lo, hi), vid
    # hamming between two fixture vectors
    ids = sorted(rows)[:2]
    a, b = (rows[i] > 0 for i in ids)
    want_ham = int((a != b).sum())
    ga, gb = got[ids[0]], got[ids[1]]
    assert bin(ga[0] ^ gb[0]).count("1") + bin(ga[1] ^ gb[1]).count("1") == want_ham


def test_binary_rescore_is_exact_cosine_over_hamming_candidates(spark):
    """Two-stage property: the declared top-10 must equal brute-force
    exact cosine restricted to the top-100 Hamming candidate set —
    i.e. the prefilter defines the pool, the rescore the order."""
    import numpy as np

    from k8e_fetch_spark.queries.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    out = REGISTRY["sim_topk_binary_rescore"].fn(spark, sf).collect()
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    for q in (0, 1, 2):
        qv = emb[q]
        sign_q = qv > 0
        ham = sorted(
            (int((sign_q != (v > 0)).sum()), vid)
            for vid, v in emb.items()
            if vid != q
        )
        pool = {vid for _, vid in ham[:100]}
        def cos(v):
            return round(float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), 6)
        want = sorted(((-cos(emb[vid]), vid) for vid in pool))[:10]
        got = sorted(
            (-r["cos_score"], r["doc_id"]) for r in out if r["q_id"] == q
        )
        assert [w[1] for w in want] == [g[1] for g in got], q


def test_minhash_store_form_matches_inplan_form(spark):
    """r18 (VERDICT r17 #5a): deduping a batch against the PERSISTED
    store relation (minhash_store_relation -> minhash_pairs_vs_store)
    must be row-identical to the in-plan form that recomputes the
    existing side from text — same shared body, same geometry, so the
    only difference is where the old side's relations come from. Pins
    the equivalence on exact dups AND a fractional-jaccard near-dup."""
    from pyspark.sql import functions as F  # noqa: F401

    from k8e_fetch_spark.operators.similarity import (
        minhash_incremental_pairs,
        minhash_pairs_vs_store,
        minhash_store_relation,
    )

    old_text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    new_text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo zulu"
    existing = spark.createDataFrame(
        [
            (1, old_text),
            (2, "a completely unrelated document about parquet row groups"),
            (3, "exactly this text arrives again in the batch"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(500, new_text), (501, "exactly this text arrives again in the batch")],
        "doc_id long, text string",
    )
    store = minhash_store_relation(existing)
    got_store = sorted(
        (r["new_doc"], r["old_doc"], r["jaccard"])
        for r in minhash_pairs_vs_store(new, store).collect()
    )
    got_inplan = sorted(
        (r["new_doc"], r["old_doc"], r["jaccard"])
        for r in minhash_incremental_pairs(existing, new).collect()
    )
    assert got_store == got_inplan
    as_dict = {(a, b): j for a, b, j in got_store}
    assert as_dict[(501, 3)] == 1.0
    assert abs(as_dict[(500, 1)] - 9 / 11) < 1e-5


def test_store_relation_bands_match_signature_agg(spark):
    """The one-pass store-relation aggregate mirrors
    minhash_signature_agg's arithmetic inline (same coefficients, same
    pmod chain) instead of sharing code — this pin keeps the two from
    drifting: band structs must be BIT-IDENTICAL per doc, and the
    stored shingle set must equal the hashed_shingles set."""
    from pyspark.sql import functions as F

    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.operators.similarity import (
        hashed_shingles,
        lsh_bands,
        minhash_signature_agg,
        minhash_store_relation,
    )

    docs = load(spark, SF_DIR, "documents").limit(200).select("doc_id", "text")
    rel = minhash_store_relation(docs).select(
        F.col("doc"), F.col("sh").alias("sh_rel"), F.col("bands").alias("b_rel")
    )
    sh = docs.select(
        F.col("doc_id").alias("doc"), hashed_shingles("text").alias("sh")
    )
    # the reference bands also run through a column name that needs
    # quoting (a dot and a space) — it must resolve as one column
    ref = (
        minhash_signature_agg(sh)
        .withColumnRenamed("sig", "sig.v 1")
        .select("doc", lsh_bands("sig.v 1", 8, 32).alias("b_ref"))
    )
    ref_sh = sh.select("doc", F.sort_array(F.array_distinct("sh")).alias("sh_ref"))
    joined = rel.join(ref, on="doc").join(ref_sh, on="doc")
    assert joined.count() == 200
    assert joined.filter(F.col("b_rel") != F.col("b_ref")).count() == 0
    assert joined.filter(F.col("sh_rel") != F.col("sh_ref")).count() == 0
