"""Semantic tests for dedup + similarity operators (planted duplicates)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from service_alerts_connector_spark.operators.similarity import (
    bucketed_cosine_topk,
    cosine_topk,
    cosine_topk_mapinpandas,
)
from service_alerts_connector_spark.operators.textdedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash32,
    simhash_near_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog near the old river bank"
NEAR = "the quick brown fox jumps over the lazy cat near the old river bank"
OTHER = "completely different words about spark engines and parquet columnar files"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, NEAR),  # near duplicate of 1
        (4, OTHER),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5]  # 2 removed, representative 1 kept


def test_minhash_lsh_finds_planted_near_dup(docs):
    sigs = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, num_hashes=8, bands=4).collect()
    }
    assert (1, 2) in pairs  # exact dup always collides in every band
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup shares most shingles
    assert (1, 4) not in pairs and (3, 4) not in pairs  # unrelated text


def test_jaccard_exact_values(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical
    assert 0.3 < pairs[(1, 3)] < 1.0  # near dup: one word changed
    assert (1, 4) not in pairs


def test_simhash_identity_and_proximity(docs):
    sig = {r["doc_id"]: r["simhash"] for r in simhash32(docs).collect()}
    assert sig[1] == sig[2]  # identical text, identical signature
    assert all(0 <= v < 2**32 for v in sig.values())
    near = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(simhash32(docs), max_hamming=10).collect()
    }
    assert near[(1, 2)] == 0
    assert (1, 3) in near  # near dup within 10 bits


def test_simhash_banded_pairs_equal_bruteforce(spark):
    """The banded candidate generation must find exactly the pairs a full
    cross-join hamming comparison finds (pigeonhole completeness)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(13)
    base = rng.getrandbits(32)
    sigs = [(0, base)]
    for i in range(1, 60):
        v = base
        for _ in range(rng.randrange(0, 8)):  # flip 0-7 bits
            v ^= 1 << rng.randrange(32)
        sigs.append((i, v))
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")

    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(df, max_hamming=3).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .where(ham <= 3)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .collect()
    }
    assert banded == brute and brute  # identical and non-trivial


def test_cosine_mapinpandas_matches_expression(spark):
    import random

    random.seed(7)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(100)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]
    expr_top = [(r["vec_id"], r["cos"]) for r in cosine_topk(emb, q, 10).collect()]
    fast_top = [
        (r["vec_id"], r["cos"])
        for r in cosine_topk_mapinpandas(emb, q, 10).collect()
    ]
    assert expr_top == fast_top
    assert expr_top[0][0] == 0 and expr_top[0][1] == 1.0  # self-match first


def test_ivf_topk_recall(spark):
    import random

    from service_alerts_connector_spark.operators.similarity import (
        ivf_topk,
        train_centroids_kmeanspp_lite,
    )

    random.seed(3)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = train_centroids_kmeanspp_lite(emb, k=4, sample=64, iterations=1)
    assert len(cents) == 4 and len(cents[0]) == 8
    q = rows[7][1]
    exact = [r["vec_id"] for r in cosine_topk(emb, q, 10).collect()]
    approx = [
        r["vec_id"] for r in ivf_topk(emb, cents, q, k=10, n_probe=2).collect()
    ]
    assert len(approx) == 10
    assert approx[0] == 7  # the query's own vector survives probing
    # approximate recall: probing half the cells keeps most of the true top-10
    assert len(set(exact) & set(approx)) >= 5
    # deterministic across runs
    assert approx == [
        r["vec_id"] for r in ivf_topk(emb, cents, q, k=10, n_probe=2).collect()
    ]


def test_bucketed_ann_subset_of_bucket(spark):
    import random

    random.seed(11)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[5][1]
    out = bucketed_cosine_topk(emb, q, k=5, n_planes=3).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == 5  # query vector is in its own bucket, top hit


def _planted_corpus(spark, n=100, dim=64, sigma=0.045, seed=123):
    """n unit vectors + a noisy copy of each at cosine ~0.91-0.96."""
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.normal(0, 1, (n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    noisy = base + rng.normal(0, sigma, base.shape)
    noisy /= np.linalg.norm(noisy, axis=1, keepdims=True)
    cos = (base * noisy).sum(axis=1)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)] + [
        (1000 + i, [float(x) for x in noisy[i]]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, cos


def test_chunked_pairs_equal_single_level_explode(spark):
    """The r16 two-level (slice-pair) candidate generation must emit
    exactly the same (a < b) pair SET as the single-level explode, across
    the boundary regimes: below the chunk, exactly the chunk, and a
    multi-chunk hot bucket (the case the split exists for)."""
    from service_alerts_connector_spark.operators.similarity import (
        _PAIR_CHUNK,
        _chunked_pairs,
    )
    from service_alerts_connector_spark.operators.textdedup import (
        _pairs_from_sorted_ids,
    )

    rows = [
        (1, list(range(10))),
        (2, list(range(100, 700))),  # > 2 chunks
        (3, list(range(1000, 1000 + _PAIR_CHUNK))),  # exactly one chunk
    ]
    b = spark.createDataFrame(rows, "bucket int, ids array<bigint>")
    got = set(map(tuple, _chunked_pairs(b).distinct().collect()))
    want = set(
        map(
            tuple,
            b.select(_pairs_from_sorted_ids("ids").alias("p"))
            .select("p.id_a", "p.id_b")
            .distinct()
            .collect(),
        )
    )
    assert got == want and len(got) > 200_000


def test_embedding_near_dup_recall_vs_bruteforce(spark):
    """Banded sparse sign-LSH recall at cosine ~0.91-0.96 against the
    brute-force truth — pins the documented recall approximation (theory
    ~0.86 at the 32-plane/4-band default for this cosine band)."""
    from service_alerts_connector_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    df, cos = _planted_corpus(spark)
    true_pairs = {
        (i, 1000 + i) for i in range(100) if round(float(cos[i]), 6) >= 0.9
    }
    assert len(true_pairs) >= 95  # the planting really is above threshold
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.9).collect()
    }
    assert got <= true_pairs  # exact-cosine verification: no false positives
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.8, f"LSH recall degraded: {recall}"


def test_embedding_near_dup_exact_dups_recall_is_1(spark):
    """Exact duplicates collide in every band — recall 1.0 by construction
    (the invariant the oracled catalog demo relies on)."""
    from service_alerts_connector_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    df, _ = _planted_corpus(spark, n=40)
    base = df.where(F.col("vec_id") < 1000)
    corpus = base.unionByName(
        base.select((F.col("vec_id") + 5000).alias("vec_id"), "embedding")
    )
    got = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in embedding_near_dup_pairs(corpus, threshold=0.99).collect()
    }
    assert got == {(i, 5000 + i, 1.0) for i in range(40)}


def test_bucket_cap_bounds_pairs_and_reports_overflow(spark):
    """A degenerate all-identical corpus cannot explode pair expansion:
    the per-cell id array is capped (keep-lowest-ids) and the overflow is
    surfaced by the audit operator."""
    from service_alerts_connector_spark.operators.similarity import (
        bucket_overflow_stats,
        embedding_near_dup_pairs,
    )

    vec = [1.0 if d % 3 == 0 else -0.5 for d in range(64)]
    df = spark.createDataFrame(
        [(i, vec) for i in range(300)], "vec_id long, embedding array<double>"
    )
    pairs = embedding_near_dup_pairs(
        df, threshold=0.99, max_bucket=50
    ).collect()
    ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert ids == set(range(50))  # deterministic keep-lowest-ids slice
    assert len(pairs) == 50 * 49 // 2
    audit = bucket_overflow_stats(df, max_bucket=50).collect()
    assert audit and all(r["n_ids"] == 300 and r["n_overflow"] == 250 for r in audit)
    # 4 bands x 1 populated cell each
    assert len(audit) == 4


def test_minhash_lsh_cap_on_identical_corpus(spark):
    """All-identical corpus: every doc lands in one bucket per band; the
    cap bounds pair expansion to C(cap, 2) over the lowest ids and the
    audit reports the overflow."""
    from service_alerts_connector_spark.operators.textdedup import (
        lsh_bucket_overflow,
    )

    docs = spark.createDataFrame(
        [(i, BASE) for i in range(120)], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    pairs = lsh_candidate_pairs(
        sigs, num_hashes=8, bands=4, max_bucket=30
    ).collect()
    ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert ids == set(range(30))
    assert len(pairs) == 30 * 29 // 2
    audit = lsh_bucket_overflow(sigs, num_hashes=8, bands=4, max_bucket=30)
    rows = audit.collect()
    assert len(rows) == 4  # one saturated bucket per band
    assert all(r["n_ids"] == 120 and r["n_overflow"] == 90 for r in rows)


def test_simhash_cap_on_identical_corpus(spark):
    from service_alerts_connector_spark.operators.textdedup import (
        simhash_bucket_overflow,
    )

    docs = spark.createDataFrame(
        [(i, BASE) for i in range(80)], "doc_id long, text string"
    )
    sigs = simhash32(docs)
    pairs = simhash_near_pairs(sigs, max_hamming=3, max_bucket=20).collect()
    ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert ids == set(range(20))
    assert len(pairs) == 20 * 19 // 2
    rows = simhash_bucket_overflow(sigs, max_hamming=3, max_bucket=20).collect()
    assert len(rows) == 4
    assert all(r["n_ids"] == 80 and r["n_overflow"] == 60 for r in rows)


def test_ann_bucketed_multiprobe_finds_strong_neighbor(spark):
    """Multi-probe sign-LSH ANN: a planted strong neighbour (cos ~0.95) of
    the query lands in the probe set and ranks first."""
    df, cos = _planted_corpus(spark, n=60)
    q_row = df.where(F.col("vec_id") == 3).collect()[0]
    q = [float(x) for x in q_row["embedding"]]
    out = bucketed_cosine_topk(df, q, k=3, n_planes=8, hamming=1).collect()
    assert out[0]["vec_id"] == 3 and out[0]["cos"] == 1.0
    assert out[1]["vec_id"] == 1003  # the noisy copy is the next hit


def test_connected_components_basic(spark):
    from service_alerts_connector_spark.operators.textdedup import (
        connected_components,
    )

    # two clusters: {1,2,3,4} via a chain, {10,11}; pair list is sparse
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_matches_union_find(spark):
    """Label propagation vs a driver-side union-find on a deterministic
    random pair graph."""
    import random

    from service_alerts_connector_spark.operators.textdedup import (
        connected_components,
    )

    rng = random.Random(11)
    edges = sorted({
        tuple(sorted(rng.sample(range(120), 2))) for _ in range(90)
    })
    parent = list(range(120))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    truth = {v: find(v) for v in touched}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == truth


def test_connected_components_one_pass_per_round(spark, monkeypatch):
    """Each driver round must cost ONE substantive action (the lazy
    localCheckpoint whose probe materializes the round's two fused
    propagations) plus a limit-1 isEmpty probe over those materialized
    blocks — never a second join+count recompute (the convergence check
    is piggybacked on the label aggregation itself), and neither the edge
    list's init nor the fused first-propagation labels may burn extra
    checkpoint round trips (r16: init labels are UNpinned — AQE exchange
    reuse shares their aggregation)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from service_alerts_connector_spark.operators.textdedup import (
        connected_components,
    )

    calls = {"localCheckpoint": 0, "isEmpty": 0, "count": 0}
    for name in list(calls):
        orig = getattr(ClassicDF, name)

        def wrapper(self, *a, _n=name, _o=orig, **k):
            calls[_n] += 1
            return _o(self, *a, **k)

        monkeypatch.setattr(ClassicDF, name, wrapper)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    labels = connected_components(pairs)
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    rounds = calls["isEmpty"]
    assert rounds >= 1
    # the 4-chain needs 3 single propagations beyond the fused init
    # (reach 2, reach 3, verify); at two propagations per driver round
    # that is exactly 2 blocking rounds — a third round trip means the
    # unroll regressed
    assert rounds == 2
    # init checkpoints ONLY the edge list; then one checkpoint per round
    # and zero driver-side counts anywhere.
    assert calls["localCheckpoint"] == rounds + 1
    assert calls["count"] == 0


def test_connected_components_empty(spark):
    from service_alerts_connector_spark.operators.textdedup import (
        connected_components,
    )

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_near_dedup_keep(spark):
    from service_alerts_connector_spark.operators.textdedup import (
        near_dedup_keep,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in near_dedup_keep(docs, pairs).collect())
    assert kept == [1, 4, 5]  # cluster {1,2,3} -> keep 1; 4,5 unclustered


def test_cross_corpus_contamination(spark):
    from service_alerts_connector_spark.operators.textdedup import (
        cross_corpus_contamination,
    )

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated text about spark engines and shuffles"),
         (3, "the quick brown fox jumps over the lazy cat")],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    flagged = sorted(
        r["doc_id"]
        for r in cross_corpus_contamination(train, test).collect()
    )
    assert 1 in flagged       # identical doc must flag
    assert 2 not in flagged   # unrelated doc must not


def test_split_contamination_matches_two_pass(spark):
    """The single-pass split variant (band once, filter the banded frame)
    must flag EXACTLY the ids the two-pass cross-corpus form does —
    minhash/banding is per-doc, so filtering before or after banding is
    equivalent (the r15 optimization's correctness contract)."""
    from service_alerts_connector_spark.operators.textdedup import (
        cross_corpus_contamination,
        split_contamination,
    )

    rows = [
        (i, f"shared boilerplate prefix sentence for group {i % 4} "
            f"plus unique tail {i}")
        for i in range(1, 31)
    ] + [(40, "the quick brown fox jumps over the lazy dog"),
         (41, "an entirely distinct document with no overlap at all")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    is_test = F.col("doc_id") % 10 == 0

    single = sorted(
        r["doc_id"] for r in split_contamination(docs, is_test).collect()
    )
    two_pass = sorted(
        r["doc_id"]
        for r in cross_corpus_contamination(
            docs.where(~is_test), docs.where(is_test)
        ).collect()
    )
    assert single == two_pass
    assert all(i % 10 != 0 for i in single)  # only train ids flagged


def test_sq8_reconstruction_bound(spark):
    """Dequantized vectors must sit within scale/254 of the original per
    component, and cosine to the original must stay near 1."""
    from service_alerts_connector_spark.operators.similarity import (
        dequantize_sq8,
        quantize_embeddings_sq8,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = quantize_embeddings_sq8(df)
    joined = q.join(df, "vec_id").select(
        "vec_id",
        "scale",
        F.col("embedding").cast("array<double>").alias("x"),
        dequantize_sq8(F.col("codes"), F.col("scale")).alias("xh"),
    )
    checked = joined.select(
        "vec_id",
        (
            F.array_max(
                F.zip_with("x", "xh", lambda a, b: F.abs(a - b))
            )
            <= F.col("scale") / 254.0 + 1e-12
        ).alias("ok"),
    )
    assert checked.where(~F.col("ok")).isEmpty()


def test_sq8_codes_in_range_and_zero_vector(spark):
    from service_alerts_connector_spark.operators.similarity import (
        quantize_embeddings_sq8,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings_sq8(df).collect()}
    assert rows[1]["codes"] == [64, -127, 32]  # round(0.5/1*127)=63.5->64
    assert rows[1]["scale"] == 1.0
    assert rows[2]["codes"] == [0, 0, 0] and rows[2]["scale"] == 0.0


def test_sq8_ann_recall_vs_exact(spark):
    """Top-10 by quantized cosine must keep most of the exact top-10
    (int8 cosine distortion is ~1e-3 on unit-ish vectors), rank the
    query's own vector first, and plan a TakeOrderedAndProject."""
    from service_alerts_connector_spark.operators.similarity import (
        quantize_embeddings_sq8,
        sq8_cosine_topk,
        sq8_quantize_vec,
    )

    df, _ = _planted_corpus(spark, n=80)
    qrow = df.where(F.col("vec_id") == 3).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in cosine_topk(df, list(qrow), 10).collect()]
    quant = quantize_embeddings_sq8(df)
    top = sq8_cosine_topk(quant, sq8_quantize_vec(list(qrow)), k=10)
    approx = [r["vec_id"] for r in top.collect()]
    assert approx[0] == 3
    assert len(set(exact) & set(approx)) >= 8
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_pq_adc_recall_and_determinism(spark):
    """PQ (8 subspaces x 16 centroids, ~32x compression) must rank the
    query first, surface its planted near-dup in the top-2, keep >=5/10
    overlap with exact top-10, and retrain/re-encode bit-identically."""
    from service_alerts_connector_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )

    df, _ = _planted_corpus(spark, n=100)
    books = train_pq_codebooks(df, n_sub=8, k_cent=16)
    assert books == train_pq_codebooks(df, n_sub=8, k_cent=16)
    enc = pq_encode(df, books)
    q = df.where(F.col("vec_id") == 3).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in cosine_topk(df, list(q), 10).collect()]
    approx = [r["vec_id"] for r in pq_adc_topk(enc, books, list(q), 10).collect()]
    assert approx[0] == 3 and approx[1] == 1003  # self + planted near-dup
    assert len(set(exact) & set(approx)) >= 5
    # codes really are n_sub small ints
    row = enc.where(F.col("vec_id") == 3).collect()[0]
    assert len(row["pq_codes"]) == 8
    assert all(0 <= c < 16 for c in row["pq_codes"])


def test_passage_dedup_semantics(spark):
    """First occurrence of each passage wins corpus-wide; later repeats
    drop out of their documents; fully-duplicate documents vanish."""
    from service_alerts_connector_spark.operators.textdedup import (
        passage_dedup,
    )

    p1 = "a b c d"   # 4 tokens = one 4-token passage
    p2 = "e f g h"
    p3 = "i j k l"
    docs = spark.createDataFrame(
        [
            (1, f"{p1} {p2}"),        # both passages first seen here
            (2, f"{p2} {p3}"),        # p2 is a repeat -> only p3 survives
            (3, f"{p1} {p2}"),        # nothing new -> doc vanishes
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_passages_kept"])
        for r in passage_dedup(docs, passage_tokens=4).collect()
    }
    assert out == {1: (f"{p1} {p2}", 2), 2: (p3, 1)}


def test_semantic_dedup_keeps_farthest_from_centroid(spark):
    """SemDeDup drop rule on a planted 2-cluster corpus: within every
    cosine ≥ 0.9 group the member with the LARGEST centroid distance
    survives (the paper's keep-low-centroid-similarity rule), ties keep
    the smaller id, singletons always survive."""
    from service_alerts_connector_spark.operators.similarity import (
        semantic_dedup,
    )

    cents = [[1000, 0, 0, 0], [0, 1000, 0, 0]]
    rows = [
        (1, [1.0, 0.01, 0.0, 0.0]),     # cluster 0, closest to c0
        (2, [0.9, 0.009, 0.0, 0.0]),    # = 0.9·v1 -> cos 1.0, farther
        (3, [0.0, 1.0, 0.0, 0.0]),      # cluster 1, on the centroid
        (4, [0.0, 0.999, 0.04, 0.0]),   # cos(v3,v4) ~ 0.9992, farther
        (5, [0.9, 0.009, 0.0, 0.0]),    # exact dup of 2: tie -> 5 drops
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in semantic_dedup(df, cents, threshold=0.9).collect()
    }
    assert got[1] == (0, False)  # beaten by its farther scalar multiple
    assert got[2] == (0, True)
    assert got[3] == (1, False)  # centroid point loses to its shell twin
    assert got[4] == (1, True)
    assert got[5] == (0, False)  # exact-dup tie: smaller id 2 survives
    assert len(got) == 5         # audit frame covers every input row


def test_duplicate_substring_spans_semantics(spark):
    """Rolling-shingle substring dedup (k=3): first occurrence wins
    corpus-wide; overlapping/adjacent duplicated intervals merge into
    islands; gapped repeats count separately; short/empty/null docs
    report zeros."""
    from service_alerts_connector_spark.operators.textdedup import (
        duplicate_substring_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # original: 4 shingles, 0 dup
            (2, "a b c d e f"),          # exact dup: full coverage
            (3, "x1 x2 a b c y1 y2 y3 a b c w1"),  # gapped repeat: 2 islands
            (4, "p q a b c d r s"),      # overlapping dups (pos 2,3) merge
            (5, "z1 a b c d e z2"),      # pos {1,2,3} one island, cov 5
            (6, "a b"),                  # < k tokens: no shingles
            (7, ""),                     # empty
            (8, None),                   # null
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (
            r["n_tokens"], r["n_shingles"], r["dup_shingles"],
            r["dup_tokens"], r["dup_ratio_ppm"],
        )
        for r in duplicate_substring_spans(docs, k=3).collect()
    }
    assert out[1] == (6, 4, 0, 0, 0)  # first occurrence never flagged
    assert out[2] == (6, 4, 4, 6, 1_000_000)  # [0,3)..[3,6) merge to [0,6)
    # doc 3: "a b c" dup at pos 2 and pos 8; 8 > 2+3 -> two 3-token islands
    assert out[3] == (12, 10, 2, 6, 500_000)
    # doc 4: "a b c"@2 and "b c d"@3 merge -> [2,6) = 4 tokens
    assert out[4] == (8, 6, 2, 4, 500_000)
    # doc 5: dups at pos 1,2,3 ("a b c","b c d","c d e") -> [1,6) = 5 tokens
    assert out[5] == (7, 5, 3, 5, 714_285)
    assert out[6] == (2, 0, 0, 0, 0)
    assert out[7] == (0, 0, 0, 0, 0)
    assert out[8] == (0, 0, 0, 0, 0)
    assert len(out) == 8  # one row per input doc, zero-dup docs included


def test_strip_duplicate_spans_semantics(spark):
    """Removal companion: duplicated spans disappear, novel text
    survives in order, first occurrences stay intact, fully-covered and
    empty docs vanish."""
    from service_alerts_connector_spark.operators.textdedup import (
        strip_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),                       # original: intact
            (2, "a b c d e f"),                       # full dup: vanishes
            (3, "x1 x2 a b c y1 y2 y3 a b c w1"),     # two islands stripped
            (4, "p q a b c d r s"),                   # merged [2,6) stripped
            (5, "z1 a b c d e z2"),                   # [1,6) stripped
            (6, "a b"),                               # < k: verbatim
            (7, ""),                                  # empty: vanishes
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_tokens_kept"], r["n_tokens_dropped"])
        for r in strip_duplicate_spans(docs, k=3).collect()
    }
    assert out[1] == ("a b c d e f", 6, 0)
    assert 2 not in out and 7 not in out
    assert out[3] == ("x1 x2 y1 y2 y3 w1", 6, 6)
    assert out[4] == ("p q r s", 4, 4)
    assert out[5] == ("z1 z2", 2, 5)
    assert out[6] == ("a b", 2, 0)


def test_strip_consistent_with_span_audit(spark):
    """On a seeded random corpus the strip and the audit must agree:
    dropped-token counts equal the audit's dup_tokens for every
    surviving doc, and exactly the fully-covered / empty docs vanish."""
    import random

    from service_alerts_connector_spark.operators.textdedup import (
        duplicate_substring_spans,
        strip_duplicate_spans,
    )

    rng = random.Random(17)
    vocab = [f"t{i}" for i in range(7)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 28))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    audit = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in duplicate_substring_spans(df, k=3).collect()
    }
    stripped = {
        r["doc_id"]: (r["n_tokens_kept"], r["n_tokens_dropped"])
        for r in strip_duplicate_spans(df, k=3).collect()
    }
    vanish = {d for d, (n, dup) in audit.items() if n == 0 or n == dup}
    assert set(stripped) == set(audit) - vanish
    for d, (kept, dropped) in stripped.items():
        n, dup = audit[d]
        assert dropped == dup and kept == n - dup, d
    assert vanish  # non-vacuous: the corpus contains fully-covered docs


def test_strip_contaminated_spans_semantics(spark):
    """Span-level decontamination: benchmark-shared windows are excised
    from train docs, train-internal duplication is NOT touched (only the
    benchmark drives removal), and train docs made entirely of benchmark
    spans vanish."""
    from service_alerts_connector_spark.operators.textdedup import (
        strip_contaminated_spans,
    )

    bench = spark.createDataFrame(
        [(100, "secret eval question four")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro text secret eval question four outro text"),
            (2, "completely clean training document here"),
            (3, "secret eval question four"),   # pure benchmark: vanishes
            (4, "dup train doc same text"),     # train-internal dup pair —
            (5, "dup train doc same text"),     # BOTH survive untouched
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_tokens_kept"], r["n_tokens_dropped"])
        for r in strip_contaminated_spans(train, bench, k=4).collect()
    }
    assert out[1] == ("intro text outro text", 4, 4)
    assert out[2] == ("completely clean training document here", 5, 0)
    assert 3 not in out
    assert out[4] == ("dup train doc same text", 5, 0)
    assert out[5] == ("dup train doc same text", 5, 0)


def test_duplicate_substring_spans_matches_brute_force(spark):
    """Seeded random corpus vs an independent pure-Python reference
    (explicit position sets, no interval arithmetic): counts, coverage,
    and ppm ratios must agree on every doc."""
    import random

    from service_alerts_connector_spark.operators.textdedup import (
        duplicate_substring_spans,
    )

    k = 3
    rng = random.Random(41)
    vocab = [f"t{i}" for i in range(7)]  # tiny vocab -> dense collisions
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 28))))
        for i in range(40)
    ]

    toks = {i: t.lower().split() for i, t in rows}
    occ: dict[tuple[str, ...], list[tuple[int, int]]] = {}
    for i in sorted(toks):
        tt = toks[i]
        for p in range(len(tt) - k + 1):
            occ.setdefault(tuple(tt[p : p + k]), []).append((i, p))
    expected = {}
    dup_pos: dict[int, set[int]] = {i: set() for i in toks}
    dup_cnt = {i: 0 for i in toks}
    for places in occ.values():
        for d, p in sorted(places)[1:]:  # first occurrence wins
            dup_cnt[d] += 1
            dup_pos[d].update(range(p, p + k))
    for i, tt in toks.items():
        n = len(tt)
        cov = len(dup_pos[i])
        expected[i] = (
            n,
            max(n - k + 1, 0),
            dup_cnt[i],
            cov,
            (cov * 1_000_000) // n if n else 0,
        )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_shingles"], r["dup_shingles"],
            r["dup_tokens"], r["dup_ratio_ppm"],
        )
        for r in duplicate_substring_spans(df, k=k).collect()
    }
    assert got == expected
    assert any(v[2] > 0 for v in got.values())  # non-vacuous: dups exist


def test_duplicate_substring_spans_alignment(spark):
    """A duplicated substring is caught at ANY alignment (the rolling- vs
    disjoint-window distinction from passage_dedup): a 4-token phrase
    shifted by one token inside an otherwise-unique doc still flags."""
    from service_alerts_connector_spark.operators.textdedup import (
        duplicate_substring_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),              # phrase at pos 0
            (2, "q a b c d r s t"),      # same phrase at pos 1 (shifted)
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["dup_shingles"], r["dup_tokens"])
        for r in duplicate_substring_spans(docs, k=4).collect()
    }
    assert out[1] == (0, 0)
    assert out[2] == (1, 4)  # "a b c d"@1 flagged despite the offset


def test_batch_cosine_topk_matches_per_query(spark):
    """One-scan batch top-k must equal running cosine_topk per query, and
    the salted phase-1 window must partition on (query_id, _salt)."""
    df, _ = _planted_corpus(spark, n=50)
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in df.where(F.col("vec_id").isin(1, 2, 3)).collect()
    ]
    from service_alerts_connector_spark.operators.similarity import (
        batch_cosine_topk,
    )

    out = batch_cosine_topk(df, qs, k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cos"]))
    for qid, vec in qs:
        single = [
            (r["vec_id"], r["cos"]) for r in cosine_topk(df, vec, 5).collect()
        ]
        assert got[qid] == single, qid
    # plan: no unpartitioned window; phase 1 carries the salt
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan


def test_sq8_ann_rejects_zero_query(spark):
    import pytest as _pytest

    from service_alerts_connector_spark.operators.similarity import (
        quantize_embeddings_sq8,
        sq8_cosine_topk,
    )

    df = spark.createDataFrame(
        [(1, [0.5, 0.5])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="zero query"):
        sq8_cosine_topk(quantize_embeddings_sq8(df), [0, 0], k=1)


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join
# ---------------------------------------------------------------------------
def test_prefix_filter_complete_vs_brute_force(spark):
    # prefix filtering is LOSSLESS: its verified pairs must equal the
    # brute-force all-pairs token-Jaccard >= theta result exactly.
    from service_alerts_connector_spark.functions.text import tokens
    from service_alerts_connector_spark.operators.textdedup import (
        prefix_filter_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p, q = 4, 5
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_pairs(docs, theta_num=p, theta_den=q).collect()
    }
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("t")
    )
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.t") == F.col("b.t")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    brute = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .where(q * F.col("ni") >= p * (F.col("na") + F.col("nb") - F.col("ni")))
    )
    want = {(r["id_a"], r["id_b"]) for r in brute.collect()}
    assert got == want
    assert len(want) > 0  # the corpus does contain >=0.8-Jaccard pairs


def test_prefix_filter_prunes_candidates(spark):
    # the point of the prefix: pairs sharing a PREFIX token must be far
    # fewer than pairs sharing ANY token.  Constructed corpus: 5 universal
    # stopwords connect EVERY pair in the unfiltered token join (quadratic),
    # while each doc's 20 body tokens are unique to it except for 3 planted
    # near-dup pairs — rare-token-first prefixes must ignore the stopwords
    # and touch only the planted pairs' neighborhoods.  (The sf* documents
    # corpus can't show this: it is pathologically self-similar, so even
    # the TRUE >=0.8-Jaccard result is near-quadratic there.)
    from pyspark.sql import Window
    from service_alerts_connector_spark.functions.text import tokens

    stop = "the a and of to"
    rows = []
    for i in range(200):
        body = " ".join(f"tok{i}_{j}" for j in range(20))
        rows.append((i, f"{stop} {body}"))
    for k, i in enumerate((0, 1, 2)):  # near-dup partner: 19/20 body overlap
        body = " ".join(f"tok{i}_{j}" for j in range(19)) + f" alt{k}"
        rows.append((1000 + i, f"{stop} {body}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df_t"))
    w = Window.partitionBy("doc_id").orderBy("df_t", "t")
    ordered = (
        tok.join(freq, "t")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    p, q = 4, 5
    prefix = ordered.where(
        F.col("pos") <= F.col("n") - F.floor((p * F.col("n") + q - 1) / q) + 1
    )

    def n_pairs(side):
        a, b = side.alias("a"), side.alias("b")
        return (
            a.join(b, (F.col("a.t") == F.col("b.t")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )

    n_prefix = n_pairs(prefix.select("doc_id", "t"))
    n_any = n_pairs(tok)
    assert n_any == 203 * 202 // 2  # stopwords connect every pair
    assert n_prefix <= 10  # prefixes touch only the planted near-dups


def test_leakage_safe_split_never_splits_a_cluster(spark):
    """The invariant leakage_safe_split exists for: every member of a
    duplicate cluster receives the SAME split label (per-doc hashing would
    leak near-dup pairs across the train/held-out boundary)."""
    from service_alerts_connector_spark.catalog_text import (
        q_leakage_safe_split,
    )

    out = q_leakage_safe_split(spark, "/root/testdata/sf0.001")
    spans = (
        out.groupBy("group_key")
        .agg(F.countDistinct("split").alias("n_splits"),
             F.count(F.lit(1)).alias("n_members"))
        .where(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0
    # and clusters genuinely exist at this scale (the invariant is exercised,
    # not vacuous) plus more than one split label is in play
    multi = (
        out.groupBy("group_key").count().where(F.col("count") > 1).count()
    )
    assert multi > 0
    assert out.select("split").distinct().count() > 1


def test_two_stage_ann_recall_beats_coarse(spark):
    """The exact milli-int rerank must recover the exact top-10 almost
    perfectly when the 100-candidate recall pool contains it (milli
    re-encoding distortion ~1e-3 ≪ SQ8's), rank the query's own vector
    first, and touch only recall_k rows in stage 2 (broadcast semi-join
    plan)."""
    from service_alerts_connector_spark.operators.similarity import (
        two_stage_ann,
    )

    df, _ = _planted_corpus(spark, n=80)
    qrow = list(df.where(F.col("vec_id") == 3).collect()[0]["embedding"])
    exact = [r["vec_id"] for r in cosine_topk(df, qrow, 10).collect()]
    top = two_stage_ann(df, qrow, recall_k=40, k=10)
    got = [r["vec_id"] for r in top.collect()]
    assert got[0] == 3
    assert len(set(exact) & set(got)) >= 9
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 1  # candidate semi-join broadcasts


def test_sorted_neighborhood_matches_brute_force(spark):
    """Every pair within `window` ranks of the global (key, id) order and
    within `max_dist` edits must be found — including pairs that straddle
    a first-byte bucket boundary (e.g. 'azzz' vs 'baaa')."""
    import itertools

    from service_alerts_connector_spark.operators.textdedup import (
        sorted_neighborhood_pairs,
    )

    rows = [
        (1, "az"), (2, "b"),        # adjacent ranks, different buckets, lev=2
        (3, "baab"), (4, "smith"), (5, "smyth"), (6, "smith"),
        (7, ""), (8, ""),           # empty keys pair with each other
        (9, "zzz"),
    ]
    window, max_dist = 3, 2
    df = spark.createDataFrame(rows, "doc_id long, k string")
    got = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            df, "k", "doc_id", window=window, max_dist=max_dist
        ).collect()
    }

    def lev(a, b):
        if not a:
            return len(b)
        if not b:
            return len(a)
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    want = set()
    for i, j in itertools.combinations(range(len(ranked)), 2):
        if j - i <= window and lev(ranked[i][1], ranked[j][1]) <= max_dist:
            want.add((ranked[i][0], ranked[j][0]))
    assert got == want
    assert (1, 2) in got  # the cross-bucket pair specifically


def test_sorted_neighborhood_plan_shape(spark):
    """No unpartitioned window (ranks come from the bucketed two-phase
    pattern) and no nested-loop join (pair expansion is an equi-join on
    the rank)."""
    from service_alerts_connector_spark.operators.textdedup import (
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, k string")
    q = sorted_neighborhood_pairs(df, "k", "doc_id")
    opt = q._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition()" not in opt.replace(" ", "")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sorted_neighborhood_randomized(spark):
    """Randomized keys (including duplicates, empties, multi-bucket
    spread): pairs must exactly equal the brute-force windowed-rank
    reference."""
    import itertools
    import random

    from service_alerts_connector_spark.operators.textdedup import (
        sorted_neighborhood_pairs,
    )

    rng = random.Random(7)
    alphabet = "abcxyz"
    rows = [
        (
            i,
            "".join(
                rng.choice(alphabet) for _ in range(rng.randrange(0, 5))
            ),
        )
        for i in range(120)
    ]
    window, max_dist = 2, 1
    got = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(
            spark.createDataFrame(rows, "doc_id long, k string"),
            "k", "doc_id", window=window, max_dist=max_dist,
        ).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    want = {
        (ranked[i][0], ranked[j][0])
        for i, j in itertools.combinations(range(len(ranked)), 2)
        if j - i <= window and lev(ranked[i][1], ranked[j][1]) <= max_dist
    }
    assert got == want and len(want) > 50


def test_substring_digest_swap_same_decisions(spark):
    """The xxhash64 production digest must make the identical span
    decisions as the md5 oracle digest (absent collisions both are
    injective on the corpus), for both the audit and the strip."""
    import random

    from service_alerts_connector_spark.operators.textdedup import (
        duplicate_substring_spans,
        strip_duplicate_spans,
    )

    rng = random.Random(23)
    vocab = [f"t{i}" for i in range(7)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 28))))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, duplicate_substring_spans(df, k=3).collect()))
    b = sorted(
        map(
            tuple,
            duplicate_substring_spans(df, k=3, digest="xxhash64").collect(),
        )
    )
    assert a == b
    a = sorted(map(tuple, strip_duplicate_spans(df, k=3).collect()))
    b = sorted(
        map(tuple, strip_duplicate_spans(df, k=3, digest="xxhash64").collect())
    )
    assert a == b

    import pytest

    with pytest.raises(ValueError, match="unknown digest"):
        duplicate_substring_spans(df, k=3, digest="sha1").collect()


def test_lsh_recall_eval_known_corpus(spark):
    """Constructed corpus with one known near-dup pair: the eval must
    count exactly that truth pair, catch it with the default knobs
    (recall 100%), and report integer ppm rates."""
    from service_alerts_connector_spark.operators.textdedup import (
        lsh_recall_eval,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " changed"
    other = " ".join(f"zzz{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    row = lsh_recall_eval(docs, threshold_num=4, threshold_den=5).first()
    assert row["n_truth"] == 1
    assert row["n_hit"] == 1
    assert row["recall_ppm"] == 1_000_000
    assert row["n_candidates"] >= 1
    assert 0 < row["precision_ppm"] <= 1_000_000
    assert row["threshold_ppm"] == 800_000


def test_lsh_recall_monotone_in_bands(spark):
    """The S-curve sanity the eval harness exists to measure: with a
    fixed signature, splitting bands (1→2→4→8 over 8 hashes, so rows
    per band 8→4→2→1) can only ADD candidate pairs — a pair agreeing on
    a full r-row band agrees on both nested r/2-row halves.  So against
    a fixed exact-Jaccard truth, n_candidates, n_hit and recall_ppm are
    each monotone non-decreasing in bands (equivalently non-increasing
    in rows-per-band), for any corpus.  Random seeded corpora with
    controlled mutation rates exercise the claim across the curve."""
    import random

    from service_alerts_connector_spark.operators.textdedup import (
        lsh_recall_eval,
    )

    rng = random.Random(0xC0FFEE)
    rows, did = [], 0
    for fam in range(12):
        base = [f"w{fam}_{i}" for i in range(30)]
        for copy in range(rng.randrange(1, 4)):
            toks = list(base)
            for _ in range(rng.randrange(0, 8)):  # 0-25% mutation
                toks[rng.randrange(len(toks))] = f"mut{rng.randrange(999)}"
            did += 1
            rows.append((did, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {}
    for bands in (1, 2, 4, 8):
        got[bands] = lsh_recall_eval(
            docs, num_hashes=8, bands=bands, max_bucket=1_000_000
        ).first()
    truths = {r["n_truth"] for r in got.values()}
    assert len(truths) == 1  # truth is knob-independent
    for a, b in ((1, 2), (2, 4), (4, 8)):
        assert got[a]["n_candidates"] <= got[b]["n_candidates"], (a, b)
        assert got[a]["n_hit"] <= got[b]["n_hit"], (a, b)
        assert got[a]["recall_ppm"] <= got[b]["recall_ppm"], (a, b)
    # the curve actually moves on this corpus (not a vacuous pass)
    assert got[8]["n_candidates"] > got[1]["n_candidates"]


# ---------------------------------------------------------------------------
# Exact-collapse-before-fuzzy equivalence (r15): collapsed_assignment must
# reproduce the uncollapsed sigs→pairs→CC pipeline EXACTLY — identical text
# ⇒ identical signature ⇒ the rep graph is the quotient graph, so group
# keys, cluster rows, and the near-keep set are all provably unchanged.
# The certified DuckDB oracles for dedup_clusters / dedup_near_keep /
# leakage_safe_split / group_kfold still render the UNCOLLAPSED SQL, so
# these pins are what licenses the faster plan under the same oracles.
# ---------------------------------------------------------------------------
def _dup_heavy_corpus(spark):
    import random

    rng = random.Random(0x5EED15)
    rows, did = [], 0
    for fam in range(10):
        base = [f"t{fam}_{i}" for i in range(25)]
        # a few near-dup VARIANTS per family, each exactly-copied 1-6x —
        # exercises exact classes, fuzzy edges between classes, singleton
        # classes, and fully-unique docs at once
        for variant in range(rng.randrange(1, 4)):
            toks = list(base)
            # variant 0 is the exact base (copied 2-6x); every later
            # variant mutates 1-3 tokens and variant 1 gets exactly ONE
            # copy — guaranteeing a singleton exact class whose only
            # cluster membership is a fuzzy edge
            if variant > 0:
                for _ in range(rng.randrange(1, 4)):
                    toks[rng.randrange(len(toks))] = (
                        f"v{variant}m{rng.randrange(99)}"
                    )
            text = " ".join(toks)
            n_copies = (
                rng.randrange(2, 7) if variant == 0
                else 1 if variant == 1
                else rng.randrange(1, 7)
            )
            for _copy in range(n_copies):
                did += 1
                rows.append((did, text))
    for u in range(8):  # unique riff-raff
        did += 1
        rows.append((did, f"unique doc {u} " + " ".join(f"u{u}_{i}" for i in range(10))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _uncollapsed_group_keys(docs):
    from service_alerts_connector_spark.operators.textdedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    pairs = lsh_candidate_pairs(sigs, num_hashes=8, bands=4)
    comp = connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )
    keyed = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("group_key", F.coalesce("component", F.col("doc_id")))
    )
    return keyed, comp


def test_collapsed_assignment_matches_uncollapsed_pipeline(spark):
    from service_alerts_connector_spark.operators.textdedup import (
        collapsed_assignment,
    )

    docs = _dup_heavy_corpus(spark)
    keyed, comp = _uncollapsed_group_keys(docs)
    want_keys = {
        r["doc_id"]: r["group_key"] for r in keyed.collect()
    }
    asg = collapsed_assignment(docs, num_hashes=8, shingle_k=3, bands=4)
    got = asg.withColumn(
        "group_key", F.coalesce("component", F.col("rep"))
    ).collect()
    assert {r["doc_id"]: r["group_key"] for r in got} == want_keys
    # the corpus actually exercises the interesting regimes
    assert any(r["n_class"] >= 2 for r in got)  # real exact classes
    assert any(
        r["n_class"] == 1 and r["component"] is not None for r in got
    )  # fuzzy-only membership
    assert any(
        r["n_class"] == 1 and r["component"] is None for r in got
    )  # true singletons

    # dedup_clusters semantics: rows for clustered docs only
    want_rows = {(r["doc_id"], r["component"]) for r in comp.collect()}
    got_rows = {
        (r["doc_id"], r["group_key"])
        for r in got
        if r["n_class"] >= 2 or r["component"] is not None
    }
    assert got_rows == want_rows

    # near-keep semantics: keep iff doc is the min of its exact+fuzzy group
    dropped_want = {r["doc_id"] for r in comp.collect() if r["doc_id"] != r["component"]}
    kept_want = {r["doc_id"] for r in docs.collect()} - dropped_want
    kept_got = {r["doc_id"] for r in got if r["doc_id"] == r["group_key"]}
    assert kept_got == kept_want


def test_collapsed_assignment_empty_and_all_unique(spark):
    from service_alerts_connector_spark.operators.textdedup import (
        collapsed_assignment,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert collapsed_assignment(empty).count() == 0
    uniq = spark.createDataFrame(
        [(i, " ".join(f"q{i}_{j}" for j in range(12))) for i in range(1, 6)],
        "doc_id long, text string",
    )
    rows = collapsed_assignment(uniq).collect()
    assert all(r["n_class"] == 1 and r["rep"] == r["doc_id"] for r in rows)
    assert all(r["component"] is None for r in rows)
