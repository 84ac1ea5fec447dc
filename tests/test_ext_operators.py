"""Unit tests for the [EXT] operator semantics on tiny hand-built
frames (the oracle tests cover the corpus-level behavior)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_etl_dados_publicos_cnpj_spark.operators.dedup import (
    dedup_exact,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_lsh_dedup,
    minhash_signatures,
    shingles,
    simhash,
)
from aws_etl_dados_publicos_cnpj_spark.operators.similarity import (
    ann_bruteforce_topk,
    cosine,
    embedding_near_dup_pairs,
)
from aws_etl_dados_publicos_cnpj_spark.operators.text import fingerprint, lang_id, text_quality

from conftest import SF_SMALL


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_groups(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, key string"
    )
    out = {r.key: (r.keep_doc_id, r.n_copies) for r in dedup_exact(df, ["key"], "doc_id").collect()}
    assert out == {"a": (1, 2), "b": (3, 1)}


def test_shingles_and_jaccard_identical_docs(spark):
    df = _docs(spark, [(1, "w1 w2 w3 w4"), (2, "w1 w2 w3 w4"), (3, "x y z q")])
    sh = shingles(df)
    pairs = jaccard_pairs(sh, threshold=0.8).collect()
    assert [(p.doc_a, p.doc_b, p.jaccard) for p in pairs] == [(1, 2, 1.0)]


def test_shingles_short_doc(spark):
    df = _docs(spark, [(1, "only two")])
    assert [r.shingle for r in shingles(df).collect()] == ["only two"]


def test_minhash_identical_signatures(spark):
    df = _docs(spark, [(1, "w1 w2 w3 w4"), (2, "w1 w2 w3 w4")])
    sigs = {r.doc_id: r.sig for r in minhash_signatures(shingles(df)).collect()}
    assert sigs[1] == sigs[2]
    assert len(sigs[1]) == 96


def test_minhash_set_path_bit_identical(spark):
    """The r13 map-side signature path (numpy xxh64 twin over the
    per-doc shingle array, ``minhash_signatures_from_sets``) must be
    BIT-identical to the exploded 96-min-agg JVM form — candidate sets
    and therefore LSH outputs depend on it. Also pins the passthrough
    signature-table shape (id, sig, sh_set)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import (
        minhash_signature_table,
        minhash_signatures_from_sets,
        shingle_array,
    )

    df = _docs(
        spark,
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4"), (3, "a"), (4, "x y z")],
    )
    base = df.select(F.col("doc_id"), shingle_array("text").alias("sh_set"))
    agg = {r.doc_id: list(r.sig) for r in minhash_signatures(shingles(df)).collect()}
    vec = {r.doc_id: list(r.sig) for r in minhash_signatures_from_sets(base).collect()}
    assert agg == vec
    table = minhash_signature_table(df)
    assert table.columns == ["doc_id", "sig", "sh_set"]
    rows = {r.doc_id: list(r.sig) for r in table.collect()}
    assert rows == agg


def test_minhash_set_path_sub_chunking_bit_identical(spark):
    """r14 bounds the (k × shingles) numpy temporaries by splitting each
    Arrow batch into doc-aligned ≤chunk_elems groups. Forcing a chunk
    smaller than any doc (every doc its own group) and a mid-size chunk
    must both reproduce the unchunked signatures bit-for-bit."""
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import (
        minhash_signatures_from_sets,
        shingle_array,
    )

    df = _docs(
        spark,
        [(i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(20)]
        + [(100, "a"), (101, "x y z")],
    )
    base = df.select(F.col("doc_id"), shingle_array("text").alias("sh_set"))
    big = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures_from_sets(base, chunk_elems=10**9).collect()
    }
    tiny = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures_from_sets(base, chunk_elems=1).collect()
    }
    mid = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures_from_sets(base, chunk_elems=64).collect()
    }
    assert big == tiny == mid


def test_lsh_finds_identical_pair(spark):
    df = _docs(spark, [(1, "w1 w2 w3 w4"), (2, "w1 w2 w3 w4"), (3, "a b c d")])
    cands = lsh_candidate_pairs(minhash_signatures(shingles(df))).collect()
    assert (1, 2) in {(r.doc_a, r.doc_b) for r in cands}
    out = minhash_lsh_dedup(df, threshold=0.8).collect()
    assert [(r.doc_a, r.doc_b) for r in out] == [(1, 2)]


def _simhash_ref(text: str) -> int:
    """Independent Python reference of the 60-bit md5 SimHash."""
    import hashlib

    sums = [0] * 60
    for w in text.split(" "):
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        for b in range(60):
            sums[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(60) if sums[b] > 0)


_NEAR_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (2, "the quick brown fox jumps over the lazy cat near the old river bank today"),
    (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
    (4, "completely different words about cooking pasta with tomato sauce and basil leaves"),
]


def test_simhash_matches_python_reference(spark):
    df = _docs(spark, _NEAR_DOCS)
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    for doc_id, text in _NEAR_DOCS:
        assert sigs[doc_id] == _simhash_ref(text)
    # LongType, packed with integer ops — full 60-bit range, no 2^53 rounding
    assert all(0 <= s < (1 << 60) for s in sigs.values())


def test_simhash_identical_docs_equal(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zz yy xx qq")])
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_simhash_near_pairs_planted_near_dup(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import simhash_near_pairs

    expected_ham = bin(_simhash_ref(_NEAR_DOCS[0][1]) ^ _simhash_ref(_NEAR_DOCS[1][1])).count("1")
    assert 0 < expected_ham <= 10  # one-word substitution: close but not identical
    df = _docs(spark, _NEAR_DOCS)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_pairs(df, max_hamming=10).collect()}
    assert pairs.get((1, 2)) == expected_ham


def test_simhash_near_pairs_equals_bruteforce(spark):
    """4-block pigeonhole recall is EXACT at max_hamming<=3: the blocked
    search must return the same pairs as all-pairs brute force."""
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import simhash_near_pairs

    common = " ".join(f"word{j}" for j in range(40))
    # i%4 picks one of 4 variants: exact dups (hamming 0) and long docs
    # with a single substituted word (small hamming) both occur.
    rows = [(i, f"{common} tail{i % 4}") for i in range(12)] + [
        (100 + i, f"w{i % 3} x{i % 5} unrelated doc {i} about topic{i}") for i in range(12)
    ]
    sigs = {i: _simhash_ref(t) for i, t in rows}
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_pairs(_docs(spark, rows), max_hamming=3).collect()
    }
    assert got == brute
    assert brute  # the corpus genuinely contains near-dup pairs


def test_cosine_orthogonal_and_identical(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [1.0, 0.0]), (2, [1.0, 0.0], [0.0, 1.0])],
        "id long, a array<double>, b array<double>",
    )
    out = {r.id: r.sim for r in df.select("id", F.round(cosine(F.col("a"), F.col("b")), 6).alias("sim")).collect()}
    assert out == {1: 1.0, 2: 0.0}


def test_ann_topk_exact_neighbor(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    probes = emb.filter(F.col("vec_id") == 0)
    out = ann_bruteforce_topk(emb, probes, k=2).collect()
    assert [r.neighbor_id for r in out] == [1, 2]
    assert out[0].rk == 1


def test_edit_distance_near_pairs_blocking_exact(spark):
    """Length-band blocking must not lose pairs whose lengths straddle
    a block boundary; result equals brute-force Levenshtein."""
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import edit_distance_near_pairs

    rows = [
        (1, "abcdef"),        # len 6  (block 1 at w=6)
        (2, "abcdefg"),       # len 7, dist 1 to doc 1 — adjacent block
        (3, "abcdxf"),        # len 6, dist 1 to doc 1
        (4, "zzzzzzzzzzzzz"), # far from everything
        (5, "abcde"),         # len 5, dist 1 to doc 1, block 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, key string")
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in edit_distance_near_pairs(df, "key", max_dist=5).collect()
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    brute = {
        (a, b): lev(ka, kb)
        for (a, ka), (b, kb) in itertools.combinations(rows, 2)
        if lev(ka, kb) <= 5
    }
    assert got == brute
    assert (1, 2) in got and (1, 5) in got  # cross-block pairs found


def test_ann_vectorized_equals_hof_backend(spark):
    """The mapInPandas GEMM path must return exactly what the
    deterministic JVM/HOF twin returns (same rounding, same ties)."""
    from aws_etl_dados_publicos_cnpj_spark.operators import load_table
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import (
        _bruteforce_topk_hof,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    vec = sorted(
        tuple(r) for r in ann_bruteforce_topk(emb, probes, k=5).collect()
    )
    hof = sorted(
        tuple(r)
        for r in _bruteforce_topk_hof(emb, probes, 5, "vec_id", "embedding").collect()
    )
    assert vec == hof and len(vec) == 25


def test_lsh_multiprobe_improves_recall(spark):
    """Hamming-1 multi-probe must dominate single-probe: every
    single-probe hit is retained and recall vs exact top-k rises (or
    at minimum stays equal, with more candidates examined)."""
    from aws_etl_dados_publicos_cnpj_spark.operators import load_table
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import ann_lsh_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in ann_bruteforce_topk(emb, probes, k=5).collect()
    }
    single = {
        (r.probe_id, r.neighbor_id)
        for r in ann_lsh_topk(emb, probes, k=5, planes=6).collect()
    }
    multi = {
        (r.probe_id, r.neighbor_id)
        for r in ann_lsh_topk(emb, probes, k=5, planes=6, multi_probe=1).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)


def test_embedding_near_dup_blocked(spark):
    emb = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (1, 0, [1.0, 0.001]), (2, 1, [1.0, 0.0])],
        "vec_id long, label int, embedding array<float>",
    )
    pairs = embedding_near_dup_pairs(emb, threshold=0.9).collect()
    # (0,2) same vector but different label block → excluded
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]


def test_text_quality_simple(spark):
    df = _docs(spark, [(1, "aa bb aa")])
    r = text_quality(df).collect()[0]
    assert (r.n_words, r.n_distinct_words, r.len_chars) == (3, 2, 8)
    assert r.type_token_ratio == 0.6667


def test_lang_id_heuristic(spark):
    df = _docs(spark, [(1, "the cat and the dog is here"), (2, "el que la y en"), (3, "zzz qqq")])
    out = {r.doc_id: r.predicted_lang for r in lang_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "und"}


def test_fingerprint_order_sensitive(spark):
    df = _docs(spark, [(1, "ab"), (2, "ba")])
    out = {r.doc_id: r.fingerprint for r in fingerprint(df).collect()}
    assert out[1] != out[2]
    assert out[1] == (97 * 131 + 98) % 1_000_000_007


def test_fingerprint_vectorized_equals_hof(spark):
    """Integer math throughout — the Arrow batch backend must be
    bit-identical to the JVM fold on real corpus text."""
    from aws_etl_dados_publicos_cnpj_spark.operators import load_table
    from aws_etl_dados_publicos_cnpj_spark.operators.text import _fingerprint_hof

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    vec = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    hof = {
        r.doc_id: r.fingerprint
        for r in docs.select(
            "doc_id", _fingerprint_hof(F.col("text")).alias("fingerprint")
        ).collect()
    }
    assert vec == hof and len(vec) == 500


def test_lsh_bucket_vec_matches_python_reference(spark):
    import numpy as np

    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import lsh_bucket_vec

    planes = [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
    vecs = [(0, [2.0, 3.0]), (1, [-1.0, 4.0]), (2, [-5.0, -6.0])]
    df = spark.createDataFrame(vecs, "vec_id long, v array<double>")
    got = {
        r.vec_id: r.b
        for r in df.select("vec_id", lsh_bucket_vec(planes)(F.col("v")).alias("b")).collect()
    }
    expect = {
        i: sum(1 << p for p, pl in enumerate(planes) if np.dot(v, pl) > 0)
        for i, v in vecs
    }
    assert got == expect  # {0: 0b111, 1: 0b110, 2: 0b000}


def test_redact_pii_planted(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at john.doe@example.com or call 555-123-4567 now"),
            (2, "server at 192.168.1.100 is down"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].clean_text == "mail me at <EMAIL> or call <PHONE> now"
    assert (out[1].n_email, out[1].n_phone, out[1].n_ip) == (1, 1, 0)
    assert out[2].clean_text == "server at <IP> is down"
    assert out[2].n_ip == 1
    assert out[3].clean_text == "nothing sensitive here"
    assert (out[3].n_email, out[3].n_phone, out[3].n_ip) == (0, 0, 0)


def test_quantize_backends_bit_identical_and_bounded(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators import load_table
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import (
        _quantize_hof,
        quantize_embeddings,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    vec = sorted(tuple(r) for r in quantize_embeddings(emb).collect())
    hof = sorted(tuple(r) for r in _quantize_hof(emb).collect())
    assert vec == hof
    for _, scale, q in vec:
        assert scale >= 0
        assert all(-127 <= x <= 127 for x in q)


def test_quantize_zero_vector_and_roundtrip(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, -0.5, 0.25])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert out[0].scale == 0.0 and out[0].qvec == [0, 0, 0]
    # dequantized values reconstruct within half a quantization step
    s = out[1].scale
    deq = [x * s for x in out[1].qvec]
    for got, want in zip(deq, [1.0, -0.5, 0.25]):
        assert abs(got - want) <= s / 2 + 1e-12


def test_connected_components_chain_and_clusters(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import connected_components

    # a 6-vertex chain (diameter 5) plus a separate 2-cycle pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "doc_a long, doc_b long",
    )
    out = {r.v: r.cluster_id for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}


def test_near_dup_clusters_canonical_per_cluster(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import near_dup_clusters
    from aws_etl_dados_publicos_cnpj_spark.operators import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    rows = near_dup_clusters(docs).collect()
    assert rows, "planted near-dups should produce clusters"
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        canon = [m for m in members if m.is_canonical == 1]
        assert len(canon) == 1 and canon[0].doc_id == cid == min(m.doc_id for m in members)


def test_unigram_logprob_scores_rare_words_higher(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [
            (1, "the the the the"),        # only common words
            (2, "the zyx the qwv"),        # half rare words
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert out[1].mean_nll < out[2].mean_nll
    assert out[1].n_words == 4 and out[2].n_words == 4


def test_incremental_minhash_equals_full_recompute(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators import load_table
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import (
        minhash_lsh_dedup,
        minhash_lsh_dedup_incremental,
        minhash_signature_table,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    full = minhash_lsh_dedup(docs).collect()
    assert full, "corpus has planted near-dups"
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    want = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in full
        if r.doc_a in new_ids or r.doc_b in new_ids
    )
    inc = minhash_lsh_dedup_incremental(
        minhash_signature_table(new), minhash_signature_table(old)
    )
    got = sorted((r.doc_a, r.doc_b, r.jaccard) for r in inc.collect())
    assert got == want


def test_connected_components_local_and_distributed_paths_agree(spark):
    """The size-gated union-find fast path must produce exactly the
    labels of the iterative pointer-jumping path (min vertex id per
    component), on a graph with chains, a triangle, and singleton-free
    isolated edges."""
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21), (30, 31), (31, 40)],
        "doc_a long, doc_b long",
    )
    local = {
        (r.v, r.cluster_id) for r in connected_components(pairs).collect()
    }
    dist = {
        (r.v, r.cluster_id)
        for r in connected_components(pairs, local_threshold=0).collect()
    }
    assert local == dist
    assert (4, 1) in local and (12, 10) in local and (40, 30) in local


def test_semantic_dedup_keeps_one_per_duplicate_group(spark):
    """Identical vectors land in one cell and all but the min id are
    dropped; distinct vectors survive."""
    from aws_etl_dados_publicos_cnpj_spark.operators._ivf_centers import (
        IVF_PINNED_CENTERS,
    )
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import semantic_dedup

    dim = len(IVF_PINNED_CENTERS[0])
    v1 = [1.0] + [0.0] * (dim - 1)
    v2 = [0.0, 1.0] + [0.0] * (dim - 2)
    rows = [(1, v1), (2, v1), (3, v1), (10, v2), (11, [-x for x in v2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.keep for r in semantic_dedup(df, IVF_PINNED_CENTERS).collect()}
    # exact duplicates of id 1 dropped; opposite-direction vector kept
    assert out[1] == 1 and out[2] == 0 and out[3] == 0
    assert out[10] == 1 and out[11] == 1


def test_semantic_dedup_blocked_path_matches_single_block(spark):
    """Forcing many rank-blocks per cell (tiny block_cap) must yield
    bit-identical keep verdicts to the one-block path: the r14 salted
    block-pair tasks only change WHERE pairs are computed, never which
    pairs exist or their floats. Uses near-duplicate vectors so real
    drops cross block boundaries."""
    import random

    from aws_etl_dados_publicos_cnpj_spark.operators._ivf_centers import (
        IVF_PINNED_CENTERS,
    )
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import semantic_dedup

    dim = len(IVF_PINNED_CENTERS[0])
    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, base))
        if i % 3 == 0:  # a near-duplicate that must be dropped
            rows.append((1000 + i, [x * 1.0001 for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    one = {
        (r.vec_id, r.cell, r.keep)
        for r in semantic_dedup(
            df, IVF_PINNED_CENTERS, block_cap=10_000, min_block=10_000
        ).collect()
    }
    many = {
        (r.vec_id, r.cell, r.keep)
        for r in semantic_dedup(
            df, IVF_PINNED_CENTERS, block_cap=3, min_block=1
        ).collect()
    }
    assert one == many
    assert any(k == 0 for (_, _, k) in one)  # real drops exercised


def test_frequent_ngrams_doc_frequency_semantics(spark):
    """An n-gram repeated INSIDE one doc counts once; the top n-gram is
    the one spanning the most documents, rank ties break on the string."""
    from aws_etl_dados_publicos_cnpj_spark.operators.text import frequent_ngrams

    docs = spark.createDataFrame(
        [
            (1, "accept all cookies to continue accept all cookies"),
            (2, "please accept all cookies now"),
            (3, "accept all cookies"),
            (4, "unrelated text entirely here"),
            (5, "no"),  # shorter than n: contributes nothing
        ],
        "doc_id long, text string",
    )
    out = frequent_ngrams(docs, n=3, top_k=5).collect()
    assert out[0].ngram == "accept all cookies" and out[0].n_docs == 3
    assert out[0].rank == 1
    assert [r.rank for r in out] == list(range(1, len(out) + 1))


def test_quality_classifier_deterministic_and_consistent(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators.text import quality_classifier

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "zzz yyy")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in quality_classifier(docs).collect()}
    # bag-of-words: word order must not change the score
    assert rows[1].score == rows[2].score
    for r in rows.values():
        assert 0.0 <= r.score <= 1.0
        assert r.label == (1 if r.score > 0.5 else 0)


def test_quality_buckets_partition_the_corpus(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators import load_table
    from aws_etl_dados_publicos_cnpj_spark.operators.text import quality_buckets

    from conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    out = quality_buckets(docs).collect()
    assert len(out) == docs.count()
    buckets = {r.bucket for r in out}
    assert buckets <= set(range(1, 11)) and len(buckets) >= 8
    # monotone: every doc in bucket b has mean_nll <= every doc in b+2
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r.mean_nll)
    bs = sorted(by_bucket)
    for lo, hi in zip(bs, bs[2:]):
        assert max(by_bucket[lo]) <= min(by_bucket[hi])


def test_pq_encode_codes_in_range_and_deterministic(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators import load_table
    from aws_etl_dados_publicos_cnpj_spark.operators._pq_codebooks import (
        PQ_PINNED_CODEBOOKS,
    )
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import (
        PQ_CODES,
        PQ_SUBSPACES,
        pq_encode,
    )

    from conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    a = {r.vec_id: r.codes for r in pq_encode(emb, PQ_PINNED_CODEBOOKS).collect()}
    b = {r.vec_id: r.codes for r in pq_encode(emb, PQ_PINNED_CODEBOOKS).collect()}
    assert a == b
    for codes in a.values():
        assert len(codes) == PQ_SUBSPACES
        assert all(0 <= c < PQ_CODES for c in codes)


def test_pq_adc_prefers_reconstruction_close_neighbors(spark):
    """A corpus vector IDENTICAL to the probe must win ADC top-1: its
    codes equal the probe's own, so its ADC distance is the probe's
    quantization error — the minimum any code can achieve."""
    from pyspark.sql import functions as F

    from aws_etl_dados_publicos_cnpj_spark.operators import load_table
    from aws_etl_dados_publicos_cnpj_spark.operators._pq_codebooks import (
        PQ_PINNED_CODEBOOKS,
    )
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import ann_pq_topk

    from conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    clone = probe.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    top = ann_pq_topk(emb.unionByName(clone), probe, PQ_PINNED_CODEBOOKS, k=1).collect()
    assert len(top) == 1 and top[0].neighbor_id == 100000


def test_prefix_filter_equals_bruteforce_jaccard(spark):
    """Exact-recall property: the prefix-filtered join returns the SAME
    pair set and scores as the quadratic brute-force on a corpus with
    planted near-dups."""
    from aws_etl_dados_publicos_cnpj_spark.operators import load_table
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filter_jaccard_pairs,
        shingles,
    )

    from conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    brute = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(shingles(docs), threshold=0.8).collect()
    }
    fast = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert brute == fast and len(brute) > 0


def test_pq_backends_equal(spark):
    """The Arrow-vectorized hot path and the JVM HOF oracle twin must
    produce identical codes and identical ADC top-k."""
    from pyspark.sql import functions as F

    from aws_etl_dados_publicos_cnpj_spark.operators import load_table
    from aws_etl_dados_publicos_cnpj_spark.operators._pq_codebooks import (
        PQ_PINNED_CODEBOOKS,
    )
    from aws_etl_dados_publicos_cnpj_spark.operators.similarity import (
        _ann_pq_topk_hof,
        _pq_encode_hof,
        ann_pq_topk,
        pq_encode,
    )

    from conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    vec = {r.vec_id: list(r.codes) for r in pq_encode(emb, PQ_PINNED_CODEBOOKS).collect()}
    hof = {
        r.vec_id: list(r.codes)
        for r in _pq_encode_hof(emb, PQ_PINNED_CODEBOOKS).collect()
    }
    assert vec == hof
    probes = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, ann_pq_topk(emb, probes, PQ_PINNED_CODEBOOKS, k=3).collect()))
    b = sorted(
        map(
            tuple,
            _ann_pq_topk_hof(emb, probes, PQ_PINNED_CODEBOOKS, k=3).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_scrub_repeated_ngrams_removes_only_shared_spans(spark):
    from aws_etl_dados_publicos_cnpj_spark.operators.text import scrub_repeated_ngrams

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon unique one tail"),
            (2, "alpha beta gamma delta epsilon other two tails"),
            (3, "totally different words here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in scrub_repeated_ngrams(docs, n=5).collect()}
    # the shared 5-gram span (words 1-5) vanishes from both docs
    assert out[1].clean_text == "unique one tail"
    assert out[2].clean_text == "other two tails"
    assert out[1].n_removed_words == 5 and out[2].n_removed_words == 5
    # untouched doc passes through verbatim
    assert out[3].clean_text == docs.filter("doc_id=3").first().text
    assert out[3].n_removed_words == 0


def test_bmp_synthesis_roundtrip_and_ahash(spark):
    """The synthesized BMP must decode (REAL header parse) to the pixel
    formula bytes[(3k+c) % n], and identical texts must share an aHash."""
    import numpy as np

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _bmp_pixels,
        image_ahash,
        synthesize_bmp_from_text,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zzz qqq")],
        "doc_id long, text string",
    )
    imgs = synthesize_bmp_from_text(docs)
    payload = {r.doc_id: bytes(r.payload) for r in imgs.collect()}
    px = _bmp_pixels(payload[1])
    raw = b"alpha beta gamma delta"
    flat = px.reshape(-1)
    assert px.shape == (8, 8, 3)
    assert all(flat[i] == raw[i % len(raw)] for i in range(len(flat)))
    sigs = {r.doc_id: r.ahash for r in image_ahash(imgs).collect()}
    assert sigs[1] == sigs[2] != sigs[3]
    assert all(0 <= s < (1 << 60) for s in sigs.values())


def test_video_container_roundtrip(spark):
    """The VID0 container must parse back into per-frame hashes, with
    identical texts sharing ALL frame hashes and the pair join finding
    them."""
    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        synthesize_video_from_text,
        video_frame_hashes,
        video_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different footage material here entirely unrelated"),
        ],
        "doc_id long, text string",
    )
    vids = synthesize_video_from_text(docs)
    fh = video_frame_hashes(vids).collect()
    per_doc = {}
    for r in fh:
        per_doc.setdefault(r.doc_id, {})[r.frame_id] = r.fhash
    assert all(len(v) == 6 for v in per_doc.values())
    assert per_doc[1] == per_doc[2] != per_doc[3]
    pairs = {(r.doc_a, r.doc_b): r.n_shared_frames for r in video_near_dup_pairs(vids).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert (1, 3) not in pairs


def test_dq_checks_catch_planted_violations(spark):
    """The validation engine must count exactly the planted bad rows
    (one pass for row rules; anti-join for FK; key agg for uniqueness)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.quality import (
        fk_check,
        run_checks,
        uniqueness_check,
    )
    from pyspark.sql import functions as F

    fact = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, -1.0), (2, 99, 7.0), (4, None, 0.0)],
        "id long, ref long, amount double",
    )
    dim = spark.createDataFrame([(10,), (11,)], "ref long")
    rows = {
        r.check: (r.n_violations, r.passed)
        for r in run_checks(
            fact,
            {
                "amount_positive": F.col("amount") > 0,
                "ref_not_null": F.col("ref").isNotNull(),
            },
        ).collect()
    }
    assert rows == {"amount_positive": (2, 0), "ref_not_null": (1, 0)}
    u = uniqueness_check(fact, ["id"], "id_unique").collect()[0]
    assert (u.n_violations, u.passed) == (1, 0)
    f = fk_check(fact, "ref", dim, "ref", "ref_fk").collect()[0]
    # ref=99 orphan + ref=NULL doesn't match dim → 2 orphans
    assert (f.n_violations, f.passed) == (2, 0)


def test_dq_checks_on_empty_fact_report_zero_not_null(spark):
    """An EMPTY-but-landed snapshot must report n_violations=0 and
    passed=1 on every check: sum over zero rows is NULL, and the r6
    lazy single-scan rewrite regressed fk_check/run_checks to
    NULL/NULL, which a `passed == 1` gate reads as failure-shaped
    (r6 advice, medium)."""
    from pyspark.sql import functions as F

    from aws_etl_dados_publicos_cnpj_spark.operators.quality import (
        fk_check,
        run_checks,
        uniqueness_check,
    )

    fact = spark.createDataFrame([], "id long, ref long")
    dim = spark.createDataFrame([(10,)], "ref long")
    for r in (
        run_checks(fact, {"id_not_null": F.col("id").isNotNull()})
        .unionByName(uniqueness_check(fact, ["id"], "id_unique"))
        .unionByName(fk_check(fact, "ref", dim, "ref", "ref_fk"))
        .collect()
    ):
        assert (r.n_rows, r.n_violations, r.passed) == (0, 0, 1), r.check


def test_dq_suite_builds_lazily_no_eager_jobs(spark):
    """fk_check's r5 form ran two eager driver actions per FK rule at
    BUILD time; the r6 form must construct every check without
    launching a single Spark job (parquet schema reads excluded by
    using in-memory inputs)."""
    from pyspark.sql import functions as F

    from aws_etl_dados_publicos_cnpj_spark.operators.quality import (
        fk_check,
        run_checks,
        uniqueness_check,
    )

    fact = spark.createDataFrame([(1, 10), (2, 99)], "id long, ref long")
    dim = spark.createDataFrame([(10,)], "ref long")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    checks = (
        run_checks(fact, {"id_not_null": F.col("id").isNotNull()})
        .unionByName(uniqueness_check(fact, ["id"], "id_unique"))
        .unionByName(fk_check(fact, "ref", dim, "ref", "ref_fk"))
    )
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before, "building the DQ suite must not launch jobs"
    assert {r.check for r in checks.collect()} == {
        "id_not_null", "id_unique", "ref_fk",
    }


def test_connected_components_raises_on_nonconvergence(spark):
    """Unconverged labels are wrong output, not a result: exhausting
    max_iter with edges still contracted must raise (r5 advice), never
    return silently."""
    import pytest as _pytest

    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="non-empty after 0 rounds"):
        connected_components(pairs, max_iter=0, local_threshold=0)


def test_funnel_single_pass_matches_stage_chain_semantics(spark):
    """r13 rewrote funnel as one scan + one per-user aggregation
    (conditional min + sorted stage lists + array filter). Pin the
    ordered-funnel semantics the old per-stage join chain enforced:
    strictly-later progression, out-of-order events don't count, and a
    user re-entering a stage uses the EARLIEST valid timestamp."""
    from aws_etl_dados_publicos_cnpj_spark.operators.behavioral import funnel

    rows = [
        # u1: clean path view(1) -> cart(2) -> purchase(3)
        (1, "view", 1), (1, "cart", 2), (1, "purchase", 3),
        # u2: cart BEFORE view -> cart never counts (strictly after)
        (2, "cart", 1), (2, "view", 2),
        # u3: cart at the SAME ts as view -> strict > excludes it,
        #     but a later cart re-entry at 5 counts
        (3, "view", 4), (3, "cart", 4), (3, "cart", 5),
        # u4: purchase without ever viewing -> counts nowhere
        (4, "purchase", 9),
    ]
    events = spark.createDataFrame(
        [(u, t, f"2024-01-01 00:00:{s:02d}") for u, t, s in rows],
        "user_id long, event_type string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.stage_ord: r.users for r in
           funnel(events, ["view", "cart", "purchase"]).collect()}
    assert out == {1: 3, 2: 2, 3: 1}


def test_scrub_repeated_ngrams_min_docs_general_branch(spark):
    """min_docs=2 takes the r13 min/max single-shuffle path; other
    values keep the counting path — both must enforce their threshold
    (the 2-doc shared span survives min_docs=3, the 3-doc one doesn't)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.text import scrub_repeated_ngrams

    docs = spark.createDataFrame(
        [
            (1, "a b c d e shared x y z w only two docs"),
            (2, "a b c d e shared q r s t only two docs2"),
            (1000, "p q r s t u tail1"),
            (1001, "p q r s t u tail2"),
            (1002, "p q r s t u tail3"),
        ],
        "doc_id long, text string",
    )
    out3 = {r.doc_id: r for r in scrub_repeated_ngrams(docs, n=5, min_docs=3).collect()}
    # the 2-doc 5-gram "a b c d e" survives at min_docs=3...
    assert out3[1].clean_text.startswith("a b c d e")
    # ...but the 3-doc "p q r s t" span is scrubbed
    assert out3[1000].n_removed_words >= 5
    assert not out3[1000].clean_text.startswith("p")
