"""Property-based checks (hypothesis): the as-of join against pandas'
merge_asof reference implementation, Jaccard invariants, and the
fingerprint's modular-arithmetic correctness vs pure Python."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aws_etl_dados_publicos_cnpj_spark.operators.dedup import jaccard_pairs, shingles
from aws_etl_dados_publicos_cnpj_spark.operators.temporal import asof_join
from aws_etl_dados_publicos_cnpj_spark.operators.text import (
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    fingerprint,
)

BASE_TS = datetime(2024, 1, 1)

# derandomize: the driver's correctness gate runs this suite — a random
# example surfacing a NEW corner mid-gate would read as flakiness, so
# examples are fixed per test function (still regenerated when the test
# body changes)
_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500)), min_size=1, max_size=12
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 100)),
        min_size=1,
        max_size=12,
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    # strictly-increasing unique ts per side via cumulative offsets
    lrows = [
        (i, k, BASE_TS + timedelta(minutes=off + i * 1e-3))
        for i, (k, off) in enumerate(left)
    ]
    rrows = [
        (k, BASE_TS + timedelta(minutes=off + i * 1e-3 + 0.5), float(v))
        for i, (k, off, v) in enumerate(right)
    ]
    ldf = spark.createDataFrame(lrows, "id long, k long, ts timestamp")
    rdf = spark.createDataFrame(rrows, "k long, ts timestamp, v double")
    got = {
        r.id: r.asof_v
        for r in asof_join(ldf, rdf, on="ts", by="k", right_cols=["v"]).collect()
    }

    lpd = pd.DataFrame(lrows, columns=["id", "k", "ts"]).sort_values("ts")
    rpd = pd.DataFrame(rrows, columns=["k", "ts", "v"]).sort_values("ts")
    merged = pd.merge_asof(
        lpd, rpd, on="ts", by="k", direction="backward", allow_exact_matches=False
    )
    want = {
        int(r.id): (None if pd.isna(r.v) else float(r.v)) for r in merged.itertuples()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=40).map(
            lambda s: " ".join(s.split()) or "a"
        ),
        min_size=2,
        max_size=6,
    )
)
def test_jaccard_bounds_and_identity(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)] + [(len(texts), texts[0])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = jaccard_pairs(shingles(df), threshold=0.0).collect()
    for p in pairs:
        assert 0.0 <= p.jaccard <= 1.0
        assert p.doc_a < p.doc_b
    # the planted exact copy scores 1.0 with its original
    copies = [p for p in pairs if (p.doc_a, p.doc_b) == (0, len(texts))]
    assert copies and copies[0].jaccard == 1.0


@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 10_000))
def test_minhash_lsh_equals_exact_jaccard(spark, seed):
    """On corpora with planted near-duplicates, LSH candidate generation
    + exact verification returns exactly the exact-Jaccard pair set
    (the claim behind pairing minhash_lsh_pairs_docs with the
    exact-Jaccard oracle)."""
    import random

    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import minhash_lsh_dedup

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(50)]
    docs = []
    for i in range(20):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(40))))
    # plant near-dups: copy with exactly one word substituted
    # (jaccard ≈ 0.85 → LSH miss probability ≈ 2e-8 at 24×4 banding;
    # at the 0.8 production threshold LSH must equal exact)
    for j in range(8):
        base_id = rng.randrange(20)
        words = docs[base_id][1].split()
        words[rng.randrange(len(words))] = rng.choice(vocab)
        docs.append((100 + j, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {
        (p.doc_a, p.doc_b, p.jaccard)
        for p in jaccard_pairs(shingles(df), threshold=0.8).collect()
    }
    lsh = {
        (p.doc_a, p.doc_b, p.jaccard)
        for p in minhash_lsh_dedup(df, threshold=0.8).collect()
    }
    assert lsh == exact


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(
    strings=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=14), min_size=2, max_size=10, unique=True
    ),
    d=st.integers(1, 3),
)
def test_edit_distance_segment_filter_equals_bruteforce(spark, strings, d):
    """PassJoin recall property: on arbitrary small-alphabet strings
    (high collision density, varied lengths) the segment-filtered join
    must return exactly the brute-force Levenshtein ≤ d pair set."""
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import edit_distance_near_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    rows = list(enumerate(strings))
    df = spark.createDataFrame(rows, "doc_id long, key string")
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in edit_distance_near_pairs(df, "key", max_dist=d).collect()
    }
    brute = {
        (a, b): lev(sa, sb)
        for a, sa in rows
        for b, sb in rows
        if a < b and lev(sa, sb) <= d
    }
    assert got == brute


@settings(**_SETTINGS)
@given(text=st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=60))
def test_fingerprint_matches_pure_python(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = fingerprint(df).collect()[0].fingerprint
    want = 0
    for ch in text:
        want = (want * FINGERPRINT_BASE + ord(ch)) % FINGERPRINT_MOD
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=1, max_size=60).map(
            lambda s: " ".join(s.split()) or "a"
        ),
        min_size=2,
        max_size=8,
    ),
    t=st.sampled_from([0.5, 0.7, 0.8, 0.9]),
)
def test_prefix_filter_equals_bruteforce_property(spark, texts, t):
    """Exact recall at ANY threshold on random word-soup corpora: the
    prefix-filtered join must reproduce the quadratic brute force."""
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(texts)], "doc_id long, text string"
    )
    brute = {
        (p.doc_a, p.doc_b): p.jaccard
        for p in jaccard_pairs(shingles(df), threshold=t).collect()
    }
    fast = {
        (p.doc_a, p.doc_b): p.jaccard
        for p in prefix_filter_jaccard_pairs(df, threshold=t).collect()
    }
    assert fast == brute


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="xy ", min_size=9, max_size=60).map(
            lambda s: " ".join(s.split()) or "x y z w v u"
        ),
        min_size=2,
        max_size=6,
    )
)
def test_scrub_invariants(spark, texts):
    """(a) word count conservation: kept + removed == original;
    (b) completeness: after scrubbing, no n-gram shared by >=2 docs
    BEFORE the scrub survives in any scrubbed doc at its original
    position count... weaker but checkable: every scrubbed doc's
    removed count is 0 iff it shared no n-gram."""
    from aws_etl_dados_publicos_cnpj_spark.operators.text import (
        repeated_ngram_spans,
        scrub_repeated_ngrams,
    )

    n = 3
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(texts)], "doc_id long, text string"
    )
    spans = {r.doc_id: r.n_dup_ngrams for r in repeated_ngram_spans(df, n=n).collect()}
    out = {r.doc_id: r for r in scrub_repeated_ngrams(df, n=n).collect()}
    orig = {i: len(x.split()) for i, x in enumerate(texts)}
    for i, r in out.items():
        kept = len(r.clean_text.split()) if r.clean_text else 0
        assert kept + r.n_removed_words == orig[i]
        assert (r.n_removed_words == 0) == (spans[i] == 0)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=30).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=6,
    ),
    t=st.sampled_from([0.5, 0.8, 0.9]),
)
def test_containment_equals_bruteforce_property(spark, texts, t):
    """The asymmetric prefix filter must lose NO qualifying pair vs the
    brute-force containment over all ordered pairs (exact recall), at
    several thresholds, on adversarial tiny vocab corpora (hot shingles
    everywhere — the worst case for prefix filtering)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.dedup import (
        containment_pairs,
        shingles as _sh,
    )

    df = spark.createDataFrame(
        [(i, txt) for i, txt in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(df, threshold=t).collect()
    }
    sets = {}
    for i, txt in enumerate(texts):
        rows = _sh(
            spark.createDataFrame([(i, txt)], "doc_id long, text string")
        ).collect()
        sets[i] = {r.shingle for r in rows}
    want = {}
    for a in sets:
        for b in sets:
            if a == b:
                continue
            c = round(len(sets[a] & sets[b]) / len(sets[a]), 4)
            if c >= t:
                want[(a, b)] = c
    assert got == want


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.sampled_from(["w%d" % i for i in range(40)]), min_size=1, max_size=150
    ),
    chunk=st.sampled_from([5, 13, 50]),
)
def test_chunk_documents_covers_and_reconstructs(spark, words, chunk):
    """Chunking invariants for any doc length and chunk size with
    stride = chunk (non-overlapping): concatenating the chunks in
    chunk_start order reconstructs the document exactly; with
    stride < chunk every consecutive pair overlaps by chunk−stride."""
    from aws_etl_dados_publicos_cnpj_spark.operators.corpus import chunk_documents

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    # non-overlapping: exact reconstruction
    rows = sorted(
        chunk_documents(df, chunk=chunk, stride=chunk).collect(),
        key=lambda r: r.chunk_start,
    )
    assert " ".join(r.chunk_text for r in rows) == text
    assert all(r.n_words == len(r.chunk_text.split(" ")) for r in rows)
    # overlapping: each consecutive pair shares exactly chunk-stride
    # words when the earlier chunk is full
    stride = max(1, chunk - 2)
    rows = sorted(
        chunk_documents(df, chunk=chunk, stride=stride).collect(),
        key=lambda r: r.chunk_start,
    )
    for a, b in zip(rows, rows[1:]):
        if a.n_words == chunk:
            overlap = a.chunk_text.split(" ")[stride:]
            assert b.chunk_text.split(" ")[: len(overlap)] == overlap


@settings(**_SETTINGS)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    ch=st.sampled_from([3, 4]),
    seed=st.integers(0, 2**31 - 1),
    data=st.data(),
)
def test_png_round_trip_property(w, h, ch, seed, data):
    """Pure-Python property: ANY 8-bit RGB/RGBA pixel array survives the
    PNG encode (arbitrary per-scanline filter choice) → stdlib-decode
    round trip byte-exactly — the decoder's five unfilter paths
    (incl. the vectorized Sub cumsum) are inverse to the spec filters
    for every content, not just the y%5 fixture pattern."""
    import numpy as np

    from test_multimodal_decode import make_png

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import _png_pixels

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, ch)).astype(np.uint8)
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h), label="filters"
    )
    color_type = 2 if ch == 3 else 6
    decoded = _png_pixels(make_png(px, color_type=color_type, filters=filters))
    assert decoded.shape == (h, w, 3)
    assert (decoded == px[:, :, :3]).all()


@settings(**_SETTINGS)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 20),
    gray=st.booleans(),
    restart=st.integers(0, 3),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_round_trip_property(w, h, gray, restart, seed):
    """Pure-Python property over the baseline JPEG codec twins: ANY
    8-bit content at any (possibly non-multiple-of-8) size, grayscale
    or RGB 4:4:4, with or without restart markers, encodes with the
    all-ones quant table and decodes back within the rounding bound —
    ±1 for grayscale (iDCT∘DCT is exact-inverse, quantization is the
    only rounding), a small bound for color (YCbCr round trip). Shape
    must always crop back exactly."""
    import numpy as np

    from aws_etl_dados_publicos_cnpj_spark.operators.multimodal import (
        _jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    q1 = np.ones(64, dtype=np.int64)
    if gray:
        px = rng.integers(0, 256, (h, w)).astype(np.uint8)
        dec = _jpeg_pixels(encode_jpeg(px, qtable=q1, restart_interval=restart))
        assert dec.shape == (h, w, 3)
        assert (dec[:, :, 0] == dec[:, :, 1]).all()
        assert np.abs(dec[:, :, 0].astype(int) - px.astype(int)).max() <= 1
    else:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        dec = _jpeg_pixels(encode_jpeg(px, qtable=q1, restart_interval=restart))
        assert dec.shape == (h, w, 3)
        assert np.abs(dec.astype(int) - px.astype(int)).max() <= 6


