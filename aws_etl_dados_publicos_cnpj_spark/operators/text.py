"""[EXT] Text-analysis operators for large-scale training-data
pipelines (BASELINE.json north star; no reference citation by
definition — SURVEY.md §2.3).

All ops are JVM-side expressions (split / regex / codegen'd scalar
fns) except the rolling-hash fingerprint, whose hot path is an
Arrow-vectorized pandas_udf (Spark 4 interprets higher-order array
functions, so the char-level fold is kept only as the deterministic
oracle twin). Per-row transforms shuffle nothing; corpus stats are a
single hash-agg shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from . import load_table
from .dedup import spread, word_hash60

# Small stopword lists for the language-ID heuristic. Deterministic and
# mirrored verbatim in the oracle SQL.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
ES_STOPWORDS = ["el", "la", "de", "que", "y", "en", "los"]
DE_STOPWORDS = ["der", "die", "das", "und", "ist", "nicht", "ein"]

TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"
FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 131


def words_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def _stopword_hits(words: Column, stopwords: list[str]) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*stopwords)))


def text_quality(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality metrics per document: token count, lexical diversity,
    average word length — the standard cheap pre-filters for training
    corpora."""
    words = words_col(text_col)
    n_words = F.size(words)
    total_len = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda acc, x: acc + x
    )
    return df.select(
        id_col,
        F.length(text_col).alias("len_chars"),
        n_words.alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.round(total_len / n_words, 4).alias("avg_word_len"),
        F.round(F.size(F.array_distinct(words)) / n_words, 4).alias("type_token_ratio"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """N-gram/stopword language-ID heuristic: count hits in per-language
    stopword lists, predict the argmax (ties + no-hits → 'und')."""
    words = words_col(text_col)
    en = _stopword_hits(words, EN_STOPWORDS)
    es = _stopword_hits(words, ES_STOPWORDS)
    de = _stopword_hits(words, DE_STOPWORDS)
    predicted = (
        F.when((en > es) & (en > de), "en")
        .when((es > en) & (es > de), "es")
        .when((de > en) & (de > es), "de")
        .otherwise("und")
    )
    return df.select(
        id_col,
        en.alias("en_hits"),
        es.alias("es_hits"),
        de.alias("de_hits"),
        predicted.alias("predicted_lang"),
    )


def token_count(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BPE-ish token counting: letter runs, digit runs, and single
    non-alphanumeric marks each count as one token."""
    return df.select(
        id_col,
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_PATTERN), 0)).alias("n_tokens"),
        F.size(words_col(text_col)).alias("n_whitespace_tokens"),
    )


def _fingerprint_hof(text: Column) -> Column:
    """JVM higher-order-function form of the rolling hash — the
    deterministic oracle twin (interpreted, so not the hot path)."""
    codes = F.transform(F.split(text, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FINGERPRINT_BASE + x) % FINGERPRINT_MOD,
    )


@pandas_udf(LongType())
def _fingerprint_vec(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized rolling hash: iterate char POSITIONS (≤ max doc
    length) with numpy ops across the whole batch, instead of one
    interpreted HOF step per character per row. Integer math is exact
    (acc < 2^30, acc*131+code < 2^38 « int64), so results are
    bit-identical to the HOF/DuckDB forms."""
    arrs = [
        np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32) for t in texts
    ]
    n = len(arrs)
    lens = np.array([len(a) for a in arrs], dtype=np.int64)
    maxlen = int(lens.max()) if n else 0
    mat = np.zeros((n, maxlen), dtype=np.int64)
    for i, a in enumerate(arrs):
        mat[i, : len(a)] = a
    acc = np.zeros(n, dtype=np.int64)
    for j in range(maxlen):
        live = lens > j
        acc[live] = (acc[live] * FINGERPRINT_BASE + mat[live, j]) % FINGERPRINT_MOD
    return pd.Series(acc)


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic rolling (polynomial) hash of the full text, mod a
    large prime — an order-sensitive document fingerprint usable as a
    cheap exact-dup key. Arrow-vectorized; ``_fingerprint_hof`` is the
    JVM expression twin, identical by integer math throughout."""
    return df.select(id_col, _fingerprint_vec(F.col(text_col)).alias("fingerprint"))


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
) -> DataFrame:
    """TF-IDF per (doc, term) from first principles — explode → tf per
    doc/term, df per term, idf = ln(N/df) — then the top-k terms per
    document (deterministic tie-break on the term).

    Pure DataFrame ops, SINGLE corpus scan: ``tf`` is the one
    materialization point (``persist``, spill-to-disk default) and the
    document count N is an in-plan 1-row aggregate over it — NOT a
    driver-side ``df.count()`` pre-pass, which at 100 TB would be a
    second full corpus read. Everything downstream of the scan (doc
    frequency, N, scoring) reads the cached tf (plan-asserted in
    tests/test_plan_quality.py)."""
    from pyspark.sql import Window

    terms = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf")).persist()
    doc_freq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs_df = tf.agg(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(doc_freq), "term")
        .join(F.broadcast(n_docs_df))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(id_col, "term", "tfidf", "rk")
    )


# --- driver-contract query forms -------------------------------------------


def text_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_quality(load_table(spark, sf_dir, "documents"))


ORACLE_TEXT_QUALITY = """
SELECT doc_id,
       length(text) AS len_chars,
       len(string_split(text, ' ')) AS n_words,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
       round(list_aggregate(list_transform(string_split(text, ' '), w -> length(w)), 'sum')
             * 1.0 / len(string_split(text, ' ')), 4) AS avg_word_len,
       round(len(list_distinct(string_split(text, ' ')))
             * 1.0 / len(string_split(text, ' ')), 4) AS type_token_ratio
FROM documents
"""

ORACLE_LANG_ID = """
SELECT doc_id,
       len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to','in','is'))) AS en_hits,
       len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que','y','en','los'))) AS es_hits,
       len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist','nicht','ein'))) AS de_hits,
       CASE WHEN en_hits > es_hits AND en_hits > de_hits THEN 'en'
            WHEN es_hits > en_hits AND es_hits > de_hits THEN 'es'
            WHEN de_hits > en_hits AND de_hits > es_hits THEN 'de'
            ELSE 'und' END AS predicted_lang
FROM documents
"""


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load_table(spark, sf_dir, "documents"))


def token_count_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count(load_table(spark, sf_dir, "documents"))


ORACLE_TOKEN_COUNT = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS n_tokens,
       len(string_split(text, ' ')) AS n_whitespace_tokens
FROM documents
"""


def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"))


ORACLE_FINGERPRINT = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(generate_series(1, length(text)),
                                     i -> CAST(ascii(text[i]) AS BIGINT))),
         (acc, x) -> (acc * {FINGERPRINT_BASE} + x) % {FINGERPRINT_MOD}
       ) AS fingerprint
FROM documents
"""


def tfidf_top_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(load_table(spark, sf_dir, "documents"))


ORACLE_TFIDF = """
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id, tf.term,
         round(tf * ln((SELECT count(*) FROM documents) * 1.0 / df.df), 4) AS tfidf
  FROM tf JOIN df ON tf.term = df.term
)
SELECT doc_id, term, tfidf, rk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rk
      FROM scored)
WHERE rk <= 3
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic-vs-ground-truth confusion counts: the model-eval query
    a labeled corpus supports (documents carries a true ``lang``
    column). Pure aggregation over the lang-ID projection."""
    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id(docs).select("doc_id", "predicted_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )


ORACLE_LANG_CONFUSION = """
WITH pred AS (
  SELECT doc_id, lang AS true_lang,
         len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to','in','is'))) AS en_hits,
         len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que','y','en','los'))) AS es_hits,
         len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist','nicht','ein'))) AS de_hits
  FROM documents
)
SELECT true_lang,
       CASE WHEN en_hits > es_hits AND en_hits > de_hits THEN 'en'
            WHEN es_hits > en_hits AND es_hits > de_hits THEN 'es'
            WHEN de_hits > en_hits AND de_hits > es_hits THEN 'de'
            ELSE 'und' END AS predicted_lang,
       count(*) AS n
FROM pred GROUP BY 1, 2
"""


# PII patterns shared with the oracle: kept to the Java∩RE2 regex
# dialect subset so Spark and DuckDB match identically.
PII_PATTERNS = [
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("phone", "[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}", "<PHONE>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
]


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII redaction pass: replace emails / phone numbers / IPv4
    addresses with typed placeholder tokens and count the hits per
    category — the standard pre-training privacy scrub.

    Pure per-row ``regexp_replace``/``regexp_count`` expressions on the
    scan (JVM codegen, no shuffle, no UDF): at 100 TB this pipelines
    with whatever else reads the corpus. Counts are taken on the
    ORIGINAL text (not the partially-redacted chain) so category totals
    are replacement-order independent."""
    clean = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}"))
        clean = F.regexp_replace(clean, pat, token)
    return df.select(F.col(id_col), clean.alias("clean_text"), *counts)


def redact_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return redact_pii(load_table(spark, sf_dir, "documents"))


ORACLE_REDACT = """
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}', '<PHONE>', 'g'),
         '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g') AS clean_text,
       len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS n_email,
       len(regexp_extract_all(text, '[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}')) AS n_phone,
       len(regexp_extract_all(text, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ip
FROM documents
"""


def repetition_ratio(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    duplicate word bigrams and the dominance of the single most-frequent
    word (Rae et al. 2021's repeated-n-gram quality filters).

    Scale shape: the bigram ratio is a pure per-row expression on the
    scan (no shuffle); word dominance needs the per-word counts, so it
    explodes words into a partial-agg shuffle keyed on (doc, word) —
    map-side combine keeps the shuffle at distinct-words volume — and
    joins the two per-doc tables on the id (both already tiny: two
    doubles per doc)."""
    w = words_col(text_col)
    n_words = F.size(w)
    # zip_with of the word array against its shift-by-one — see
    # dedup.shingle_array for why this beats transform(sequence, slice)
    m = F.greatest(n_words - 1, F.lit(1))
    bi = F.when(
        n_words >= 2,
        F.zip_with(
            F.slice(w, 1, m), F.slice(w, 2, m), lambda a, b: F.concat(a, F.lit(" "), b)
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))
    per_row = df.select(
        F.col(id_col),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(bi)) / F.size(bi), 4
        ).alias("dup_bigram_ratio"),
    )
    dominance = (
        df.select(F.col(id_col), F.explode(w).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.round(F.max("c") / F.sum("c"), 4).alias("top_word_ratio"))
    )
    return per_row.join(dominance, id_col)


def repetition_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_ratio(load_table(spark, sf_dir, "documents"))


ORACLE_REPETITION = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bi AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 2
              THEN [array_to_string(w[i:i+1], ' ') FOR i IN generate_series(1, len(w) - 1)]
              ELSE [array_to_string(w, ' ')] END AS bigrams
  FROM words
),
br AS (
  SELECT doc_id,
         round(1.0 - len(list_distinct(bigrams)) * 1.0 / len(bigrams), 4) AS dup_bigram_ratio
  FROM bi
),
wc AS (
  SELECT doc_id, u.word, count(*) AS c
  FROM words, LATERAL (SELECT unnest(w) AS word) u
  GROUP BY 1, 2
),
tr AS (
  SELECT doc_id, round(max(c) * 1.0 / sum(c), 4) AS top_word_ratio
  FROM wc GROUP BY doc_id
)
SELECT doc_id, dup_bigram_ratio, top_word_ratio FROM br JOIN tr USING (doc_id)
"""


def unigram_logprob(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-LM quality score (CCNet-style, unigram order): mean
    negative log-probability of a document's words under the corpus's
    own add-one-smoothed unigram model. High scores = improbable word
    salad; low = fluent-for-this-corpus.

    Two partial-agg shuffles and a broadcast: (1) word counts over the
    exploded corpus (network carries distinct words), (2) the 1-row
    total/vocab aggregate joined in broadcast, then per-doc mean over
    the same exploded rows — the model table is vocabulary-sized, so at
    100 TB it broadcasts while the corpus streams map-side."""
    words = df.select(F.col(id_col), F.explode(words_col(text_col)).alias("word"))
    # vocab feeds BOTH the scalar totals and the model join — NO
    # checkpoint needed: Spark reuses the word-hash exchange across the
    # two consumers (plan shows ReusedExchange; verified r6 — adding a
    # localCheckpoint here measured strictly slower because it only
    # replaced a reused shuffle read with a second materialization)
    vocab = words.groupBy("word").agg(F.count("*").alias("wc"))
    totals = vocab.agg(
        F.sum("wc").alias("n_tokens"), F.count("*").alias("n_vocab")
    )
    model = vocab.join(F.broadcast(totals)).select(
        "word",
        (-F.log((F.col("wc") + 1) / (F.col("n_tokens") + F.col("n_vocab")))).alias("nll"),
    )
    # no broadcast hint on the model: a web-scale vocabulary can exceed
    # executor memory — AQE broadcasts when it fits, shuffle-joins on
    # the word key when it doesn't
    return (
        words.join(model, "word")
        .groupBy(id_col)
        .agg(F.round(F.avg("nll"), 4).alias("mean_nll"), F.count("*").alias("n_words"))
    )


def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_logprob(load_table(spark, sf_dir, "documents"))


ORACLE_UNIGRAM = """
WITH words AS (
  SELECT doc_id, u.word
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       LATERAL (SELECT unnest(w) AS word) u
),
vocab AS (SELECT word, count(*) AS wc FROM words GROUP BY word),
totals AS (SELECT sum(wc) AS n_tokens, count(*) AS n_vocab FROM vocab),
model AS (
  SELECT word, -ln((wc + 1) * 1.0 / (n_tokens + n_vocab)) AS nll
  FROM vocab, totals
)
SELECT doc_id, round(avg(nll), 4) AS mean_nll, count(*) AS n_words
FROM words JOIN model USING (word)
GROUP BY doc_id
"""


def bigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-LM quality score, BIGRAM order (one step toward CCNet's
    5-gram KenLM filter): mean negative log of the add-one-smoothed
    conditional P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V) over each document's
    bigrams (docs need ≥2 words). Captures word-ORDER fluency the
    unigram scorer is blind to — scrambled text keeps its unigram
    score but its bigram NLL spikes.

    Scale shape: bigrams are built map-side (two shifted slices
    zipped, no self-join on positions); the bigram-count shuffle
    carries DISTINCT (w₁,w₂) pairs; the unigram table joins on w₁ and
    the 1-row vocab total broadcasts; per-doc scoring joins the doc
    bigrams to the model on the pair key — corpus text never joins
    against itself."""
    ws = F.split(F.col(text_col), " ")
    tail_len = F.greatest(F.size(ws) - 1, F.lit(0))
    bi = (
        df.select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(
                    F.slice(ws, 1, tail_len).alias("w1"),
                    F.slice(ws, 2, tail_len).alias("w2"),
                )
            ).alias("b"),
        )
        .select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c12 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    words = df.select(F.explode(ws).alias("word"))
    # uni feeds BOTH the vocab-size scalar and the model join —
    # checkpointed so the unigram-count shuffle runs once (see
    # unigram_logprob); bi stays recompute-on-reference (map-side
    # explode of the scan, corpus-sized if stored)
    uni = (
        words.groupBy("word")
        .agg(F.count("*").alias("c1"))
        .localCheckpoint(eager=False)
    )
    vtot = uni.agg(F.count("*").alias("v"))
    model = (
        c12.join(uni.withColumnRenamed("word", "w1"), "w1")
        .crossJoin(F.broadcast(vtot))
        .select(
            "w1",
            "w2",
            (-F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")))).alias("nll"),
        )
    )
    return (
        bi.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.round(F.avg("nll"), 4).alias("mean_bigram_nll"),
            F.count("*").alias("n_bigrams"),
        )
    )


def bigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_logprob(load_table(spark, sf_dir, "documents"))


ORACLE_BIGRAM = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bi AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM w WHERE len(ws) >= 2)
),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
uni AS (
  SELECT u.word, count(*) AS c1
  FROM w, LATERAL (SELECT unnest(ws) AS word) u GROUP BY 1
),
vtot AS (SELECT count(*) AS v FROM uni),
model AS (
  SELECT w1, w2, -ln((c12 + 1) * 1.0 / (c1 + v)) AS nll
  FROM c12 JOIN uni ON w1 = word, vtot
)
SELECT doc_id, round(avg(nll), 4) AS mean_bigram_nll,
       count(*) AS n_bigrams
FROM bi JOIN model USING (w1, w2)
GROUP BY doc_id
"""


def frequent_ngrams(
    df: DataFrame,
    n: int = 3,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide boilerplate detection: the top-k word n-grams by
    DOCUMENT frequency (each doc counts an n-gram once) — the standard
    first pass for finding navigation chrome / license headers / cookie
    banners to strip before training.

    Scale shape: n-grams are built with zip_with over shifted array
    slices (map-side, codegen), the (doc, ngram) distinct + count is one
    partial-agg shuffle at distinct-ngram volume, and the global top-k
    is ``orderBy().limit()`` — Spark's TakeOrdered, a per-partition
    partial top-k + single merge, never a full sort."""
    from pyspark.sql import Window

    w = words_col(text_col)
    m = F.greatest(F.size(w) - F.lit(n - 1), F.lit(0))
    ng = F.slice(w, 1, m)
    for i in range(1, n):
        ng = F.zip_with(
            ng, F.slice(w, i + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    per_doc = df.select(F.col(id_col), F.explode(ng).alias("ngram")).distinct()
    counts = per_doc.groupBy("ngram").agg(F.count("*").alias("n_docs"))
    top = counts.orderBy(F.desc("n_docs"), F.asc("ngram")).limit(top_k)
    rank_w = Window.orderBy(F.desc("n_docs"), F.asc("ngram"))
    return top.withColumn("rank", F.row_number().over(rank_w))


def frequent_ngrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frequent_ngrams(load_table(spark, sf_dir, "documents"))


ORACLE_FREQUENT_NGRAMS = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ng AS (
  SELECT DISTINCT doc_id, array_to_string(w[i.i:i.i+2], ' ') AS ngram
  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) i
  WHERE len(w) >= 3
),
c AS (SELECT ngram, count(*) AS n_docs FROM ng GROUP BY ngram)
SELECT ngram, n_docs, rank FROM (
  SELECT ngram, n_docs,
         row_number() OVER (ORDER BY n_docs DESC, ngram ASC) AS rank
  FROM c)
WHERE rank <= 20
"""


# Hashed-feature linear quality classifier: fastText-style bag-of-words
# scoring with a FROZEN weight table, deterministic on both engines. The
# weights are a pinned pseudo-random table (Knuth multiplicative hash of
# the feature index, 3 decimals so the literals round-trip exactly).
QC_DIM = 32
QC_WEIGHTS = [
    round((((j + 1) * 2654435761) % 1000) / 1000.0 - 0.5, 3) for j in range(QC_DIM)
]


def quality_classifier(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Linear quality classifier over hashed bag-of-words features
    (fastText-shaped: Joulin et al. 2016): each word hashes to one of
    ``QC_DIM`` buckets, the document's raw score is the mean bucket
    weight, and the probability is the logistic of that mean. The weight
    table here is the pinned demo model; a trained model drops in as a
    different literal array (or a broadcast table at vocabulary scale).

    Scale shape: one explode + partial-agg shuffle keyed on the doc id;
    the weight lookup is a codegen'd ``element_at`` on a literal array —
    no UDF, no model file I/O on the hot path. The label thresholds the
    4-decimal ROUNDED probability so an exactly-neutral document (raw
    sum ≈ ±1e-17 across engines) classifies identically everywhere."""
    words = df.select(F.col(id_col), F.explode(words_col(text_col)).alias("word"))
    h = (word_hash60(F.col("word")) % QC_DIM).cast("int")
    warr = F.array(*[F.lit(x) for x in QC_WEIGHTS])
    agg = (
        words.select(F.col(id_col), F.element_at(warr, h + 1).alias("wt"))
        .groupBy(id_col)
        .agg(F.avg("wt").alias("raw"), F.count("*").alias("n_words"))
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("raw"))), 4)
    return agg.select(
        id_col,
        score.alias("score"),
        (score > 0.5).cast("int").alias("label"),
        "n_words",
    )


def quality_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_classifier(load_table(spark, sf_dir, "documents"))


def _oracle_quality_classifier() -> str:
    weight_rows = ",\n    ".join(
        f"({j}, {w!r})" for j, w in enumerate(QC_WEIGHTS)
    )
    return f"""
WITH weights(j, wt) AS (VALUES
    {weight_rows}
),
words AS (
  SELECT doc_id, u.word
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       LATERAL (SELECT unnest(w) AS word) u
),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) % {QC_DIM} AS j
  FROM words
),
s AS (
  SELECT doc_id, avg(wt) AS raw, count(*) AS n_words
  FROM h JOIN weights USING (j) GROUP BY doc_id
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-raw)), 4) AS score,
       CASE WHEN round(1.0 / (1.0 + exp(-raw)), 4) > 0.5 THEN 1 ELSE 0 END AS label,
       n_words
FROM s
"""


def quality_buckets(
    df: DataFrame, n_buckets: int = 10, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Perplexity-bucket assignment (CCNet's head/middle/tail
    generalized to deciles): score documents with the corpus-LM unigram
    NLL, compute exact corpus quantile boundaries, and tag every doc
    with its bucket (1 = most fluent). Downstream mixes then sample per
    bucket instead of hard-filtering.

    Scale shape: boundaries come from the DISTINCT-score table (tiny —
    scores are 4 dp) via a cumulative count, then broadcast back; bucket
    assignment is a map-side comparison — no global sort, no ntile
    window dragging the corpus through a single task.

    Boundaries are DISCRETE order statistics (SQL-standard
    ``percentile_disc``: the smallest score whose cumulative count ≥
    ⌈p·N⌉) computed with integer rank arithmetic — an interpolated
    percentile differs between engines by 1 ulp exactly when a decile
    cut lands on a run of tied scores (found by the sf0.1 oracle
    sweep), while the discrete rule always selects an actual data
    value, identically everywhere."""
    # Lazy localCheckpoint: `scored` (2 aggs + a join) feeds BOTH the
    # boundary computation and the final assignment join — without the
    # checkpoint Spark re-executes the whole scoring subtree per
    # consumer (3 corpus passes observed; r4 verdict finding #1).
    scored = unigram_logprob(df, text_col, id_col).localCheckpoint(eager=False)
    vals = scored.groupBy("mean_nll").agg(F.count("*").alias("c"))
    # cumulative count over the DISTINCT values — bounded cardinality,
    # so the single-partition window is a non-issue. The corpus total
    # `n` is sum(c) over the same tiny frame — no extra pass over
    # `scored` for a separate count.
    wcum = Window.orderBy("mean_nll").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("mean_nll").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vals.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )
    bounds = (
        cum
        .agg(
            F.array(
                *[
                    F.min(
                        F.when(
                            F.col("cum")
                            >= F.ceil(F.col("n") * F.lit(k) / F.lit(n_buckets)),
                            F.col("mean_nll"),
                        )
                    )
                    for k in range(1, n_buckets)
                ]
            ).alias("bs")
        )
    )
    return scored.join(F.broadcast(bounds)).select(
        id_col,
        "mean_nll",
        (F.size(F.filter(F.col("bs"), lambda b: F.col("mean_nll") > b)) + 1).alias(
            "bucket"
        ),
    )


def quality_buckets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_buckets(load_table(spark, sf_dir, "documents"))


ORACLE_QUALITY_BUCKETS = """
WITH words AS (
  SELECT doc_id, u.word
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       LATERAL (SELECT unnest(w) AS word) u
),
vocab AS (SELECT word, count(*) AS wc FROM words GROUP BY word),
totals AS (SELECT sum(wc) AS n_tokens, count(*) AS n_vocab FROM vocab),
model AS (
  SELECT word, -ln((wc + 1) * 1.0 / (n_tokens + n_vocab)) AS nll
  FROM vocab, totals
),
scored AS (
  SELECT doc_id, round(avg(nll), 4) AS mean_nll
  FROM words JOIN model USING (word)
  GROUP BY doc_id
),
cumdist AS (
  SELECT mean_nll, sum(count(*)) OVER (ORDER BY mean_nll
                                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM scored GROUP BY mean_nll
),
total AS (SELECT count(*) AS n FROM scored),
bvals AS (
  SELECT k, min(mean_nll) AS b
  FROM (SELECT unnest(range(1, 10)) AS k) ks, cumdist, total
  WHERE cum >= ceil(n * k / 10.0)
  GROUP BY k
)
SELECT doc_id, mean_nll,
       CAST(1 + count(bvals.k) AS INT) AS bucket
FROM scored LEFT JOIN bvals ON scored.mean_nll > bvals.b
GROUP BY doc_id, mean_nll
"""


def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained cleaning pipeline — the composition a real corpus pass
    runs: quality metrics → keep docs above length / diversity floors →
    per-language survivor stats. All one declarative plan (Catalyst
    fuses the stages; one scan, one agg shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    q = text_quality(docs).join(docs.select("doc_id", "lang"), "doc_id")
    kept = q.filter(
        (F.col("n_words") >= 30) & (F.col("type_token_ratio") >= 0.5)
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.round(F.avg("avg_word_len"), 4).alias("mean_word_len"),
        F.sum("n_words").alias("total_words"),
    )


ORACLE_QUALITY_FILTER = """
WITH q AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_words,
         round(list_aggregate(list_transform(string_split(text, ' '), w -> length(w)), 'sum')
               * 1.0 / len(string_split(text, ' ')), 4) AS avg_word_len,
         round(len(list_distinct(string_split(text, ' ')))
               * 1.0 / len(string_split(text, ' ')), 4) AS type_token_ratio
  FROM documents
)
SELECT lang, count(*) AS n_kept,
       round(avg(avg_word_len), 4) AS mean_word_len,
       CAST(sum(n_words) AS BIGINT) AS total_words
FROM q WHERE n_words >= 30 AND type_token_ratio >= 0.5
GROUP BY lang
"""


def repeated_ngram_spans(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated-substring analysis (the measurement half
    of Lee et al. 2022's "Deduplicating Training Data" span removal):
    for each document, how many of its word n-gram POSITIONS carry an
    n-gram that also occurs in some OTHER document, and what fraction
    of the document that covers. Feed the high-ratio tail to a span
    scrubber or drop it outright.

    Scale shape: n-gram construction is map-side (zip_with over shifted
    slices); the cross-document n-gram frequency is one partial-agg
    shuffle over DISTINCT (doc, ngram) pairs; the per-position join
    back is keyed on ngram; the final per-doc rollup re-shuffles on
    doc_id. Nothing is quadratic — cost tracks total token volume.
    """
    # a one-file table scans as one partition, serializing the n-gram
    # explode on a single core (measured −47% at sf0.1; the branches
    # below share the repartition via ReusedExchange)
    df = spread(df)
    w = words_col(text_col)
    m = F.greatest(F.size(w) - F.lit(n - 1), F.lit(0))
    ng = F.slice(w, 1, m)
    for i in range(1, n):
        ng = F.zip_with(
            ng, F.slice(w, i + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    pos = df.select(F.col(id_col), F.explode(ng).alias("ngram"))
    # an n-gram is "shared" if it appears in >= 2 DISTINCT documents —
    # detected as min(doc) != max(doc), which is exactly equivalent and
    # needs ONE partial-agg shuffle (min/max collapse map-side) instead
    # of the r12 distinct + count-distinct pair (two shuffles of the
    # full (doc, ngram) string relation; guide §2.3 aggregate-before-
    # you-shuffle)
    shared = (
        pos.groupBy("ngram")
        .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("ngram")
    )
    dup_counts = (
        pos.join(shared, "ngram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup_ngrams"))
    )
    totals = df.select(F.col(id_col), m.alias("n_ngrams"))
    return (
        totals.join(dup_counts, id_col, "left")
        .withColumn("n_dup_ngrams", F.coalesce("n_dup_ngrams", F.lit(0)))
        .withColumn(
            "dup_ratio",
            F.when(
                F.col("n_ngrams") > 0,
                F.round(F.col("n_dup_ngrams") / F.col("n_ngrams"), 4),
            ).otherwise(F.lit(0.0)),
        )
        .select(id_col, "n_ngrams", "n_dup_ngrams", "dup_ratio")
    )


def repeated_ngram_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repeated_ngram_spans(load_table(spark, sf_dir, "documents"))


def scrub_repeated_ngrams(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The REMOVAL half of cross-document span dedup (Lee et al. 2022):
    rewrite each document with every word position covered by a shared
    n-gram (one occurring in ≥ ``min_docs`` distinct docs) dropped.

    Plan: positions of shared n-grams come from the same
    posexplode→distinct→join pipeline as ``repeated_ngram_spans``; the
    covered-index set is collected per doc (bounded by doc length) and
    the rewrite is a per-row array filter — the corpus crosses the
    network once as (doc, start) pairs, never as text."""
    # same single-partition-scan fix as repeated_ngram_spans (−50%)
    df = spread(df)
    w = words_col(text_col)
    m = F.greatest(F.size(w) - F.lit(n - 1), F.lit(0))
    ng = F.slice(w, 1, m)
    for i in range(1, n):
        ng = F.zip_with(
            ng, F.slice(w, i + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    pos = df.select(F.col(id_col), F.posexplode(ng).alias("p0", "ngram"))
    if min_docs == 2:
        # min(doc) != max(doc) is exactly "appears in >= 2 distinct
        # docs" and needs one partial-agg shuffle instead of the
        # distinct + count-distinct pair (same rewrite as
        # repeated_ngram_spans; guide §2.3)
        shared = (
            pos.groupBy("ngram")
            .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
            .filter(F.col("_mn") != F.col("_mx"))
            .select("ngram")
        )
    else:
        shared = (
            pos.select(id_col, "ngram")
            .distinct()
            .groupBy("ngram")
            .agg(F.count("*").alias("ndocs"))
            .filter(F.col("ndocs") >= min_docs)
            .select("ngram")
        )
    starts = (
        pos.join(shared, "ngram")
        .groupBy(id_col)
        # 1-based word index of each shared-n-gram start
        .agg(F.collect_set(F.col("p0") + 1).alias("starts"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce("starts", F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + F.lit(n - 1)),
            )
        )
    )
    kept = F.filter(
        w, lambda x, j: ~F.array_contains(F.col("covered"), (j + 1).cast("int"))
    )
    return (
        df.join(starts, id_col, "left")
        .withColumn("covered", covered)
        .select(
            F.col(id_col),
            F.concat_ws(" ", kept).alias("clean_text"),
            (F.size(w) - F.size(kept)).alias("n_removed_words"),
        )
    )


def scrub_repeated_ngrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scrub_repeated_ngrams(load_table(spark, sf_dir, "documents"))


ORACLE_SCRUB_NGRAMS = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
pos AS (
  SELECT doc_id, i.i AS p, array_to_string(w[i.i:i.i+4], ' ') AS ngram
  FROM words, LATERAL (
    SELECT unnest(generate_series(1, len(w) - 4)) AS i
  ) i
  WHERE len(w) >= 5
),
shared AS (
  SELECT ngram FROM (SELECT DISTINCT doc_id, ngram FROM pos)
  GROUP BY ngram HAVING count(*) >= 2
),
starts AS (
  SELECT doc_id, list(DISTINCT p) AS starts
  FROM pos JOIN shared USING (ngram) GROUP BY doc_id
),
rw AS (
  SELECT words.doc_id, w,
         flatten(list_transform(coalesce(starts, []),
                                s -> range(s, s + 5))) AS covered
  FROM words LEFT JOIN starts ON words.doc_id = starts.doc_id
),
kept AS (
  SELECT doc_id, w, covered,
         list_transform(
           list_filter(range(1, len(w) + 1),
                       j -> NOT list_contains(covered, j)),
           j -> w[j]) AS kw
  FROM rw
)
SELECT doc_id,
       coalesce(array_to_string(kw, ' '), '') AS clean_text,
       CAST(len(w) - len(kw) AS INT) AS n_removed_words
FROM kept
"""


ORACLE_REPEATED_NGRAMS = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
pos AS (
  SELECT doc_id, array_to_string(w[i.i:i.i+4], ' ') AS ngram
  FROM words, LATERAL (
    SELECT unnest(generate_series(1, len(w) - 4)) AS i
  ) i
  WHERE len(w) >= 5
),
shared AS (
  SELECT ngram FROM (SELECT DISTINCT doc_id, ngram FROM pos)
  GROUP BY ngram HAVING count(*) >= 2
),
dup AS (
  SELECT doc_id, count(*) AS n_dup_ngrams FROM pos JOIN shared USING (ngram)
  GROUP BY doc_id
),
totals AS (
  SELECT doc_id, greatest(len(w) - 4, 0) AS n_ngrams FROM words
)
SELECT t.doc_id,
       CAST(t.n_ngrams AS INT) AS n_ngrams,
       CAST(coalesce(d.n_dup_ngrams, 0) AS BIGINT) AS n_dup_ngrams,
       CASE WHEN t.n_ngrams > 0
            THEN round(coalesce(d.n_dup_ngrams, 0) * 1.0 / t.n_ngrams, 4)
            ELSE 0.0 END AS dup_ratio
FROM totals t LEFT JOIN dup d USING (doc_id)
"""


def kwic_spark_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context (KWIC) concordance via a Python UDTF — each
    occurrence of the keyword ('spark') yields one row with its
    1-based word position and a ±2-word context window. This is the
    arrow-optimized UDTF surface (plans as ``ArrowEvalPythonUDTF``,
    never ``BatchEvalPython``) invoked through SQL LATERAL; the
    relational twin of the same semantics is the oracle's
    explode-with-subscripts form, which is what the 100 TB hot path
    would use — the UDTF exists because table-generating Python IS
    part of the engine's API surface (SURVEY.md §2.2 UDF/UDTF row)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, pos: int, context: string", useArrow=True)
    class Kwic:
        def eval(self, doc_id, text):  # noqa: ANN001 — UDTF signature
            if text is None:
                return
            words = text.split(" ")
            n = len(words)
            for i, w in enumerate(words):
                if w == "spark":
                    lo, hi = max(0, i - 2), min(n, i + 3)
                    yield (doc_id, i + 1, " ".join(words[lo:hi]))

    spark.udtf.register("kwic_spans", Kwic)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_kwic_docs")
    return spark.sql(
        "SELECT s.doc_id, s.pos, s.context "
        "FROM _kwic_docs t, LATERAL kwic_spans(t.doc_id, t.text) s"
    )


ORACLE_KWIC = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
occ AS (
  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM w
)
SELECT doc_id, CAST(i AS INT) AS pos,
       array_to_string(ws[greatest(i - 2, 1) : least(i + 2, len(ws))], ' ')
           AS context
FROM occ WHERE ws[i] = 'spark'
"""


QUERIES = {
    "kwic_spark_docs": kwic_spark_docs,
    "bigram_logprob_docs": bigram_logprob_docs,
    "text_quality_docs": text_quality_docs,
    "repeated_ngram_spans_docs": repeated_ngram_spans_docs,
    "scrub_repeated_ngrams_docs": scrub_repeated_ngrams_docs,
    "tfidf_top_terms_docs": tfidf_top_terms_docs,
    "lang_id_docs": lang_id_docs,
    "token_count_docs": token_count_docs,
    "fingerprint_docs": fingerprint_docs,
    "lang_id_confusion": lang_id_confusion,
    "quality_filter_pipeline": quality_filter_pipeline,
    "repetition_ratio_docs": repetition_ratio_docs,
    "redact_pii_docs": redact_pii_docs,
    "unigram_logprob_docs": unigram_logprob_docs,
    "frequent_ngrams_docs": frequent_ngrams_docs,
    "quality_classifier_docs": quality_classifier_docs,
    "quality_buckets_docs": quality_buckets_docs,
}

ORACLES = {
    "kwic_spark_docs": ORACLE_KWIC,
    "bigram_logprob_docs": ORACLE_BIGRAM,
    "unigram_logprob_docs": ORACLE_UNIGRAM,
    "repeated_ngram_spans_docs": ORACLE_REPEATED_NGRAMS,
    "scrub_repeated_ngrams_docs": ORACLE_SCRUB_NGRAMS,
    "repetition_ratio_docs": ORACLE_REPETITION,
    "redact_pii_docs": ORACLE_REDACT,
    "text_quality_docs": ORACLE_TEXT_QUALITY,
    "tfidf_top_terms_docs": ORACLE_TFIDF,
    "lang_id_docs": ORACLE_LANG_ID,
    "token_count_docs": ORACLE_TOKEN_COUNT,
    "fingerprint_docs": ORACLE_FINGERPRINT,
    "lang_id_confusion": ORACLE_LANG_CONFUSION,
    "quality_filter_pipeline": ORACLE_QUALITY_FILTER,
    "frequent_ngrams_docs": ORACLE_FREQUENT_NGRAMS,
    "quality_classifier_docs": _oracle_quality_classifier(),
    "quality_buckets_docs": ORACLE_QUALITY_BUCKETS,
}
