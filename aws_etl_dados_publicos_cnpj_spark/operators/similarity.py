"""[EXT] Similarity search over embedding columns (BASELINE.json north
star; SURVEY.md §2.3).

Scoring forms — two, by design:

- **vectorized** (what the operators run): Arrow-batched numpy. Spark 4 higher-order
  functions are interpreted (not codegen'd, ~30× slower — measured for
  MinHash, commit 9f59134), so the per-pair dot products here go
  through ``pandas_udf`` / ``mapInPandas`` where a whole Arrow batch is
  one BLAS call. This is the 100 TB hot path.
- **hof**: the JVM ``zip_with``/``aggregate`` sequential left fold —
  bit-deterministic and matching DuckDB's ``list_cosine_similarity``
  loop, kept as private oracle twins (``_*_hof``) the tests compare
  the vectorized operators against.

Operators:

- ``ann_bruteforce_topk``: exact top-k. Vectorized form is a
  ``mapInPandas`` GEMM: the (small) probe matrix ships to every task
  once; each corpus Arrow batch is scored with ONE matrix multiply and
  emits only its per-batch top-k per probe — so the corpus crosses
  Arrow once, never per-probe, and the shuffle after the scan is
  (batches × probes × k) rows, independent of corpus size.
- ``ann_lsh_topk``: the sub-linear path — random-hyperplane (sign)
  LSH: bucket codes packed with integer shiftleft/OR (LongType at any
  width), probes join only their bucket.
- ``ann_ivf_topk``: KMeans coarse quantizer; probes search only their
  nearest cells.
- ``embedding_near_dup_pairs``: blocked all-pairs cosine (block =
  ``label`` here; at scale the block key is an LSH bucket).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from . import load_table

LSH_PLANES = 16
LSH_SEED = 42
EMBED_DIM = 64


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (cast float
    arrays with ``.cast('array<double>')`` first) — the deterministic
    JVM/HOF form (oracle twin; see module docstring)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _round_half_away(x: np.ndarray, digits: int = 4) -> np.ndarray:
    """Round half away from zero — matching Spark's HALF_UP ``F.round``
    and DuckDB's ``round`` (numpy's own ``round`` is half-to-even)."""
    scale = 10.0**digits
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


# DataType object (not DDL string): a string return type would need an
# active SparkSession to parse at import time.
@pandas_udf(DoubleType())
def pairwise_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine over pair-shaped rows, rounded to 4
    decimals: one numpy einsum per Arrow batch instead of one
    interpreted HOF evaluation per row."""
    A = np.stack(a.to_numpy())
    B = np.stack(b.to_numpy())
    num = np.einsum("ij,ij->i", A, B)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    return pd.Series(_round_half_away(num / den))


def _bruteforce_topk_hof(
    corpus: DataFrame, probes: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """HOF oracle twin of ``ann_bruteforce_topk`` — broadcast
    nested-loop join + per-pair JVM dot product."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("cnorm", F.sqrt(_dot(F.col("cvec"), F.col("cvec"))))
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("pvec"),
    ).withColumn("pnorm", F.sqrt(_dot(F.col("pvec"), F.col("pvec"))))
    # norms are computed once per row before the join; the per-pair work
    # is a single dot product
    scored = (
        c.join(F.broadcast(p), F.col("neighbor_id") != F.col("probe_id"))
        .withColumn(
            "sim",
            F.round(_dot(F.col("pvec"), F.col("cvec")) / (F.col("pnorm") * F.col("cnorm")), 4),
        )
        .select("probe_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "sim", "rk")
    )


def ann_bruteforce_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per probe.

    The probe set is collected to a small numpy matrix (bounded by
    definition — it is the query side) and shipped inside the
    ``mapInPandas`` closure; every corpus Arrow batch is scored with
    ONE ``C @ P.T`` matrix multiply and emits only its local top-k
    rows per probe. Exactness is preserved because
    global top-k is a monotone selection over batch-local top-k (same
    (sim DESC, neighbor ASC) order both levels). The corpus is read
    map-only — no shuffle of corpus rows, no per-probe Arrow transfer —
    and the final window ranks (batches × probes × k) rows regardless
    of corpus size. ``_bruteforce_topk_hof`` is the deterministic JVM
    fold twin.
    """
    probe_pd = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("pvec"),
    ).toPandas()
    pids = probe_pd["probe_id"].to_numpy()
    P = np.stack(probe_pd["pvec"].to_numpy()) if len(probe_pd) else np.zeros((0, 1))
    pnorm = np.linalg.norm(P, axis=1) if len(probe_pd) else np.zeros(0)

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf) or not len(pids):
                continue
            ids = pdf["neighbor_id"].to_numpy()
            C = np.stack(pdf["cvec"].to_numpy())
            cnorm = np.linalg.norm(C, axis=1)
            sims = _round_half_away(C @ P.T / np.outer(cnorm, pnorm))
            out_p, out_n, out_s = [], [], []
            for j, pid in enumerate(pids):
                col = sims[:, j]
                mask = ids != pid
                cand_ids, cand_sims = ids[mask], col[mask]
                # batch-local (sim DESC, neighbor_id ASC) top-k
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                out_p.append(np.full(len(order), pid))
                out_n.append(cand_ids[order])
                out_s.append(cand_sims[order])
            yield pd.DataFrame(
                {
                    "probe_id": np.concatenate(out_p),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    scored = c.mapInPandas(score_batches, "probe_id long, neighbor_id long, sim double")
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "sim", "rk")
    )


def _hyperplanes(dim: int = EMBED_DIM, planes: int = LSH_PLANES, seed: int = LSH_SEED) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(planes, dim).tolist()


_QUANT_SCHEMA = StructType(
    [
        StructField("scale", DoubleType()),
        StructField("qvec", ArrayType(IntegerType())),
    ]
)


@pandas_udf(_QUANT_SCHEMA)
def _quantize_vec(vecs: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized symmetric int8 codes: one numpy pass per batch.
    Round half-away matches Spark's HALF_UP and DuckDB's round, so the
    vectorized path is bit-identical to the HOF/oracle twin."""
    A = np.stack(vecs.to_numpy()).astype(np.float64)
    scale = np.abs(A).max(axis=1) / 127.0
    safe = np.where(scale == 0.0, 1.0, scale)
    q = _round_half_away(A / safe[:, None], 0).astype(np.int32)
    return pd.DataFrame({"scale": scale, "qvec": [r.tolist() for r in q]})


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v| / 127``,
    ``q_i = round(v_i / scale)`` ∈ [-127, 127] (the bound holds without
    clipping since ``|v_i| ≤ max|v|``); zero vectors get scale 0 and
    all-zero codes.

    This is the storage/shuffle reducer for 100 TB embedding corpora:
    int8 codes are 8× smaller than float64 on the wire, so ANN candidate
    generation reads codes and only the exact re-rank touches the float
    originals. One numpy pass per Arrow batch; ``_quantize_hof`` is the
    deterministic JVM-expression twin the DuckDB oracle mirrors (proven
    bit-identical in tests).

    Output: (id_col, scale, qvec array<int>).
    """
    v = F.col(vec_col).cast("array<double>")
    out = df.select(F.col(id_col), _quantize_vec(v).alias("__q"))
    return out.select(id_col, F.col("__q.scale").alias("scale"), F.col("__q.qvec").alias("qvec"))


def _quantize_hof(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """JVM-expression twin of ``quantize_embeddings``."""
    v = F.col(vec_col).cast("array<double>")
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    staged = df.select(F.col(id_col), v.alias("__v"), (maxabs / F.lit(127)).alias("scale"))
    q = F.when(
        F.col("scale") == F.lit(0.0),
        F.transform(F.col("__v"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("__v"),
            lambda x: F.round(x / F.col("scale"), 0).cast("int"),
        )
    )
    return staged.select(id_col, "scale", q.alias("qvec"))


def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query form: the library API returns ``qvec array<int>``, but
    the driver's pandas canonicalizer sorts rows and cannot hash list
    cells (CORRECTNESS_r03: ``TypeError: unhashable type: 'list'``), so
    the query projects the array to a deterministic CSV string."""
    out = quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return out.select("vec_id", "scale", F.concat_ws(",", "qvec").alias("qvec_csv"))


ORACLE_QUANTIZE = """
WITH m AS (
  SELECT vec_id, embedding,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127 AS scale
  FROM embeddings
)
SELECT vec_id, scale,
       CASE WHEN scale = 0 THEN array_to_string(list_transform(embedding, x -> 0), ',')
            ELSE array_to_string(list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER)), ',')
       END AS qvec_csv
FROM m
"""


def lsh_bucket_vec(planes: list[list[float]]):
    """Arrow-vectorized sign-LSH bucket codes: the whole plane matrix is
    closed over once and every batch is ONE ``V @ P.T`` — the map pass
    that assigns a 100 TB corpus to buckets should not run one
    interpreted dot product per (row × plane)."""
    P = np.asarray(planes, dtype=np.float64)
    shifts = np.arange(P.shape[0], dtype=np.int64)

    @pandas_udf(LongType())
    def _bucket(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy())
        signs = (V @ P.T) > 0
        return pd.Series((signs.astype(np.int64) << shifts).sum(axis=1))

    return _bucket


def ann_lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = LSH_PLANES,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: probe and corpus vectors are bucketed by a
    sign-LSH code; candidates come only from the probe's bucket(s).
    The corpus-side bucket computation is a map-only pass that would be
    precomputed/persisted at scale (write-once, reuse per query).

    ``multi_probe=1`` additionally probes every bucket at Hamming
    distance 1 from the query's code (flip each plane bit) — the
    standard recall knob that multiplies only the PROBE side by
    planes+1, never touching the corpus layout."""
    hp = _hyperplanes(planes=planes)
    bucket_fn = lsh_bucket_vec(hp)  # same fn both sides: self-consistent signs
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("bucket", bucket_fn(F.col("cvec")))
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("pvec"),
    ).withColumn("bucket", bucket_fn(F.col("pvec")))
    if multi_probe:
        variants = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(planes)
        ]
        p = p.withColumn("bucket", F.explode(F.array(*variants)))
    scored = (
        c.join(F.broadcast(p), "bucket")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("sim", pairwise_cosine(F.col("pvec"), F.col("cvec")))
        .select("probe_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "sim", "rk")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs within blocks: all-pairs cosine
    restricted to equal ``block_col`` (at scale: an LSH bucket), keeping
    pairs at or above `threshold`."""
    base = embeddings.select(
        F.col(id_col), F.col(block_col).alias("block"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    a = base.select(F.col(id_col).alias("id_a"), "block", F.col("v").alias("va"))
    b = base.select(F.col(id_col).alias("id_b"), "block", F.col("v").alias("vb"))
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", pairwise_cosine(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _nearest_cells_expr(vec_col: str, centers: list[list[float]], n: int) -> Column:
    """JVM expression for the ``n`` nearest center cells of column
    ``vec_col`` by squared L2 (ties → lower cell id, via struct
    array_sort): the coarse-quantizer assignment as a map-side
    expression — no shuffle, no UDF, and exactly reproducible in oracle
    SQL when the centers are literals.

    Built as ONE SQL string handed to ``F.expr`` (r14, guide §1/§5 —
    driver-side cost is part of every timed run): the Column-tree form
    issued one py4j round trip per literal — 8 centers × 64 dims ≈ 520
    ``F.lit`` calls ≈ 0.36 s of driver time on EVERY query
    construction. The parsed expression is identical (same zip_with/
    aggregate lambdas, same left-to-right float accumulation, string
    float literals parse to the same correctly-rounded doubles), so
    assignments are bit-equal — pinned by the oracle hash and a
    side-by-side collect at all three SFs."""
    cells = ", ".join(
        "named_struct('d', aggregate(zip_with({v}, array({lits}), "
        "(a, b) -> (a - b) * (a - b)), CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + x), 'cell', {i})".format(
            v=vec_col,
            lits=", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in center),
            i=i,
        )
        for i, center in enumerate(centers)
    )
    return F.expr(f"slice(array_sort(array({cells})), 1, {n}).cell")


def ann_ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe_cells: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every
    corpus vector to a cell; each probe searches only its
    ``n_probe_cells`` nearest cells.

    Scale shape: training samples the corpus (KMeans on a fraction),
    cell assignment is one map-side pass (persisted at scale, like the
    LSH buckets), and the search join hits ~n_probe/n_cells of the
    corpus. Deterministic for fixed seed.

    ``centers`` pins the quantizer (a list of center vectors, e.g. a
    persisted index's centers table): no training runs, corpus rows are
    assigned to their argmin-L2 cell with JVM expressions, and the whole
    query becomes a pure function of its literals — the hash-checkable
    driver form."""
    if centers is not None:
        # NOTE: deliberately NOT spread — unlike semantic_dedup, the
        # pinned-center assignment here is light and the broadcast-probed
        # search join dominates; the extra exchange measured flat-to-
        # slower (1.54→1.70 s A/B at sf0.1)
        train = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        )
        assigned = train.withColumn(
            "cell", F.element_at(_nearest_cells_expr("cvec", centers, 1), 1)
        )
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        ).withColumn("features", array_to_vector("cvec"))
        model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(train)
        assigned = model.transform(train).select(
            "neighbor_id", "cvec", F.col("prediction").alias("cell")
        )
        centers = [c.tolist() for c in model.clusterCenters()]

    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("pvec"),
    ).withColumn(
        "cell", F.explode(_nearest_cells_expr("pvec", centers, n_probe_cells))
    )

    scored = (
        assigned.join(F.broadcast(p), "cell")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("sim", pairwise_cosine(F.col("pvec"), F.col("cvec")))
        .select("probe_id", "neighbor_id", "sim")
        .distinct()
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "sim", "rk")
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Materialize the IVF index: KMeans-assign every corpus vector to
    a cell and write the assignments PARTITIONED BY cell (plus the
    centers table). This is the write-once/reuse-per-query path
    ``ann_ivf_topk`` only simulates in-plan: at 100 TB the quantizer
    pass runs once, and every search afterward reads ONLY its probe
    cells' partitions (real partition pruning, plan-asserted in
    tests)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("features", array_to_vector("cvec"))
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(train)
    assigned = model.transform(train).select(
        "neighbor_id", "cvec", F.col("prediction").alias("cell")
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/assignments")
    spark = corpus.sparkSession
    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, center array<double>",
    )
    centers.write.mode("overwrite").parquet(f"{path}/centers")


def ann_ivf_search(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    k: int = 5,
    n_probe_cells: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF index. The centers table (n_cells rows —
    bounded control-plane state, like the catalog reads) is collected
    to route probes; the assignments scan is FILTERED to the union of
    probed cells, which the cell-partitioned layout turns into
    partition pruning — untouched cells are never read."""
    centers_rows = spark.read.parquet(f"{path}/centers").collect()
    centers = {r.cell: np.asarray(r.center) for r in centers_rows}
    cells_sorted = sorted(centers)
    C = np.stack([centers[c] for c in cells_sorted])

    probe_pd = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("pvec"),
    ).toPandas()
    probe_cells = []
    for _, row in probe_pd.iterrows():
        v = np.asarray(row["pvec"])
        d2 = ((C - v) ** 2).sum(axis=1)
        for ci in np.argsort(d2)[:n_probe_cells]:
            probe_cells.append(
                (int(row["probe_id"]), [float(x) for x in row["pvec"]], int(cells_sorted[ci]))
            )
    p = spark.createDataFrame(
        probe_cells, "probe_id long, pvec array<double>, cell int"
    )
    needed = sorted({c for _, _, c in probe_cells})

    assigned = (
        spark.read.parquet(f"{path}/assignments")
        .withColumn("cell", F.col("cell").cast("int"))
        .filter(F.col("cell").isin(needed))
    )
    scored = (
        assigned.join(F.broadcast(p), "cell")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("sim", pairwise_cosine(F.col("pvec"), F.col("cvec")))
        .select("probe_id", "neighbor_id", "sim")
        .distinct()
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "sim", "rk")
    )


# --- driver-contract query forms -------------------------------------------


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return ann_bruteforce_topk(emb, probes, k=5)


ORACLE_ANN = """
WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pvec
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cvec FROM embeddings),
s AS (SELECT probe_id, neighbor_id,
             round(list_cosine_similarity(pvec, cvec), 4) AS sim
      FROM p, c WHERE neighbor_id <> probe_id)
SELECT probe_id, neighbor_id, sim, rk
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM s)
WHERE rk <= 5
"""


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"))


ORACLE_NEAR_DUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
"""


def embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space duplicate CLUSTERS: cosine near-dup pairs →
    connected components → (vec, cluster, canonical?) keep-list — the
    embedding twin of the MinHash ``near_dup_clusters`` pipeline,
    sharing the same CC operator (union-find fast path / pointer
    jumping above the gate) and the same unrolled min-propagation
    oracle, parameterized by the cosine pair source."""
    from .dedup import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb)
    cc = connected_components(pairs, a_col="id_a", b_col="id_b")
    return cc.select(
        F.col("v").alias("vec_id"),
        "cluster_id",
        (F.col("v") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def ann_lsh_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN — hash-checked: the hyperplanes are literal
    constants (seeded), so the oracle reproduces the exact bucketing
    (sign of float dot products) and the bucket-restricted top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    # 6 planes → 64 buckets: sized so sf0.01's 500 vectors give each
    # probe a non-trivial candidate set; at scale widen the code and
    # multi-probe instead.
    return ann_lsh_topk(emb, probes, k=5, planes=6)


def ann_lsh_multiprobe_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (probe + its planes Hamming-1 bucket
    variants) — hash-checked like the single-probe form."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return ann_lsh_topk(emb, probes, k=5, planes=6, multi_probe=1)


def _oracle_ann_lsh(multi_probe: bool = False) -> str:
    """DuckDB twin of the LSH queries: identical plane literals
    (full-precision repr round-trips to the same float64), identical
    sign-bucketing, probing, cosine, and ranking."""
    planes = _hyperplanes(planes=6)
    values = ",\n    ".join(
        f"({p}, [{', '.join(repr(float(x)) for x in plane)}]::DOUBLE[])"
        for p, plane in enumerate(planes)
    )
    probe_cte = (
        "SELECT v.vec_id AS probe_id, e AS pv, bucket\n"
        "      FROM v JOIN codes USING (vec_id) WHERE vec_id < 10"
    )
    if multi_probe:
        flips = ", ".join(str(x) for x in [0] + [1 << b for b in range(6)])
        probe_cte = (
            f"SELECT probe_id, pv, xor(bucket, flip) AS bucket\n"
            f"      FROM ({probe_cte}) p0, (SELECT unnest([{flips}]) AS flip)"
        )
    return f"""
WITH planes(p, pvecp) AS (VALUES
    {values}
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
codes AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN list_dot_product(e, pvecp) > 0
                       THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
  FROM v, planes GROUP BY vec_id
),
p AS ({probe_cte}),
c AS (SELECT v.vec_id AS neighbor_id, e AS cv, bucket
      FROM v JOIN codes USING (vec_id)),
s AS (SELECT probe_id, neighbor_id,
             round(list_cosine_similarity(pv, cv), 4) AS sim
      FROM p JOIN c USING (bucket) WHERE neighbor_id <> probe_id)
SELECT probe_id, neighbor_id, sim, rk
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM s)
WHERE rk <= 5
"""


SEMDEDUP_BLOCK_CAP = 4096  # hard per-task row bound (memory safety at scale)
SEMDEDUP_MIN_BLOCK = 32  # don't shred cells below this many rows per block


def semantic_dedup(
    embeddings: DataFrame,
    centers: list[list[float]],
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cap: int = SEMDEDUP_BLOCK_CAP,
    min_block: int = SEMDEDUP_MIN_BLOCK,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest
    coarse-quantizer cell, compute pairwise cosine ONLY within each
    cell, and keep one representative per semantic-duplicate group.

    Representative rule: a vector is dropped iff a LOWER-id vector in
    its cell matches it at ≥ ``threshold`` (the paper keeps the example
    farthest from the centroid; min-id is the deterministic,
    oracle-checkable equivalent for a frozen quantizer). Output:
    (id, cell, keep ∈ {0,1}).

    Scale shape (r14 rewrite — guide §2.5 salting + §4.2): the r13 form
    ran the whole within-cell quadratic as ONE ``applyInPandas`` task
    per cell, which caps parallelism at the pinned quantizer's k=8
    cells and, at scale, materializes an entire cell (plus O(n²)
    ``triu_indices`` arrays) in one Python worker — an OOM for any
    large cell, because k is FROZEN so cells grow as N/k. This form
    salts each cell into contiguous id-rank blocks of ≤ ``block_cap``
    rows and enumerates the block-pair upper triangle as INDEPENDENT
    tasks:

    - one window over ``cell`` ranks ids and sizes blocks —
      ``n_blocks`` is ``ceil(cnt/block_cap)`` (memory bound) floored at
      enough blocks to fill ``defaultParallelism`` across cells
      (parallelism bound, scale-adaptive: derived from the cluster, not
      a local constant);
    - each row replicates to its block's pair tasks (≤ n_blocks copies)
      and ``groupBy(cell, lo, hi).applyInPandas`` computes the SAME
      per-pair ``einsum("ij,ij->i")`` / norm-product / round-half-away
      floats as r12/r13 (pair results depend only on the two rows, so
      blocking cannot change the floats — verified bit-identical on all
      three SFs);
    - blocks are contiguous in id-rank, so in a cross task every left
      id < every right id and only right rows can drop; the diagonal
      task emits every row's within-block verdict, so a final tiny
      (id)-aggregation ORs the verdicts into ``keep``.

    Per-task memory is now ≤ 2·block_cap vectors + one pair-band of
    index/einsum temps (bounded by ``chunk_elems``), regardless of cell
    size."""
    import math

    from .dedup import spread

    # spread BEFORE the per-row nearest-cell expression: a one-file
    # embeddings table scans as one partition, serializing the
    # centers x dims dot products on a single core (measured -30% at
    # sf0.1); adaptive - unchanged on an already-split corpus
    base = spread(
        embeddings.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    ).withColumn("cell", F.element_at(_nearest_cells_expr("v", centers, 1), 1))

    # blocks per cell: memory bound always wins; otherwise just enough
    # block pairs across the k cells to fill the cluster's cores
    # (k·b(b+1)/2 tasks ≥ defaultParallelism ⇒ b ≈ sqrt(2·P/k))
    k = max(1, len(centers))
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    b_par = max(1, math.ceil(math.sqrt(2.0 * max(1, par) / k)))
    w = Window.partitionBy("cell")
    cnt = F.count("*").over(w)
    rk = F.row_number().over(w.orderBy(id_col)) - 1
    nblk = F.greatest(
        F.ceil(cnt / F.lit(block_cap)),
        F.least(F.lit(b_par), F.ceil(cnt / F.lit(min_block))),
    ).cast("int")
    blocked = base.select(
        F.col(id_col),
        "v",
        "cell",
        F.floor(rk * nblk / cnt).cast("int").alias("blk"),
        (nblk - 1).cast("int").alias("mb"),
    )
    # replicate each row to every block pair it participates in:
    # (blk, hi) for hi in blk..mb, plus (lo, blk) for lo in 0..blk-1
    as_low = F.transform(
        F.sequence(F.col("blk"), F.col("mb")),
        lambda h: F.struct(F.col("blk").alias("lo"), h.alias("hi")),
    )
    as_high = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.col("blk")),
            lambda lo: F.struct(lo.alias("lo"), F.col("blk").alias("hi")),
        ),
        lambda s: s["lo"] < s["hi"],
    )
    rep = blocked.select(
        F.col(id_col),
        "v",
        "cell",
        "blk",
        F.explode(F.concat(as_low, as_high)).alias("p"),
    ).select(id_col, "v", "cell", "blk", "p.lo", "p.hi")

    out_schema = StructType(
        [
            StructField(id_col, embeddings.schema[id_col].dataType),
            StructField("cell", IntegerType()),
            StructField("dropped", IntegerType()),
        ]
    )
    # pairs per einsum band: 4M pairs × d=64 × 8 B × 2 operands ≈ 4 GB
    # peak at d=64 would be too fat — band by ELEMENTS instead so the
    # temp is ~128 MB regardless of dimension; pair INDEX arrays are
    # generated band-by-band too (never a whole-triangle triu_indices)
    chunk_elems = 16_000_000

    def _pair_bands(n_lo: int, n_hi: int, diag: bool, band_pairs: int):
        rows_per_band = max(1, band_pairs // max(1, n_hi))
        for i0 in range(0, n_lo, rows_per_band):
            i1 = min(i0 + rows_per_band, n_lo)
            ii = np.repeat(np.arange(i0, i1), n_hi)
            jj = np.tile(np.arange(n_hi), i1 - i0)
            if diag:
                keep_m = jj > ii
                ii, jj = ii[keep_m], jj[keep_m]
            if len(ii):
                yield ii, jj

    def _block_pair(key, pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(key[1]), int(key[2])
        ids = pdf[id_col].to_numpy()
        blk = pdf["blk"].to_numpy()
        diag = lo == hi
        lo_m = blk == lo
        lo_order = np.argsort(ids[lo_m], kind="stable")
        A_lo = np.stack(pdf["v"].to_numpy()[lo_m][lo_order]) if lo_m.any() else None
        ids_lo = ids[lo_m][lo_order]
        if diag:
            A_hi, ids_hi = A_lo, ids_lo
        else:
            hi_m = blk == hi
            hi_order = np.argsort(ids[hi_m], kind="stable")
            A_hi = np.stack(pdf["v"].to_numpy()[hi_m][hi_order]) if hi_m.any() else None
            ids_hi = ids[hi_m][hi_order]
        dropped_hi = np.zeros(len(ids_hi), dtype=bool)
        if A_lo is not None and A_hi is not None and len(ids_lo) and len(ids_hi):
            d = A_lo.shape[1]
            # per-row norms once per side: same bits as computing them
            # on the gathered pair rows (row-wise independent op)
            nrm_lo = np.linalg.norm(A_lo, axis=1)
            nrm_hi = nrm_lo if diag else np.linalg.norm(A_hi, axis=1)
            band = max(1, chunk_elems // max(1, d))
            for ii, jj in _pair_bands(len(ids_lo), len(ids_hi), diag, band):
                # identical per-pair float ops as the r12 pairwise_cosine
                # pandas UDF (einsum + norm product + round-half-away):
                # each pair's result depends only on its two rows, so
                # banding cannot change the floats
                num = np.einsum("ij,ij->i", A_lo[ii], A_hi[jj])
                sim = _round_half_away(num / (nrm_lo[ii] * nrm_hi[jj]))
                dropped_hi[jj[sim >= threshold]] = True
        cell_val = int(key[0])
        if diag:
            # the diagonal task covers every row of its block exactly
            # once — it emits ALL verdicts, so every id reaches the
            # final aggregation even when nothing matches
            return pd.DataFrame(
                {
                    id_col: ids_hi,
                    "cell": np.full(len(ids_hi), cell_val, dtype=np.int32),
                    "dropped": dropped_hi.astype(np.int32),
                }
            )
        out_ids = ids_hi[dropped_hi]
        return pd.DataFrame(
            {
                id_col: out_ids,
                "cell": np.full(len(out_ids), cell_val, dtype=np.int32),
                "dropped": np.ones(len(out_ids), dtype=np.int32),
            }
        )

    verdicts = rep.groupBy("cell", "lo", "hi").applyInPandas(_block_pair, out_schema)
    return verdicts.groupBy(id_col).agg(
        F.max("cell").alias("cell"),
        (F.lit(1) - F.max("dropped")).cast("int").alias("keep"),
    )


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query form over the pinned seed-42 quantizer (hash-checked
    like ``ann_ivf_topk``)."""
    from ._ivf_centers import IVF_PINNED_CENTERS

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, IVF_PINNED_CENTERS, threshold=0.7)


def _oracle_semantic_dedup() -> str:
    """DuckDB twin of ``semantic_dedup_embeddings``: same pinned-center
    assignment, same within-cell pairwise cosine at 4 decimals, same
    min-id keep rule."""
    from ._ivf_centers import IVF_PINNED_CENTERS

    values = ",\n    ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(IVF_PINNED_CENTERS)
    )
    return f"""
WITH centers(cell, cvecc) AS (VALUES
    {values}
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
d AS (SELECT vec_id, cell, list_distance(e, cvecc) AS dist FROM v, centers),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM d) WHERE rn = 1
),
base AS (SELECT a.vec_id, a.cell, v.e FROM assign a JOIN v USING (vec_id)),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM base a JOIN base b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.7
)
SELECT b.vec_id, b.cell,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM base b LEFT JOIN dropped d ON b.vec_id = d.vec_id
"""


def ann_ivf_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a FROZEN coarse quantizer — hash-checked: the
    seed-42 KMeans centers are pinned literals (``_ivf_centers.py``), so
    the oracle reproduces cell assignment (argmin L2), probing (2
    nearest cells) and the cell-restricted top-k exactly. This is the
    persisted-index *search* path (``ann_ivf_search``); training stays
    covered by ``ann_ivf_topk(centers=None)`` unit tests."""
    from ._ivf_centers import IVF_PINNED_CENTERS

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return ann_ivf_topk(emb, probes, k=5, centers=IVF_PINNED_CENTERS)


def _oracle_ann_ivf() -> str:
    """DuckDB twin of ``ann_ivf_topk_query``: identical center literals,
    argmin-L2 assignment with the same (distance, cell) tie-break,
    2-nearest-cell probing, cosine re-rank, bucket-restricted top-k."""
    from ._ivf_centers import IVF_PINNED_CENTERS

    values = ",\n    ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(IVF_PINNED_CENTERS)
    )
    return f"""
WITH centers(cell, cvecc) AS (VALUES
    {values}
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
d AS (SELECT vec_id, cell, list_distance(e, cvecc) AS dist FROM v, centers),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM d) WHERE rn = 1
),
pcells AS (
  SELECT vec_id AS probe_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM d WHERE vec_id < 10) WHERE rn <= 2
),
s AS (
  SELECT DISTINCT pc.probe_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(pe.e, ce.e), 4) AS sim
  FROM pcells pc
  JOIN assign a USING (cell)
  JOIN v pe ON pe.vec_id = pc.probe_id
  JOIN v ce ON ce.vec_id = a.vec_id
  WHERE a.vec_id <> pc.probe_id
)
SELECT probe_id, neighbor_id, sim, rk
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM s)
WHERE rk <= 5
"""


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): 64-dim vectors → 8 subspaces
# of 8 dims, each encoded as its nearest of 16 per-subspace centroids —
# an 8-byte code per vector (32× compression). Search is asymmetric
# distance computation (ADC): the probe stays full-precision, each
# corpus vector is scored through a per-probe lookup table of
# subspace-centroid distances. At 100 TB the corpus shuffles CODES
# (8 bytes/row), never raw vectors.
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 8
PQ_CODES = 16


def _sq_l2(vec: Column, center: list[float]) -> Column:
    """Squared L2 between an array column and a literal center — the
    codegen'd left fold (no sqrt: monotone for argmin, exact for ADC)."""
    return F.aggregate(
        F.zip_with(
            vec,
            F.array(*[F.lit(float(x)) for x in center]),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def train_pq_codebooks(
    df: DataFrame,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODES,
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[list[float]]]:
    """Reproduction recipe for ``_pq_codebooks.PQ_PINNED_CODEBOOKS``:
    per-subspace KMeans over the corpus (m fits on m slices of one
    cached projection). At scale each fit samples the corpus; the
    resulting codebooks are tiny (m·k·sub floats) and are persisted as
    literals / a table, exactly like the IVF centers."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = df.select(F.col(vec_col).cast("array<double>").alias("e")).cache()
    try:
        dim = len(base.first()["e"])
        sub = dim // m
        books = []
        for i in range(m):
            train = base.select(
                array_to_vector(F.slice("e", i * sub + 1, sub)).alias("features")
            )
            model = KMeans(k=k, seed=seed, featuresCol="features").fit(train)
            books.append(
                [[round(float(x), 6) for x in c] for c in model.clusterCenters()]
            )
        return books
    finally:
        base.unpersist()


def _pq_codes_np(A: np.ndarray, codebooks: list[list[list[float]]]) -> np.ndarray:
    """(batch, dim) → (batch, m) argmin-L2 codes; numpy argmin takes the
    FIRST minimum, matching the lower-code-id tie-break of the HOF twin
    and the (dist, code) ordering of the oracle."""
    codes = np.empty((A.shape[0], len(codebooks)), dtype=np.int32)
    for m, book in enumerate(codebooks):
        C = np.asarray(book, dtype=np.float64)
        sub = C.shape[1]
        X = A[:, m * sub : (m + 1) * sub]
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        codes[:, m] = d.argmin(axis=1)
    return codes


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as its per-subspace argmin-L2 code array —
    one map-side pass, no shuffle.

    One Arrow-batched numpy broadcast per subspace — Spark 4
    higher-order functions are interpreted, and the unrolled m×k fold
    expressions measured ~20× slower at sf0.1. ``_pq_encode_hof`` keeps
    the JVM expression form (oracle twin: sequential fold exactly like
    DuckDB's list_distance loop)."""
    vec = F.col(vec_col).cast("array<double>")

    @pandas_udf(ArrayType(IntegerType()))
    def _codes(vecs: pd.Series) -> pd.Series:
        A = np.stack(vecs.to_numpy())
        return pd.Series(list(_pq_codes_np(A, codebooks)))

    return df.select(F.col(id_col), _codes(vec).alias("codes"))


def _pq_encode_hof(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """JVM-expression twin of ``pq_encode``."""
    vec = F.col(vec_col).cast("array<double>")
    codes = []
    for m, book in enumerate(codebooks):
        sub = len(book[0])
        s = F.slice(vec, m * sub + 1, sub)
        dists = F.array(
            *[
                F.struct(_sq_l2(s, c).alias("d"), F.lit(i).alias("code"))
                for i, c in enumerate(book)
            ]
        )
        codes.append(F.element_at(F.array_sort(dists), 1).getField("code"))
    return df.select(F.col(id_col), F.array(*codes).alias("codes"))


def ann_pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: corpus rows are scored through their PQ codes against
    each probe's m×|codebook| distance lookup table — the probe stays
    full-precision, the corpus never ships raw vectors past the scan.

    The ``ann_bruteforce_topk`` shape: probe LUTs are a small numpy
    tensor shipped in the ``mapInPandas`` closure (the probe side is
    bounded by definition); each corpus Arrow batch encodes with one
    numpy broadcast and scores ALL probes with one ``take_along_axis``
    gather per subspace, emitting only its batch-local top-k per probe
    — exact because global top-k is a monotone selection over
    batch-local top-k. ``_ann_pq_topk_hof`` keeps the JVM expression
    form: broadcast probe LUT arrays + ``zip_with(codes, lut,
    element_at)`` (oracle twin)."""
    probe_pd = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("pvec"),
    ).toPandas()
    pids = probe_pd["probe_id"].to_numpy()
    P = (
        np.stack(probe_pd["pvec"].to_numpy())
        if len(probe_pd)
        else np.zeros((0, 1))
    )
    # LUT[p, m, code] = squared L2 of probe p's subvector m vs centroid
    luts = np.stack(
        [
            ((P[:, m * len(b[0]) : (m + 1) * len(b[0]), None]
              - np.asarray(b, dtype=np.float64).T[None, :, :]) ** 2).sum(axis=1)
            for m, b in enumerate(codebooks)
        ],
        axis=1,
    ) if len(probe_pd) else np.zeros((0, len(codebooks), 1))

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf) or not len(pids):
                continue
            ids = pdf["neighbor_id"].to_numpy()
            C = np.stack(pdf["cvec"].to_numpy())
            codes = _pq_codes_np(C, codebooks)  # (B, M)
            # dist[b, p] = Σ_m LUT[p, m, codes[b, m]]
            d = np.zeros((len(ids), len(pids)))
            for m in range(codes.shape[1]):
                d += luts[:, m, :][:, codes[:, m]].T
            d = _round_half_away(d)
            out_p, out_n, out_d = [], [], []
            for j, pid in enumerate(pids):
                col = d[:, j]
                mask = ids != pid
                cand_ids, cand_d = ids[mask], col[mask]
                order = np.lexsort((cand_ids, cand_d))[:k]
                out_p.append(np.full(len(order), pid))
                out_n.append(cand_ids[order])
                out_d.append(cand_d[order])
            yield pd.DataFrame(
                {
                    "probe_id": np.concatenate(out_p),
                    "neighbor_id": np.concatenate(out_n),
                    "dist": np.concatenate(out_d),
                }
            )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    scored = c.mapInPandas(
        score_batches, "probe_id long, neighbor_id long, dist double"
    )
    return _pq_rank(scored, k)


def _ann_pq_topk_hof(
    corpus: DataFrame,
    probes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """JVM-expression twin of ``ann_pq_topk``."""
    encoded = _pq_encode_hof(corpus, codebooks, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    pvec = F.col(vec_col).cast("array<double>")
    lut = F.array(
        *[
            F.array(
                *[
                    _sq_l2(F.slice(pvec, m * len(book[0]) + 1, len(book[0])), c)
                    for c in book
                ]
            )
            for m, book in enumerate(codebooks)
        ]
    )
    p = probes.select(F.col(id_col).alias("probe_id"), lut.alias("lut"))
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("lut"), lambda c, row: F.element_at(row, c + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        encoded.join(F.broadcast(p))
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", F.round(dist, 4).alias("dist"))
    )
    return _pq_rank(scored, k)


def _pq_rank(scored: DataFrame, k: int) -> DataFrame:
    """Global (dist ASC, neighbor_id ASC) top-k per probe."""
    w = Window.partitionBy("probe_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("probe_id", "neighbor_id", "dist", "rk")
    )


def pq_encode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes over the frozen codebooks, CSV-projected (the driver's
    row canonicalizer requires hashable cells — same projection rule as
    ``quantize_embeddings_int8``)."""
    from ._pq_codebooks import PQ_PINNED_CODEBOOKS

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_encode(emb, PQ_PINNED_CODEBOOKS).select(
        "vec_id", F.concat_ws(",", F.col("codes")).alias("code")
    )


def ann_pq_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._pq_codebooks import PQ_PINNED_CODEBOOKS

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    return ann_pq_topk(emb, probes, PQ_PINNED_CODEBOOKS, k=5)


def _pq_codebook_values() -> str:
    from ._pq_codebooks import PQ_PINNED_CODEBOOKS

    return ",\n    ".join(
        f"({m}, {code}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for m, book in enumerate(PQ_PINNED_CODEBOOKS)
        for code, c in enumerate(book)
    )


_PQ_ENCODE_CTE = """
cb(m, code, cvec) AS (VALUES
    {values}
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
subs AS (
  SELECT vec_id, CAST(m.m AS INT) AS m, e[m.m*8+1 : m.m*8+8] AS s
  FROM v, (SELECT unnest(range(8)) AS m) m
),
d AS (SELECT vec_id, subs.m, code, list_distance(s, cvec) AS dist
      FROM subs JOIN cb ON subs.m = cb.m),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
    FROM d) WHERE rn = 1
)"""


def _oracle_pq_encode() -> str:
    return (
        "WITH "
        + _PQ_ENCODE_CTE.format(values=_pq_codebook_values())
        + """
SELECT vec_id, string_agg(code, ',' ORDER BY m) AS code
FROM enc GROUP BY vec_id
"""
    )


def _oracle_ann_pq() -> str:
    """DuckDB ADC twin: the probe LUT is the (probe, m, code) distance
    relation; a pair's distance is the m-way join-and-sum against the
    corpus code relation — identical codebook literals, identical
    (dist, id) tie-breaks."""
    return (
        "WITH "
        + _PQ_ENCODE_CTE.format(values=_pq_codebook_values())
        + """,
lut AS (
  SELECT subs.vec_id AS probe_id, subs.m, code,
         power(list_distance(s, cvec), 2) AS pdist
  FROM subs JOIN cb ON subs.m = cb.m
  WHERE subs.vec_id < 10
),
adc AS (
  SELECT probe_id, enc.vec_id AS neighbor_id, round(sum(pdist), 4) AS dist
  FROM enc JOIN lut ON enc.m = lut.m AND enc.code = lut.code
  WHERE enc.vec_id <> lut.probe_id
  GROUP BY probe_id, neighbor_id
)
SELECT probe_id, neighbor_id, dist, rk
FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY dist ASC, neighbor_id ASC) AS rk
      FROM adc)
WHERE rk <= 5
"""
    )


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function surface, exercised explicitly:
    ``aggregate`` (sum of squares → L2 norm), ``transform`` (unit
    normalization), ``filter`` (positive-component count) and
    ``exists`` — all JVM-side lambda expressions, zero Python, zero
    shuffle (pure map over the scan). NOTE Spark evaluates HOF
    lambdas INTERPRETED (outside whole-stage codegen), so per-element
    cost is real — the numeric hot paths here (ANN, quantization) use
    Arrow/numpy batches instead; this query pins the API surface."""
    emb = load_table(spark, sf_dir, "embeddings")
    sumsq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )
    norm = F.sqrt(sumsq)
    return emb.select(
        "vec_id",
        F.round(norm, 4).alias("l2_norm"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda v: v.cast("double") / norm),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            4,
        ).alias("unit_component_sum"),
        F.size(F.filter("embedding", lambda v: v > 0)).alias("n_positive"),
        F.exists("embedding", lambda v: v.cast("double") > 3.0).alias("has_outlier"),
    )


ORACLE_EMBEDDING_NORMS = """
WITH x AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), n AS (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(e, v -> v * v))) AS nrm
  FROM x
)
SELECT vec_id, round(nrm, 4) AS l2_norm,
       round(list_sum(list_transform(e, v -> v / nrm)), 4)
           AS unit_component_sum,
       CAST(len(list_filter(e, v -> v > 0)) AS INT) AS n_positive,
       len(list_filter(e, v -> v > 3.0)) > 0 AS has_outlier
FROM n
"""


QUERIES = {
    "embedding_norms": embedding_norms,
    "quantize_embeddings_int8": quantize_embeddings_int8,
    "pq_encode_embeddings": pq_encode_embeddings,
    "ann_pq_topk": ann_pq_topk_query,
    "ann_cosine_topk": ann_cosine_topk,
    "embedding_near_dup": embedding_near_dup,
    "embedding_dup_clusters": embedding_dup_clusters,
    "ann_lsh_topk": ann_lsh_topk_query,
    "ann_lsh_multiprobe_topk": ann_lsh_multiprobe_topk_query,
    "ann_ivf_topk": ann_ivf_topk_query,
    "semantic_dedup_embeddings": semantic_dedup_embeddings,
}

ORACLES = {
    "embedding_norms": ORACLE_EMBEDDING_NORMS,
    "quantize_embeddings_int8": ORACLE_QUANTIZE,
    "pq_encode_embeddings": _oracle_pq_encode(),
    "ann_pq_topk": _oracle_ann_pq(),
    "ann_cosine_topk": ORACLE_ANN,
    "embedding_near_dup": ORACLE_NEAR_DUP,
    # "embedding_dup_clusters" is assigned below the dict — it reuses
    # dedup's CC oracle generator (deferred import avoids a load cycle)
    "ann_lsh_topk": _oracle_ann_lsh(),
    "ann_lsh_multiprobe_topk": _oracle_ann_lsh(multi_probe=True),
    "ann_ivf_topk": _oracle_ann_ivf(),
    "semantic_dedup_embeddings": _oracle_semantic_dedup(),
}

# the CC oracle lives with the CC operator; parameterize it with the
# cosine pair source (deferred import avoids a cycle at module load)
from .dedup import _oracle_cc as _dedup_oracle_cc  # noqa: E402

ORACLES["embedding_dup_clusters"] = _dedup_oracle_cc(
    ORACLE_NEAR_DUP, a_col="id_a", b_col="id_b", id_name="vec_id"
)
