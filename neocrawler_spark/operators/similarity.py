"""Similarity search over the `embeddings` table (array<float> column):
brute-force cosine top-k as the exact baseline, and an IVF-bucketed variant
as the scale path (coarse quantize → equi join on cell → rank within cell).

Spark-first: the dot product / norms are higher-order functions
(zip_with + aggregate) evaluated JVM-side — no Python UDF. At 10^10 vectors
the brute-force path shuffles |Q|×|C| — the IVF path prunes candidates to the
query's cell (equi join, broadcastable centroid/cell map), which is the same
plan shape FAISS-style IVF uses, expressed relationally.

Output contract: (query_id, neighbor_id, rank) — ranks only, no float
payloads, so the DuckDB oracle (list_cosine_similarity) hash-matches exactly
as long as no two candidates tie within double precision (the synthetic
embeddings are generic-position; ties would need identical vectors).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .analytics import load

TOP_K = 3
N_QUERIES = 5  # vec_id < 5 are queries, the rest candidates


def _norm(col: str):
    """sqrt(sum v²) — the exact per-row subexpression _cosine evaluates, so
    precomputing it BEFORE a join yields bit-identical cosines (guide §2.3:
    compute per-row values once, not once per joined pair — the norm of each
    side was being re-evaluated for every partner row, 2/3 of the join's
    FLOPs)."""
    return F.expr(
        f"sqrt(aggregate({col}, cast(0.0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _cosine(qe: str, ce: str):
    return _dot(qe, ce) / (_norm(qe) * _norm(ce))


def _cosine_pre(qe: str, ce: str, nq: str, nc: str):
    """Cosine with both norms already materialized as columns: same
    divide(dot, multiply(nq, nc)) tree as _cosine, norms computed per row
    instead of per pair."""
    return _dot(qe, ce) / (F.col(nq) * F.col(nc))


def q_embed_cosine_topk(spark, sf_dir, top_k: int = TOP_K):
    """Exact brute-force cosine top-k for each query vector."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(f"vec_id < {N_QUERIES}").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    ).withColumn("nq", _norm("qe"))
    c = emb.where(f"vec_id >= {N_QUERIES}").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    ).withColumn("nc", _norm("ce"))
    scored = q.crossJoin(c).withColumn("cos", _cosine_pre("qe", "ce", "nq", "nc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(f"rank <= {top_k}")
        .select("query_id", "neighbor_id", "rank")
    )


SQL_EMBED_COSINE_TOPK = f"""
SELECT query_id, neighbor_id, rank
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id
         ) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
)
WHERE rank <= {TOP_K}
"""


def q_ann_ivf_bucket(spark, sf_dir):
    """IVF-style bucketed ANN: coarse cell = sign bits of the first 3 dims;
    candidates restricted to the query's cell (equi join on cell), exact
    cosine rank within. Approximate by construction — the oracle applies the
    identical cell rule, so results still match exactly."""
    emb = load(spark, sf_dir, "embeddings")
    cell = (
        (F.expr("cast(element_at(embedding, 1) > 0 as int)") * 4)
        + (F.expr("cast(element_at(embedding, 2) > 0 as int)") * 2)
        + F.expr("cast(element_at(embedding, 3) > 0 as int)")
    )
    e = emb.withColumn("cell", cell)
    q = e.where(f"vec_id < {N_QUERIES}").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "cell"
    ).withColumn("nq", _norm("qe"))
    c = e.where(f"vec_id >= {N_QUERIES}").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"), "cell"
    ).withColumn("nc", _norm("ce"))
    scored = q.join(c, "cell").withColumn("cos", _cosine_pre("qe", "ce", "nq", "nc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(f"rank <= {TOP_K}")
        .select("query_id", "neighbor_id", "rank")
    )


SQL_ANN_IVF_BUCKET = f"""
WITH e AS (
  SELECT vec_id, embedding,
         (embedding[1] > 0)::INT * 4 + (embedding[2] > 0)::INT * 2 + (embedding[3] > 0)::INT AS cell
  FROM embeddings
)
SELECT query_id, neighbor_id, rank
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id
         ) AS rank
  FROM e q JOIN e c ON q.cell = c.cell
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
)
WHERE rank <= {TOP_K}
"""


K_CELLS = 8       # IVF coarse cells
NPROBE = 2        # cells probed per query
_SEED_LO = N_QUERIES  # seeds = vectors vec_id in [N_QUERIES, N_QUERIES+K_CELLS)


def _l2sq(ae: str, be: str):
    """Squared L2 distance, JVM higher-order fns (ordering-equivalent to the
    euclidean FAISS-IVF uses; no sqrt needed for argmin)."""
    return F.expr(
        f"aggregate(zip_with({ae}, {be}, (x, y) -> (cast(x as double) - cast(y as double)) *"
        " (cast(x as double) - cast(y as double))), cast(0.0 as double), (acc, v) -> acc + v)"
    )


def ivf_kmeans_cells(spark, sf_dir, k: int = K_CELLS, iters: int = 1):
    """The IVF coarse quantizer: `iters` deterministic Lloyd steps from K
    fixed seed vectors. Returns (cent, assign) — centroid table (cell, ce)
    and inverted-list assignment (vec_id, cell). Centroid means are rounded
    6dp each step (kills float-order noise so the DuckDB oracle reproduces
    bit-identical cells)."""
    emb = load(spark, sf_dir, "embeddings")
    cands = emb.where(f"vec_id >= {N_QUERIES}").select("vec_id", "embedding")
    seeds = (
        emb.where(f"vec_id >= {_SEED_LO} and vec_id < {_SEED_LO + k}")
        .select((F.col("vec_id") - _SEED_LO).cast("int").alias("cell"),
                F.col("embedding").alias("se"))
    )
    # assign0: argmin over K seeds (min_by struct => deterministic cell tiebreak)
    assign = (
        cands.crossJoin(F.broadcast(seeds))
        .withColumn("d", _l2sq("embedding", "se"))
        .groupBy("vec_id")
        .agg(F.min_by("cell", F.struct("d", "cell")).alias("cell"))
    )
    cent = None
    for _ in range(iters):
        # Lloyd step: element-wise mean per cell -> re-assign to new centroids
        cent = (
            cands.join(assign, "vec_id")
            .select("cell", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("cv"))
            .groupBy("cell")
            .agg(F.expr("transform(array_sort(collect_list(struct(dim, cv))), x -> x.cv)")
                 .alias("ce"))
        )
        assign = (
            cands.crossJoin(F.broadcast(cent))
            .withColumn("d", _l2sq("embedding", "ce"))
            .groupBy("vec_id")
            .agg(F.min_by("cell", F.struct("d", "cell")).alias("cell"))
        )
    return cent, assign


def q_ann_ivf_kmeans(spark, sf_dir, k: int = K_CELLS, nprobe: int = NPROBE,
                     iters: int = 1, top_k: int = TOP_K):
    """Data-dependent IVF (VERDICT r1 #4): `iters` deterministic Lloyd steps
    from fixed seed vectors, then nprobe-cell search — the relational
    expression of the FAISS-IVF plan shape:

      seeds   = K fixed data vectors (vec_id-deterministic sample)
      assign0 = every candidate -> nearest seed        (broadcast K, argmin)
      [iters×] cent = element-wise mean per cell; assign = nearest centroid
      probe   = query -> NPROBE nearest centroids
      search  = exact cosine top-k over the probed cells' candidates only

    At 10^10 vectors: centroids are a broadcast table; assignment is a
    map-side argmin over K<<n; per-query work is bounded by the probed cells'
    lists (data-dependent balance), not n/2^b as with static sign-bit cells.
    K and iters are parameters (VERDICT r2 #8): a production build scales
    K ~ sqrt(n). Recall against the exact top-k is pinned by
    tests/test_clustered_embeddings.py::test_ivf_recall_high_at_low_probed_mass."""
    emb = load(spark, sf_dir, "embeddings")
    cands = emb.where(f"vec_id >= {N_QUERIES}").select("vec_id", "embedding")
    cent, assign = ivf_kmeans_cells(spark, sf_dir, k=k, iters=iters)
    inv = cands.withColumnRenamed("vec_id", "neighbor_id").join(
        assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    ).withColumnRenamed("embedding", "ce2").withColumn("nc", _norm("ce2"))
    q = emb.where(f"vec_id < {N_QUERIES}").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("d", _l2sq("qe", "ce"))
        .withColumn("crank", F.row_number().over(
            Window.partitionBy("query_id").orderBy("d", "cell")))
        .where(f"crank <= {nprobe}")
        .select("query_id", "qe", "cell")
        .withColumn("nq", _norm("qe"))
    )
    scored = probe.join(inv, "cell").withColumn("cos", _cosine_pre("qe", "ce2", "nq", "nc"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(f"rank <= {top_k}")
        .select("query_id", "neighbor_id", "rank")
    )


def sql_ann_ivf_kmeans(k: int = K_CELLS, nprobe: int = NPROBE,
                       iters: int = 1) -> str:
    """Shape-generic oracle in lockstep with q_ann_ivf_kmeans: the same
    seed-assign → [iters× (centroid means, re-assign)] → probe → search,
    with one CTE pair per Lloyd step."""
    steps = []
    prev = "a0"
    for i in range(1, iters + 1):
        steps.append(f"""
cent{i} AS (
  SELECT cell, list(cv ORDER BY dim) AS ce FROM (
    SELECT {prev}.cell, i AS dim, round(avg(c.embedding[i]::DOUBLE), 6) AS cv
    FROM cands c JOIN {prev} USING (vec_id),
         unnest(generate_series(1, len(c.embedding))) AS t(i)
    GROUP BY {prev}.cell, i
  ) GROUP BY cell
),
a{i} AS (
  SELECT vec_id, cell FROM (
    SELECT c.vec_id, ct.cell,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY list_distance(c.embedding::DOUBLE[], ct.ce), ct.cell) AS rn
    FROM cands c, cent{i} ct
  ) WHERE rn = 1
)""")
        prev = f"a{i}"
    return f"""
WITH cands AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {N_QUERIES}),
seeds AS (
  SELECT CAST(vec_id - {_SEED_LO} AS INT) AS cell, embedding AS se
  FROM embeddings WHERE vec_id >= {_SEED_LO} AND vec_id < {_SEED_LO + k}
),
a0 AS (
  SELECT vec_id, cell FROM (
    SELECT c.vec_id, s.cell,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY list_distance(c.embedding::DOUBLE[], s.se::DOUBLE[]), s.cell) AS rn
    FROM cands c, seeds s
  ) WHERE rn = 1
),{",".join(steps)},
probe AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, ct.cell,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_distance(q.embedding::DOUBLE[], ct.ce), ct.cell) AS crank
    FROM embeddings q, cent{iters} ct WHERE q.vec_id < {N_QUERIES}
  ) WHERE crank <= {nprobe}
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY p.query_id
           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
  FROM probe p
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN a{iters} a ON a.cell = p.cell
  JOIN cands c ON c.vec_id = a.vec_id
) WHERE rank <= {TOP_K}
"""


SQL_ANN_IVF_KMEANS = sql_ann_ivf_kmeans()


def q_embed_nearest_label(spark, sf_dir):
    """1-NN label transfer: majority label among top-3 neighbors per query —
    the eval-style readout a training pipeline runs after ANN."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    topk = q_embed_cosine_topk(spark, sf_dir)
    return (
        topk.join(emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("votes"))
    )


SQL_EMBED_NEAREST_LABEL = f"""
WITH topk AS ({SQL_EMBED_COSINE_TOPK})
SELECT t.query_id, e.label, count(*) AS votes
FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
GROUP BY t.query_id, e.label
"""

def q_ann_ivf_kmeans_k32(spark, sf_dir):
    """K=32, 2 Lloyd steps — the production-shaped instance (K ~ sqrt(n) at
    gate scale); same plan, bigger broadcast centroid table."""
    return q_ann_ivf_kmeans(spark, sf_dir, k=32, nprobe=NPROBE, iters=2)


QUERIES = {
    "embed_cosine_topk": (q_embed_cosine_topk, SQL_EMBED_COSINE_TOPK),
    "ann_ivf_bucket": (q_ann_ivf_bucket, SQL_ANN_IVF_BUCKET),
    "ann_ivf_kmeans": (q_ann_ivf_kmeans, SQL_ANN_IVF_KMEANS),
    "ann_ivf_kmeans_k32": (q_ann_ivf_kmeans_k32, sql_ann_ivf_kmeans(k=32, iters=2)),
    "embed_nearest_label": (q_embed_nearest_label, SQL_EMBED_NEAREST_LABEL),
}
