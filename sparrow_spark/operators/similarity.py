"""Similarity search over embedding columns (array<float>):
brute-force cosine top-k as the exact baseline, and an IVF-style
partitioned variant as the scale path (probe only matching partitions).

Vector math uses built-in higher-order functions (zip_with + aggregate)
— executed JVM-side per row, no Python. Embeddings are cast to
array<double> first so results are bit-comparable with the DuckDB
oracle (both engines then do double-precision math).

Scale design: brute-force is O(|Q| x |N|) — correct usage is a small
broadcast query set against a large corpus (the corpus side stays
partitioned; sims and top-k reduce per partition before the final
shuffle). The IVF variant equi-joins on the partition (cluster) key so
each query only scans its cluster — this is the 100 TB path; cluster
assignment at scale comes from a centroid model (here: the fixture's
label column stands in for the coarse quantizer).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparrow_spark.iterate import iterate
from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table, local_df, materialize, widen


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(
    a: Column, b: Column, a_norm: Column | None = None, b_norm: Column | None = None
) -> Column:
    """dot(a, b) / (l2_norm(a) * l2_norm(b)). Where one vector meets
    many, pass each side's l2_norm as a column computed once per row
    before the join that pairs them: each pair then runs only dot.
    The quotient is bit-identical, since the norm is the same
    expression evaluated once. Spark 4.1 runs aggregate/zip_with
    interpreted (CodegenFallback), so per pair this is 2 passes over
    the vectors instead of 4."""
    if a_norm is None:
        a_norm = l2_norm(a)
    if b_norm is None:
        b_norm = l2_norm(b)
    return dot(a, b) / (a_norm * b_norm)


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen(): per-row vector math is compute-bound and must not inherit
    # a single-row-group scan's serial partitioning (no-op at scale).
    return widen(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query. Columns: query_id, neighbor_id, rank, cos."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        l2_norm(F.col("v")).alias("qn"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        l2_norm(F.col("v")).alias("cn"),
    )
    sims = c.join(q, q.query_id != c.neighbor_id).withColumn(
        "cos", cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", rnd("cos", 4).alias("cos"))
    )


# --------------------------------------------------------------------------
# Registered queries + DuckDB oracles (explicit double-precision cosine
# written identically in both engines — no builtin list_cosine_similarity,
# whose internal summation order could differ).
# --------------------------------------------------------------------------
_COS_SQL = """
  list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) /
  (sqrt(list_sum([x * x for x in a.v])) * sqrt(list_sum([x * x for x in b.v])))
"""


@query(
    "q_similarity_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sims AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_COS_SQL} AS cos
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
    )
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rank,
           round(cos, 4) AS cos
    FROM sims
    QUALIFY rank <= 5
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vecs(spark, sf_dir)
    return brute_force_topk(vecs.filter(F.col("vec_id") < 20), vecs, k=5)


@query(
    "q_similarity_ivf",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    sims AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.label,
             {_COS_SQL} AS cos
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
    )
    SELECT query_id, label, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rank,
           round(cos, 4) AS cos
    FROM sims
    QUALIFY rank <= 3
    """,
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF-style: probe only the query's cluster (label = coarse centroid
    # id). The join is an equi-join on the cluster key -> each cluster
    # is one co-located partition of work; no all-pairs scan.
    vecs = _vecs(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        l2_norm(F.col("v")).alias("qn"), "label"
    )
    c = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
                    l2_norm(F.col("v")).alias("cn"), F.col("label").alias("clabel"))
    sims = (
        c.join(q, (q.label == c.clabel) & (q.query_id != c.neighbor_id))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "label", "neighbor_id", "rank", rnd("cos", 4).alias("cos"))
    )


N_HYPERPLANES = 8


def _hyperplane(j: int, dim: int = 64) -> list[float]:
    """Deterministic pseudo-random hyperplane j (integer lattice form,
    reproducible in SQL — a seeded Gaussian would not be engine-portable).
    Values in [-6, 6], varying with both i and j."""
    return [float(((i * (j + 3) + 7 * j + i * i) % 13) - 6) for i in range(dim)]


def hyperplane_bucket(v: Column, n_planes: int = N_HYPERPLANES) -> Column:
    """Sign-pattern LSH bucket: bit j = 1 iff dot(v, h_j) >= 0.
    Cosine-similar vectors agree on most signs -> same bucket with
    high probability (random-hyperplane LSH, Charikar 2002)."""
    bits = [
        F.when(dot(v, F.array(*[F.lit(x) for x in _hyperplane(j)])) >= 0, "1").otherwise("0")
        for j in range(n_planes)
    ]
    return F.concat(*bits)


# DuckDB rendering of hyperplane_bucket (same lattice planes, same sign
# rule) so oracles reproduce the bucketing bit-for-bit.
_BUCKET_SQL = " || ".join(
    f"CASE WHEN list_sum([v[i+1] * (((i * ({j} + 3) + 7 * {j} + i * i) % 13) - 6) "
    f"for i in range(0, 64)]) >= 0 THEN '1' ELSE '0' END"
    for j in range(N_HYPERPLANES)
)


@query(
    "q_embedding_neardup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    bk AS (SELECT vec_id, v, label, {_BUCKET_SQL} AS bucket FROM e)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round({_COS_SQL}, 3) AS cos
    FROM bk a JOIN bk b
      ON a.bucket = b.bucket AND a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_COS_SQL} >= 0.15
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on (hyperplane LSH
    bucket, label). Scale: the pairwise pass runs inside equi-join
    buckets whose size is corpus-independent in expectation — never
    within a raw attribute block (a single label can be half the corpus
    at 100 TB; an 8-bit sign bucket cannot)."""
    vecs = _vecs(spark, sf_dir)
    bk = vecs.select("vec_id", "v", l2_norm(F.col("v")).alias("n"), "label",
                     hyperplane_bucket(F.col("v")).alias("bucket"))
    a = bk.select(F.col("vec_id").alias("a_id"), F.col("v").alias("av"),
                  F.col("n").alias("an"), "label", "bucket")
    b = bk.select(F.col("vec_id").alias("b_id"), F.col("v").alias("bv"),
                  F.col("n").alias("bn"), F.col("label").alias("blabel"),
                  F.col("bucket").alias("bbucket"))
    cos = cosine(F.col("av"), F.col("bv"), F.col("an"), F.col("bn"))
    return (
        a.join(b, (a.bucket == b.bbucket) & (a.label == b.blabel) & (a.a_id < b.b_id))
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= 0.15)
        .select("a_id", "b_id", rnd("__cos", 3).alias("cos"))
    )


@query(
    "q_similarity_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      SELECT vec_id, v, {_BUCKET_SQL} AS bucket
      FROM e
    ), sims AS (
      SELECT a.vec_id AS query_id, b2.vec_id AS neighbor_id, a.bucket,
             {_COS_SQL.replace('b.v', 'b2.v')} AS cos
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
      WHERE a.vec_id < 20
    )
    SELECT query_id, bucket, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rank,
           round(cos, 4) AS cos
    FROM sims
    QUALIFY rank <= 3
    """,
)
def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (random-hyperplane signatures): each vector
    hashes to an 8-bit sign pattern; queries probe only their bucket.
    The third member of the similarity family — brute force (exact),
    IVF (cluster-probed), LSH (signature-bucketed). Scale: the bucket
    join is an equi-join on the signature — the candidate set per query
    is |bucket|, not |corpus|; signatures cost one pass, no training."""
    vecs = _vecs(spark, sf_dir)
    b = vecs.select("vec_id", "v", l2_norm(F.col("v")).alias("n"),
                    hyperplane_bucket(F.col("v")).alias("bucket"))
    q = b.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("n").alias("qn"), "bucket"
    )
    c = b.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
                 F.col("n").alias("cn"), F.col("bucket").alias("cbucket"))
    sims = c.join(
        q, (q.bucket == c.cbucket) & (q.query_id != c.neighbor_id)
    ).withColumn("cos", cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "bucket", "neighbor_id", "rank", rnd("cos", 4).alias("cos"))
    )


@query(
    "q_embedding_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) - 1 AS dim
      FROM embeddings
    ), stats AS (
      SELECT dim, CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi
      FROM e GROUP BY dim
    ), q AS (
      SELECT e.vec_id, e.dim,
             CASE WHEN s.hi = s.lo THEN 0
                  ELSE CAST(floor((e.v - s.lo) / (s.hi - s.lo) * 255 + 0.5)
                            AS BIGINT) END AS code,
             CASE WHEN s.hi = s.lo THEN 0.0
                  ELSE e.v - (s.lo +
                       CAST(floor((e.v - s.lo) / (s.hi - s.lo) * 255 + 0.5)
                            AS BIGINT) / 255.0 * (s.hi - s.lo)) END AS err
      FROM e JOIN stats s USING (dim)
    )
    SELECT vec_id,
           count(*) AS n_dims,
           CAST(sum(code * (dim + 1)) AS BIGINT) AS code_checksum,
           round(avg(abs(err)), 6) AS mean_abs_err
    FROM q GROUP BY vec_id
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding table — the standard
    compression step before ANN indexing at corpus scale (4x smaller
    vectors, distance computations on codes). Per-dimension min/max is
    a 64-row aggregate broadcast back onto the exploded values; each
    value maps to floor((v-lo)/(hi-lo)*255+0.5). The registered output
    hash-checks EVERY code via an exact integer checksum
    (sum(code*(dim+1))), plus the rounded mean reconstruction error.
    All arithmetic is float->double then IEEE ops, identical across
    engines. Scale: one explode + one 64-group agg + one broadcast
    join + one keyed agg — linear, no corpus shuffle beyond vec_id."""
    vecs = load_table(spark, sf_dir, "embeddings")
    e = vecs.select(
        "vec_id", F.posexplode("embedding").alias("dim", "vf")
    ).select("vec_id", "dim", F.col("vf").cast("double").alias("v"))
    stats = e.groupBy("dim").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    j = e.join(stats, "dim")
    code = F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint")).otherwise(
        F.floor((F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 255 + 0.5)
    )
    dequant = F.col("lo") + code / 255.0 * (F.col("hi") - F.col("lo"))
    err = F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
        F.col("v") - dequant
    )
    coded = j.select("vec_id", "dim", code.alias("code"), err.alias("err"))
    return coded.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.sum(F.col("code") * (F.col("dim") + 1)).cast("bigint").alias("code_checksum"),
        rnd(F.avg(F.abs("err")), 6).alias("mean_abs_err"),
    )


@query(
    "q_ann_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    exact AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
      QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                 ORDER BY {_COS_SQL} DESC, b.vec_id) <= 3
    ), bk AS (
      SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM e
    ), approx AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
      QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                 ORDER BY {_COS_SQL} DESC, b.vec_id) <= 3
    )
    SELECT x.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / 3.0, 4) AS recall_at_3
    FROM exact x
    LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measuring ANN quality: recall@3 of the LSH-bucketed index
    against exact brute-force cosine top-3, per query — the evaluation
    every production ANN deployment runs before trusting an index (and
    re-runs as the corpus drifts). Both rankings use the identical
    (cos DESC, neighbor_id) tiebreak, so the comparison is exact, not
    statistical. Scale: exact top-k on a SAMPLED query set (here the
    probe set) against the full corpus is the standard methodology —
    the exact side is |sample| x |corpus|, not |corpus|^2."""
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(queries, vecs, k=3).select(
        "query_id", "neighbor_id"
    )
    b = vecs.select("vec_id", "v", l2_norm(F.col("v")).alias("n"),
                    hyperplane_bucket(F.col("v")).alias("bucket"))
    q = b.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("n").alias("qn"), "bucket"
    )
    c = b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("n").alias("cn"),
        F.col("bucket").alias("cbucket"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    approx = (
        c.join(q, (q.bucket == c.cbucket) & (q.query_id != c.neighbor_id))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", F.col("neighbor_id").alias("a_neighbor_id"))
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id)
        & (exact.neighbor_id == approx.a_neighbor_id),
        "left",
    ).select(exact.query_id, approx.a_neighbor_id)
    return hits.groupBy("query_id").agg(
        F.count("a_neighbor_id").alias("n_hits"),
        rnd(F.count("a_neighbor_id") / F.lit(3.0), 4).alias("recall_at_3"),
    )


def collapse_centroids(centroids: DataFrame) -> DataFrame:
    """Collapse a k-row (centroid_id, cv) table into ONE row holding a
    sorted array of (centroid_id, cv, cn) structs, cn = l2_norm(cv) —
    the broadcastable shape the assignment fold consumes, each norm
    computed once. k x dim doubles: broadcast-sized for k into the
    thousands."""
    return centroids.select(
        F.struct(
            F.col("centroid_id"), F.col("cv"), l2_norm(F.col("cv")).alias("cn")
        ).alias("s")
    ).agg(F.array_sort(F.collect_list("s")).alias("seeds"))


def assign_to_centroids(vecs: DataFrame, seeds_row: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as a fully map-side pass: cross-join
    the 1-row broadcast centroid array and run the argmax over
    centroids as an F.aggregate fold inside the per-row projection —
    no per-vector x k row blowup, no shuffle (a window/row_number
    argmin would shuffle the whole corpus on vec_id for nothing).
    Ascending-id iteration with a strict > keeps the lowest
    centroid_id on exact cosine ties, matching a SQL
    (cos DESC, centroid_id) tiebreak. Returns
    (vec_id, v, centroid_id, cos)."""
    # Score first (one cosine per centroid), THEN argmax-fold over the
    # scored structs — folding over raw seeds would evaluate the cosine
    # twice per centroid (once in the WHEN predicate, once in the
    # result), doubling the dominant O(n*k*dim) compute. Each vector's
    # norm is computed below the cross join, and each centroid's rides
    # in its seed struct, so a (vector, centroid) pair runs only dot.
    scored = F.transform(
        F.col("seeds"),
        lambda s: F.struct(
            s["centroid_id"].alias("centroid_id"),
            cosine(F.col("v"), s["cv"], F.col("vn"), s["cn"]).alias("cos"),
        ),
    )
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(-1).cast("bigint").alias("centroid_id"),
            F.lit(float("-inf")).alias("cos"),
        ),
        lambda acc, s: F.when(s["cos"] > acc["cos"], s).otherwise(acc),
    )
    return (
        vecs.select("vec_id", "v", l2_norm(F.col("v")).alias("vn"))
        .crossJoin(seeds_row)
        .select("vec_id", "v", best.alias("best"))
        .select(
            "vec_id",
            "v",
            F.col("best.centroid_id").alias("centroid_id"),
            F.col("best.cos").alias("cos"),
        )
    )


def mean_centroids(assigned: DataFrame) -> DataFrame:
    """Centroid UPDATE step: per-cluster component-wise mean of member
    vectors. posexplode -> groupBy (centroid, position) -> avg ->
    reassemble in position order. Two bounded shuffles: one keyed on
    (centroid_id, pos) with map-side partial aggregation (k x dim
    groups), one on centroid_id (k groups) to rebuild arrays — the
    corpus itself is never reshuffled."""
    exploded = assigned.select(
        "centroid_id", F.posexplode("v").alias("pos", "x")
    )
    comp = exploded.groupBy("centroid_id", "pos").agg(F.avg("x").alias("m"))
    return comp.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("cv")
    )


@query(
    "q_kmeans_assign",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (SELECT vec_id AS centroid_id, v FROM e WHERE vec_id < 8),
    sims AS (
      SELECT a.vec_id, b.centroid_id,
             {_COS_SQL} AS cos
      FROM e a JOIN seeds b ON true
    ), assigned AS (
      SELECT vec_id, centroid_id, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, centroid_id) AS rn
      FROM sims
    )
    SELECT centroid_id,
           CAST(count(*) AS BIGINT) AS n_assigned,
           round(avg(cos), 4) AS avg_cos,
           CAST(sum(vec_id) AS BIGINT) AS member_checksum
    FROM assigned WHERE rn = 1
    GROUP BY centroid_id
    """,
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means ASSIGNMENT step over the embedding corpus: broadcast
    k seed centroids (deterministic: vec_id < 8), assign every vector
    to its nearest centroid by cosine (ties -> lowest centroid_id),
    report per-cluster size, mean similarity, and a membership checksum
    the oracle re-derives doc-by-doc. This is the inner loop of
    embedding-space clustering (semantic dedup buckets, topic
    balancing, IVF coarse-quantizer training); q_kmeans_iterate runs
    the full Lloyd's loop and q_semantic_dedup consumes the clusters.
    Scale: see assign_to_centroids — fully map-side, no shuffle until
    the k-row final aggregate."""
    vecs = _vecs(spark, sf_dir)
    seeds = collapse_centroids(
        vecs.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
        )
    )
    assigned = assign_to_centroids(vecs, seeds)
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        rnd(F.avg("cos"), 4).alias("avg_cos"),
        F.sum("vec_id").cast("bigint").alias("member_checksum"),
    )


@query(
    "q_kmeans_iterate",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s0 AS (SELECT vec_id AS centroid_id, v FROM e WHERE vec_id < 8),
    sims1 AS (
      SELECT a.vec_id, a.v AS mv, b.centroid_id, {_COS_SQL} AS cos
      FROM e a JOIN s0 b ON true
    ), a1 AS (
      SELECT vec_id, mv, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, centroid_id) AS rn
        FROM sims1
      ) WHERE rn = 1
    ), comp AS (
      SELECT centroid_id, generate_subscripts(mv, 1) AS pos, unnest(mv) AS x
      FROM a1
    ), c1 AS (
      SELECT centroid_id, list(m ORDER BY pos) AS v
      FROM (SELECT centroid_id, pos, avg(x) AS m
            FROM comp GROUP BY centroid_id, pos)
      GROUP BY centroid_id
    ), sims2 AS (
      SELECT a.vec_id, b.centroid_id, {_COS_SQL} AS cos
      FROM e a JOIN c1 b ON true
    ), a2 AS (
      SELECT vec_id, centroid_id, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, centroid_id) AS rn
        FROM sims2
      ) WHERE rn = 1
    )
    SELECT centroid_id,
           CAST(count(*) AS BIGINT) AS n_assigned,
           round(avg(cos), 4) AS avg_cos,
           CAST(sum(vec_id) AS BIGINT) AS member_checksum
    FROM a2 GROUP BY centroid_id
    """,
)
def q_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A full Lloyd's ITERATION: assign (map-side fold against the
    broadcast seed array), recompute centroids as per-cluster
    component-wise means (posexplode -> (centroid, pos) avg ->
    reassemble), re-assign against the updated centroids, and report
    the post-iteration clustering. This is the iterative-algorithm
    pattern at scale: per iteration the corpus is read map-side twice
    and never shuffled — only k x dim component partials and k
    centroid rows move, and the refreshed centroids re-broadcast.
    Iterating to convergence is this operator in a driver loop (the
    k-row centroid table is the only loop-carried state). Determinism
    note: centroid components are parallel double sums, so the oracle's
    sequential mean can differ by ~1 ulp; assignments only flip if two
    centroids tie in cosine within that noise — orders of magnitude
    below the fixture's inter-centroid gaps (and any real corpus's)."""
    vecs = _vecs(spark, sf_dir)
    seeds0 = collapse_centroids(
        vecs.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
        )
    )
    a1 = assign_to_centroids(vecs, seeds0)
    c1 = mean_centroids(a1).select("centroid_id", F.col("cv"))
    a2 = assign_to_centroids(vecs, collapse_centroids(c1))
    return a2.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        rnd(F.avg("cos"), 4).alias("avg_cos"),
        F.sum("vec_id").cast("bigint").alias("member_checksum"),
    )


@query(
    "q_semantic_dedup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s0 AS (SELECT vec_id AS centroid_id, v FROM e WHERE vec_id < 8),
    sims AS (
      SELECT a.vec_id, a.v AS mv, b.centroid_id, {_COS_SQL} AS cos
      FROM e a JOIN s0 b ON true
    ), assigned AS (
      SELECT vec_id, mv, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, centroid_id) AS rn
        FROM sims
      ) WHERE rn = 1
    ), pairs AS (
      SELECT a.centroid_id, b.vec_id AS b_id
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE list_sum([a.mv[i] * b.mv[i] for i in range(1, len(a.mv) + 1)]) /
            (sqrt(list_sum([x * x for x in a.mv])) *
             sqrt(list_sum([x * x for x in b.mv]))) > 0.35
    ), dropped AS (
      SELECT centroid_id, count(DISTINCT b_id) AS n_dropped,
             sum(DISTINCT b_id) AS dropped_checksum
      FROM pairs GROUP BY centroid_id
    )
    SELECT m.centroid_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(coalesce(max(d.n_dropped), 0) AS BIGINT) AS n_dropped,
           CAST(coalesce(max(d.dropped_checksum), 0) AS BIGINT)
               AS dropped_checksum
    FROM assigned m LEFT JOIN dropped d USING (centroid_id)
    GROUP BY m.centroid_id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: cluster the corpus in
    embedding space (one k-means assignment against broadcast seeds),
    then find near-duplicate pairs ONLY within each cluster
    (cosine > 0.35) and drop the higher vec_id of each pair — keeping
    the earliest. The clustering is what makes semantic dedup scale:
    the pairwise pass runs inside clusters, never across the corpus,
    so cost is sum over clusters of |c|^2 instead of n^2 — with k
    sized so clusters stay bounded (k in the thousands at 100 TB;
    k=8 here only because the fixture has 500 vectors), this is the
    published SemDeDup recipe. Scale: assignment is map-side; the
    pair join is SALTED on (centroid_id, hash(a_id) % R) with the
    probe side replicated R ways — a plain centroid_id join caps
    parallelism at k tasks and stalls on hot clusters (measured 2.8 s
    with k=8 on 32 cores; salted: every core busy). The same salt
    handles skewed clusters at any corpus size; dropped-set
    aggregation is cluster-sized."""
    n_salt = 8
    vecs = _vecs(spark, sf_dir)
    seeds = collapse_centroids(
        vecs.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
        )
    )
    # Each vector's norm is computed here, once, before the salt
    # explode copies it n_salt ways and the join pairs it.
    assigned = assign_to_centroids(vecs, seeds).select(
        "centroid_id", "vec_id", "v", l2_norm(F.col("v")).alias("n")
    )
    a = assigned.select(
        "centroid_id",
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("n").alias("an"),
        F.pmod(F.hash("vec_id"), F.lit(n_salt)).alias("salt"),
    )
    b = assigned.select(
        F.col("centroid_id").alias("b_cid"),
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("n").alias("bn"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("b_salt"),
    )
    pairs = a.join(
        b,
        (a.centroid_id == b.b_cid)
        & (a.salt == b.b_salt)
        & (a.a_id < b.b_id)
        & (cosine(F.col("av"), F.col("bv"), F.col("an"), F.col("bn")) > 0.35),
    )
    dropped = (
        pairs.select("centroid_id", "b_id")
        .distinct()
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_dropped"),
            F.sum("b_id").alias("dropped_checksum"),
        )
    )
    members = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return members.join(dropped, "centroid_id", "left").select(
        "centroid_id",
        "n_members",
        F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
        F.coalesce("dropped_checksum", F.lit(0))
        .cast("bigint")
        .alias("dropped_checksum"),
    )


@query(
    "q_embedding_qa",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), stats AS (
      SELECT vec_id, label,
             sqrt(list_sum([x * x for x in v])) AS norm,
             len(v) AS dim,
             len(list_filter(v, x -> x = 0.0)) AS n_zero,
             len(list_filter(v, x -> isnan(x) OR x IN ('infinity'::DOUBLE,
                                                       '-infinity'::DOUBLE)))
                 AS n_bad
      FROM e
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(min(dim) AS BIGINT) AS min_dim,
           CAST(max(dim) AS BIGINT) AS max_dim,
           round(min(norm), 4) AS min_norm,
           round(avg(norm), 4) AS avg_norm,
           CAST(sum(CASE WHEN norm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_degenerate,
           CAST(sum(n_bad) AS BIGINT) AS n_nonfinite,
           CAST(sum(n_zero) AS BIGINT) AS n_zero_components
    FROM stats GROUP BY label
    """,
)
def q_embedding_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding quality audit per label shard: vector counts, dimension
    consistency, norm distribution, degenerate (near-zero-norm)
    vectors, non-finite components, and zero-component counts — the
    pre-flight check before trusting an embedding table for ANN /
    clustering / semantic dedup (a bad encoder batch shows up here as
    a dim mismatch or a spike of zero/NaN vectors). All JVM
    higher-order functions in one map-side pass + one bounded keyed
    aggregate; no shuffle of the vectors themselves."""
    vecs = widen(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    norm = l2_norm(F.col("v"))
    n_bad = F.size(
        F.filter(F.col("v"), lambda x: x.isNaN() | (F.abs(x) == float("inf")))
    )
    n_zero = F.size(F.filter(F.col("v"), lambda x: x == 0.0))
    stats = vecs.select(
        "label",
        F.size("v").alias("dim"),
        norm.alias("norm"),
        n_bad.alias("n_bad"),
        n_zero.alias("n_zero"),
    )
    return stats.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("dim").cast("bigint").alias("min_dim"),
        F.max("dim").cast("bigint").alias("max_dim"),
        rnd(F.min("norm"), 4).alias("min_norm"),
        rnd(F.avg("norm"), 4).alias("avg_norm"),
        F.sum(F.when(F.col("norm") < 1e-6, 1).otherwise(0))
        .cast("bigint")
        .alias("n_degenerate"),
        F.sum("n_bad").cast("bigint").alias("n_nonfinite"),
        F.sum("n_zero").cast("bigint").alias("n_zero_components"),
    )


@query(
    "q_pq_codes",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    halves AS (
      SELECT vec_id, v[1:32] AS v0, v[33:64] AS v1 FROM e
    ), seeds AS (
      SELECT vec_id AS centroid_id, v[1:32] AS c0, v[33:64] AS c1
      FROM e WHERE vec_id < 4
    ), sims AS (
      SELECT h.vec_id, s.centroid_id,
             list_sum([h.v0[i] * s.c0[i] for i in range(1, 33)]) /
             (sqrt(list_sum([x * x for x in h.v0])) *
              sqrt(list_sum([x * x for x in s.c0]))) AS cos0,
             list_sum([h.v1[i] * s.c1[i] for i in range(1, 33)]) /
             (sqrt(list_sum([x * x for x in h.v1])) *
              sqrt(list_sum([x * x for x in s.c1]))) AS cos1
      FROM halves h JOIN seeds s ON true
    ), best0 AS (
      SELECT vec_id, centroid_id AS code0, round(cos0, 4) AS cos0 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos0 DESC, centroid_id) AS rn
        FROM sims
      ) WHERE rn = 1
    ), best1 AS (
      SELECT vec_id, centroid_id AS code1, round(cos1, 4) AS cos1 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos1 DESC, centroid_id) AS rn
        FROM sims
      ) WHERE rn = 1
    )
    SELECT b0.vec_id, b0.code0, b1.code1, b0.cos0, b1.cos1
    FROM best0 b0 JOIN best1 b1 ON b0.vec_id = b1.vec_id
    """,
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: split each vector into 2
    subvectors, assign each half to its nearest sub-centroid
    (deterministic codebook: halves of vec_id < 4), emit the (code0,
    code1) code pair plus per-half similarity — the memory-compressed
    representation IVF-PQ indexes store (64 doubles -> 2 small ints
    here; 96 dims -> 12 bytes in a production FAISS setup). Training
    the codebooks is q_kmeans_iterate per subspace; this operator is
    the ENCODE step a 100 TB corpus runs after. Scale: both codebooks
    ride one broadcast row; both argmax folds run in the same map-side
    projection (reusing assign_to_centroids' fold on array slices); no
    shuffle at all until a consumer aggregates."""
    vecs = _vecs(spark, sf_dir)
    halves = vecs.select(
        "vec_id",
        F.slice("v", 1, 32).alias("v0"),
        F.slice("v", 33, 32).alias("v1"),
    ).withColumns({"n0": l2_norm(F.col("v0")), "n1": l2_norm(F.col("v1"))})
    seeds_rows = vecs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.slice("v", 1, 32).alias("c0"),
        F.slice("v", 33, 32).alias("c1"),
    ).withColumns({"m0": l2_norm(F.col("c0")), "m1": l2_norm(F.col("c1"))})
    packed = seeds_rows.select(
        F.struct("centroid_id", "c0", "c1", "m0", "m1").alias("s")
    ).agg(F.array_sort(F.collect_list("s")).alias("seeds"))

    def best_for(sub_col: str, sub_norm: str, cent_field: str, cent_norm: str):
        # Score once per sub-centroid, then argmax-fold the scored
        # structs (same single-evaluation shape as assign_to_centroids).
        scored = F.transform(
            F.col("seeds"),
            lambda s: F.struct(
                s["centroid_id"].alias("code"),
                cosine(
                    F.col(sub_col), s[cent_field], F.col(sub_norm), s[cent_norm]
                ).alias("cos"),
            ),
        )
        return F.aggregate(
            scored,
            F.struct(
                F.lit(-1).cast("bigint").alias("code"),
                F.lit(float("-inf")).alias("cos"),
            ),
            lambda acc, s: F.when(s["cos"] > acc["cos"], s).otherwise(acc),
        )

    coded = halves.crossJoin(packed).select(
        "vec_id",
        best_for("v0", "n0", "c0", "m0").alias("b0"),
        best_for("v1", "n1", "c1", "m1").alias("b1"),
    )
    return coded.select(
        "vec_id",
        F.col("b0.code").alias("code0"),
        F.col("b1.code").alias("code1"),
        rnd(F.col("b0.cos"), 4).alias("cos0"),
        rnd(F.col("b1.cos"), 4).alias("cos1"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ search with asymmetric distance computation (ADC): the coarse
# quantizer (label = IVF cell) restricts each query to one cell; inside
# the cell, corpus vectors exist only as PQ codes, and the query scores
# a coded vector with TWO array lookups into its precomputed per-
# subspace dot-product table — never touching the original 64 doubles.
# This is the memory/compute shape that makes billion-vector ANN
# serving possible (reference parity: the engine's vector path stops at
# exact scans; this is the beyond-reference scale path, FAISS-style).
# ---------------------------------------------------------------------------


def pq_codebook(vecs: DataFrame) -> DataFrame:
    """ONE-row broadcastable PQ codebook: a sorted array of structs
    (centroid_id, c0, c1, n0, n1), where n0/n1 are squared subvector
    norms — stored with the codebook so ENCODE can emit each coded
    row's reconstruction norm without ever revisiting the vector
    (exactly what FAISS keeps alongside IP/cosine PQ indexes).
    Deterministic codebook: halves of vec_id < 4; training it is
    q_kmeans_iterate per subspace. Codebook contract: centroid ids are
    dense 0..k-1, so id == position in the sorted array and ADC can
    use element_at(lut, code + 1)."""

    def sumsq(c: Column) -> Column:
        return F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)

    seeds = vecs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.slice("v", 1, 32).alias("c0"),
        F.slice("v", 33, 32).alias("c1"),
    )
    return seeds.select(
        F.struct(
            "centroid_id",
            "c0",
            "c1",
            sumsq(F.col("c0")).alias("n0"),
            sumsq(F.col("c1")).alias("n1"),
        ).alias("s")
    ).agg(F.array_sort(F.collect_list("s")).alias("seeds"))


def pq_encode(vecs: DataFrame, codebook_row: DataFrame) -> DataFrame:
    """Encode every corpus vector to (code0, code1, rnorm): nearest
    sub-centroid per 32-dim half (cosine argmax, single evaluation per
    centroid) plus the reconstruction norm sqrt(n0[code0] + n1[code1]).
    Fully map-side: the codebook rides one broadcast row and both
    argmax folds run inside the per-row projection — the corpus never
    shuffles to be encoded."""
    halves = vecs.select(
        "vec_id",
        "label",
        F.slice("v", 1, 32).alias("v0"),
        F.slice("v", 33, 32).alias("v1"),
    ).withColumns({"vn0": l2_norm(F.col("v0")), "vn1": l2_norm(F.col("v1"))})

    def code_for(
        sub_col: str, sub_norm: str, cent_field: str, sq_field: str
    ) -> Column:
        # The codebook's squared norm is the same fold l2_norm takes
        # the root of, so sqrt(n0) is l2_norm(c0) bit for bit.
        scored = F.transform(
            F.col("seeds"),
            lambda s: F.struct(
                s["centroid_id"].alias("code"),
                cosine(
                    F.col(sub_col),
                    s[cent_field],
                    F.col(sub_norm),
                    F.sqrt(s[sq_field]),
                ).alias("cos"),
            ),
        )
        return F.aggregate(
            scored,
            F.struct(
                F.lit(-1).cast("bigint").alias("code"),
                F.lit(float("-inf")).alias("cos"),
            ),
            lambda acc, s: F.when(s["cos"] > acc["cos"], s).otherwise(acc),
        )["code"]

    coded = halves.crossJoin(codebook_row).select(
        "vec_id",
        "label",
        code_for("v0", "vn0", "c0", "n0").alias("code0"),
        code_for("v1", "vn1", "c1", "n1").alias("code1"),
        F.col("seeds").alias("seeds"),
    )
    rnorm = F.sqrt(
        F.element_at("seeds", (F.col("code0") + 1).cast("int"))["n0"]
        + F.element_at("seeds", (F.col("code1") + 1).cast("int"))["n1"]
    )
    return coded.select("vec_id", "label", "code0", "code1", rnorm.alias("rnorm"))


def ivfpq_topk(
    vecs: DataFrame, codebook_row: DataFrame, n_queries: int = 20, k: int = 3
) -> DataFrame:
    """IVF-PQ ADC top-k. Queries stay full-precision (the ASYMMETRY);
    each precomputes one dot-product LUT per subspace against the
    broadcast codebook. A coded corpus row in the query's IVF cell is
    then scored as

        adc_cos = (lut0[code0] + lut1[code1]) / (|q| * rnorm)

    — the exact cosine between the query and the vector's PQ
    RECONSTRUCTION, at O(m) lookup cost per candidate instead of
    O(dim) multiply-adds. Plan shape: encode is map-side; the probe is
    a broadcast-hash join on the cell key (each query scans only its
    cell, ~1/n_cells of the corpus); top-k is a per-query window over
    candidates. At 100 TB the coded table is ~50x smaller than the
    raw vectors and is the only thing the probe reads."""
    coded = pq_encode(vecs, codebook_row)
    queries = (
        vecs.filter(F.col("vec_id") < n_queries)
        .crossJoin(codebook_row)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qcell"),
            F.transform(
                F.col("seeds"), lambda s: dot(F.slice("v", 1, 32), s["c0"])
            ).alias("lut0"),
            F.transform(
                F.col("seeds"), lambda s: dot(F.slice("v", 33, 32), s["c1"])
            ).alias("lut1"),
            l2_norm(F.col("v")).alias("qnorm"),
        )
    )
    score = (
        F.element_at("lut0", (F.col("code0") + 1).cast("int"))
        + F.element_at("lut1", (F.col("code1") + 1).cast("int"))
    ) / (F.col("qnorm") * F.col("rnorm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), F.col("neighbor_id")
    )
    return (
        coded.withColumnRenamed("vec_id", "neighbor_id")
        .join(
            queries,
            (F.col("qcell") == F.col("label"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("adc_cos", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_cos")
    )


# Shared oracle CTE: PQ-code every vector and carry its reconstruction
# norm (mirrors pq_codebook + pq_encode; cosine written identically to
# _COS_SQL but over 32-dim halves).
_PQ_CODED_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    halves AS (
      SELECT vec_id, label, v, v[1:32] AS v0, v[33:64] AS v1 FROM e
    ), seeds AS (
      SELECT vec_id AS cid, v[1:32] AS c0, v[33:64] AS c1,
             list_sum([x * x FOR x IN v[1:32]]) AS n0,
             list_sum([x * x FOR x IN v[33:64]]) AS n1
      FROM e WHERE vec_id < 4
    ), sims AS (
      SELECT h.vec_id, s.cid,
             list_sum([h.v0[i] * s.c0[i] for i in range(1, 33)]) /
             (sqrt(list_sum([x * x for x in h.v0])) *
              sqrt(list_sum([x * x for x in s.c0]))) AS cos0,
             list_sum([h.v1[i] * s.c1[i] for i in range(1, 33)]) /
             (sqrt(list_sum([x * x for x in h.v1])) *
              sqrt(list_sum([x * x for x in s.c1]))) AS cos1
      FROM halves h JOIN seeds s ON true
    ), best0 AS (
      SELECT vec_id, cid AS code0 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos0 DESC, cid) AS rn
        FROM sims
      ) WHERE rn = 1
    ), best1 AS (
      SELECT vec_id, cid AS code1 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos1 DESC, cid) AS rn
        FROM sims
      ) WHERE rn = 1
    ), coded AS (
      SELECT h.vec_id, h.label, b0.code0, b1.code1,
             sqrt(s0.n0 + s1.n1) AS rnorm
      FROM halves h
      JOIN best0 b0 ON h.vec_id = b0.vec_id
      JOIN best1 b1 ON h.vec_id = b1.vec_id
      JOIN seeds s0 ON s0.cid = b0.code0
      JOIN seeds s1 ON s1.cid = b1.code1
    ), adc AS (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             (list_sum([q.v0[i] * s0.c0[i] for i in range(1, 33)]) +
              list_sum([q.v1[i] * s1.c1[i] for i in range(1, 33)])) /
             (sqrt(list_sum([y * y for y in q.v])) * x.rnorm) AS adc_cos
      FROM halves q
      JOIN coded x ON q.label = x.label AND q.vec_id <> x.vec_id
      JOIN seeds s0 ON s0.cid = x.code0
      JOIN seeds s1 ON s1.cid = x.code1
      WHERE q.vec_id < 20
    )
"""


@query(
    "q_ivfpq_search",
    oracle=_PQ_CODED_SQL
    + """
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_cos DESC, neighbor_id) AS rank,
           round(adc_cos, 4) AS adc_cos
    FROM adc
    QUALIFY rank <= 3
    """,
)
def q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC search end-to-end: codebook -> map-side encode ->
    per-query LUTs -> cell-probed broadcast join -> per-query top-3.
    See ivfpq_topk for the scale argument."""
    vecs = _vecs(spark, sf_dir)
    out = ivfpq_topk(vecs, pq_codebook(vecs), n_queries=20, k=3)
    return out.select(
        "query_id", "neighbor_id", "rank", rnd("adc_cos", 4).alias("adc_cos")
    )


@query(
    "q_ivfpq_recall",
    oracle=_PQ_CODED_SQL
    + f"""
    , approx AS (
      SELECT query_id, neighbor_id
      FROM adc
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_cos DESC, neighbor_id) <= 3
    ), exact AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
      QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                 ORDER BY {_COS_SQL} DESC, b.vec_id) <= 3
    )
    SELECT x.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / 3.0, 4) AS recall_at_3
    FROM exact x
    LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """,
)
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of IVF-PQ ADC against exact brute-force cosine top-3 —
    the audit that closes the loop on the compressed index (same
    methodology as q_ann_recall: exact side runs a SAMPLED query set
    against the full corpus, never corpus^2). Quantifies BOTH loss
    sources at once: cell restriction (IVF) and code reconstruction
    (PQ)."""
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(queries, vecs, k=3).select("query_id", "neighbor_id")
    approx = ivfpq_topk(vecs, pq_codebook(vecs), n_queries=20, k=3).select(
        "query_id", F.col("neighbor_id").alias("a_neighbor_id")
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id)
        & (exact.neighbor_id == approx.a_neighbor_id),
        "left",
    ).select(exact.query_id, approx.a_neighbor_id)
    return hits.groupBy("query_id").agg(
        F.count("a_neighbor_id").alias("n_hits"),
        rnd(F.count("a_neighbor_id") / F.lit(3.0), 4).alias("recall_at_3"),
    )


@query(
    "q_embedding_drift",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) - 1 AS dim
      FROM embeddings
    ), binned AS (
      SELECT dim,
             CASE WHEN v < -0.15 THEN 0
                  WHEN v < 0.0 THEN 1
                  WHEN v < 0.15 THEN 2
                  ELSE 3 END AS bin,
             CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref
      FROM e
    ), cnt AS (
      SELECT dim, bin,
             sum(is_ref) AS ref_cnt,
             sum(1 - is_ref) AS cur_cnt
      FROM binned GROUP BY dim, bin
    ), tot AS (
      SELECT dim, sum(ref_cnt) AS n_ref, sum(cur_cnt) AS n_cur
      FROM cnt GROUP BY dim
    )
    SELECT c.dim,
           CAST(t.n_ref AS BIGINT) AS n_ref,
           CAST(t.n_cur AS BIGINT) AS n_cur,
           round(sum(
             ((c.cur_cnt + 1.0) / (t.n_cur + 4.0)
              - (c.ref_cnt + 1.0) / (t.n_ref + 4.0))
             * ln(((c.cur_cnt + 1.0) / (t.n_cur + 4.0))
                  / ((c.ref_cnt + 1.0) / (t.n_ref + 4.0)))
           ), 6) AS psi
    FROM cnt c JOIN tot t USING (dim)
    GROUP BY c.dim, t.n_ref, t.n_cur
    """,
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension Population Stability Index between a reference
    cohort and the current cohort (here: even/odd vec_id stand in for
    "last month's corpus" vs "this crawl") — the drift monitor a
    production embedding pipeline runs before trusting an existing ANN
    index or quality classifier on new data. Fixed bin edges
    (-0.15, 0, 0.15) so the binning is data-independent (re-deriving
    quantile edges per run would make drift unmeasurable), Laplace
    smoothing (+1 per bin) so an empty bin yields a finite PSI.
    Scale: one map-side posexplode + bin projection, then two keyed
    aggregations (dim x bin = 256 groups, then dim = 64) — the
    vectors themselves never shuffle, only counts do. PSI > 0.2 is
    the conventional re-index/re-train trigger."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    binned = e.select(
        "dim",
        F.when(F.col("v") < -0.15, 0)
        .when(F.col("v") < 0.0, 1)
        .when(F.col("v") < 0.15, 2)
        .otherwise(3)
        .alias("bin"),
        F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0).alias("is_ref"),
    )
    cnt = binned.groupBy("dim", "bin").agg(
        F.sum("is_ref").cast("double").alias("ref_cnt"),
        F.sum(1 - F.col("is_ref")).cast("double").alias("cur_cnt"),
    )
    tot = cnt.groupBy("dim").agg(
        F.sum("ref_cnt").alias("n_ref"), F.sum("cur_cnt").alias("n_cur")
    )
    p_cur = (F.col("cur_cnt") + 1.0) / (F.col("n_cur") + 4.0)
    p_ref = (F.col("ref_cnt") + 1.0) / (F.col("n_ref") + 4.0)
    return (
        cnt.join(tot, "dim")
        .groupBy("dim", "n_ref", "n_cur")
        .agg(F.sum((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi"))
        .select(
            "dim",
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            rnd("psi", 6).alias("psi"),
        )
    )


@query(
    "q_int8_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (
      SELECT vec_id, CAST(unnest(v) AS DOUBLE) AS x,
             generate_subscripts(v, 1) AS dim
      FROM e
    ), stats AS (
      SELECT dim, CAST(min(x) AS DOUBLE) AS lo, CAST(max(x) AS DOUBLE) AS hi
      FROM ex GROUP BY dim
    ), dqd AS (
      SELECT vec_id, dim,
             CASE WHEN hi = lo THEN lo
                  ELSE lo + floor((x - lo) / (hi - lo) * 255 + 0.5)
                       / 255.0 * (hi - lo) END AS dq
      FROM ex JOIN stats USING (dim)
    ), dqv AS (
      SELECT vec_id, list(dq ORDER BY dim) AS v FROM dqd GROUP BY vec_id
    ), exact AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
      QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                 ORDER BY {_COS_SQL} DESC, b.vec_id) <= 3
    ), approx AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM dqv a JOIN dqv b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
      QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                 ORDER BY {_COS_SQL} DESC, b.vec_id) <= 3
    )
    SELECT x.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / 3.0, 4) AS recall_at_3
    FROM exact x
    LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """,
)
def q_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for SCALAR (int8) quantization — the third leg of
    the compression-accuracy story (q_ann_recall covers the LSH index,
    q_ivfpq_recall covers IVF-PQ): top-3 by cosine over the
    DEQUANTIZED vectors vs exact top-3 over the raw vectors, per
    sampled query. This isolates pure code-reconstruction loss (no
    cell/bucket restriction), which is the decision input for "is 4x
    memory compression free at my recall target?".

    Scale: the per-dim (lo, hi) table collapses to ONE broadcast row
    of two dim-length arrays; dequantization is then a map-side
    transform-with-index — the corpus never shuffles and no exploded
    (vec x dim) rows survive past the stats aggregate. Exact side is
    |sample| x |corpus|, the standard audit cost."""
    vecs = _vecs(spark, sf_dir)
    ex = vecs.select("vec_id", F.posexplode("v").alias("dim", "x"))
    stats = ex.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    stats_row = stats.agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "lo", "hi"))
        ).alias("sh")
    ).select(
        F.transform("sh", lambda s: s["lo"]).alias("los"),
        F.transform("sh", lambda s: s["hi"]).alias("his"),
    )
    los, his = F.col("los"), F.col("his")
    dq = vecs.crossJoin(stats_row).select(
        "vec_id",
        F.transform(
            "v",
            lambda x, i: F.when(
                F.element_at(his, i + 1) == F.element_at(los, i + 1),
                F.element_at(los, i + 1),
            ).otherwise(
                F.element_at(los, i + 1)
                + F.floor(
                    (x - F.element_at(los, i + 1))
                    / (F.element_at(his, i + 1) - F.element_at(los, i + 1))
                    * 255
                    + 0.5
                )
                / 255.0
                * (F.element_at(his, i + 1) - F.element_at(los, i + 1))
            ),
        ).alias("v"),
    )
    exact = brute_force_topk(
        vecs.filter(F.col("vec_id") < 20), vecs, k=3
    ).select("query_id", "neighbor_id")
    approx = brute_force_topk(
        dq.filter(F.col("vec_id") < 20), dq, k=3
    ).select("query_id", F.col("neighbor_id").alias("a_neighbor_id"))
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id)
        & (exact.neighbor_id == approx.a_neighbor_id),
        "left",
    ).select(exact.query_id, approx.a_neighbor_id)
    return hits.groupBy("query_id").agg(
        F.count("a_neighbor_id").alias("n_hits"),
        rnd(F.count("a_neighbor_id") / F.lit(3.0), 4).alias("recall_at_3"),
    )


@query(
    "q_kmeanspp_init",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
    s1 AS (SELECT * FROM p0),
    m1 AS (
      SELECT a.vec_id, a.v, max({_COS_SQL}) AS mc
      FROM e a JOIN s1 b ON true
      WHERE a.vec_id NOT IN (SELECT vec_id FROM s1)
      GROUP BY a.vec_id, a.v
    ),
    p1 AS (SELECT vec_id, v, mc FROM m1 ORDER BY mc ASC, vec_id LIMIT 1),
    s2 AS (SELECT * FROM s1 UNION ALL SELECT vec_id, v FROM p1),
    m2 AS (
      SELECT a.vec_id, a.v, max({_COS_SQL}) AS mc
      FROM e a JOIN s2 b ON true
      WHERE a.vec_id NOT IN (SELECT vec_id FROM s2)
      GROUP BY a.vec_id, a.v
    ),
    p2 AS (SELECT vec_id, v, mc FROM m2 ORDER BY mc ASC, vec_id LIMIT 1),
    s3 AS (SELECT * FROM s2 UNION ALL SELECT vec_id, v FROM p2),
    m3 AS (
      SELECT a.vec_id, a.v, max({_COS_SQL}) AS mc
      FROM e a JOIN s3 b ON true
      WHERE a.vec_id NOT IN (SELECT vec_id FROM s3)
      GROUP BY a.vec_id, a.v
    ),
    p3 AS (SELECT vec_id, v, mc FROM m3 ORDER BY mc ASC, vec_id LIMIT 1)
    SELECT CAST(0 AS BIGINT) AS pick, vec_id,
           CAST(NULL AS DOUBLE) AS nearest_seed_cos FROM p0
    UNION ALL SELECT 1, vec_id, round(mc, 6) FROM p1
    UNION ALL SELECT 2, vec_id, round(mc, 6) FROM p2
    UNION ALL SELECT 3, vec_id, round(mc, 6) FROM p3
    """,
)
def q_kmeanspp_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means seeding by farthest-point traversal
    (Gonzalez k-center — the derandomized core of k-means++: instead of
    sampling proportional to D^2, take the argmax of D = 1 - max-cos to
    the chosen set, lowest vec_id on ties, so the oracle reproduces
    every pick exactly). Seeds feed q_kmeans_assign/q_kmeans_iterate.

    Scale: each of the k-1 selection rounds is one map-side pass — the
    chosen seeds ride along as ONE broadcast array, the per-vector
    max-cos is an array_max over a transform fold, and the argmin is
    TakeOrderedAndProject(1), so the corpus never shuffles and only one
    row returns per round. The plan is fully lazy (the picks are
    unrolled as nested 1-row subplans, the q_kmeans_iterate pattern);
    a driver loop carrying the seed list persists the corpus once and
    re-runs only the scoring pass per round. k-means|| would batch
    multiple picks per pass; with the traversal derandomized the
    one-pick-per-pass shape is what keeps ties exactly reproducible."""
    e = _vecs(spark, sf_dir).select("vec_id", "v", l2_norm(F.col("v")).alias("vn"))
    seed0 = e.orderBy("vec_id").limit(1)
    picks = [
        seed0.select(
            F.lit(0).cast("bigint").alias("pick"),
            "vec_id",
            F.lit(None).cast("double").alias("nearest_seed_cos"),
        )
    ]
    seeds = seed0
    for i in range(1, 4):
        seeds_arr = seeds.agg(F.collect_list(F.struct("v", "vn")).alias("svs"))
        mc = F.array_max(
            F.transform(
                "svs", lambda s: cosine(F.col("v"), s["v"], F.col("vn"), s["vn"])
            )
        )
        cand = (
            e.join(seeds.select("vec_id"), "vec_id", "left_anti")
            .crossJoin(seeds_arr)
            .select("vec_id", "v", "vn", mc.alias("mc"))
        )
        pick = cand.orderBy(F.col("mc").asc(), "vec_id").limit(1)
        picks.append(
            pick.select(
                F.lit(i).cast("bigint").alias("pick"),
                "vec_id",
                rnd("mc", 6).alias("nearest_seed_cos"),
            )
        )
        seeds = seeds.unionByName(pick.select("vec_id", "v", "vn"))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q_cluster_balanced_sample",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s0 AS (SELECT vec_id AS centroid_id, v FROM e WHERE vec_id < 8),
    sims AS (
      SELECT a.vec_id, b.centroid_id, {_COS_SQL} AS cos
      FROM e a JOIN s0 b ON true
    ), assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, centroid_id) AS rn
        FROM sims
      ) WHERE rn = 1
    )
    SELECT centroid_id, vec_id,
           CAST(row_number() OVER (PARTITION BY centroid_id
                                   ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                            vec_id)
                AS BIGINT) AS pick_rank,
           CAST(count(*) OVER (PARTITION BY centroid_id) AS BIGINT)
               AS n_members
    FROM assigned
    QUALIFY pick_rank <= 20
    """,
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced coreset selection: assign every embedding to
    its nearest centroid (the q_kmeans_assign map-side fold), then keep
    an equal-allocation quota of 20 per cluster chosen by deterministic
    hash order — the diversity-preserving subset selection step
    (DeepCore/coreset family): a frequency-proportional sample would
    reproduce the majority clusters' dominance; equal allocation keeps
    tail modes represented for curriculum or eval-set construction.

    Scale: assignment is map-side against ONE broadcast centroid row
    (corpus never shuffles for it); the quota needs one shuffle on
    centroid_id for the per-cluster hash-order window. With k clusters
    that shuffle is skew-prone at 100 TB (hot cluster = hot partition)
    — the production variant first aggregates per-cluster counts
    (broadcast-sized), converts the quota to a hash THRESHOLD
    (keep if md5(id) < q/|c| quantile), and applies it map-side; the
    window form here stays exact-k and oracle-reproducible."""
    vecs = _vecs(spark, sf_dir)
    seeds = collapse_centroids(
        vecs.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
        )
    )
    a = assign_to_centroids(vecs, seeds).select("vec_id", "centroid_id")
    key = F.md5(F.col("vec_id").cast("string"))
    w = Window.partitionBy("centroid_id").orderBy(key, "vec_id")
    # n_members comes from a keyed agg + broadcast join, not a
    # count-only window: the unordered WindowExec would still drag
    # each cluster's full membership (corpus/k rows) through one task
    # just to stamp a constant on every row. The rank window stays,
    # but filtered to pick_rank <= 20 BEFORE anything else consumes
    # it, so WindowGroupLimit keeps per-task state at top-20.
    counts = a.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return (
        a.withColumn("pick_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pick_rank") <= 20)
        .join(counts, "centroid_id")
        .select("centroid_id", "vec_id", "pick_rank", "n_members")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection + distance-preservation audit
# ---------------------------------------------------------------------------

RP_IN_DIM = 64
RP_DIM = 16
RP_SAMPLE_MOD = 97  # audit pair sample: vec_id % 97 == 0


def _rp_signs() -> list[list[int]]:
    """RP_DIM rows of RP_IN_DIM Rademacher (+1/-1) entries, derived
    from md5 so every engine and every run sees the same matrix. A
    real pipeline would broadcast a trainer-chosen seed; the dense
    sign matrix is literal either way (1 KB — it rides the PLAN, the
    corpus never sees a join)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(RP_IN_DIM)
        ]
        for j in range(RP_DIM)
    ]


def project_embedding(v: Column) -> Column:
    """array<double> of RP_DIM components: p_j = (v . s_j) / sqrt(k).
    Map-side only — one zip_with+fold per output component."""
    scale = 1.0 / (RP_DIM ** 0.5)
    return F.array(
        *[
            (dot(v, F.array(*[F.lit(s) for s in row])) * scale).alias(f"p{j}")
            for j, row in enumerate(_rp_signs())
        ]
    )


def _rp_proj_sql(alias: str) -> str:
    """DuckDB expression list mirroring project_embedding."""
    scale = 1.0 / (RP_DIM ** 0.5)
    comps = [
        "(list_sum([{v}[i] * ([{row}])[i] for i in range(1, {n} + 1)]) * {s!r})".format(
            v=alias, row=", ".join(str(x) for x in row), n=RP_IN_DIM, s=scale
        )
        for row in _rp_signs()
    ]
    return "[" + ", ".join(comps) + "]"


@query(
    "q_random_projection",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
      FROM embeddings WHERE vec_id % {RP_SAMPLE_MOD} = 0
    ), p AS (
      SELECT vec_id, v, {_rp_proj_sql("v")} AS pv FROM v
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_sum([(a.v[i] - b.v[i]) * (a.v[i] - b.v[i])
                           for i in range(1, {RP_IN_DIM} + 1)]), 4) AS sq_l2_orig,
           round(list_sum([(a.pv[i] - b.pv[i]) * (a.pv[i] - b.pv[i])
                           for i in range(1, {RP_DIM} + 1)]), 4) AS sq_l2_proj,
           round(list_sum([(a.pv[i] - b.pv[i]) * (a.pv[i] - b.pv[i])
                           for i in range(1, {RP_DIM} + 1)]) /
                 list_sum([(a.v[i] - b.v[i]) * (a.v[i] - b.v[i])
                           for i in range(1, {RP_IN_DIM} + 1)]), 4) AS sq_ratio
    FROM p a JOIN p b ON a.vec_id < b.vec_id
    """,
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (64 -> 16 dims via a
    Rademacher sign matrix) with a distance-preservation audit: for a
    deterministic vec_id sample, squared L2 before vs after projection
    and their ratio (JL: E[ratio] = 1, concentration ~ 1/sqrt(k)).
    This is the dimensionality-reduction pre-step that makes
    downstream clustering / ANN / dedup distance work k/d cheaper at
    100 TB, and — like the int8/IVF-PQ recall audits — it ships WITH
    its accuracy check rather than assuming the textbook bound.

    Scale: the sign matrix is a plan literal (no join, no shuffle);
    projection is a map-side fold per component over each partition of
    the corpus. Only the AUDIT is pairwise, and only over the mod-97
    sample (size-bounded diagnostic, the q_ann_recall pattern); the
    sample join is a deliberate broadcast nested loop."""
    sample = _vecs(spark, sf_dir).filter(
        F.col("vec_id") % RP_SAMPLE_MOD == 0
    )
    proj = materialize(sample, pv=project_embedding(F.col("v"))).select(
        "vec_id", "v", "pv"
    )
    a = proj.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("av"), F.col("pv").alias("ap")
    )
    b = proj.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("bv"), F.col("pv").alias("bp")
    )
    def sq_l2(u: Column, w: Column) -> Column:
        return F.aggregate(
            F.zip_with(u, w, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    pairs = a.join(b, F.col("a_id") < F.col("b_id"))
    so = sq_l2(F.col("av"), F.col("bv"))
    sp = sq_l2(F.col("ap"), F.col("bp"))
    return pairs.select(
        "a_id",
        "b_id",
        rnd(so, 4).alias("sq_l2_orig"),
        rnd(sp, 4).alias("sq_l2_proj"),
        rnd(sp / so, 4).alias("sq_ratio"),
    )


@query(
    "q_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    sims AS (
      SELECT a.vec_id AS query_id, a.label AS qlabel,
             b.vec_id AS neighbor_id, b.label AS nlabel,
             {_COS_SQL} AS cos
      FROM e a JOIN e b ON a.label <> b.label
      WHERE a.vec_id < 20
    )
    SELECT query_id, qlabel, neighbor_id, nlabel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rank,
           round(cos, 4) AS cos
    FROM sims
    WHERE cos < 0.99
    QUALIFY rank <= 3
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: for
    each query vector, the most-similar vectors with a DIFFERENT
    label (the negatives a bi-encoder confuses most, per DPR /
    sentence-transformers practice), excluding near-identical
    cos >= 0.99 candidates — those are likelier mislabeled duplicates
    (false negatives) than useful training signal.

    Scale: the query set broadcasts against the corpus (one map-side
    pass, same shape as brute_force_topk); per-query ranking
    shuffles only (queries x candidates-below-margin) rows. At
    100 TB the candidate pass swaps in the IVF/LSH probe
    (q_similarity_ivf / _lsh) unchanged — mining only ever scores
    bucket-mates."""
    vecs = _vecs(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        l2_norm(F.col("v")).alias("qn"),
        F.col("label").alias("qlabel"),
    )
    c = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        l2_norm(F.col("v")).alias("cn"),
        F.col("label").alias("nlabel"),
    )
    sims = (
        c.join(q, F.col("qlabel") != F.col("nlabel"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")))
        .filter(F.col("cos") < 0.99)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "qlabel", "neighbor_id", "nlabel", "rank",
            rnd("cos", 4).alias("cos"),
        )
    )


@query(
    "q_margin_mining",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id, {_COS_SQL} AS cos
      FROM e a JOIN e b ON b.vec_id >= 20
      WHERE a.vec_id < 20
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id) AS rq,
             row_number() OVER (PARTITION BY cand_id
                                ORDER BY cos DESC, query_id) AS rc
      FROM s
    ), qa AS (
      SELECT query_id, sum(cos) / 4 AS qa FROM r WHERE rq <= 4 GROUP BY 1
    ), ca AS (
      SELECT cand_id, sum(cos) / 4 AS ca FROM r WHERE rc <= 4 GROUP BY 1
    )
    SELECT r.query_id, r.cand_id, rq AS rank, round(cos, 4) AS cos,
           round(cos / (0.5 * qa.qa + 0.5 * ca.ca), 4) AS margin
    FROM r JOIN qa USING (query_id) JOIN ca USING (cand_id)
    WHERE rq <= 4
    """,
)
def q_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based candidate mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix bitext-mining criterion): a raw cosine is a poor
    pair score because hub vectors are near EVERYTHING; the margin
    divides cos(x, y) by the mean of both directions' k-NN
    similarities, so only pairs that are mutually exceptional score
    above ~1. Emits each query's top-4 candidates with their margin —
    the standard step for mining aligned/translated/near-duplicate
    pairs across two corpora.

    Scale: the query block broadcasts against the candidate corpus
    (one map-side cosine pass); the forward ranking shuffles by
    query, the reverse ranking by candidate — two keyed shuffles of
    the scored pairs, never corpus x corpus (the scored-pair set is
    queries x corpus; at 100 TB the candidate pass swaps in an ANN
    probe first, exactly like q_hard_negatives). k-NN means are
    exact 4-element sums; the rounded margin absorbs summation-order
    ulps."""
    vecs = _vecs(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        l2_norm(F.col("v")).alias("qn"),
    )
    c = vecs.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        l2_norm(F.col("v")).alias("cn"),
    )
    s = c.join(q).select(
        "query_id",
        "cand_id",
        cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "cand_id")
    wc = Window.partitionBy("cand_id").orderBy(F.col("cos").desc(), "query_id")
    r = s.withColumn("rq", F.row_number().over(wq)).withColumn(
        "rc", F.row_number().over(wc)
    )
    qa = (
        r.filter(F.col("rq") <= 4)
        .groupBy("query_id")
        .agg((F.sum("cos") / 4).alias("qa"))
    )
    ca = (
        r.filter(F.col("rc") <= 4)
        .groupBy("cand_id")
        .agg((F.sum("cos") / 4).alias("ca"))
    )
    return (
        r.filter(F.col("rq") <= 4)
        .join(F.broadcast(qa), "query_id")
        .join(ca, "cand_id")
        .select(
            "query_id",
            "cand_id",
            F.col("rq").alias("rank"),
            rnd("cos", 4).alias("cos"),
            rnd(
                F.col("cos") / (0.5 * F.col("qa") + 0.5 * F.col("ca")), 4
            ).alias("margin"),
        )
    )


@query(
    "q_cluster_purity",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    seeds AS (SELECT vec_id AS centroid_id, v FROM e WHERE vec_id < 8),
    sims AS (
      SELECT a.vec_id, a.label, b.centroid_id, {_COS_SQL} AS cos
      FROM e a JOIN seeds b ON true
    ), assigned AS (
      SELECT vec_id, label, centroid_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, centroid_id) AS rn
        FROM sims
      ) WHERE rn = 1
    ), cont AS (
      SELECT centroid_id, label, CAST(count(*) AS DOUBLE) AS c
      FROM assigned GROUP BY 1, 2
    ), n AS (SELECT sum(c) AS n FROM cont),
    mc AS (SELECT centroid_id, sum(c) AS nc FROM cont GROUP BY 1),
    ml AS (SELECT label, sum(c) AS nl FROM cont GROUP BY 1),
    ent AS (
      SELECT sum((cont.c / n.n) * ln(cont.c * n.n / (mc.nc * ml.nl))) AS mi
      FROM cont, n, mc, ml
      WHERE cont.centroid_id = mc.centroid_id AND cont.label = ml.label
    ), hs AS (
      SELECT (SELECT -sum((nc / n.n) * ln(nc / n.n)) FROM mc, n) AS hc,
             (SELECT -sum((nl / n.n) * ln(nl / n.n)) FROM ml, n) AS hl
    ), best AS (
      SELECT centroid_id, label AS majority_label, c AS top_c FROM (
        SELECT *, row_number() OVER (PARTITION BY centroid_id
                                     ORDER BY c DESC, label) AS r
        FROM cont
      ) WHERE r = 1
    )
    SELECT mc.centroid_id,
           CAST(mc.nc AS BIGINT) AS n_members,
           best.majority_label,
           round(best.top_c / mc.nc, 6) AS purity,
           round(ent.mi / sqrt(hs.hc * hs.hl), 6) AS nmi
    FROM mc JOIN best USING (centroid_id), ent, hs
    ORDER BY mc.centroid_id
    """,
)
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering quality evaluation against ground-truth labels:
    per-cluster purity (majority-label fraction) and corpus-level
    normalized mutual information (MI / sqrt(H_cluster * H_label)) for
    the deterministic seed assignment q_kmeans_assign produces — the
    two standard external metrics that decide whether an embedding
    clustering is good enough to drive SemDeDup buckets or topic
    balancing.

    Scale: assignment is the map-side broadcast-centroid fold (corpus
    never shuffles); the contingency table is ONE keyed agg bounded by
    k x labels, and every marginal, entropy and MI term is derived
    from that single table instance via WINDOW functions — not
    self-joins, which would make Catalyst re-derive the corpus
    assignment once per derived statistic (the first draft planned 30
    scans / 63 exchanges; this shape plans one corpus pass). The
    per-row identity sum_rows_in_group (c/n)ln(ng/n) =
    (ng/n)ln(ng/n) turns both entropies into plain row sums."""
    vecs = _vecs(spark, sf_dir)
    seeds = collapse_centroids(
        vecs.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
        )
    )
    assigned = assign_to_centroids(vecs, seeds).select("vec_id", "centroid_id")
    labeled = assigned.join(vecs.select("vec_id", "label"), "vec_id")
    cont = labeled.groupBy("centroid_id", "label").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    from pyspark.sql import Window as W

    wc = W.partitionBy("centroid_id")
    wl = W.partitionBy("label")
    wg = W.partitionBy()
    c, n = F.col("c"), F.col("n")
    nc, nl = F.col("nc"), F.col("nl")
    enriched = (
        cont.withColumn("nc", F.sum("c").over(wc))
        .withColumn("nl", F.sum("c").over(wl))
        .withColumn("n", F.sum("c").over(wg))
        .withColumn("mi", F.sum((c / n) * F.log(c * n / (nc * nl))).over(wg))
        .withColumn("hc", -F.sum((c / n) * F.log(nc / n)).over(wg))
        .withColumn("hl", -F.sum((c / n) * F.log(nl / n)).over(wg))
        .withColumn(
            "r", F.row_number().over(wc.orderBy(c.desc(), "label"))
        )
    )
    return (
        enriched.groupBy("centroid_id")
        .agg(
            F.first(nc).cast("bigint").alias("n_members"),
            F.max_by("label", F.when(F.col("r") == 1, 1).otherwise(0)).alias(
                "majority_label"
            ),
            rnd(F.max(F.when(F.col("r") == 1, c)) / F.first(nc), 6).alias(
                "purity"
            ),
            rnd(
                F.first("mi") / F.sqrt(F.first("hc") * F.first("hl")), 6
            ).alias("nmi"),
        )
        .orderBy("centroid_id")
    )


@query(
    "q_knn_classifier_eval",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    q AS (SELECT vec_id, v, label FROM e WHERE vec_id < 20),
    t AS (SELECT vec_id, v, label FROM e WHERE vec_id >= 20),
    sims AS (
      SELECT a.vec_id AS query_id, a.label AS label_true,
             b.label AS nlabel, b.vec_id AS nid,
             {_COS_SQL} AS cos
      FROM q a JOIN t b ON true
    ), top5 AS (
      SELECT query_id, label_true, nlabel FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, nid) AS rn
        FROM sims
      ) WHERE rn <= 5
    ), votes AS (
      SELECT query_id, label_true, nlabel AS label_pred, count(*) AS nv
      FROM top5 GROUP BY 1, 2, 3
    ), pred AS (
      SELECT query_id, label_true, label_pred FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY nv DESC, label_pred) AS r
        FROM votes
      ) WHERE r = 1
    )
    SELECT label_true, label_pred, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification evaluation (k=5 majority vote, ties to the
    lowest label): hold out the query block, vote with the corpus,
    and emit the confusion matrix — the leave-out sanity check run
    before trusting embedding labels to drive mixture balancing or
    stratified splits.

    Scale: identical shape to brute_force_topk (query block broadcast,
    per-query rank shuffle); votes and the confusion matrix are keyed
    aggs bounded by queries x labels and labels². The ANN probe swaps
    in for the scoring pass at corpus scale."""
    vecs = _vecs(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        l2_norm(F.col("v")).alias("qn"),
        F.col("label").alias("label_true"),
    )
    t = vecs.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("nid"),
        F.col("v").alias("cv"),
        l2_norm(F.col("v")).alias("cn"),
        F.col("label").alias("nlabel"),
    )
    sims = t.join(q).select(
        "query_id", "label_true", "nlabel", "nid",
        cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "nid")
    top5 = sims.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = top5.groupBy("query_id", "label_true", F.col("nlabel").alias("label_pred")).agg(
        F.count(F.lit(1)).alias("nv")
    )
    rw = Window.partitionBy("query_id").orderBy(F.col("nv").desc(), "label_pred")
    pred = votes.withColumn("r", F.row_number().over(rw)).filter(F.col("r") == 1)
    return (
        pred.groupBy("label_true", "label_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("label_true", "label_pred")
    )


_ELBOW_KS = (2, 4, 8)


def _elbow_cte(k: int) -> str:
    return f"""
      SELECT {k} AS k, vec_id, max(cos) AS best_cos FROM (
        SELECT a.vec_id, b.centroid_id, {_COS_SQL} AS cos
        FROM e a JOIN (SELECT vec_id AS centroid_id, v FROM e
                       WHERE vec_id < {k}) b ON true
      ) GROUP BY vec_id"""


@query(
    "q_kmeans_elbow",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assigned AS (
      {" UNION ALL ".join(_elbow_cte(k) for k in _ELBOW_KS)}
    )
    SELECT k, CAST(count(*) AS BIGINT) AS n_vectors,
           round(sum(1 - best_cos), 4) AS inertia,
           round(avg(best_cos), 6) AS avg_cos
    FROM assigned GROUP BY k ORDER BY k
    """,
)
def q_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-count selection via the elbow curve: cosine inertia
    (sum of 1 - best centroid similarity) for k = 2, 4, 8 seed sets —
    inertia always falls with k; the k where the drop flattens is the
    natural cluster count fed to q_kmeans_iterate / SemDeDup. Each k
    uses the deterministic seed prefix (vec_id < k) so the curve is
    exactly reproducible.

    Scale: per k, the assignment is the same broadcast-seed map-side
    max-fold as q_kmeans_assign (corpus never shuffles; only per-k
    1-row aggregates move). The three configs scan lazily like
    q_lsh_tuning — at production scale the embedding table feeding
    all three is a materialized artifact read thrice map-side."""
    vecs = _vecs(spark, sf_dir)
    parts = []
    for k in _ELBOW_KS:
        seeds = collapse_centroids(
            vecs.filter(F.col("vec_id") < k).select(
                F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
            )
        )
        assigned = assign_to_centroids(vecs, seeds)
        parts.append(
            assigned.agg(
                F.lit(k).alias("k"),
                F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                rnd(F.sum(1 - F.col("cos")), 4).alias("inertia"),
                rnd(F.avg("cos"), 6).alias("avg_cos"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("k")


# --------------------------------------------------------------------------
# Matryoshka truncation evaluation (r9). MRL-style embeddings
# (Kusupati et al. 2022) promise that a prefix of the vector is itself
# a usable embedding; before serving truncated vectors, an index
# operator must MEASURE how much retrieval quality each prefix length
# keeps. Reference analogue: the reference ships fixed-dim vector
# scans only; this is the capability a 100 TB embedding store needs to
# pick its serving dimension.
# --------------------------------------------------------------------------
_MRL_DIMS = [8, 16, 32, 64]
_MRL_K = 5
_MRL_NQ = 20


def _cos_prefix_sql(d: int) -> str:
    return f"""
  list_sum([a.v[i] * b.v[i] for i in range(1, {d} + 1)]) /
  (sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, {d} + 1)])) *
   sqrt(list_sum([b.v[i] * b.v[i] for i in range(1, {d} + 1)])))
"""


@query(
    "q_matryoshka_eval",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    truth AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_COS_SQL} DESC, b.vec_id) AS rank
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < {_MRL_NQ}
      QUALIFY rank <= {_MRL_K}
    ),
    dims AS (
      {" UNION ALL ".join(f'''
      SELECT {d} AS dim, a.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_cos_prefix_sql(d)} DESC, b.vec_id)
               AS rank
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < {_MRL_NQ}
      QUALIFY rank <= {_MRL_K}''' for d in _MRL_DIMS)}
    )
    SELECT d.dim,
           CAST(count(*) AS BIGINT) AS n_retrieved,
           round(CAST(count(t.neighbor_id) AS DOUBLE) / count(*), 4)
             AS recall_at_{_MRL_K}
    FROM dims d LEFT JOIN truth t
      ON d.query_id = t.query_id AND d.neighbor_id = t.neighbor_id
    GROUP BY d.dim ORDER BY d.dim
    """,
)
def q_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka serving-dimension sweep: for each prefix length d in
    {8,16,32,64}, run the same top-5 cosine retrieval on the TRUNCATED
    vectors and report recall@5 against the full-dimension ground
    truth — the design table that picks the cheapest dimension meeting
    a recall floor (64x less index memory at dim 8 if recall holds).

    Scale: each sweep config is the brute_force_topk shape — broadcast
    query set (bounded), corpus scanned map-side, per-query top-k
    window on the candidate set. The corpus is never self-joined at
    full size: queries are a fixed broadcast panel, so cost is
    #dims x |corpus| x |panel|, embarrassingly parallel. The ground
    truth is computed once and broadcast into the recall join (a
    #panel x k row table). At production scale the per-dim retrieval
    would hit the IVF index (q_similarity_ivf) instead of brute force;
    the sweep harness is identical."""
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < _MRL_NQ)
    truth = brute_force_topk(queries, vecs, k=_MRL_K).select(
        "query_id", "neighbor_id"
    )
    parts = []
    for d in _MRL_DIMS:
        trunc = vecs.select(
            "vec_id", F.slice("v", 1, d).alias("v"), "label"
        )
        got = brute_force_topk(
            trunc.filter(F.col("vec_id") < _MRL_NQ), trunc, k=_MRL_K
        ).select(F.lit(d).alias("dim"), "query_id", "neighbor_id")
        parts.append(got)
    got_all = parts[0]
    for p in parts[1:]:
        got_all = got_all.unionByName(p)
    hit = got_all.join(
        F.broadcast(truth.withColumn("_hit", F.lit(1))),
        ["query_id", "neighbor_id"],
        "left",
    )
    return (
        hit.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_retrieved"),
            rnd(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                / F.count(F.lit(1)),
                4,
            ).alias(f"recall_at_{_MRL_K}"),
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# Distributed PCA via one-pass Gram accumulation + power iteration
# (r9). The classic two-stage shape for tall-skinny matrices (d rows,
# n >> d): the n x d corpus collapses map-side into the d x d Gram
# matrix (one aggregation; partial sums merge associatively), then the
# O(d^2)-sized iteration state never touches the corpus again.
# --------------------------------------------------------------------------
_PCA_ITERS = 4


@query(
    "q_pca_power_iteration",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT i, j,
             sum(v[i] * v[j]) / (SELECT CAST(count(*) AS DOUBLE) FROM e) AS g
      FROM e, range(1, 65) r1(i), range(1, 65) r2(j)
      GROUP BY i, j
    ),
    x0 AS (
      SELECT i, 1.0 / sqrt(64.0) AS x FROM range(1, 65) r(i)
    ),
    y1 AS (
      SELECT p.i AS i, sum(p.g * x0.x) AS y
      FROM pairs p JOIN x0 ON x0.i = p.j GROUP BY p.i
    ),
    x1 AS (
      SELECT i, y / (SELECT sqrt(sum(y * y)) FROM y1) AS x FROM y1
    ),
    y2 AS (
      SELECT p.i AS i, sum(p.g * x1.x) AS y
      FROM pairs p JOIN x1 ON x1.i = p.j GROUP BY p.i
    ),
    x2 AS (
      SELECT i, y / (SELECT sqrt(sum(y * y)) FROM y2) AS x FROM y2
    ),
    y3 AS (
      SELECT p.i AS i, sum(p.g * x2.x) AS y
      FROM pairs p JOIN x2 ON x2.i = p.j GROUP BY p.i
    ),
    x3 AS (
      SELECT i, y / (SELECT sqrt(sum(y * y)) FROM y3) AS x FROM y3
    ),
    y4 AS (
      SELECT p.i AS i, sum(p.g * x3.x) AS y
      FROM pairs p JOIN x3 ON x3.i = p.j GROUP BY p.i
    ),
    x4 AS (
      SELECT i, y / (SELECT sqrt(sum(y * y)) FROM y4) AS x FROM y4
    ),
    ray AS (
      SELECT sum(f1.x * p.g * f2.x) AS lam
      FROM pairs p JOIN x4 f1 ON f1.i = p.i JOIN x4 f2 ON f2.i = p.j
    )
    SELECT f.i AS dim_idx, round(f.x, 6) AS v1,
           round((SELECT lam FROM ray), 4) AS eigenvalue
    FROM x4 f ORDER BY f.i
    """,
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding
    second-moment matrix by 4 power-iteration steps from
    the deterministic all-ones start, plus its Rayleigh-quotient
    eigenvalue — the dominant-variance probe that drives whitening,
    ABTT ("all-but-the-top") embedding post-processing, and drift
    detection on 100 TB embedding stores.

    Scale: the ONLY pass over the corpus is the Gram accumulation —
    each row contributes its d^2 outer-product terms via a map-side
    explode over (i, j), partial-aggregated before the one shuffle to
    d^2 = 4096 keyed sums. Iterations run on the d^2-row Gram table
    joined to a d-row vector table (matrix-vector product = equi-join
    on j + keyed sum over i), never revisiting the corpus; the d-row
    iterate is broadcast each step. Deterministic: fixed start, fixed
    iteration count, no RNG — bit-portable across engines up to the
    rounding nudge."""
    vecs = _vecs(spark, sf_dir)
    n = vecs.count()
    d = 64
    # Gram: explode (i, v_i) x (j, v_j) per row, sum per (i, j).
    idx = F.posexplode(F.col("v"))
    rows = vecs.select(F.col("v"), idx).select(
        F.col("v"), (F.col("pos") + 1).alias("i"), F.col("col").alias("vi")
    )
    gram = (
        rows.select(
            "i",
            "vi",
            F.posexplode(F.col("v")).alias("pos_j", "vj"),
        )
        .select("i", (F.col("pos_j") + 1).alias("j"), (F.col("vi") * F.col("vj")).alias("prod"))
        .groupBy("i", "j")
        .agg((F.sum("prod") / F.lit(float(n))).alias("g"))
    )
    # 4096 rows; localCheckpoint truncates lineage so the 4 iterations
    # and the Rayleigh quotient reuse the materialized Gram instead of
    # re-scanning the corpus per step.
    gram = gram.localCheckpoint(eager=True)
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [StructField("j", LongType()), StructField("x", DoubleType())]
    )
    x0 = 1.0 / math.sqrt(d)

    def power_step(cur: DataFrame, _: int) -> DataFrame:
        y = (
            gram.join(F.broadcast(cur), gram.j == cur.j)
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("x")).alias("y"))
        )
        norm = y.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("nrm"))
        return y.crossJoin(norm).select(
            F.col("i").alias("j"), (F.col("y") / F.col("nrm")).alias("x")
        )

    cur = iterate(
        local_df(spark, [(i + 1, x0) for i in range(d)], schema),
        power_step,
        _PCA_ITERS,
    )
    final = cur.select(F.col("j").alias("dim_idx"), F.col("x"))
    # Rayleigh quotient: x^T G x over the d^2 Gram table.
    lam = (
        gram.join(
            F.broadcast(final.select(F.col("dim_idx").alias("i"), F.col("x").alias("xi"))),
            "i",
        )
        .join(
            F.broadcast(final.select(F.col("dim_idx").alias("j"), F.col("x").alias("xj"))),
            "j",
        )
        .agg(F.sum(F.col("xi") * F.col("g") * F.col("xj")).alias("lam"))
    )
    return (
        final.crossJoin(lam)
        .select(
            "dim_idx",
            rnd("x", 6).alias("v1"),
            rnd("lam", 4).alias("eigenvalue"),
        )
        .orderBy("dim_idx")
    )


# --------------------------------------------------------------------------
# Reciprocal (mutual) nearest neighbors (r9). One-directional cosine
# top-1 is asymmetric — a near-duplicate pair is far more reliable
# when BOTH sides pick each other (the RNN criterion used for
# image/embedding dedup and cross-lingual mining alongside the margin
# rule in q_margin_mining). Blocked by the coarse-quantizer label,
# the same IVF discipline as q_similarity_ivf, so the pairwise stage
# is cluster-bounded — never corpus-squared.
# --------------------------------------------------------------------------
def _cos_sql(x: str, y: str) -> str:
    """DuckDB double-precision cosine between two named DOUBLE[]
    columns (same element order as the Spark zip_with fold)."""
    return f"""
      list_sum([{x}[i] * {y}[i] for i in range(1, len({x}) + 1)]) /
      (sqrt(list_sum([u * u for u in {x}])) *
       sqrt(list_sum([u * u for u in {y}])))
    """


@query(
    "q_mutual_knn",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    sims AS (
      SELECT a.vec_id AS src, b.vec_id AS dst, {_cos_sql('a.v', 'b.v')} AS cos,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_cos_sql('a.v', 'b.v')} DESC,
                                         b.vec_id) AS rn
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    ), nn1 AS (
      SELECT src, dst, cos FROM sims WHERE rn = 1
    )
    SELECT a.src AS a_id, a.dst AS b_id, round(a.cos, 4) AS cos
    FROM nn1 a JOIN nn1 b ON a.dst = b.src AND b.dst = a.src
    WHERE a.src < a.dst
    ORDER BY a_id
    """,
)
def q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual top-1 nearest-neighbor pairs within each coarse cluster
    (label): emit (a, b) only when a's nearest in-cluster neighbor is
    b AND b's is a — the reciprocal-NN dedup/mining criterion that
    filters the asymmetric hubs a one-way top-1 list keeps.

    Scale: the similarity join is equi-keyed on the cluster label
    (IVF blocking), so cost is sum over clusters of |c|^2, not n^2;
    the top-1 is a per-src window over cluster-bounded rows and the
    reciprocity check a self-join of the n-row top-1 list. Cosines
    are identical zip_with folds on both engines."""
    vecs = _vecs(spark, sf_dir)
    a = vecs.select(
        "label",
        F.col("vec_id").alias("src"),
        F.col("v").alias("av"),
        l2_norm(F.col("v")).alias("an"),
    )
    b = vecs.select(
        F.col("label").alias("b_label"),
        F.col("vec_id").alias("dst"),
        F.col("v").alias("bv"),
        l2_norm(F.col("v")).alias("bn"),
    )
    sims = a.join(
        b, (a.label == b.b_label) & (F.col("src") != F.col("dst"))
    ).withColumn("cos", cosine(F.col("av"), F.col("bv"), F.col("an"), F.col("bn")))
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    nn1 = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("src", "dst", "cos")
    )
    other = nn1.select(
        F.col("src").alias("o_src"), F.col("dst").alias("o_dst")
    )
    return (
        nn1.join(
            other,
            (nn1.dst == other.o_src) & (other.o_dst == nn1.src),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("a_id"),
            F.col("dst").alias("b_id"),
            rnd("cos", 4).alias("cos"),
        )
        .orderBy("a_id")
    )


# --------------------------------------------------------------------------
# Maximal Marginal Relevance rerank (r9, Carbonell & Goldstein 1998).
# Pure cosine top-k returns near-duplicate result lists; training-data
# panels and RAG contexts want RELEVANT-BUT-DIVERSE picks. MMR
# greedily selects argmax of lambda*rel - (1-lambda)*max-sim-to-
# selected. The greedy loop is inherently sequential, so both engines
# unroll the same fixed number of steps over the per-query candidate
# pool — every similarity the identical double-precision fold, ties
# broken by candidate id, so the selection sequence is bit-stable.
# --------------------------------------------------------------------------
_MMR_LAMBDA = 0.7
_MMR_MU = 0.3
_MMR_POOL = 10
_MMR_PICKS = 5


def _mmr_step_sql(i: int) -> str:
    """Step i >= 2: score the unselected pool against sel{i-1}, pick
    the max-MMR candidate, and extend the selection."""
    return f"""
    , m{i} AS (
      SELECT p.query_id, p.cand_id, p.cv, p.rel,
             {_MMR_LAMBDA} * p.rel
               - {_MMR_MU} * max({_cos_sql('p.cv', 's.cv')})
                 AS mmr
      FROM pool p JOIN sel{i - 1} s ON s.query_id = p.query_id
      WHERE NOT EXISTS (
        SELECT 1 FROM sel{i - 1} s2
        WHERE s2.query_id = p.query_id AND s2.cand_id = p.cand_id
      )
      GROUP BY p.query_id, p.cand_id, p.cv, p.rel
    ), p{i} AS (
      SELECT query_id, cand_id, cv, rel, mmr, {i} AS pick
      FROM m{i}
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, cand_id) = 1
    ), sel{i} AS (
      SELECT query_id, cand_id, cv, rel, mmr, pick FROM sel{i - 1}
      UNION ALL
      SELECT query_id, cand_id, cv, rel, mmr, pick FROM p{i}
    )"""


@query(
    "q_mmr_rerank",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 4),
    pool AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id, b.v AS cv,
             {_cos_sql('a.v', 'b.v')} AS rel
      FROM q a JOIN e b ON a.vec_id <> b.vec_id
      QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                 ORDER BY {_cos_sql('a.v', 'b.v')} DESC,
                                          b.vec_id) <= {_MMR_POOL}
    ), sel1 AS (
      SELECT query_id, cand_id, cv, rel, rel AS mmr, 1 AS pick
      FROM pool
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, cand_id) = 1
    )"""
    + "".join(_mmr_step_sql(i) for i in range(2, _MMR_PICKS + 1))
    + f"""
    SELECT query_id, pick, cand_id,
           round(rel, 4) AS rel, round(mmr, 4) AS mmr
    FROM sel{_MMR_PICKS}
    ORDER BY query_id, pick
    """,
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 from a cosine top-10 pool for each probe
    vector (lambda=0.7): pick 1 is the most relevant candidate; each
    later pick maximizes lambda*relevance minus (1-lambda)*max
    similarity to the already-picked set — trading a little relevance
    for coverage.

    Scale: the pool is a brute-force broadcast top-k (or any ANN
    front-end) truncated to k=10 per query, so the greedy stage
    touches k rows per query regardless of corpus size; each of the
    4 unrolled steps is a selected-set join (<= 5 rows per query) +
    per-query argmax. Both engines unroll the identical sequence
    with ties on candidate id."""
    vecs = _vecs(spark, sf_dir)
    probes = vecs.filter(F.col("vec_id") < 4)
    pool = (
        brute_force_topk(probes, vecs, k=_MMR_POOL)
        .select("query_id", F.col("neighbor_id").alias("cand_id"), "rank")
        .join(
            vecs.select(
                F.col("vec_id").alias("cand_id"), F.col("v").alias("cv")
            ),
            "cand_id",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
            ),
            "query_id",
        )
        .withColumn("rel", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "cand_id", "cv", "rel")
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "cand_id")
    sel = (
        pool.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "cand_id",
            "cv",
            "rel",
            F.col("rel").alias("mmr"),
            F.lit(1).alias("pick"),
        )
    )

    def pick(sel: DataFrame, r: int) -> DataFrame:
        s = sel.select(
            F.col("query_id").alias("s_qid"),
            F.col("cand_id").alias("s_cid"),
            F.col("cv").alias("sv"),
        )
        cand = pool.join(
            s.select("s_qid", "s_cid"),
            (pool.query_id == F.col("s_qid")) & (pool.cand_id == F.col("s_cid")),
            "left_anti",
        )
        scored = (
            cand.join(s, cand.query_id == s.s_qid)
            .withColumn("ss", cosine(F.col("cv"), F.col("sv")))
            .groupBy("query_id", "cand_id", "cv", "rel")
            .agg(
                (
                    _MMR_LAMBDA * F.first("rel")
                    - _MMR_MU * F.max("ss")
                ).alias("mmr")
            )
        )
        wm = Window.partitionBy("query_id").orderBy(
            F.col("mmr").desc(), "cand_id"
        )
        picked = (
            scored.withColumn("rn", F.row_number().over(wm))
            .filter(F.col("rn") == 1)
            .select(
                "query_id", "cand_id", "cv", "rel", "mmr",
                F.lit(r + 1).alias("pick"),
            )
        )
        return sel.unionByName(picked)

    sel = iterate(sel, pick, _MMR_PICKS - 1)
    return sel.select(
        "query_id",
        "pick",
        "cand_id",
        rnd("rel", 4).alias("rel"),
        rnd("mmr", 4).alias("mmr"),
    ).orderBy("query_id", "pick")


# ---------------------------------------------------------------------------
# Centroid-based simplified silhouette (r9). The cluster-quality
# audit for the kmeans/semantic-dedup family: the classic silhouette
# needs all pairwise distances (O(n^2)); the simplified silhouette
# (Hruschka et al.) replaces mean member distance with distance to
# the cluster CENTROID — O(n*k) and fully map-side after a k-row
# broadcast, which is the only form that survives 100 TB.
# ---------------------------------------------------------------------------
@query(
    "q_silhouette_centroid",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), comp AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cent AS (
      SELECT label AS clabel, list(m ORDER BY pos) AS v
      FROM (SELECT label, pos, avg(x) AS m FROM comp GROUP BY label, pos)
      GROUP BY label
    ), sims AS (
      SELECT a.vec_id, a.label, b.clabel,
             {_COS_SQL.replace('b.v', 'b.v')} AS cos
      FROM e a JOIN cent b ON true
    ), per AS (
      SELECT vec_id, label,
             1 - max(CASE WHEN clabel = label THEN cos END) AS da,
             1 - max(CASE WHEN clabel <> label THEN cos END) AS db
      FROM sims GROUP BY vec_id, label
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(CASE WHEN greatest(da, db) > 0
                          THEN (db - da) / greatest(da, db)
                          ELSE 0 END), 4) AS avg_silhouette,
           round(avg(da), 4) AS avg_intra_dist,
           round(avg(db), 4) AS avg_nearest_other_dist
    FROM per GROUP BY label ORDER BY label
    """,
)
def q_silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette of the labeled embedding clusters in
    cosine distance: per vector, a = distance to its OWN label
    centroid, b = distance to the nearest OTHER centroid, and
    s = (b - a)/max(a, b); reported per label with the intra and
    nearest-other distances that explain the score. This is the
    quality gate for the clustering family (q_kmeans_iterate,
    q_semantic_dedup, q_cluster_balanced_sample): silhouette near 0
    means the label partition does not separate in embedding space.

    Cross-engine exactness: centroids are per-(label, position)
    avgs, cosines share the ordered-fold dot product, and all
    ratios round at 4 with the nudge.

    Scale: centroid build = one (label, pos) keyed agg (k x dim
    groups, map-side partial); the k-row centroid table collapses to
    ONE broadcast row and scoring is a map-side transform over the
    corpus — no shuffle touches the vectors, same discipline as
    assign_to_centroids."""
    vecs = _vecs(spark, sf_dir)
    comp = vecs.select("label", F.posexplode("v").alias("pos", "x"))
    cent = (
        comp.groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy(F.col("label").alias("clabel"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
    )
    seeds = cent.select(
        F.struct(
            F.col("clabel"), F.col("cv"), l2_norm(F.col("cv")).alias("cn")
        ).alias("s")
    ).agg(F.array_sort(F.collect_list("s")).alias("seeds"))
    scored = F.transform(
        F.col("seeds"),
        lambda s: F.struct(
            s["clabel"].alias("clabel"),
            cosine(F.col("v"), s["cv"], F.col("vn"), s["cn"]).alias("cos"),
        ),
    )
    own = F.lit(1.0) - F.array_max(
        F.transform(
            F.filter(scored, lambda s: s["clabel"] == F.col("label")),
            lambda s: s["cos"],
        )
    )
    other = F.lit(1.0) - F.array_max(
        F.transform(
            F.filter(scored, lambda s: s["clabel"] != F.col("label")),
            lambda s: s["cos"],
        )
    )
    per = (
        vecs.select("label", "v", l2_norm(F.col("v")).alias("vn"))
        .crossJoin(seeds)
        .select("label", own.alias("da"), other.alias("db"))
    )
    g = F.greatest(F.col("da"), F.col("db"))
    sil = F.when(g > 0, (F.col("db") - F.col("da")) / g).otherwise(0.0)
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            rnd(F.avg(sil), 4).alias("avg_silhouette"),
            rnd(F.avg("da"), 4).alias("avg_intra_dist"),
            rnd(F.avg("db"), 4).alias("avg_nearest_other_dist"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# NN-descent: one graph-refinement round for ANN-graph construction
# ---------------------------------------------------------------------------

_NND_K = 4


@query(
    "q_nn_descent",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
    init AS (
      SELECT DISTINCT a.vec_id AS u,
             (a.vec_id * 48271 + j.j * 1009) % nn.n AS w
      FROM e a, (SELECT unnest([1, 2, 3, 4]) AS j) j, nn
      WHERE (a.vec_id * 48271 + j.j * 1009) % nn.n <> a.vec_id
    ), cand AS (
      SELECT u, w FROM init
      UNION
      SELECT i1.u, i2.w FROM init i1 JOIN init i2 ON i1.w = i2.u
      WHERE i2.w <> i1.u
    ), sims AS (
      SELECT c.u, c.w, {_COS_SQL} AS cos,
             CASE WHEN i.u IS NOT NULL THEN 1 ELSE 0 END AS is_init
      FROM cand c
      JOIN e a ON a.vec_id = c.u
      JOIN e b ON b.vec_id = c.w
      LEFT JOIN init i ON i.u = c.u AND i.w = c.w
    ), best1 AS (
      SELECT u, w, cos,
             row_number() OVER (PARTITION BY u ORDER BY cos DESC, w) AS r
      FROM sims
    ), best0 AS (
      SELECT u, w, cos,
             row_number() OVER (PARTITION BY u ORDER BY cos DESC, w) AS r
      FROM sims WHERE is_init = 1
    )
    SELECT b0.u AS vec_id,
           b0.w AS init_best_id, round(b0.cos, 4) AS init_best_cos,
           b1.w AS round1_best_id, round(b1.cos, 4) AS round1_best_cos
    FROM best0 b0 JOIN best1 b1 ON b0.u = b1.u
    WHERE b0.r = 1 AND b1.r = 1
    ORDER BY vec_id
    """,
)
def q_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-descent refinement round (Dong, Moses & Li, WWW'11) for
    ANN-graph construction — the build primitive behind NSW/HNSW-
    style graph indexes: start from a deterministic pseudo-random
    K=4 graph (hash of vec_id — a real build would carry the prior
    round's graph) and score only NEIGHBORS-OF-NEIGHBORS as
    candidates. The whole round is graph-shaped: the candidate set
    is one self-join of the K-regular edge list (<= n*K^2 pairs),
    scored with one vector join — never the n^2 all-pairs matrix,
    which is what makes graph construction feasible at 10^9 vectors
    (per-round cost O(n*K^2*d), shuffles keyed on vec_id). Output
    pairs each node's best initial neighbor with its best
    after-round neighbor; since the candidate set contains the
    initial edges, round1_best_cos >= init_best_cos holds for every
    node (the NND monotone-improvement invariant, pinned in tests).
    Ranking orders by (cos DESC, w): both engines fold the 64-dim
    dot product in index order, so scores are IEEE-identical and
    ties break on the neighbor id, never on partitioning."""
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    n = vecs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    js = local_df(spark, [(1,), (2,), (3,), (4,)], "j int")
    init = (
        vecs.select("vec_id")
        .crossJoin(js)
        .crossJoin(n)
        .select(
            F.col("vec_id").alias("u"),
            ((F.col("vec_id") * 48271 + F.col("j") * 1009) % F.col("n")).alias("w"),
        )
        .filter(F.col("u") != F.col("w"))
        .distinct()
    ).localCheckpoint()
    hop2 = (
        init.alias("i1")
        .join(init.alias("i2"), F.col("i1.w") == F.col("i2.u"))
        .select(F.col("i1.u").alias("u"), F.col("i2.w").alias("w"))
        .filter(F.col("u") != F.col("w"))
    )
    cand = init.union(hop2).distinct()
    a = vecs.select(
        F.col("vec_id").alias("u"), F.col("v").alias("av"),
        l2_norm(F.col("v")).alias("an"),
    )
    b = vecs.select(
        F.col("vec_id").alias("w"), F.col("v").alias("bv"),
        l2_norm(F.col("v")).alias("bn"),
    )
    init_flag = init.withColumn("is_init", F.lit(1))
    sims = (
        cand.join(a, "u")
        .join(b, "w")
        .withColumn("cos", cosine(F.col("av"), F.col("bv"), F.col("an"), F.col("bn")))
        .join(init_flag, ["u", "w"], "left")
        .select("u", "w", "cos", F.coalesce("is_init", F.lit(0)).alias("is_init"))
    )
    w1 = Window.partitionBy("u").orderBy(F.col("cos").desc(), F.col("w"))
    best1 = (
        sims.withColumn("r", F.row_number().over(w1))
        .filter(F.col("r") == 1)
        .select(
            F.col("u"),
            F.col("w").alias("round1_best_id"),
            rnd(F.col("cos"), 4).alias("round1_best_cos"),
        )
    )
    best0 = (
        sims.filter(F.col("is_init") == 1)
        .withColumn("r", F.row_number().over(w1))
        .filter(F.col("r") == 1)
        .select(
            F.col("u").alias("vec_id"),
            F.col("w").alias("init_best_id"),
            rnd(F.col("cos"), 4).alias("init_best_cos"),
        )
    )
    return (
        best0.join(best1, best0["vec_id"] == best1["u"])
        .select(
            "vec_id",
            "init_best_id",
            "init_best_cos",
            "round1_best_id",
            "round1_best_cos",
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Late-interaction (multi-vector) retrieval and training-data valuation —
# r13 additions. Both derive deterministic per-token vectors from the
# fixture's single embedding column (cyclic rotations), so the multi-vector
# plumbing is real while the fixture stays the driver's parquet.
# --------------------------------------------------------------------------

_ROT_SQL = "[v[1 + ((i - 1 + t) % len(v))] for i in range(1, len(v) + 1)]"


@query(
    "q_colbert_maxsim",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dt AS (
      SELECT vec_id AS doc_id, t, {_ROT_SQL} AS tv
      FROM e CROSS JOIN (VALUES (0), (1), (2)) toks(t)
    ),
    qt AS (SELECT doc_id AS query_id, t AS qtok, tv AS qv
           FROM dt WHERE doc_id < 4),
    pairs AS (
      SELECT q.query_id, q.qtok, d.doc_id,
             list_sum([q.qv[i] * d.tv[i]
                       for i in range(1, len(q.qv) + 1)]) /
             (sqrt(list_sum([x * x for x in q.qv])) *
              sqrt(list_sum([x * x for x in d.tv]))) AS cos
      FROM qt q JOIN dt d ON q.query_id <> d.doc_id
    ),
    mx AS (SELECT query_id, qtok, doc_id, max(cos) AS m
           FROM pairs GROUP BY 1, 2, 3),
    sc AS (SELECT query_id, doc_id, sum(m) AS s FROM mx GROUP BY 1, 2)
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(s, 9) DESC, doc_id) AS rank,
           round(s / 3, 4) AS maxsim
    FROM sc QUALIFY rank <= 5
    """,
)
def q_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    SIGIR 2020): every document and query is a BAG of token vectors;
    score(q, d) = sum over query tokens of the max cosine against any
    document token (MaxSim), here mean-normalized by the token count.
    Token vectors are deterministic cyclic rotations of the fixture
    embedding (t = 0..2), computed identically in both engines, so the
    multi-vector schema/join/reduce plumbing is exercised for real.

    Scale: the document-token table is the corpus side and stays
    partitioned (3x row inflation, map-side transform — no shuffle to
    build it); the query-token panel is broadcast. The MaxSim reduce
    is two partial-agg shuffles on (query, qtok, doc) then (query,
    doc) — both reduce BEFORE the shuffle (partial max/sum), so bytes
    shuffled are bounded by |Q| x |corpus|, never |Q| x |doc tokens|.
    Top-5 per query goes through WindowGroupLimit (rank <= k pushes
    the limit map-side). At 100 TB with a real tokenizer the same
    plan holds — the token explosion is the scan, not a join."""
    vecs = _vecs(spark, sf_dir).select("vec_id", "v")
    toks = vecs.select(
        "vec_id",
        "v",
        F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("t"),
    ).withColumn(
        "tv",
        F.expr(
            "transform(sequence(1, size(v)), "
            "i -> element_at(v, ((i - 1 + t) % size(v)) + 1))"
        ),
    ).withColumn("tn", l2_norm(F.col("tv")))
    dt = toks.select(F.col("vec_id").alias("doc_id"), "tv", "tn")
    qt = toks.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("t").alias("qtok"),
        F.col("tv").alias("qv"),
        F.col("tn").alias("qn"),
    )
    pairs = dt.join(
        F.broadcast(qt), F.col("query_id") != F.col("doc_id")
    ).withColumn("cos", cosine(F.col("qv"), F.col("tv"), F.col("qn"), F.col("tn")))
    mx = pairs.groupBy("query_id", "qtok", "doc_id").agg(
        F.max("cos").alias("m")
    )
    sc = mx.groupBy("query_id", "doc_id").agg(F.sum("m").alias("s"))
    # Rank on the ROUNDED score (9 dp, both engines): the two engines
    # sum the per-token maxima in different float orders, and a sub-ulp
    # difference on a near-tie would flip row_number. Rounding collapses
    # anything within the cross-engine drift band (~1e-12) to equal,
    # where the doc_id tiebreak is deterministic — the milli-integer
    # lesson from q_unigram_lm_viterbi applied to float ranking.
    w = Window.partitionBy("query_id").orderBy(
        rnd(F.col("s"), 9).desc(), "doc_id"
    )
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "doc_id",
            "rank",
            rnd(F.col("s") / 3, 4).alias("maxsim"),
        )
    )


@query(
    "q_knn_shapley",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS test_id, v AS tv, label AS ty
          FROM e WHERE vec_id < 4),
    tr AS (SELECT vec_id AS train_id, v, label
           FROM e WHERE vec_id >= 4),
    d AS (
      SELECT q.test_id, tr.train_id,
             CASE WHEN tr.label = q.ty THEN 1.0 ELSE 0.0 END AS ind,
             list_sum([(q.tv[i] - tr.v[i]) * (q.tv[i] - tr.v[i])
                       for i in range(1, len(q.tv) + 1)]) AS dist
      FROM q CROSS JOIN tr
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY test_id
                                ORDER BY dist, train_id) AS j,
             count(*) OVER (PARTITION BY test_id) AS n,
             lead(ind) OVER (PARTITION BY test_id
                             ORDER BY dist, train_id) AS ind_next
      FROM d
    ),
    dd AS (
      SELECT *,
             CASE WHEN j = n THEN ind / n
                  ELSE (ind - ind_next) / 5.0 * least(5, j) / j
             END AS dj
      FROM r
    ),
    s AS (
      SELECT *, sum(dj) OVER (PARTITION BY test_id
                              ORDER BY j DESC) AS shap_raw
      FROM dd
    )
    SELECT test_id, train_id, j AS dist_rank,
           CAST(ind AS BIGINT) AS label_match,
           row_number() OVER (PARTITION BY test_id
                              ORDER BY round(shap_raw, 9) DESC, train_id)
             AS rank_s,
           round(shap_raw, 6) AS shapley
    FROM s QUALIFY rank_s <= 10
    """,
)
def q_knn_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-example Shapley values for a K-NN classifier (Jia et
    al., VLDB 2019, "Efficient Task-Specific Data Valuation for
    Nearest Neighbor Algorithms"): for one test point, sort the train
    set by distance ascending; the farthest point gets 1[y=y_t]/N and
    each closer point adds (1[y_j=y_t] - 1[y_{j+1}=y_t])/K *
    min(K,j)/j — a REVERSE cumulative sum over the distance ranking.
    This is the published exact algorithm (O(N log N) per test point,
    no Monte Carlo), the standard data-valuation pass for curation:
    the top-10 most valuable train examples per test probe.

    Scale: distances are map-side (broadcast test panel vs the
    partitioned corpus). The per-test ranking and both cumulative
    passes use the two-phase grouped global_running_sums — NEVER
    Window.partitionBy(test_id) over the corpus, which is the
    bounded-enum single-task trap (4 tasks total at any corpus size).
    The successor indicator comes from an equi-join on (test_id,
    rank+1), a plain shuffle join. Suffix sums are recovered as
    group_total - prefix + own, so no descending second sort pass is
    needed. K = 5, squared-L2 distances (monotone to L2)."""
    from sparrow_spark.operators.dedup import global_running_sums

    vecs = _vecs(spark, sf_dir)
    tests = vecs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("test_id"),
        F.col("v").alias("tv"),
        F.col("label").alias("ty"),
    )
    train = vecs.filter(F.col("vec_id") >= 4).select(
        F.col("vec_id").alias("train_id"), "v", "label"
    )
    sq = F.zip_with("tv", "v", lambda x, y: (x - y) * (x - y))
    d = (
        train.join(tests, F.col("test_id") != F.col("train_id"))
        .withColumn("ind", (F.col("label") == F.col("ty")).cast("double"))
        .withColumn(
            "dist", F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)
        )
        .select("test_id", "train_id", "ind", "dist")
        .withColumn("one", F.lit(1).cast("bigint"))
    )
    ranked = global_running_sums(
        d, key_cols=["dist", "train_id"], value_cols=["one"],
        reset_cols=["test_id"],
    ).withColumnRenamed("cum_one", "j")
    n = ranked.groupBy("test_id").agg(F.count(F.lit(1)).alias("n"))
    succ = ranked.select(
        F.col("test_id").alias("s_test_id"),
        (F.col("j") - 1).alias("j_prev"),
        F.col("ind").alias("ind_next"),
    )
    dd = (
        ranked.join(F.broadcast(n), "test_id")
        .join(
            succ,
            (F.col("test_id") == F.col("s_test_id"))
            & (F.col("j") == F.col("j_prev")),
            "left",
        )
        .withColumn(
            "dj",
            F.when(F.col("j") == F.col("n"), F.col("ind") / F.col("n"))
            .otherwise(
                (F.col("ind") - F.col("ind_next"))
                / F.lit(5.0)
                * F.least(F.lit(5), F.col("j"))
                / F.col("j")
            ),
        )
        .select("test_id", "train_id", "j", "ind", "dj")
    )
    cum = global_running_sums(
        dd, key_cols=["j"], value_cols=["dj"], reset_cols=["test_id"]
    )
    tot = cum.groupBy("test_id").agg(F.sum("dj").alias("tot"))
    s = cum.join(F.broadcast(tot), "test_id").withColumn(
        "shap_raw", F.col("tot") - F.col("cum_dj") + F.col("dj")
    )
    # Ranked on the rounded score (9 dp, mirrored in the oracle's
    # ORDER BY round(shap_raw, 9)): the suffix sum here is computed as
    # tot - prefix + own while DuckDB sums dj in descending-j order —
    # different float summation orders whose sub-ulp drift on
    # near-tied train points would otherwise flip rank_s.
    w = Window.partitionBy("test_id").orderBy(
        rnd("shap_raw", 9).desc(), "train_id"
    )
    return (
        s.withColumn("rank_s", F.row_number().over(w))
        .filter(F.col("rank_s") <= 10)
        .select(
            "test_id",
            "train_id",
            F.col("j").alias("dist_rank"),
            F.col("ind").cast("bigint").alias("label_match"),
            "rank_s",
            rnd("shap_raw", 6).alias("shapley"),
        )
    )


@query(
    "q_multiprobe_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket
          FROM b WHERE vec_id < 20),
    probes AS (
      SELECT query_id, qv,
             unnest([
        struct_pack(probe := 0, pb := bucket),
        struct_pack(probe := 1,
          pb := substr(bucket, 1, 0) ||
                (CASE WHEN substr(bucket, 1, 1) = '1'
                      THEN '0' ELSE '1' END) ||
                substr(bucket, 2)),
        struct_pack(probe := 2,
          pb := substr(bucket, 1, 1) ||
                (CASE WHEN substr(bucket, 2, 1) = '1'
                      THEN '0' ELSE '1' END) ||
                substr(bucket, 3)),
        struct_pack(probe := 3,
          pb := substr(bucket, 1, 2) ||
                (CASE WHEN substr(bucket, 3, 1) = '1'
                      THEN '0' ELSE '1' END) ||
                substr(bucket, 4)),
        struct_pack(probe := 4,
          pb := substr(bucket, 1, 3) ||
                (CASE WHEN substr(bucket, 4, 1) = '1'
                      THEN '0' ELSE '1' END) ||
                substr(bucket, 5)),
        struct_pack(probe := 5,
          pb := substr(bucket, 1, 4) ||
                (CASE WHEN substr(bucket, 5, 1) = '1'
                      THEN '0' ELSE '1' END) ||
                substr(bucket, 6)),
        struct_pack(probe := 6,
          pb := substr(bucket, 1, 5) ||
                (CASE WHEN substr(bucket, 6, 1) = '1'
                      THEN '0' ELSE '1' END) ||
                substr(bucket, 7)),
        struct_pack(probe := 7,
          pb := substr(bucket, 1, 6) ||
                (CASE WHEN substr(bucket, 7, 1) = '1'
                      THEN '0' ELSE '1' END) ||
                substr(bucket, 8)),
        struct_pack(probe := 8,
          pb := substr(bucket, 1, 7) ||
                (CASE WHEN substr(bucket, 8, 1) = '1'
                      THEN '0' ELSE '1' END) ||
                substr(bucket, 9))
      ], recursive := true)
      FROM q
    ), probes2 AS (
      SELECT query_id, qv, probe, pb AS pbucket FROM probes
    ),
    cand AS (
      SELECT DISTINCT p.query_id, p.qv, c.vec_id AS neighbor_id, c.v AS cv,
             min(p.probe) OVER (PARTITION BY p.query_id, c.vec_id)
               AS best_probe
      FROM probes2 p JOIN b c
        ON c.bucket = p.pbucket AND c.vec_id <> p.query_id
    ),
    truth AS (
      SELECT a.vec_id AS query_id, b2.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_COS_SQL.replace('b.v', 'b2.v')} DESC, b2.vec_id)
               AS trank
      FROM b a JOIN b b2 ON a.vec_id <> b2.vec_id
      WHERE a.vec_id < 20
      QUALIFY trank <= 3
    )
    SELECT q.query_id, q.bucket,
           CAST(count(c.neighbor_id) FILTER (c.best_probe = 0) AS BIGINT)
             AS n_sp_candidates,
           CAST(count(c.neighbor_id) AS BIGINT) AS n_mp_candidates,
           CAST(count(t.neighbor_id)
                  FILTER (t.neighbor_id IS NOT NULL AND c.best_probe = 0)
                AS BIGINT) AS hits_sp,
           CAST(count(t.neighbor_id) AS BIGINT) AS hits_mp,
           round(count(t.neighbor_id)
                   FILTER (t.neighbor_id IS NOT NULL AND c.best_probe = 0)
                 / 3.0, 4) AS recall_sp,
           round(count(t.neighbor_id) / 3.0, 4) AS recall_mp
    FROM q
    LEFT JOIN cand c ON c.query_id = q.query_id
    LEFT JOIN truth t ON t.query_id = c.query_id
                     AND t.neighbor_id = c.neighbor_id
    GROUP BY q.query_id, q.bucket
    ORDER BY q.query_id
    """,
)
def q_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv, Josephson, Wang, Charikar & Li, VLDB
    2007): instead of paying recall for a small hash budget, each
    query probes its home bucket PLUS the 8 buckets at Hamming
    distance 1 in signature space — the perturbation sequence that
    recovers most of the recall lost by single-probe LSH at the same
    table count. The audit reports, per query, the candidate-set
    sizes and the recall@3 against the exact top-3 for both probing
    strategies, so the recall/candidate-cost trade is measured on the
    corpus itself (single-probe recall is strictly a lower bound of
    multi-probe by construction).

    Scale: the probe fan-out is 9 broadcast-side rows per query —
    the corpus side still sees ONE equi-join on the bucket key; the
    exact-truth panel is the same broadcast query-panel x partitioned
    corpus shape as q_similarity_topk, here bounded to the 20-query
    audit sample (at production scale truth comes from a held-out
    labeled set, not a corpus scan)."""
    vecs = _vecs(spark, sf_dir)
    b = vecs.select(
        "vec_id", "v", hyperplane_bucket(F.col("v")).alias("bucket")
    )
    q = b.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    flips = [
        F.struct(
            F.lit(j + 1).alias("probe"),
            F.concat(
                F.substring("bucket", 1, j),
                F.when(
                    F.substring("bucket", j + 1, 1) == "1", "0"
                ).otherwise("1"),
                F.substring("bucket", j + 2, N_HYPERPLANES - j - 1),
            ).alias("pb"),
        )
        for j in range(N_HYPERPLANES)
    ]
    probes = q.select(
        "query_id",
        "qv",
        "bucket",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("probe"), F.col("bucket").alias("pb")
                ),
                *flips,
            )
        ).alias("p"),
    ).select("query_id", "qv", "bucket", "p.probe", F.col("p.pb").alias("pbucket"))
    c = b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("bucket").alias("cbucket"),
    )
    cand = (
        c.join(
            probes,
            (F.col("cbucket") == F.col("pbucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("probe").alias("best_probe"))
    )
    truth = brute_force_topk(
        vecs.filter(F.col("vec_id") < 20), vecs, k=3
    ).select("query_id", "neighbor_id", F.lit(1).alias("is_true"))
    scored = cand.join(F.broadcast(truth), ["query_id", "neighbor_id"], "left")
    return (
        q.select("query_id", "bucket")
        .join(F.broadcast(scored), "query_id", "left")
        .groupBy("query_id", "bucket")
        .agg(
            F.count(
                F.when(F.col("best_probe") == 0, F.lit(1))
            ).cast("bigint").alias("n_sp_candidates"),
            F.count("neighbor_id").cast("bigint").alias("n_mp_candidates"),
            F.count(
                F.when(
                    (F.col("best_probe") == 0) & F.col("is_true").isNotNull(),
                    F.lit(1),
                )
            ).cast("bigint").alias("hits_sp"),
            F.count(F.col("is_true")).cast("bigint").alias("hits_mp"),
            rnd(
                F.count(
                    F.when(
                        (F.col("best_probe") == 0)
                        & F.col("is_true").isNotNull(),
                        F.lit(1),
                    )
                )
                / F.lit(3.0),
                4,
            ).alias("recall_sp"),
            rnd(F.count(F.col("is_true")) / F.lit(3.0), 4).alias("recall_mp"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# Rank-Biased Overlap between the exact and the IVF ranking (r15,
# Webber, Moffat & Zobel 2010, "A Similarity Measure for Indefinite
# Rankings"). Recall@k (q_ann_recall) treats the top-k as a SET; RBO
# weights agreement by depth with persistence p, so an ANN index that
# nails rank 1 but scrambles rank 4-5 scores higher than one that
# inverts the head — the metric retrieval teams actually tune on.
# Truncated form: RBO@k = (1-p) * sum_{d=1..k} p^(d-1) * |E_d ∩ A_d|/d
# (max 0.67232 at p=0.8, k=5 — no extrapolation term, so both engines
# compute the identical finite sum). Each joined neighbor contributes
# W(m) = sum_{d=m..k} p^(d-1)/d with m = max(exact_rank, approx_rank);
# the five W values are precomputed literals identical in both engines.
# --------------------------------------------------------------------------
_RBO_P = 0.8
_RBO_K = 5
_RBO_W = {
    1: "1.8232533333333334",
    2: "0.8232533333333334",
    3: "0.42325333333333337",
    4: "0.20992000000000005",
    5: "0.08192000000000002",
}
_RBO_W_SQL = (
    "CASE greatest(e_rank, a_rank) "
    + " ".join(f"WHEN {m} THEN {w}" for m, w in _RBO_W.items())
    + " END"
)


@query(
    "q_rbo_ranking_overlap",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    exact_sims AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_COS_SQL} DESC, b.vec_id)
                 AS e_rank
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
    ), exact_k AS (
      SELECT query_id, neighbor_id, e_rank FROM exact_sims
      WHERE e_rank <= {_RBO_K}
    ), ivf_sims AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_COS_SQL} DESC, b.vec_id)
                 AS a_rank
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
    ), ivf_k AS (
      SELECT query_id, neighbor_id, a_rank FROM ivf_sims
      WHERE a_rank <= {_RBO_K}
    ), joined AS (
      SELECT x.query_id, {_RBO_W_SQL} AS w
      FROM exact_k x JOIN ivf_k y
        ON x.query_id = y.query_id AND x.neighbor_id = y.neighbor_id
    ), per_q AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_common,
             sum(w) AS sw
      FROM joined GROUP BY query_id
    )
    SELECT q.vec_id AS query_id,
           coalesce(p.n_common, 0) AS n_common,
           round((1 - {_RBO_P}) * coalesce(p.sw, 0.0), 4) AS rbo
    FROM (SELECT vec_id FROM e WHERE vec_id < 20) q
    LEFT JOIN per_q p ON p.query_id = q.vec_id
    ORDER BY query_id
    """,
)
def q_rbo_ranking_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated RBO@{_RBO_K} (p={_RBO_P}) between the exact cosine
    top-k and the IVF (label-blocked) top-k for the 20-query panel.

    Scale: both rankings reuse the house ANN shapes — the exact side
    broadcasts the 20-row query panel against the partitioned corpus
    (one pass, per-query window over broadcast-join output), the IVF
    side probes only the query's cluster via the label equi-join. The
    RBO fold itself touches only the two k-row-per-query top-k lists:
    an equi-join on (query_id, neighbor_id) sized 20*k rows, a 5-way
    CASE lookup of precomputed depth weights, and a per-query sum —
    corpus size never enters after the rankings exist."""
    vecs = _vecs(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < 20)
    exact_k = brute_force_topk(queries, vecs, k=_RBO_K).select(
        "query_id", "neighbor_id", F.col("rank").alias("e_rank")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        l2_norm(F.col("v")).alias("qn"),
        "label",
    )
    c = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        l2_norm(F.col("v")).alias("cn"),
        F.col("label").alias("clabel"),
    )
    w_q = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    ivf_k = (
        c.join(
            q,
            (q.label == c.clabel) & (q.query_id != c.neighbor_id),
        )
        .withColumn("cos", cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")))
        .withColumn("a_rank", F.row_number().over(w_q))
        .filter(F.col("a_rank") <= _RBO_K)
        .select("query_id", "neighbor_id", "a_rank")
    )
    # The SAME string the oracle interpolates — one construction, so
    # query and oracle cannot silently desynchronize.
    weight = F.expr(_RBO_W_SQL)
    per_q = (
        exact_k.join(ivf_k, ["query_id", "neighbor_id"])
        .select("query_id", weight.alias("w"))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("w").alias("sw"),
        )
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_common", F.lit(0).cast("bigint")).alias(
                "n_common"
            ),
            rnd(
                (1 - _RBO_P) * F.coalesce("sw", F.lit(0.0)), 4
            ).alias("rbo"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# Geometric median via Weiszfeld (r15). The mean embedding that
# q_kmeans_assign/q_silhouette_centroid build is the L2-optimal
# centroid but has breakdown point 0 — one poisoned or corrupted
# vector drags it arbitrarily far. The geometric median (the
# L1-in-distance minimizer) has breakdown point 1/2 and is the
# standard robust aggregator (Weiszfeld 1937; Cohen et al., STOC
# 2016 for the modern treatment; Blanchard et al., NeurIPS 2017 use
# it against poisoned gradient/embedding aggregation). Three fixed
# Weiszfeld iterations from the mean, the q_rank_centrality unrolled-
# power-iteration discipline.
# --------------------------------------------------------------------------
_GM_EPS = "1e-9"


def _gm_oracle_sql() -> str:
    dist = (
        "SELECT e.label, e.vec_id, "
        "greatest(sqrt(sum(pow(e.x - {m}.m, 2))), {eps}) AS d "
        "FROM e JOIN {m} ON e.label = {m}.label AND e.dim = {m}.dim "
        "GROUP BY e.label, e.vec_id"
    )
    step = (
        "SELECT e.label, e.dim, "
        "sum(e.x / {d}.d) / sum(1.0 / {d}.d) AS m "
        "FROM e JOIN {d} ON e.label = {d}.label "
        "AND e.vec_id = {d}.vec_id GROUP BY e.label, e.dim"
    )
    eps = _GM_EPS
    return f"""
    WITH e AS (
      SELECT label, vec_id,
             CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ), m0 AS (
      SELECT label, dim, avg(x) AS m FROM e GROUP BY label, dim
    ),
    d1 AS ({dist.format(m='m0', eps=eps)}),
    m1 AS ({step.format(d='d1')}),
    d2 AS ({dist.format(m='m1', eps=eps)}),
    m2 AS ({step.format(d='d2')}),
    d3 AS ({dist.format(m='m2', eps=eps)}),
    m3 AS ({step.format(d='d3')}),
    d4 AS ({dist.format(m='m3', eps=eps)}),
    nv AS (
      SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs
      FROM e GROUP BY label
    ),
    norms AS (
      SELECT m3.label,
             sqrt(sum(pow(m3.m, 2))) AS gm_norm,
             sqrt(sum(pow(m3.m - m0.m, 2))) AS median_shift
      FROM m3 JOIN m0 ON m3.label = m0.label AND m3.dim = m0.dim
      GROUP BY m3.label
    ),
    dists AS (
      SELECT d4.label, avg(d4.d) AS mean_dist_gm,
             avg(d1.d) AS mean_dist_centroid
      FROM d4 JOIN d1 ON d4.label = d1.label AND d4.vec_id = d1.vec_id
      GROUP BY d4.label
    )
    SELECT nv.label, nv.n_vecs,
           round(norms.gm_norm, 6) AS gm_norm,
           round(norms.median_shift, 6) AS median_shift,
           round(dists.mean_dist_gm, 6) AS mean_dist_gm,
           round(dists.mean_dist_centroid, 6) AS mean_dist_centroid
    FROM nv JOIN norms ON nv.label = norms.label
    JOIN dists ON nv.label = dists.label
    ORDER BY nv.label
    """


@query("q_geometric_median", oracle=_gm_oracle_sql())
def q_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label geometric median of the embedding cloud by three
    fixed Weiszfeld iterations seeded at the component-wise mean
    (m' = sum(x_i/d_i) / sum(1/d_i), d_i clamped at 1e-9), reporting
    the median's norm, how far it moved off the mean (a large shift
    = heavy-tailed or contaminated cluster), and the mean point
    distance to the median vs to the mean — the robust-aggregation
    audit run before trusting per-label centroids built from
    untrusted data.

    Scale: the candidate median lives as ONE array row per label
    (|labels| x 1, broadcast), so each Weiszfeld round is a
    broadcast join onto the pinned corpus + a map-side zip_with
    distance (no corpus-keyed shuffle join at all) followed by one
    (label, dim) keyed agg with map-side combine — the posexplode
    happens AFTER the per-row distance is attached, so the only
    shuffle per round is the |labels| x 64 partial-aggregate, not a
    corpus x 64 join (the first cut of this operator sort-merge
    joined the exploded table against per-point distances every
    round; this shape moves 64x less data and zero corpus rows)."""
    vecs = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "label",
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    eps = float(_GM_EPS)

    def to_arr(m: DataFrame, out: str) -> DataFrame:
        # (label, dim, m) -> one array row per label, dim-ordered
        return m.groupBy("label").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias(out)
        )

    def dist_col(marr: str) -> Column:
        diff = F.zip_with(
            F.col("v"), F.col(marr), lambda x, y: (x - y) * (x - y)
        )
        return F.greatest(
            F.sqrt(F.aggregate(diff, F.lit(0.0), lambda a, x: a + x)),
            F.lit(eps),
        )

    def weiszfeld_step(marr_df: DataFrame) -> DataFrame:
        # broadcast the |labels|-row median table, distance map-side,
        # THEN explode — the shuffle is only the (label, dim) partials
        j = vecs.join(F.broadcast(marr_df), "label").withColumn(
            "d", dist_col("m_arr")
        )
        return (
            j.select(
                "label", "d", F.posexplode("v").alias("dim0", "x")
            )
            .select("label", "d", (F.col("dim0") + 1).alias("dim"), "x")
            .groupBy("label", "dim")
            .agg(
                (
                    F.sum(F.col("x") / F.col("d"))
                    / F.sum(F.lit(1.0) / F.col("d"))
                ).alias("m")
            )
        )

    m0 = (
        vecs.select(
            "label", F.posexplode("v").alias("dim0", "x")
        )
        .select("label", (F.col("dim0") + 1).alias("dim"), "x")
        .groupBy("label", "dim")
        .agg(F.avg("x").alias("m"))
    )
    m0_arr = to_arr(m0, "m_arr").localCheckpoint(eager=True)
    m1_arr = to_arr(weiszfeld_step(m0_arr), "m_arr")
    m2_arr = to_arr(weiszfeld_step(m1_arr), "m_arr")
    m3_arr = to_arr(weiszfeld_step(m2_arr), "m_arr").localCheckpoint(
        eager=True
    )
    both = m3_arr.join(
        m0_arr.select("label", F.col("m_arr").alias("c_arr")),
        "label",
    ).localCheckpoint(eager=True)
    # final pass: per-point distances to the median AND the mean,
    # both map-side off one broadcast join
    stats = (
        vecs.join(F.broadcast(both), "label")
        .select(
            "label",
            F.col("m_arr").alias("m_arr"),
            dist_col("m_arr").alias("d_gm"),
            F.zip_with(
                F.col("v"), F.col("c_arr"), lambda x, y: (x - y) * (x - y)
            ).alias("cdiff"),
        )
        .withColumn(
            "d_c",
            F.greatest(
                F.sqrt(
                    F.aggregate(
                        F.col("cdiff"), F.lit(0.0), lambda a, x: a + x
                    )
                ),
                F.lit(eps),
            ),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.avg("d_gm").alias("mean_dist_gm"),
            F.avg("d_c").alias("mean_dist_centroid"),
        )
    )
    norms = both.select(
        "label",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("m_arr"), lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("gm_norm"),
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("m_arr"),
                    F.col("c_arr"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("median_shift"),
    )
    return (
        stats.join(F.broadcast(norms), "label")
        .select(
            "label",
            "n_vecs",
            rnd("gm_norm", 6).alias("gm_norm"),
            rnd("median_shift", 6).alias("median_shift"),
            rnd("mean_dist_gm", 6).alias("mean_dist_gm"),
            rnd("mean_dist_centroid", 6).alias("mean_dist_centroid"),
        )
        .orderBy("label")
    )


_RERANK_QUERIES = [1, 2, 3]  # query vec_ids, the retrieval-ladder pins
_RERANK_K1 = 20  # stage-1 candidates per query
_RERANK_K2 = 5   # final results per query

_L1_SQL = """
  list_sum([abs(a.v[i] - b.v[i]) for i in range(1, len(a.v) + 1)])
    / len(a.v)
"""


def _rerank_oracle() -> str:
    qids = ", ".join(str(q) for q in _RERANK_QUERIES)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    stage1 AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_COS_SQL} AS cos, {_L1_SQL} AS l1,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_COS_SQL} DESC, b.vec_id)
               AS rank_initial
      FROM e a JOIN e b ON b.vec_id <> a.vec_id
      WHERE a.vec_id IN ({qids})
      QUALIFY rank_initial <= {_RERANK_K1}
    )
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos + 0.25 * exp(-l1) DESC,
                                       neighbor_id) AS rank_ce,
           round(cos + 0.25 * exp(-l1), 6) AS ce_score,
           CAST(rank_initial AS BIGINT) AS rank_initial,
           round(cos, 6) AS cos
    FROM stage1
    QUALIFY rank_ce <= {_RERANK_K2}
    """


@query("q_rerank_interaction_topk", oracle=_rerank_oracle())
def q_rerank_interaction_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank, the ladder stage after q_hybrid_rrf: a
    cheap stage-1 retriever takes top-{_RERANK_K1} per query by
    cosine, then an expensive-per-pair stage-2 scorer re-ranks ONLY
    those candidates and keeps top-{_RERANK_K2}. The stage-2 score
    cos + 0.25 * exp(-L1mean) is a deterministic stand-in for a
    cross-encoder: unlike the bi-encoder cosine it is a nonlinear
    interaction of the raw vector PAIR (mean absolute elementwise
    difference), not a function of two independently-compressed
    scores — the real thing would be a model forward pass per pair,
    which is exactly why it must only ever see k candidates.

    Scale: the economics of reranking are the plan: stage 1 is a
    broadcast of |Q| query vectors against the corpus with a per-query
    top-k window (WindowGroupLimit prunes before shuffle); stage 2
    touches |Q| x {_RERANK_K1} rows total, so its per-pair cost is
    corpus-independent. Swap stage 1 for q_similarity_ivf's probe at
    100 TB; stage 2 is unchanged — that independence is the point."""
    vecs = _vecs(spark, sf_dir).select("vec_id", "v", l2_norm(F.col("v")).alias("vn"))
    q = vecs.filter(F.col("vec_id").isin(_RERANK_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
    )
    l1 = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.size("v")
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    stage1 = (
        vecs.join(
            q, F.col("query_id") != F.col("vec_id")
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v"), F.col("qn"), F.col("vn")).alias("cos"),
            l1.alias("l1"),
        )
        .withColumn("rank_initial", F.row_number().over(w1))
        .filter(F.col("rank_initial") <= _RERANK_K1)
    )
    ce = F.col("cos") + 0.25 * F.exp(-F.col("l1"))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("ce_score_raw").desc(), F.col("neighbor_id")
    )
    return (
        stage1.withColumn("ce_score_raw", ce)
        .withColumn("rank_ce", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank_ce") <= _RERANK_K2)
        .select(
            "query_id",
            "neighbor_id",
            "rank_ce",
            rnd("ce_score_raw", 6).alias("ce_score"),
            F.col("rank_initial").cast("bigint").alias("rank_initial"),
            rnd("cos", 6).alias("cos"),
        )
    )


_LOF_K = 5
_LOF_FLAG = 1.5
_COSD_SQL = """
  (1.0 - list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) /
   (sqrt(list_sum([x * x for x in a.v])) * sqrt(list_sum([x * x for x in b.v]))))
"""


def _lof_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    dists AS (
      SELECT a.vec_id AS src, b.vec_id AS dst, a.label,
             {_COSD_SQL} AS d
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    ), knn AS (
      SELECT src, dst, label, d,
             row_number() OVER (PARTITION BY src ORDER BY d, dst) AS rk
      FROM dists
      QUALIFY rk <= {_LOF_K}
    ), kdist AS (
      SELECT src, max(d) AS kd FROM knn GROUP BY src
    ), reach AS (
      SELECT k.src, k.dst, k.label,
             greatest(k.d, kb.kd, 1e-12) AS rd
      FROM knn k JOIN kdist kb ON kb.src = k.dst
    ), lrd AS (
      SELECT src, label, count(*) / sum(rd) AS lrd FROM reach
      GROUP BY src, label
    )
    SELECT k.src AS vec_id, CAST(l.label AS INT) AS label,
           round(kd.kd, 6) AS k_distance,
           round(l.lrd, 6) AS lrd,
           round(avg(ln.lrd) / l.lrd, 6) AS lof,
           avg(ln.lrd) / l.lrd >= {_LOF_FLAG} AS is_outlier
    FROM knn k
    JOIN lrd l ON l.src = k.src
    JOIN lrd ln ON ln.src = k.dst
    JOIN kdist kd ON kd.src = k.src
    GROUP BY k.src, l.label, l.lrd, kd.kd
    """


@query("q_lof_outliers", oracle=_lof_oracle())
def q_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (Breunig et al., SIGMOD 2000) over the
    embedding cloud, blocked by coarse cluster label — the
    MULTIVARIATE density outlier detector the curation pipeline's
    univariate trio (q_zscore/q_mad/q_esd_outliers) cannot replace:
    a point can be unremarkable on every axis yet sit in a density
    valley of the embedding space (mislabeled / off-distribution
    samples before training). lof ~ 1 means the point's local density
    matches its {_LOF_K} neighbors'; lof >= {_LOF_FLAG} flags it.
    Cosine distance (1 - cos), reachability distance
    max(d(a,b), kdist(b)) clamped at 1e-12 identically in both
    engines so duplicate-heavy neighborhoods cannot divide by zero.

    Scale: the distance join is equi-keyed on the cluster label (the
    q_mutual_knn IVF-blocking discipline — cost sum over clusters of
    |c|^2, never n^2, and at 100 TB the label comes from the stored
    IVF assignment q_kmeans_assign maintains); everything after the
    per-src top-k window (WindowGroupLimit, map-side) is n x k
    bounded: kdist one keyed agg, reachability one join against the
    neighbor's kdist, lrd one keyed agg, and the final LOF a join of
    the n-row lrd table onto the n x k neighbor list."""
    vecs = _vecs(spark, sf_dir)
    a = vecs.select(
        "label",
        F.col("vec_id").alias("src"),
        F.col("v").alias("av"),
        l2_norm(F.col("v")).alias("an"),
    )
    b = vecs.select(
        F.col("label").alias("b_label"),
        F.col("vec_id").alias("dst"),
        F.col("v").alias("bv"),
        l2_norm(F.col("v")).alias("bn"),
    )
    dists = a.join(
        b, (a.label == b.b_label) & (F.col("src") != F.col("dst"))
    ).select(
        "src", "dst", "label",
        (
            F.lit(1.0)
            - cosine(F.col("av"), F.col("bv"), F.col("an"), F.col("bn"))
        ).alias("d"),
    )
    w = Window.partitionBy("src").orderBy("d", "dst")
    knn = (
        dists.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _LOF_K)
        .localCheckpoint(eager=True)
    )
    kdist = knn.groupBy("src").agg(F.max("d").alias("kd"))
    reach = knn.join(
        kdist.select(F.col("src").alias("dst"), F.col("kd").alias("kd_b")),
        "dst",
    ).select(
        "src", "dst", "label",
        F.greatest("d", "kd_b", F.lit(1e-12)).alias("rd"),
    )
    lrd = reach.groupBy("src", "label").agg(
        (F.count(F.lit(1)) / F.sum("rd")).alias("lrd")
    )
    lrd_n = lrd.select(
        F.col("src").alias("dst"), F.col("lrd").alias("lrd_b")
    )
    lof = (
        knn.join(lrd.select("src", "lrd"), "src")
        .join(lrd_n, "dst")
        .join(kdist, "src")
        .groupBy("src", "label", "lrd", "kd")
        .agg((F.avg("lrd_b") / F.first("lrd")).alias("lof_raw"))
    )
    return lof.select(
        F.col("src").alias("vec_id"),
        F.col("label").cast("int").alias("label"),
        rnd("kd", 6).alias("k_distance"),
        rnd("lrd", 6).alias("lrd"),
        rnd("lof_raw", 6).alias("lof"),
        (F.col("lof_raw") >= _LOF_FLAG).alias("is_outlier"),
    )
