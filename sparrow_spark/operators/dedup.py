"""Deduplication operators for training-data pipelines: exact
(hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard. All are
composed from built-in DataFrame ops (explode/groupBy/join/window) —
no Python in the hot path — and every hash is deterministic (md5-based)
so the DuckDB oracle reproduces them bit-for-bit.

Scale design:
- exact dedup: one shuffle on the fingerprint — embarrassingly parallel.
- MinHash LSH: shingles explode ~O(tokens) rows, signatures reduce to
  O(docs x seeds), band buckets equi-join candidates — never the O(n^2)
  pairwise comparison. This is the 100 TB path.
- SimHash: one explode + one groupBy per doc; near-dup search then
  buckets by signature prefix (here: exact-signature groups + a bounded
  pairwise pass within lang groups at test scale).
- n-gram Jaccard: exact verification over LSH candidates (or bounded
  groups) via array_intersect/array_union sizes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparrow_spark.iterate import iterate
from sparrow_spark.operators.text import (
    _text_shingles,
    fingerprint,
    normalize_text,
    tokens,
)
from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table, materialize, widen

N_MINHASHES = 8
BAND_SIZE = 2  # 4 bands of 2 hashes


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Mark exact duplicates by normalized-text fingerprint; keeper is
    the minimum id per group (deterministic)."""
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .withColumn("keeper_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("is_dup", F.col(id_col) != F.col("keeper_id"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    shingle_k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, h0..h{n-1}) — n_hashes independent minhashes per document.

    hash_fn='md5' (default) is deterministic AND engine-portable (the
    DuckDB oracle reproduces it bit-for-bit): each group of four
    minhashes is derived from ONE md5 digest split into four 32-bit hex
    chunks (min over 8-hex-char strings == min over unsigned 32-bit
    values), so 8 minhashes cost 2 md5 calls per shingle instead of 8.
    hash_fn='xxhash64' is the pure-JVM production path at scale — same
    shape, cheaper per shingle, not SQL-oracle-reproducible.

    Scale shape: ONE explode to shingle rows, then n_hashes parallel
    min-aggregates in a single groupBy(id) — one shuffle keyed on the
    doc id with map-side partial aggregation. (A per-(doc,seed) shuffle
    of n_hashes x shingles rows benchmarked ~2x slower at sf0.1.)
    Input is widen()ed first: shingling+hashing is compute-bound and
    must not inherit a single-row-group scan's serial partitioning.
    The token array is materialize()d before shingling: inlined, the
    tokenizing regex re-runs inside every element_at of the shingle
    lambda (measured 8x slower at sf0.1)."""
    toks = materialize(widen(df), w=tokens(F.col(text_col))).filter(
        F.size("w") >= shingle_k
    )
    shingled = toks.select(
        F.col(id_col),
        F.explode(_text_shingles(F.col("w"), shingle_k)).alias("shingle"),
    )
    if hash_fn == "md5":
        digests = [
            F.md5(F.concat(F.lit(f"{chr(ord('a') + d)}:"), F.col("shingle")))
            for d in range((n_hashes + 3) // 4)
        ]
        hashed = [F.substring(digests[i // 4], 1 + 8 * (i % 4), 8) for i in range(n_hashes)]
    elif hash_fn == "xxhash64":
        hashed = [
            F.lpad(
                F.conv(F.xxhash64(F.lit(f"{i}:"), F.col("shingle")).cast("string"), 10, 16),
                16,
                "0",
            )
            for i in range(n_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    aggs = [F.min(h).alias(f"h{i}") for i, h in enumerate(hashed)]
    return shingled.groupBy(id_col).agg(*aggs)


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    band_size: int = BAND_SIZE,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band, band_sig) — each document exploded to its LSH band
    keys. The shared building block for symmetric pair generation
    (minhash_lsh_pairs) and asymmetric probe-vs-index lookups
    (q_minhash_probe)."""
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k)
    return bands_from_signatures(sigs, id_col, n_hashes, band_size)


def bands_from_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """(id, band, band_sig) from a PRECOMPUTED signature table — so a
    pipeline that needs both signatures and band keys (e.g. the
    estimator-accuracy audit) computes the shingle pass once."""
    n_bands = n_hashes // band_size
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"h{b * band_size + s}") for s in range(band_size)]
            ).alias("band_sig"),
        )
        for b in range(n_bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bs")
    ).select(
        id_col,
        F.col("bs.band").alias("band"),
        F.col("bs.band_sig").alias("band_sig"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    band_size: int = BAND_SIZE,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs (a_id < b_id) that collide in at
    least one LSH band. Never compares all pairs: bucket join only."""
    bands = minhash_bands(df, text_col, id_col, n_hashes, band_size, shingle_k)
    a = bands.select(F.col(id_col).alias("a_id"), "band", "band_sig")
    b = bands.select(F.col(id_col).alias("b_id"), "band", "band_sig")
    return (
        a.join(b, on=["band", "band_sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def dup_edges(docs: DataFrame) -> DataFrame:
    """The near-duplicate graph: distinct (u, v) edges, u < v, from the
    MinHash-LSH candidate pairs."""
    return (
        minhash_lsh_pairs(docs)
        .select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .distinct()
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Every (u, v) edge in both directions."""
    return edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """16-bit SimHash over whitespace tokens (with multiplicity).
    Bit j is the sign of sum over tokens of (+1 if the j-th hex nibble
    of md5(token) >= 8 else -1). Returned as a '0'/'1' string so the
    oracle SQL can reproduce it exactly."""
    tok = widen(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("th", F.md5("tok"))
    contribs = [
        F.sum(
            F.when(
                F.instr(F.lit("89abcdef"), F.substring("th", j + 1, 1)) > 0, 1
            ).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*contribs)
    sig = F.concat(
        *[F.when(F.col(f"b{j}") >= 0, "1").otherwise("0") for j in range(bits)]
    )
    return agg.select(id_col, sig.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard over candidate pairs within group_col
    (at scale, group_col = LSH band bucket; here any blocking key)."""
    t = df.select(
        F.col(id_col),
        F.col(group_col).alias("g"),
        F.array_distinct(tokens(F.col(text_col))).alias("tset"),
    )
    a = t.select(F.col(id_col).alias("a_id"), "g", F.col("tset").alias("a_set"))
    b = t.select(F.col(id_col).alias("b_id"), "g", F.col("tset").alias("b_set"))
    pairs = a.join(b, on="g").filter(F.col("a_id") < F.col("b_id"))
    jac = F.size(F.array_intersect("a_set", "b_set")) / F.size(
        F.array_union("a_set", "b_set")
    ).cast("double")
    return (
        pairs.withColumn("jaccard", rnd(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# --------------------------------------------------------------------------
# Registered queries + DuckDB oracles
# --------------------------------------------------------------------------
@query(
    "q_dedup_exact",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    )
    SELECT doc_id, fp,
           min(doc_id) OVER (PARTITION BY fp) AS keeper_id,
           count(*) OVER (PARTITION BY fp) AS group_size,
           (doc_id <> min(doc_id) OVER (PARTITION BY fp)) AS is_dup
    FROM fp
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "fp", "keeper_id", "group_size", "is_dup")


@query(
    "q_dedup_minhash_lsh",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT doc_id, md5('a:' || shingle) AS da, md5('b:' || shingle) AS db
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             min(substr(da, 1, 8)) AS h0, min(substr(da, 9, 8)) AS h1,
             min(substr(da, 17, 8)) AS h2, min(substr(da, 25, 8)) AS h3,
             min(substr(db, 1, 8)) AS h4, min(substr(db, 9, 8)) AS h5,
             min(substr(db, 17, 8)) AS h6, min(substr(db, 25, 8)) AS h7
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id,
             unnest([struct_pack(band := 0, band_sig := h0 || '|' || h1),
                     struct_pack(band := 1, band_sig := h2 || '|' || h3),
                     struct_pack(band := 2, band_sig := h4 || '|' || h5),
                     struct_pack(band := 3, band_sig := h6 || '|' || h7)],
                    recursive := true)
      FROM sigs
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
    WHERE a.doc_id < b.doc_id
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs)


@query(
    "q_dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) AS th
      FROM documents
    ), bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN strpos('89abcdef', substr(th, j + 1, 1)) > 0
                      THEN 1 ELSE -1 END) AS s
      FROM tok CROSS JOIN (SELECT unnest(range(16)) AS j)
      GROUP BY doc_id, j
    )
    SELECT doc_id,
           string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY j)
             AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_signatures(docs)


@query(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT doc_id, md5('a:' || shingle) AS da FROM sh
    ), sigs AS (
      SELECT doc_id,
             min(substr(da, 1, 8)) || '|' || min(substr(da, 9, 8)) AS bucket
      FROM hashed GROUP BY doc_id
    ), t AS (
      SELECT d.doc_id, s.bucket,
             list_distinct(string_split(lower(d.text), ' ')) AS tset
      FROM documents d JOIN sigs s ON d.doc_id = s.doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(len(list_intersect(a.tset, b.tset)) /
                 CAST(len(list_distinct(list_concat(a.tset, b.tset))) AS DOUBLE),
                 4) AS jaccard
    FROM t a JOIN t b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.tset, b.tset)) /
          CAST(len(list_distinct(list_concat(a.tset, b.tset))) AS DOUBLE) >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact Jaccard where the blocking key is a MinHash band
    bucket (first band of the LSH signature) — sub-quadratic at corpus
    scale. Blocking on a raw attribute like lang is O(|block|^2) with
    blocks that grow with the corpus ('en' can be half of 100 TB);
    ngram_jaccard_pairs keeps attribute blocking available as a helper
    for bounded groups, but the registered query uses the scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    bucket = sigs.select("doc_id", F.concat_ws("|", "h0", "h1").alias("bucket"))
    return ngram_jaccard_pairs(docs.join(bucket, "doc_id"), group_col="bucket", threshold=0.5)


@query(
    "q_dedup_pipeline",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT doc_id, md5('a:' || shingle) AS da, md5('b:' || shingle) AS db
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             min(substr(da, 1, 8)) AS h0, min(substr(da, 9, 8)) AS h1,
             min(substr(da, 17, 8)) AS h2, min(substr(da, 25, 8)) AS h3,
             min(substr(db, 1, 8)) AS h4, min(substr(db, 9, 8)) AS h5,
             min(substr(db, 17, 8)) AS h6, min(substr(db, 25, 8)) AS h7
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id,
             unnest([struct_pack(band := 0, band_sig := h0 || '|' || h1),
                     struct_pack(band := 1, band_sig := h2 || '|' || h3),
                     struct_pack(band := 2, band_sig := h4 || '|' || h5),
                     struct_pack(band := 3, band_sig := h6 || '|' || h7)],
                    recursive := true)
      FROM sigs
    ), cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ), tsets AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS tset
      FROM documents
    )
    SELECT a_id, b_id,
           round(len(list_intersect(ta.tset, tb.tset)) /
                 CAST(len(list_distinct(list_concat(ta.tset, tb.tset))) AS DOUBLE),
                 4) AS jaccard
    FROM cands
    JOIN tsets ta ON ta.doc_id = a_id
    JOIN tsets tb ON tb.doc_id = b_id
    WHERE len(list_intersect(ta.tset, tb.tset)) /
          CAST(len(list_distinct(list_concat(ta.tset, tb.tset))) AS DOUBLE) >= 0.5
    """,
)
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production dedup shape: MinHash-LSH generates candidate
    pairs (sub-quadratic), exact token-set Jaccard verifies them. Scale:
    the verify join touches only |candidates| pairs — the corpus is
    joined twice by doc id (broadcast-able at fixture scale; keyed
    shuffle at corpus scale), never pairwise."""
    docs = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs(docs)
    tsets = widen(docs).select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("tset")
    )
    a = tsets.select(F.col("doc_id").alias("a_id"), F.col("tset").alias("a_set"))
    b = tsets.select(F.col("doc_id").alias("b_id"), F.col("tset").alias("b_set"))
    jac = F.size(F.array_intersect("a_set", "b_set")) / F.size(
        F.array_union("a_set", "b_set")
    ).cast("double")
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("jaccard", rnd(jac, 4))
        .filter(F.col("jaccard") >= 0.5)
        .select("a_id", "b_id", "jaccard")
    )


def _propagation_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label round: each node takes the min of its own and its
    neighbors' labels; `changed` marks nodes whose label shrank."""
    neighbor_min = (
        edges.join(labels, edges.dst == labels.id)
        .groupBy("src")
        .agg(F.min("label").alias("nb_label"))
    )
    return labels.join(neighbor_min, labels.id == neighbor_min.src, "left").select(
        "id",
        F.least(
            F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))
        ).alias("label"),
        F.coalesce(F.col("nb_label") < F.col("label"), F.lit(False)).alias(
            "changed"
        ),
    )


def minlabel_clusters(
    pairs: DataFrame,
    iterations: int = 3,
    partitions: int = 16,
) -> DataFrame:
    """Connected components over an (a_id, b_id) pair list by min-label
    propagation: every node starts as its own label; each round takes
    the min of its own and its neighbors' labels. After k rounds every
    node within graph distance k of its component's minimum carries it.

    Runs ``iterations`` rounds and builds a PURE plan — no driver
    action at build time, so it composes with prepared-plan caching
    and cold 1 g drivers (corpus work runs only at execution). LSH
    duplicate components are near-cliques (measured diameter <= 2 at
    sf0.001/0.01 vs the exact recursive-CTE oracle), so small k
    converges — and because a silent mis-split would be a WRONG
    ANSWER at corpus scale, the result carries a lazy convergence
    guard: one extra propagation round feeds assert_true, so a
    diameter > k component fails the query loudly at execution
    instead of returning split clusters. For graphs of unknown
    diameter use ``alternating_cc``, which iterates until converged.

    Scale: each round is one equi-join + one groupBy on the PAIR list
    (tiny relative to the corpus); the corpus itself is never touched.
    Edges and each round's labels are persist()ed so the lineage stays
    LINEAR — without the cache cut, the self-referencing join doubles
    the unrolled plan per round (2^k copies of the pair pipeline: 508
    scans / 1269 exchanges at k=6, measured). The same materialize-per-
    iteration discipline every Pregel-style loop needs."""
    # The pair list is orders of magnitude smaller than the corpus;
    # pin the iteration to a bounded partition count so the rounds of
    # persisted intermediates stay cheap on any session (a default
    # 200-shuffle-partition session otherwise caches rounds x 200
    # blocks of near-empty partitions — measured OOM on a 1g vanilla
    # driver). Size `partitions` to the pair-list volume at real scale.
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .distinct()
        .repartition(partitions, "src")
        .persist()
    )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("id"), F.col("src").alias("label")
    )
    for _ in range(iterations):
        labels = (
            _propagation_round(edges, labels)
            .drop("changed")
            .repartition(partitions, "id")
            .persist()
        )
    # Lazy convergence guard: one more round; any would-be change
    # raises at execution. The guard must feed an OUTPUT column or
    # column pruning would drop it — adding the always-NULL assert
    # (cast to long, coalesced to 0) to the label keeps it alive
    # without changing any value.
    guard = F.coalesce(
        F.assert_true(
            ~F.col("changed"),
            F.lit(
                "minlabel_clusters: component diameter exceeds "
                f"iterations={iterations}; raise iterations or use "
                "alternating_cc, which iterates until converged"
            ),
        ).cast("long"),
        F.lit(0),
    )
    return _propagation_round(edges, labels).select(
        "id", (F.col("label") + guard).alias("label")
    )


@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT doc_id, md5('a:' || shingle) AS da, md5('b:' || shingle) AS db
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             min(substr(da, 1, 8)) AS h0, min(substr(da, 9, 8)) AS h1,
             min(substr(da, 17, 8)) AS h2, min(substr(da, 25, 8)) AS h3,
             min(substr(db, 1, 8)) AS h4, min(substr(db, 9, 8)) AS h5,
             min(substr(db, 17, 8)) AS h6, min(substr(db, 25, 8)) AS h7
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id,
             unnest([struct_pack(band := 0, band_sig := h0 || '|' || h1),
                     struct_pack(band := 1, band_sig := h2 || '|' || h3),
                     struct_pack(band := 2, band_sig := h4 || '|' || h5),
                     struct_pack(band := 3, band_sig := h6 || '|' || h7)],
                    recursive := true)
      FROM sigs
    ), cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM cands
      UNION
      SELECT b_id, a_id FROM cands
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
      )
      SELECT * FROM r
    )
    SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id,
           (src <> min(dst)) AS is_dup
    FROM reach GROUP BY src
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last stage of the production dedup pipeline: LSH candidate
    pairs -> duplicate CLUSTERS via min-label propagation, keeping the
    minimum doc_id as each cluster's canonical representative. The
    oracle computes exact connected components with a recursive CTE;
    they agree because LSH components are near-cliques (diameter well
    under the propagation rounds)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    labels = minlabel_clusters(pairs)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").cast("bigint").alias("cluster_id"),
        (F.col("id") != F.col("label")).alias("is_dup"),
    )


# Oracle template for the SimHash hamming near-dup family: DuckDB can
# afford the O(n^2) all-pairs scan at fixture scale; {probe_pred}
# restricts the probe side ('a.doc_id < 100' or the always-true 'true'
# for probe = corpus).
_SIMHASH_HAMMING_ORACLE = """
    WITH tok AS (
      SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) AS th
      FROM documents
    ), bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN strpos('89abcdef', substr(th, j + 1, 1)) > 0
                      THEN 1 ELSE -1 END) AS s
      FROM tok CROSS JOIN (SELECT unnest(range(16)) AS j)
      GROUP BY doc_id, j
    ), sig AS (
      SELECT doc_id,
             string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY j)
               AS s
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_near
    FROM sig a JOIN sig b ON a.doc_id <> b.doc_id
    WHERE {probe_pred}
      AND len([i for i in range(1, 17) if a.s[i] <> b.s[i]]) <= 1
    GROUP BY a.doc_id
    """


def _simhash_hamming_neardup(
    spark: SparkSession, sf_dir: str, probe_bound: int | None
) -> DataFrame:
    """SimHash near-dup search done the production way: split the
    16-bit signature into 4 bands of 4 bits; by pigeonhole, any pair
    within hamming distance 3 shares at least one band exactly, so a
    band equi-join yields a complete candidate set and the cheap
    per-pair hamming check (here <= 1) verifies — never the O(n^2)
    all-pairs scan the oracle can afford at fixture scale. Output is
    each probe doc's near-duplicate degree. Scale: band join cost is
    sum over band values of |bucket|^2 on 4-bit slices of a
    (at corpus scale) 64/128-bit signature — sub-quadratic exactly
    like the MinHash LSH path."""
    sig = simhash_signatures(load_table(spark, sf_dir, "documents"))
    banded = sig.select(
        "doc_id",
        F.col("simhash").alias("s"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.substring("simhash", b * 4 + 1, 4).alias("val"),
                )
                for b in range(4)
            ])
        ).alias("bd"),
    ).select("doc_id", "s", F.col("bd.band").alias("band"), F.col("bd.val").alias("val"))
    probe = banded if probe_bound is None else banded.filter(
        F.col("doc_id") < probe_bound
    )
    probe = probe.select(
        F.col("doc_id").alias("a_id"), F.col("s").alias("sa"), "band", "val"
    )
    build = banded.select(
        F.col("doc_id").alias("b_id"), F.col("s").alias("sb"), "band", "val"
    )
    cands = (
        probe.join(build, on=["band", "val"])
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "sa", "b_id", "sb")
        .distinct()
    )
    ham = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: F.col("sa").substr(i, F.lit(1)) != F.col("sb").substr(i, F.lit(1)),
        )
    )
    return (
        cands.filter(ham <= 1)
        .groupBy(F.col("a_id").alias("doc_id"))
        .agg(F.countDistinct("b_id").alias("n_near"))
    )


@query(
    "q_dedup_simhash_hamming",
    oracle=_SIMHASH_HAMMING_ORACLE.format(probe_pred="a.doc_id < 100"),
)
def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-probe SimHash near-dup with a bounded probe set (doc_id <
    100) — demonstrates the asymmetric probe-vs-corpus shape (new docs
    against an existing index). See _simhash_hamming_neardup."""
    return _simhash_hamming_neardup(spark, sf_dir, probe_bound=100)


@query(
    "q_dedup_simhash_hamming_full",
    oracle=_SIMHASH_HAMMING_ORACLE.format(probe_pred="true"),
)
def q_dedup_simhash_hamming_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-probe SimHash near-dup with probe = the ENTIRE corpus — the
    symmetric full-dedup shape. The plan is identical to the bounded
    variant (band equi-join + hamming verify, no all-pairs term); only
    the probe-side filter is dropped, so the sub-quadratic claim is
    exercised with no bound to hide behind."""
    return _simhash_hamming_neardup(spark, sf_dir, probe_bound=None)


# DuckDB side of the clustering family, reused by q_dedup_keeper:
# exact connected components over the same MinHash-LSH candidate edges
# via a recursive CTE (mirrors the q_dedup_clusters oracle).
_CLUSTER_REACH_CTE = """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT doc_id, md5('a:' || shingle) AS da, md5('b:' || shingle) AS db
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             min(substr(da, 1, 8)) AS h0, min(substr(da, 9, 8)) AS h1,
             min(substr(da, 17, 8)) AS h2, min(substr(da, 25, 8)) AS h3,
             min(substr(db, 1, 8)) AS h4, min(substr(db, 9, 8)) AS h5,
             min(substr(db, 17, 8)) AS h6, min(substr(db, 25, 8)) AS h7
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id,
             unnest([struct_pack(band := 0, band_sig := h0 || '|' || h1),
                     struct_pack(band := 1, band_sig := h2 || '|' || h3),
                     struct_pack(band := 2, band_sig := h4 || '|' || h5),
                     struct_pack(band := 3, band_sig := h6 || '|' || h7)],
                    recursive := true)
      FROM sigs
    ), cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM cands
      UNION
      SELECT b_id, a_id FROM cands
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
      )
      SELECT * FROM r
    )
"""


@query(
    "q_dedup_keeper",
    oracle=_CLUSTER_REACH_CTE
    + """
    , labels AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    ), quality AS (
      SELECT doc_id,
             round(least(1.0, len(string_split(lower(text), ' ')) / 100.0) * 0.5 +
                   CASE WHEN length(text) BETWEEN 100 AND 5000
                        THEN 0.5 ELSE 0.0 END, 4) AS q
      FROM documents
    ), ranked AS (
      SELECT l.cluster_id, l.doc_id, qu.q,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY qu.q DESC, l.doc_id) AS rn,
             count(*) OVER (PARTITION BY l.cluster_id) AS n_members
      FROM labels l JOIN quality qu ON qu.doc_id = l.doc_id
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS keeper_id,
           CAST(n_members AS BIGINT) AS n_members,
           q AS keeper_quality
    FROM ranked WHERE rn = 1
    """,
)
def q_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the final step of the production
    dedup pipeline: for every near-duplicate cluster keep the HIGHEST-
    QUALITY member (quality = the q_text_quality score, rounded before
    ranking so cross-engine float ulps cannot flip the argmax; ties
    break on doc_id), not merely the minimum id. Scale: clusters join
    quality on doc_id (one keyed shuffle of the pair-list-sized label
    table against the corpus projection) and the keeper window runs per
    cluster — no corpus-wide sort."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    labels = minlabel_clusters(pairs)
    n_tok = F.size(tokens(F.col("text")))
    quality = docs.select(
        "doc_id",
        rnd(
            F.least(F.lit(1.0), n_tok / F.lit(100.0)) * 0.5
            + F.when(F.length("text").between(100, 5000), 0.5).otherwise(0.0),
            4,
        ).alias("q"),
    )
    joined = labels.join(quality, labels.id == quality.doc_id)
    # r16 (guide SS2.3/SS2.4): keeper election as ONE min-of-struct
    # aggregate instead of rank-1 + count windows — partial aggregation
    # reduces map-side and one struct per cluster shuffles, where the
    # windows sorted every cluster's members and shipped whole rows.
    # min(struct(-q, q, id)) == ORDER BY q DESC, id ASC rank 1 (q is
    # rounded to 4 decimals on both engines before ranking, so the
    # negation is exact; q rides along in the struct so the output
    # quality is the keeper's own untouched value).
    sel = F.min(
        F.struct(
            (-F.col("q")).alias("ord"),
            F.col("q").alias("q"),
            F.col("id").alias("id"),
        )
    )
    return (
        joined.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            sel.alias("_k"),
        )
        .select(
            F.col("label").cast("bigint").alias("cluster_id"),
            F.col("_k.id").cast("bigint").alias("keeper_id"),
            F.col("n_members"),
            F.col("_k.q").alias("keeper_quality"),
        )
    )


# Shared band-construction SQL for the MinHash oracle family (mirrors
# minhash_signatures/minhash_bands: 3-shingles, 2 md5 digests split
# into 8 32-bit-hex minhashes, 4 bands of 2).
_MINHASH_BANDS_CTE = """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT doc_id, md5('a:' || shingle) AS da, md5('b:' || shingle) AS db
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             min(substr(da, 1, 8)) AS h0, min(substr(da, 9, 8)) AS h1,
             min(substr(da, 17, 8)) AS h2, min(substr(da, 25, 8)) AS h3,
             min(substr(db, 1, 8)) AS h4, min(substr(db, 9, 8)) AS h5,
             min(substr(db, 17, 8)) AS h6, min(substr(db, 25, 8)) AS h7
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id,
             unnest([struct_pack(band := 0, band_sig := h0 || '|' || h1),
                     struct_pack(band := 1, band_sig := h2 || '|' || h3),
                     struct_pack(band := 2, band_sig := h4 || '|' || h5),
                     struct_pack(band := 3, band_sig := h6 || '|' || h7)],
                    recursive := true)
      FROM sigs
    )
"""


@query(
    "q_minhash_probe",
    oracle=_MINHASH_BANDS_CTE
    + """
    SELECT p.doc_id, CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_index_matches
    FROM bands p JOIN bands b
      ON p.band = b.band AND p.band_sig = b.band_sig
    WHERE p.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
    GROUP BY p.doc_id
    """,
)
def q_minhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: probe a NEW batch of documents (here doc_id %
    5 = 0 stands in for today's crawl) against the EXISTING corpus
    index (the rest) via MinHash LSH bands — the production shape for
    continuous ingestion, where re-deduplicating the full corpus per
    batch would be quadratic over time. Emits each new doc that
    collides with >= 1 index doc and its collision count. Scale: the
    index's band table is computed once and reused across batches (here
    rebuilt because the fixture has no persisted index); the join is
    band-bucketed, probe-side-small, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    bands = minhash_bands(docs)
    probe = bands.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("p_id"), "band", "band_sig"
    )
    index = bands.filter(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("b_id"), "band", "band_sig"
    )
    return (
        probe.join(index, on=["band", "band_sig"])
        .groupBy(F.col("p_id").alias("doc_id"))
        .agg(F.countDistinct("b_id").alias("n_index_matches"))
    )


@query(
    "q_cross_source_dup_matrix",
    oracle=_MINHASH_BANDS_CTE
    + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    )
    SELECT da.source AS a_source, db.source AS b_source,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN documents da ON da.doc_id = pairs.a_id
    JOIN documents db ON db.doc_id = pairs.b_id
    GROUP BY da.source, db.source
    """,
)
def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every (source_of_earlier,
    source_of_later) pair, how many LSH near-duplicate pairs link them —
    the provenance dashboard that tells a curation team WHICH crawls
    mirror each other (high off-diagonal => one source republishes
    another; high diagonal => internal boilerplate). Composes
    minhash_lsh_pairs with two broadcast-able doc->source lookups.
    Scale: pairs come from the band-bucket join (never corpus
    pairwise); the source lookup join is on doc_id (pair-list-sized,
    not corpus-sized) and the final matrix is |sources|^2 rows."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(docs)
    src = docs.select("doc_id", "source")
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("a_id"), F.col("source").alias("a_source")
            ),
            "a_id",
        )
        .join(
            src.select(
                F.col("doc_id").alias("b_id"), F.col("source").alias("b_source")
            ),
            "b_id",
        )
        .groupBy("a_source", "b_source")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


SPAN_TOKENS = 8
SPAN_DUP_FLAG_FRACTION = 0.2


@query(
    "q_substring_dedup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= {SPAN_TOKENS}
    ), spans AS (
      SELECT doc_id,
             unnest([md5(array_to_string(w[i : i + {SPAN_TOKENS} - 1], ' '))
                     for i in range(1, len(w) - {SPAN_TOKENS} + 2)]) AS sh
      FROM tok
    ), dup_spans AS (
      SELECT sh FROM (
        SELECT sh, count(DISTINCT doc_id) AS nd FROM spans GROUP BY sh
      ) WHERE nd >= 2
    ), flagged AS (
      SELECT s.doc_id, s.sh, d.sh IS NOT NULL AS is_dup
      FROM spans s LEFT JOIN dup_spans d ON s.sh = d.sh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS dup_fraction,
           sum(CASE WHEN is_dup THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE) > {SPAN_DUP_FLAG_FRACTION}
               AS is_flagged
    FROM flagged GROUP BY doc_id
    """,
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring detection (the scalable approximation of
    Lee et al. 2022's ExactSubstr dedup): hash every {SPAN_TOKENS}-token
    sliding span, find spans appearing in >= 2 distinct documents, and
    score each document by its duplicated-span fraction — documents
    over the threshold carry enough verbatim shared text to drop or
    trim. A true suffix array doesn't distribute; span-hash counting
    does: explode is O(total tokens), the span->doc-count aggregate
    shuffles on span hash with map-side combine, the dup-span flag
    joins back on the same hash key, and the per-doc rollup reuses the
    doc_id partitioning. No pairwise comparison anywhere."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    from sparrow_spark.sources import materialize

    toks = materialize(
        docs.select("doc_id", "text"), w=F.split(F.lower("text"), " ")
    ).filter(F.size("w") >= SPAN_TOKENS)
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - SPAN_TOKENS + 1),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("w", i, SPAN_TOKENS))
                ),
            )
        ).alias("sh"),
    )
    dup_spans = (
        spans.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh", F.lit(True).alias("is_dup"))
    )
    flagged = spans.join(dup_spans, "sh", "left").select(
        "doc_id", F.coalesce("is_dup", F.lit(False)).alias("is_dup")
    )
    dup_n = F.sum(F.col("is_dup").cast("int"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        dup_n.cast("bigint").alias("n_dup_spans"),
        rnd(dup_n / F.count(F.lit(1)).cast("double"), 4).alias("dup_fraction"),
        (dup_n / F.count(F.lit(1)).cast("double") > SPAN_DUP_FLAG_FRACTION).alias(
            "is_flagged"
        ),
    )


RUN_FLAG_TOKENS = 24


@query(
    "q_dup_span_runs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= {SPAN_TOKENS}
    ), pos AS (
      SELECT doc_id, w,
             unnest(range(1, len(w) - {SPAN_TOKENS} + 2)) AS i
      FROM tok
    ), spans AS (
      SELECT doc_id, i,
             md5(array_to_string(w[i : i + {SPAN_TOKENS} - 1], ' ')) AS sh
      FROM pos
    ), dup_spans AS (
      SELECT sh FROM (
        SELECT sh, count(DISTINCT doc_id) AS nd FROM spans GROUP BY sh
      ) WHERE nd >= 2
    ), flagged AS (
      SELECT s.doc_id, s.i, d.sh IS NOT NULL AS is_dup
      FROM spans s LEFT JOIN dup_spans d ON s.sh = d.sh
    ), dup AS (
      SELECT doc_id, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM flagged WHERE is_dup
    ), runs AS (
      SELECT doc_id, grp, count(*) AS run_len FROM dup GROUP BY doc_id, grp
    ), longest AS (
      SELECT doc_id, max(run_len) AS longest_run FROM runs GROUP BY doc_id
    ), totals AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_spans
      FROM flagged GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_spans, t.n_dup_spans,
           CAST(coalesce(l.longest_run, 0) AS BIGINT) AS longest_run,
           CAST(CASE WHEN coalesce(l.longest_run, 0) > 0
                     THEN coalesce(l.longest_run, 0) + {SPAN_TOKENS} - 1
                     ELSE 0 END AS BIGINT) AS longest_dup_tokens,
           (CASE WHEN coalesce(l.longest_run, 0) > 0
                 THEN coalesce(l.longest_run, 0) + {SPAN_TOKENS} - 1
                 ELSE 0 END) >= {RUN_FLAG_TOKENS} AS exceeds_flag
    FROM totals t LEFT JOIN longest l ON t.doc_id = l.doc_id
    """,
)
def q_dup_span_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest CONTIGUOUS duplicated-token run per document — the
    criterion Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better") actually cut on: their ExactSubstr
    removes runs of >= 50 consecutive tokens shared verbatim with
    another document, which q_substring_dedup's duplicated-span
    FRACTION cannot see (ten scattered spans and one long verbatim
    block score the same fraction; only the latter is an
    ExactSubstr hit). The run length comes from gaps-and-islands over
    duplicated span positions: consecutive positions i with a
    duplicated {SPAN_TOKENS}-token span share the group key
    i - row_number(), and a run of R consecutive spans certifies
    R + {SPAN_TOKENS} - 1 consecutively-duplicated tokens. Flag
    threshold {RUN_FLAG_TOKENS} tokens (fixture-scaled stand-in for
    the paper's 50).

    Scale: the same no-suffix-array discipline as q_substring_dedup —
    span hashing is O(total tokens) with the dup-span flag an
    equi-join on span hash (shuffle with map-side combine, never
    pairwise). The run window partitions by doc_id (document-bounded,
    corpus-independent) and the final join is per-doc rollup vs
    per-doc longest, both already keyed on doc_id."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = materialize(
        docs.select("doc_id", "text"), w=F.split(F.lower("text"), " ")
    ).filter(F.size("w") >= SPAN_TOKENS)
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - SPAN_TOKENS + 1),
                lambda i: F.struct(
                    i.alias("i"),
                    F.md5(
                        F.concat_ws(" ", F.slice("w", i, SPAN_TOKENS))
                    ).alias("sh"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.i").alias("i"), F.col("s.sh").alias("sh"))
    dup_spans = (
        spans.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh", F.lit(True).alias("is_dup"))
    )
    flagged = spans.join(dup_spans, "sh", "left").select(
        "doc_id", "i", F.coalesce("is_dup", F.lit(False)).alias("is_dup")
    )
    from pyspark.sql import Window

    w_doc = Window.partitionBy("doc_id").orderBy("i")
    runs = (
        flagged.filter(F.col("is_dup"))
        .withColumn("grp", F.col("i") - F.row_number().over(w_doc))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    longest = runs.groupBy("doc_id").agg(
        F.max("run_len").alias("longest_run")
    )
    totals = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("is_dup").cast("int")).cast("bigint").alias("n_dup_spans"),
    )
    run = F.coalesce(F.col("longest_run"), F.lit(0)).cast("bigint")
    dup_tokens = F.when(run > 0, run + SPAN_TOKENS - 1).otherwise(
        F.lit(0)
    ).cast("bigint")
    return totals.join(longest, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        run.alias("longest_run"),
        dup_tokens.alias("longest_dup_tokens"),
        (dup_tokens >= RUN_FLAG_TOKENS).alias("exceeds_flag"),
    )


@query(
    "q_minhash_jaccard_est",
    oracle=_MINHASH_BANDS_CTE
    + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), ssets AS (
      SELECT doc_id, list_distinct(list(shingle)) AS s FROM sh GROUP BY doc_id
    ), scored AS (
      SELECT p.a_id, p.b_id,
             ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) / 8.0 AS est,
             len(list_intersect(xa.s, xb.s)) /
               CAST(len(list_distinct(list_concat(xa.s, xb.s))) AS DOUBLE) AS exact
      FROM pairs p
      JOIN sigs sa ON sa.doc_id = p.a_id
      JOIN sigs sb ON sb.doc_id = p.b_id
      JOIN ssets xa ON xa.doc_id = p.a_id
      JOIN ssets xb ON xb.doc_id = p.b_id
    )
    SELECT a_id, b_id,
           round(est, 4) AS est_jaccard,
           round(exact, 4) AS exact_jaccard,
           round(abs(est - exact), 4) AS abs_err
    FROM scored
    """,
)
def q_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for the MinHash estimator: over the LSH
    candidate pairs, the fraction of agreeing minhash components is an
    unbiased estimate of the shingle-set Jaccard — this query puts the
    estimate NEXT TO the exact Jaccard and their absolute error, which
    is how you pick n_hashes/band geometry for a target corpus (8
    hashes -> stderr ~ sqrt(J(1-J)/8), so the observed errors should
    sit inside ~0.17; tests pin the per-pair bound).

    Scale: candidates come from the band equi-join (never pairwise);
    the pair list then probes the signature and shingle-set tables by
    id — the pair side is broadcast, the corpus-sized tables never
    shuffle. At production scale signatures/sets are materialized
    tables (the incremental band index already is), so the audit is
    four broadcast-hash joins over a sampled pair list; here they are
    recomputed in-plan at fixture size."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    bands = bands_from_signatures(sigs)
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "band_sig")
    b = bands.select(F.col("doc_id").alias("b_id"), "band", "band_sig")
    pairs = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("a_id"), *[F.col(f"h{i}").alias(f"a_h{i}") for i in range(N_MINHASHES)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("b_id"), *[F.col(f"h{i}").alias(f"b_h{i}") for i in range(N_MINHASHES)]
    )
    toks = materialize(widen(docs.select("doc_id", "text")), w=tokens(F.col("text"))).filter(
        F.size("w") >= 3
    )
    ssets = toks.select(
        "doc_id", F.array_distinct(_text_shingles(F.col("w"), 3)).alias("s")
    )
    xa = ssets.select(F.col("doc_id").alias("a_id"), F.col("s").alias("a_s"))
    xb = ssets.select(F.col("doc_id").alias("b_id"), F.col("s").alias("b_s"))
    joined = (
        sa.join(F.broadcast(pairs), "a_id")
        .join(sb, "b_id")
        .join(xa, "a_id")
        .join(xb, "b_id")
        # r16 continuation (guide §2.2): the per-pair estimate+exact
        # compute (8 hash comparisons + array intersect/union over ~2 KB
        # shingle sets per row) landed on ONE AQE-coalesced task. A
        # keyed repartition spreads the compute-bound projection across
        # cores for the cost of shuffling the candidate rows only (the
        # pair list is band-collision-bounded, never the corpus).
        # Same-session A/B/A: 0.126/0.112 -> 0.056 s, identical 865 rows.
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "a_id", "b_id"
        )
    )
    n_match = sum(
        (F.col(f"a_h{i}") == F.col(f"b_h{i}")).cast("int") for i in range(N_MINHASHES)
    )
    est = n_match / F.lit(float(N_MINHASHES))
    exact = F.size(F.array_intersect("a_s", "b_s")) / F.size(
        F.array_union("a_s", "b_s")
    ).cast("double")
    return joined.select(
        "a_id",
        "b_id",
        rnd(est, 4).alias("est_jaccard"),
        rnd(exact, 4).alias("exact_jaccard"),
        rnd(F.abs(est - exact), 4).alias("abs_err"),
    )


@query(
    "q_dedup_edit_distance",
    oracle=_MINHASH_BANDS_CTE
    + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents
    )
    SELECT p.a_id, p.b_id,
           CAST(levenshtein(na.nt, nb.nt) AS BIGINT) AS edit_dist,
           round(1.0 - levenshtein(na.nt, nb.nt)
                 / CAST(greatest(length(na.nt), length(nb.nt)) AS DOUBLE),
                 4) AS edit_sim,
           (1.0 - levenshtein(na.nt, nb.nt)
                 / CAST(greatest(length(na.nt), length(nb.nt)) AS DOUBLE)
            >= 0.8) AS is_dup
    FROM pairs p
    JOIN norm na ON na.doc_id = p.a_id
    JOIN norm nb ON nb.doc_id = p.b_id
    """,
)
def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of LSH candidate pairs — the other
    classic verify step next to n-gram Jaccard (q_dedup_ngram_jaccard):
    normalized Levenshtein similarity 1 - d/max(len), duplicate at
    >= 0.8. Character-level edit distance catches near-dups that
    token-set Jaccard over-scores (reordered words score 1.0 on sets
    but low here) and vice versa; production pipelines run Jaccard
    first (cheap) and edit distance on the survivors.

    Scale: Levenshtein is O(len_a x len_b) per pair — exactly why it
    must NEVER run corpus-wide: candidates come from the band
    equi-join only, and the pair list joins the normalized-text table
    by id (pair side broadcast, corpus never shuffles). The quadratic
    cost is bounded per pair by document length, so the stage
    parallelizes by pair count."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    norm = widen(docs).select(
        "doc_id",
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("nt"),
    )
    na = norm.select(F.col("doc_id").alias("a_id"), F.col("nt").alias("a_nt"))
    nb = norm.select(F.col("doc_id").alias("b_id"), F.col("nt").alias("b_nt"))
    j = na.join(F.broadcast(pairs), "a_id").join(nb, "b_id")
    dist = F.levenshtein("a_nt", "b_nt")
    sim = 1.0 - dist / F.greatest(F.length("a_nt"), F.length("b_nt")).cast(
        "double"
    )
    return j.select(
        "a_id",
        "b_id",
        dist.cast("bigint").alias("edit_dist"),
        rnd(sim, 4).alias("edit_sim"),
        (sim >= 0.8).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------

SETSIM_T = 0.3  # shingle-set Jaccard threshold
SETSIM_PROBE_MOD = 17  # probe side = docs with doc_id % 17 == 0


def setsim_prefix_tokens(
    tsets: DataFrame,
    threshold: float = SETSIM_T,
    id_col: str = "doc_id",
    df_source: DataFrame | None = None,
) -> DataFrame:
    """(id, token) pairs restricted to each set's PREFIX under a global
    rarest-first token order — the candidate-generation index of the
    AllPairs/PPJoin set-similarity join family (Chaudhuri et al. SSJoin
    ICDE'06; Xiao et al. PPJoin WWW'08).

    Global order = (document frequency asc, token asc) — a strict total
    order, so every engine derives the same prefix. Prefix length for
    Jaccard threshold t is |x| - ceil(t*|x|) + 1, which is LOSSLESS:
    J(a,b) >= t implies |a n b| >= ceil(t*|a|) and >= ceil(t*|b|)
    (the intersection is an integer >= t*|union| >= t*max(|a|,|b|)),
    and if neither prefix contained an intersection token the
    intersection would fit inside a suffix of size ceil(t*|x|) - 1 —
    too small. A shared token in BOTH prefixes follows from comparing
    the prefix boundary tokens (the smaller boundary's intersection
    token must precede the other boundary).

    Scale: the token->df table is vocabulary-sized (orders of magnitude
    below the corpus; Catalyst broadcasts it at fixture scale, keyed
    shuffle join beyond autoBroadcast); the prefix rank is one window
    over doc_id — the same single keyed shuffle every per-doc operator
    pays. Candidate generation then joins PREFIX tokens only (a
    (1-t)-fraction of corpus tokens, rarest-first so bucket sizes are
    the SMALLEST df counts — the filter is also an implicit stopword
    excluder, which is what keeps bucket join fan-out bounded)."""
    from pyspark.sql import Window

    # r16 (guide SS2.3): |x| is known BEFORE the explode — tset is
    # already distinct, so size(tset) == the exploded per-doc row
    # count. Stamping it here removes the second window function (the
    # per-doc count over the exploded rows) from the ranked stage; the
    # row_number window and its single doc-keyed shuffle remain.
    tok = tsets.select(
        id_col, F.size("tset").alias("n"), F.explode("tset").alias("token")
    )
    # Rarity statistics come from df_source (default: the joined sets
    # themselves). An asymmetric caller — e.g. the containment join,
    # which prunes only its probe side — passes the CORPUS here so the
    # prefix keeps tokens that are rare in the posting lists actually
    # being joined, not merely rare among the probes. Any df table
    # yields a correct (lossless) prefix; the corpus one yields the
    # smallest candidate fan-out.
    df_src = tsets if df_source is None else df_source
    df_tab = (
        df_src.select(F.explode("tset").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    w = Window.partitionBy(id_col).orderBy("df", "token")
    ranked = (
        # LEFT join + df 0 for tokens unseen by df_source: absent
        # means maximally rare, and an inner join would silently drop
        # them from the prefix (breaking losslessness for probes with
        # out-of-corpus vocabulary).
        tok.join(df_tab, "token", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
        .withColumn("rk", F.row_number().over(w))
    )
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    return ranked.filter(F.col("rk") <= prefix_len).select(
        id_col, "token", "n"
    )


@query(
    "q_setsim_join_prefix",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), tsets AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS tset
      FROM tok
    )
    SELECT a.doc_id AS probe_id, b.doc_id AS match_id,
           round(len(list_intersect(a.tset, b.tset)) /
                 CAST(len(list_distinct(list_concat(a.tset, b.tset))) AS DOUBLE),
                 4) AS jaccard
    FROM tsets a JOIN tsets b
      ON a.doc_id % {SETSIM_PROBE_MOD} = 0 AND a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.tset, b.tset)) /
          CAST(len(list_distinct(list_concat(a.tset, b.tset))) AS DOUBLE)
          >= {SETSIM_T}
    """,
)
def q_setsim_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-vs-corpus SHINGLE-set similarity join via prefix filtering
    — the exact-recall alternative to MinHash-LSH candidate generation
    (no false negatives, unlike LSH's probabilistic recall). Sets are
    distinct 3-word shingles, not raw tokens: on any corpus the token
    vocabulary saturates (every long doc shares most function words,
    driving token-set Jaccard toward 1), while shingle sets keep
    near-dup pairs separable — the same reason the MinHash family
    shingles first. The DuckDB oracle brute-forces ALL probe x corpus
    pairs; the Spark plan never does: candidates come from an equi-join
    of rarest-first PREFIX shingles only, then exact Jaccard verifies
    just those pairs.

    Scale: candidate volume is sum over prefix shingles of
    df_prefix(shingle)^2 where the prefix keeps each doc's rarest
    (1-t)-fraction of shingles — pairs are bounded by rare-shingle
    co-occurrence, not corpus^2. The verify join touches candidates
    only, re-joining the corpus by id twice (keyed shuffle at scale).
    Beyond-reference extension of the dedup family."""
    docs = load_table(spark, sf_dir, "documents")
    toks = materialize(widen(docs), w=tokens(F.col("text"))).filter(
        F.size("w") >= 3
    )
    # r16 (guide SS1.2/SS5): this plan consumes the shingle-set table
    # FOUR times (df statistics, prefix ranking, and both sides of the
    # exact verify join). Left lazy, each consumer re-tokenizes and
    # re-shingles the whole corpus — four full scan-side passes per
    # execution (measured: the verify join's streamed side re-derived
    # the corpus every run). Materialize it once (same localCheckpoint
    # discipline as global_sort_ranks / alternating_cc): one
    # tokenize+shingle pass, every consumer reads the materialized
    # partitions. At cluster scale the tset table is one column of
    # shingles per doc — far smaller than four recomputes of the
    # tokenizer over the raw corpus; swap for reliable checkpointing
    # there for executor-loss tolerance.
    tsets = toks.select(
        "doc_id", F.array_distinct(_text_shingles(F.col("w"), 3)).alias("tset")
    ).localCheckpoint(eager=True)
    prefixes = setsim_prefix_tokens(tsets, SETSIM_T)
    probe = (
        prefixes.filter(F.col("doc_id") % SETSIM_PROBE_MOD == 0)
        .withColumnRenamed("doc_id", "probe_id")
        .withColumnRenamed("n", "a_n")
    )
    # AllPairs length filter (lossless): J(a,b) >= t forces
    # t*|a| <= |b| <= |a|/t, so cross-length candidates die BEFORE the
    # distinct + verification joins. The 1e-9 slack keeps the integer
    # bounds safe against binary-fraction rounding of t*|a| (a too
    # tight ceil would silently drop true pairs; slack only admits a
    # few extra candidates that verification kills anyway).
    eps = 1e-9
    cands = (
        probe.join(
            prefixes.withColumnRenamed("doc_id", "match_id")
            .withColumnRenamed("n", "b_n"),
            "token",
        )
        .filter(
            (F.col("probe_id") != F.col("match_id"))
            & (F.col("b_n") >= F.ceil(F.lit(SETSIM_T) * F.col("a_n") - eps))
            & (F.col("b_n") <= F.floor(F.col("a_n") / F.lit(SETSIM_T) + eps))
        )
        .select("probe_id", "match_id")
        .distinct()
    )
    a = tsets.select(F.col("doc_id").alias("probe_id"), F.col("tset").alias("a_set"))
    b = tsets.select(F.col("doc_id").alias("match_id"), F.col("tset").alias("b_set"))
    jac = F.size(F.array_intersect("a_set", "b_set")) / F.size(
        F.array_union("a_set", "b_set")
    ).cast("double")
    # r16 (guide SS3.1/SS2.3): BROADCAST the candidate pair list into
    # the verify joins. Planned as shuffle joins, both sides of the
    # verify shuffled the corpus-side SHINGLE ARRAYS by pair key —
    # candidate-count x ~2 KB of array payload through two exchanges
    # (measured: the verify dominated the query). The pair list is two
    # ids per row — orders of magnitude lighter than the arrays — so
    # broadcasting it keeps every array in place: the verify becomes
    # two map-side hash joins over the materialized tset table (same
    # broadcast-the-pairs shape as q_dedup_edit_distance). At a scale
    # where the pair list outgrows a broadcast, segment it and verify
    # the slices as independent jobs (guide SS2.6).
    return (
        F.broadcast(cands).join(a, "probe_id")
        .join(b, "match_id")
        .withColumn("jac_raw", jac)
        .filter(F.col("jac_raw") >= SETSIM_T)
        .select("probe_id", "match_id", rnd(F.col("jac_raw"), 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Alternating large-star/small-star connected components
# ---------------------------------------------------------------------------


def _canon_edges(df: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct undirected edges as canonical (u < v) pairs."""
    return (
        df.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star(E): for every node u, link each LARGER neighbor to
    min(Gamma(u) u {u}). Cuts long chains toward the component minimum
    while touching only (node, neighbor) pairs."""
    sym = edges.select(F.col("u").alias("src"), F.col("v").alias("nbr")).unionByName(
        edges.select(F.col("v").alias("src"), F.col("u").alias("nbr"))
    )
    m = sym.groupBy("src").agg(F.min("nbr").alias("mn"))
    m = m.select("src", F.least("mn", "src").alias("m"))
    bigger = sym.filter(F.col("nbr") > F.col("src")).join(m, "src")
    return _canon_edges(bigger, "nbr", "m")


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star(E): direct each edge large->small; every node links
    its SMALLER neighbors (and itself) to their minimum."""
    m = edges.groupBy("v").agg(F.min("u").alias("m"))
    smaller = edges.join(m, "v")
    re_children = _canon_edges(smaller, "u", "m")
    re_self = _canon_edges(smaller.select("v", "m"), "v", "m")
    return re_children.unionByName(re_self).distinct()


_CC_PARTITIONS = 16
_CC_MAX_ROUNDS = 30


def _star_forest(edges: DataFrame) -> bool:
    """Star test: every child occurs once, and no root is a child."""
    multi_parent = (
        edges.groupBy("v").agg(F.count(F.lit(1)).alias("c")).filter("c > 1").limit(1).count()
    )
    root_is_child = (
        edges.select("u").distinct().join(edges.select(F.col("v").alias("u")), "u").limit(1).count()
    )
    return multi_parent == root_is_child == 0


def alternating_cc(pairs: DataFrame) -> DataFrame:
    """Connected components via the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): provably O(log^2 n) rounds on ANY graph shape —
    the scale fallback for when min-label propagation's round count
    (graph diameter) is unbounded, e.g. chain-shaped duplicate graphs
    from sliding-window shingles. Each round touches only the edge
    list (pair-list-sized, far below the corpus) with two keyed
    aggregations + joins; no neighborhood materializes in one task
    beyond a (node, min) pair, so hub nodes (a boilerplate paragraph
    shared by millions of docs) cannot OOM a reducer the way
    collect-neighbors formulations do.

    Convergence is detected STRUCTURALLY, not by diffing edge sets: at
    the fixpoint the edge list is a set of rooted stars (every child
    has exactly one parent and no parent is itself a child), with the
    component minimum as root. The check is two pair-list-sized
    aggregates per round; a graph that fails to converge within
    _CC_MAX_ROUNDS raises instead of returning a mis-merged labeling.

    Returns (id, label) with label = component minimum, one row per
    non-isolated node of the input pair list."""
    edges = (
        _canon_edges(pairs, "a_id", "b_id")
        .repartition(_CC_PARTITIONS, "u")
        .localCheckpoint(eager=True)
    )
    stars = iterate(
        edges,
        lambda e, _: _small_star(_large_star(e)).repartition(_CC_PARTITIONS, "u"),
        _CC_MAX_ROUNDS,
        converged=_star_forest,
    )
    return (
        stars.select(F.col("v").alias("id"), F.col("u").alias("label"))
        .unionByName(stars.select(F.col("u").alias("id"), F.col("u").alias("label")))
        .distinct()
    )


@query(
    "q_cc_alternating",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT doc_id, md5('a:' || shingle) AS da, md5('b:' || shingle) AS db
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             min(substr(da, 1, 8)) AS h0, min(substr(da, 9, 8)) AS h1,
             min(substr(da, 17, 8)) AS h2, min(substr(da, 25, 8)) AS h3,
             min(substr(db, 1, 8)) AS h4, min(substr(db, 9, 8)) AS h5,
             min(substr(db, 17, 8)) AS h6, min(substr(db, 25, 8)) AS h7
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id,
             unnest([struct_pack(band := 0, band_sig := h0 || '|' || h1),
                     struct_pack(band := 1, band_sig := h2 || '|' || h3),
                     struct_pack(band := 2, band_sig := h4 || '|' || h5),
                     struct_pack(band := 3, band_sig := h6 || '|' || h7)],
                    recursive := true)
      FROM sigs
    ), cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM cands
      UNION
      SELECT b_id, a_id FROM cands
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
      )
      SELECT * FROM r
    )
    SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id,
           (src <> min(dst)) AS is_dup
    FROM reach GROUP BY src
    """,
)
def q_cc_alternating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering over the LSH pair list via ALTERNATING
    large-star/small-star connected components — same contract and
    recursive-CTE exact-components oracle as q_dedup_clusters, but the
    round count is O(log^2 n) regardless of component diameter (the
    min-label variant needs diameter-many rounds and guards with an
    assert; this one needs no such guard). Registered alongside it so
    the two distributed CC strategies stay differentially verified
    against the same exact oracle."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    labels = alternating_cc(pairs)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").cast("bigint").alias("cluster_id"),
        (F.col("id") != F.col("label")).alias("is_dup"),
    )


CONTAIN_T = 0.5  # containment threshold |probe n corpus| / |probe|


@query(
    "q_containment_join",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), tsets AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS tset
      FROM tok
    )
    SELECT a.doc_id AS probe_id, b.doc_id AS host_id,
           round(len(list_intersect(a.tset, b.tset)) /
                 CAST(len(a.tset) AS DOUBLE), 4) AS containment
    FROM tsets a JOIN tsets b
      ON a.doc_id % {SETSIM_PROBE_MOD} = 0 AND a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.tset, b.tset)) /
          CAST(len(a.tset) AS DOUBLE) >= {CONTAIN_T}
    """,
)
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-CONTAINMENT join: find corpus documents that contain a
    large fraction of a probe document's shingles — the quote /
    excerpt / sub-document detector (asymmetric, unlike the symmetric
    q_setsim_join_prefix: a short quote scores high containment but
    low Jaccard against its long host). Candidate generation is
    prefix-filtered on the PROBE side only — containment puts no lower
    bound on the host's size, so the host side contributes full
    posting lists while each probe contributes its rarest
    (1-t)-fraction of shingles; the filter stays lossless because
    C(a,b) >= t forces ceil(t*|a|) intersection shingles, which cannot
    all hide in a probe suffix of size ceil(t*|a|) - 1.

    Scale: the probe prefix x posting-list join is bounded by
    rare-shingle document frequency, never |probe| x |corpus|; the
    verify join touches candidates only. The brute-force all-pairs
    pass exists only in the DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = materialize(widen(docs), w=tokens(F.col("text"))).filter(
        F.size("w") >= 3
    )
    # r16: same single-materialization discipline as
    # q_setsim_join_prefix (see the comment there) — this plan reads
    # the shingle-set table four times (probe prefix, df statistics,
    # posting lists, and both verify sides); one localCheckpoint
    # replaces four full corpus re-shingle passes per execution.
    tsets = toks.select(
        "doc_id", F.array_distinct(_text_shingles(F.col("w"), 3)).alias("tset")
    ).localCheckpoint(eager=True)
    probe_prefix = (
        setsim_prefix_tokens(
            tsets.filter(F.col("doc_id") % SETSIM_PROBE_MOD == 0),
            CONTAIN_T,
            df_source=tsets,
        )
        .withColumnRenamed("doc_id", "probe_id")
    )
    posting = tsets.select(
        F.col("doc_id").alias("host_id"),
        F.size("tset").alias("b_n"),
        F.explode("tset").alias("token"),
    )
    # Containment length filter (lossless, one-sided): C(a,b) >= t
    # forces |b| >= |a n b| >= t*|a| — hosts smaller than that die
    # before the distinct + verification joins (no upper bound: a
    # huge host can still contain a tiny probe). Same 1e-9 ceil slack
    # as the symmetric join.
    cands = (
        probe_prefix.join(posting, "token")
        .filter(
            (F.col("probe_id") != F.col("host_id"))
            & (
                F.col("b_n")
                >= F.ceil(F.lit(CONTAIN_T) * F.col("n") - F.lit(1e-9))
            )
        )
        .select("probe_id", "host_id")
        .distinct()
    )
    a = tsets.select(F.col("doc_id").alias("probe_id"), F.col("tset").alias("a_set"))
    b = tsets.select(F.col("doc_id").alias("host_id"), F.col("tset").alias("b_set"))
    cont = F.size(F.array_intersect("a_set", "b_set")) / F.size("a_set").cast(
        "double"
    )
    # r16: broadcast the candidate pair list into the verify joins so
    # the corpus-side shingle arrays never shuffle — same rationale
    # and scale note as q_setsim_join_prefix above.
    return (
        F.broadcast(cands).join(a, "probe_id")
        .join(b, "host_id")
        .withColumn("c_raw", cont)
        .filter(F.col("c_raw") >= CONTAIN_T)
        .select("probe_id", "host_id", rnd(F.col("c_raw"), 4).alias("containment"))
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (merge/purge) with distributed global ranks
# ---------------------------------------------------------------------------

SN_WINDOW = 5
SN_KEY_LEN = 24
SN_RANGE_PARTITIONS = 16


def global_sort_ranks(
    df: DataFrame, key_cols: list[str], partitions: int = SN_RANGE_PARTITIONS
) -> DataFrame:
    """EXACT global row_number over ``key_cols`` without the
    single-task trap: ``Window.orderBy`` with no partition key drags
    the whole dataset through ONE task. Instead: range-partition on
    the sort key (RangePartitioner assigns ascending key ranges to
    ascending partition ids), rank WITHIN each partition, then add
    each partition's cumulative predecessor count — the offset table
    is #partitions rows, so its cumulative window is trivially small.
    This is the classic two-phase distributed ranking; every stage
    scales with executors. Key columns must form a strict total order
    (append a unique id) or ranks at range boundaries are undefined.

    The _pid-stamped table is PINNED (localCheckpoint) before the two
    downstream references: the local-rank window and the offset table
    must agree on _pid, but spark_partition_id() is evaluated by
    whichever stage reads the range exchange, and under AQE two
    reader stages of the same shuffle can apply different coalesced
    partition specs — the offsets then describe a different
    numbering than the ranks and the global ranks silently corrupt
    (observed as run-to-run drift in q_zonemap_skipping before this
    pin). Materializing once makes _pid plain column data."""
    from pyspark.sql import Window

    cols = [F.col(c) for c in key_cols]
    r = (
        df.repartitionByRange(partitions, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    lw = Window.partitionBy("_pid").orderBy(*cols)
    r = r.withColumn("_lrank", F.row_number().over(lw))
    counts = r.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    # Predecessor counts via a triangular self-join of the
    # #partitions-row table rather than a partition-less window: the
    # result is identical (exact BIGINT sums) and the plan never
    # contains a WindowExec with no partition key — so the
    # explain-audit's single-task-window check stays meaningful
    # instead of whitelisting every ranking helper call site.
    offsets = (
        counts.alias("a")
        .join(
            counts.alias("b"),
            F.col("b._pid") < F.col("a._pid"),
            "left",
        )
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum(F.col("b._n")), F.lit(0)).alias("_off"))
    )
    return (
        r.join(F.broadcast(offsets), "_pid")
        .withColumn("rn", (F.col("_lrank") + F.col("_off")).cast("bigint"))
        .drop("_pid", "_lrank", "_off")
    )


def global_running_sums(
    df: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    partitions: int = SN_RANGE_PARTITIONS,
    reset_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT inclusive running sums of ``value_cols`` over the total
    order given by ``key_cols``, without the single-task trap of a
    bare ``Window.orderBy`` (which drags the whole table through ONE
    task). Same two-phase shape as global_sort_ranks: range-partition
    on the key (ascending ranges -> ascending partition ids), local
    running sum within each partition, then add each partition's
    cumulative predecessor TOTAL from a #partitions-row broadcast
    offset table. Every stage scales with executors; the ordered
    tables this serves (distinct purchase values, distinct durations)
    are cardinality-bounded, so correctness never depended on the
    fix — plan shape at 100 TB did. Key columns must form a strict
    total order; rows sharing a full key would get order-dependent
    partial sums (callers here pass distinct-key tables).

    ``reset_cols`` generalizes this to GROUPED running sums — the
    distributed replacement for ``Window.partitionBy(enum).orderBy(
    growing_key)`` when the partition key is a bounded enum (lang,
    event_type, returnflag) but each group grows with the corpus, so
    the vanilla window pushes n/|enum| rows through one task per
    group. Ranges are taken over (*reset_cols, *key_cols) — groups
    are laid out contiguously and a big group spans MANY partitions —
    the local cumsum keys on (_pid, *reset_cols), and the offset
    table carries one row per (partition x group seen in it), still
    broadcast-sized (<= partitions x |enum|). (*reset_cols,
    *key_cols) must form a strict total order.

    Pinned (localCheckpoint) for the same reason as
    global_sort_ranks: the local-cumsum window and the totals table
    both key on _pid, and AQE can hand two reader stages of one
    shuffle different coalesced partition specs, desynchronizing
    spark_partition_id() between them."""
    from pyspark.sql import Window

    reset_cols = reset_cols or []
    cols = [F.col(c) for c in [*reset_cols, *key_cols]]
    r = (
        df.repartitionByRange(partitions, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    lw = (
        Window.partitionBy("_pid", *reset_cols)
        .orderBy(*[F.col(c) for c in key_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for v in value_cols:
        r = r.withColumn(f"_lcum_{v}", F.sum(v).over(lw))
    totals = r.groupBy("_pid", *reset_cols).agg(
        *[F.sum(v).alias(f"_t_{v}") for v in value_cols]
    )
    # Predecessor totals via a triangular self-join (see
    # global_sort_ranks): no partition-less WindowExec in the plan.
    # For DOUBLE value columns this sums the ≤#partitions per-partition
    # totals in agg order instead of _pid order — both are "a sum of
    # the partial totals", the same reordering freedom partial
    # aggregation already has (every caller is perturb-checked).
    same_group = F.col("b._pid") < F.col("a._pid")
    for g in reset_cols:
        same_group = same_group & F.col(f"b.{g}").eqNullSafe(F.col(f"a.{g}"))
    offsets = (
        totals.alias("a")
        .join(totals.alias("b"), same_group, "left")
        .groupBy(
            F.col("a._pid").alias("_pid"),
            *[F.col(f"a.{g}").alias(g) for g in reset_cols],
        )
        .agg(
            *[
                F.coalesce(F.sum(F.col(f"b._t_{v}")), F.lit(0)).alias(
                    f"_off_{v}"
                )
                for v in value_cols
            ]
        )
    )
    out = r.join(F.broadcast(offsets), ["_pid", *reset_cols])
    for v in value_cols:
        out = out.withColumn(
            f"cum_{v}", F.col(f"_lcum_{v}") + F.col(f"_off_{v}")
        ).drop(f"_lcum_{v}", f"_off_{v}")
    return out.drop("_pid")


def global_running_max(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    out_col: str = "run_max",
    inclusive: bool = True,
    partitions: int = SN_RANGE_PARTITIONS,
) -> DataFrame:
    """EXACT running max of ``value_col`` over the total order given by
    ``key_cols`` without a single-task global window — the max twin of
    :func:`global_running_sums`: range-partition on the key, local
    running max per partition, then fold in each partition's
    predecessor maxima from a #partitions-row broadcast table via a
    triangular self-join. Max is order-insensitive, so the result is
    bit-exact regardless of partitioning. ``inclusive=False`` gives
    the strict-prefix max (NULL when no predecessor exists — the
    sort-based skyline's "best among strictly better rows").
    Key columns must form a strict total order."""
    from pyspark.sql import Window

    cols = [F.col(c) for c in key_cols]
    r = (
        df.repartitionByRange(partitions, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    end = 0 if inclusive else -1
    lw = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    r = r.withColumn("_lmax", F.max(value_col).over(lw))
    totals = r.groupBy("_pid").agg(F.max(value_col).alias("_t"))
    offsets = (
        totals.alias("a")
        .join(totals.alias("b"), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.max(F.col("b._t")).alias("_off"))
    )
    # greatest() skips NULLs: first row of a partition (exclusive) has
    # NULL _lmax and takes the offset; partition 0 has NULL _off.
    return (
        r.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.greatest("_lmax", "_off"))
        .drop("_pid", "_lmax", "_off")
    )


def global_ntile(
    df: DataFrame,
    n: int,
    key_cols: list[str],
    out_col: str = "tile",
    partitions: int = SN_RANGE_PARTITIONS,
    total: DataFrame | None = None,
) -> DataFrame:
    """EXACT ``ntile(n) OVER (ORDER BY key_cols ASC)`` without the
    single-task global window (``Window.orderBy`` with no partition
    key drags the whole table through ONE task — Spark's own
    "No Partition Defined for Window operation" warning). Two phases:
    :func:`global_sort_ranks` assigns the exact global row_number
    ``rn`` (range-partitioned, every stage scales with executors),
    then a 1-row broadcast total count turns ranks into tiles with
    the standard ntile arithmetic — the first ``N mod n`` buckets get
    ``floor(N/n)+1`` rows, the rest ``floor(N/n)``. Bit-identical to
    the window ntile for any N, n.

    ``key_cols`` must form a strict total order (append a unique id)
    and sort ASCENDING — for a DESC axis pass a pre-negated numeric
    column (exact for BIGINT/DOUBLE). Integer division is done as
    ``(a - a mod b) / b`` so the double intermediate is an exact
    integer (< 2^53 for any realistic rank).

    ``total``: optional pre-computed 1-row count DataFrame (column
    ``_N``) — callers tiling the SAME input on several axes (the RFM
    pattern) compute it once on a pinned input instead of paying one
    count job per axis."""
    ranked = global_sort_ranks(df, key_cols, partitions)
    if total is None:
        total = ranked.agg(F.count(F.lit(1)).alias("_N"))

    def idiv(a, b):  # exact integer floor-div for non-negative a, b>0
        return ((a - a % b) / b).cast("bigint")

    q = idiv(F.col("_N"), F.lit(n))  # base bucket size
    r = F.col("_N") % n  # first r buckets get one extra row
    cutoff = r * (q + 1)
    # greatest(q,1): when N < n the else-branch is never taken for any
    # real row, but ANSI mode would still reject a literal div-by-zero.
    tile = (
        F.when(F.col("rn") <= cutoff, 1 + idiv(F.col("rn") - 1, q + 1))
        .otherwise(
            r + 1 + idiv(F.col("rn") - cutoff - 1, F.greatest(q, F.lit(1)))
        )
        .cast("int")
    )
    return (
        ranked.crossJoin(total)
        .withColumn(out_col, tile)
        .drop("rn", "_N")
    )


@query(
    "q_sorted_neighborhood",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt,
             string_split(lower(text), ' ') AS w
      FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), keyed AS (
      SELECT doc_id, substr(nt, 1, {SN_KEY_LEN}) AS k,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS tset
      FROM norm
    ), ranked AS (
      SELECT doc_id, tset, row_number() OVER (ORDER BY k, doc_id) AS rn
      FROM keyed
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
           round(len(list_intersect(a.tset, b.tset)) /
                 CAST(len(list_distinct(list_concat(a.tset, b.tset))) AS DOUBLE),
                 4) AS jaccard
    FROM ranked a JOIN ranked b
      ON b.rn > a.rn AND b.rn <= a.rn + {SN_WINDOW}
    WHERE len(list_intersect(a.tset, b.tset)) /
          CAST(len(list_distinct(list_concat(a.tset, b.tset))) AS DOUBLE) >= 0.5
    """,
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernandez/Stolfo
    merge/purge): sort the corpus by a cheap blocking key (first
    {SN_KEY_LEN} chars of the normalized text), slide a {SN_WINDOW}-row
    window down the GLOBAL sort order, verify only window-adjacent
    pairs — O(n log n + n*w) candidates vs corpus² brute force, and the
    classic complement to hash blocking (LSH) for edit-heavy tails
    where early-text edits keep lexicographic neighbors adjacent.

    Scale: global ranks come from global_sort_ranks (range partition +
    local rank + tiny offset window — NO unpartitioned window); the
    successor join is a pure equi-join on rank after a w-way explode
    of rank targets (fan-out w, constant); verify touches the w*n
    candidate pairs only. The oracle reproduces the identical global
    order with row_number."""
    docs = load_table(spark, sf_dir, "documents")
    toks = materialize(widen(docs), w=tokens(F.col("text"))).filter(
        F.size("w") >= 3
    )
    keyed = toks.select(
        "doc_id",
        F.substring(normalize_text(F.col("text")), 1, SN_KEY_LEN).alias("k"),
        F.array_distinct(_text_shingles(F.col("w"), 3)).alias("tset"),
    )
    ranked = global_sort_ranks(keyed, ["k", "doc_id"]).select(
        "doc_id", "tset", "rn"
    )
    a = ranked.select(
        F.col("doc_id").alias("a_id"),
        F.col("tset").alias("a_set"),
        F.col("rn").alias("a_rn"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + SN_WINDOW)
        ).alias("target_rn"),
    )
    b = ranked.select(
        F.col("doc_id").alias("b_id"),
        F.col("tset").alias("b_set"),
        F.col("rn").alias("target_rn"),
    )
    # r16 continuation (guide §2.2): the verify-join stage's cost is
    # per-pair ARRAY compute (intersect/union over ~2 KB shingle sets),
    # not bytes, but AQE's byte-based coalescing squeezed it to 3
    # post-shuffle partitions (~1 MB each) and serialized the verify.
    # A user repartition on the join key is exempt from AQE coalescing
    # and already satisfies the join's required distribution (no extra
    # exchange); defaultParallelism keeps it scale-adaptive — the same
    # documented exemption as the Python-tier EWMA repartition.
    # Measured same-session A/B/A at sf0.1: 0.42/0.46 s -> 0.159 s
    # best-of-3, identical 256-row result.
    par = spark.sparkContext.defaultParallelism
    a = a.repartition(par, "target_rn")
    b = b.repartition(par, "target_rn")
    jac = F.size(F.array_intersect("a_set", "b_set")) / F.size(
        F.array_union("a_set", "b_set")
    ).cast("double")
    return (
        a.join(b, "target_rn")
        .withColumn("jac_raw", jac)
        .filter(F.col("jac_raw") >= 0.5)
        .select(
            "a_id",
            "b_id",
            (F.col("target_rn") - F.col("a_rn")).cast("bigint").alias("rank_gap"),
            rnd(F.col("jac_raw"), 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# PageRank over the duplicate graph (fixed-iteration, fully lazy)
# ---------------------------------------------------------------------------

PR_ITERS = 5
PR_DAMP = 0.85


def pagerank(pairs: DataFrame, iters: int = PR_ITERS, damping: float = PR_DAMP) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair list: the
    authority score used to pick canonical representatives in
    duplicate graphs (an alternative to min-id keeper selection — the
    highest-ranked node of a cluster is its best-connected, most
    "central" copy).

    Unlike the convergence-looped algorithms (Lloyd's, alternating
    CC), a FIXED iteration count needs no driver action: the returned
    plan is pure — ``iters`` chained join+agg stages, composable with
    prepared-plan caching. The edge list and degree table are single
    Python objects referenced by every iteration, so the plan is a DAG
    with linear (not exponential) printed size and AQE reuses their
    exchange across stages. Symmetric edges mean no dangling nodes
    (every node has outdegree >= 1) and every node receives at least
    one contribution, so no left-join patching is needed. Per
    iteration: one keyed shuffle on the destination node over the
    pair-list-sized rank table — the corpus itself is never touched."""
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(
            pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
        )
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_tab = nodes.agg(F.count(F.lit(1)).alias("n"))
    pr = nodes.crossJoin(n_tab).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(iters):
        contrib = (
            edges.join(pr, edges.src == pr.node)
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("d")).alias("c"))
        )
        pr = (
            contrib.crossJoin(n_tab)
            .select(
                F.col("dst").alias("node"),
                (
                    (1.0 - damping) / F.col("n") + damping * F.col("c")
                ).alias("pr"),
            )
        )
    return pr


def _pagerank_oracle_sql(iters: int = PR_ITERS, damping: float = PR_DAMP) -> str:
    """Unrolled DuckDB oracle: the same LSH candidate CTE as the
    cluster oracles, then ``iters`` chained PageRank stages."""
    lsh = """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT doc_id, md5('a:' || shingle) AS da, md5('b:' || shingle) AS db
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             min(substr(da, 1, 8)) AS h0, min(substr(da, 9, 8)) AS h1,
             min(substr(da, 17, 8)) AS h2, min(substr(da, 25, 8)) AS h3,
             min(substr(db, 1, 8)) AS h4, min(substr(db, 9, 8)) AS h5,
             min(substr(db, 17, 8)) AS h6, min(substr(db, 25, 8)) AS h7
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id,
             unnest([struct_pack(band := 0, band_sig := h0 || '|' || h1),
                     struct_pack(band := 1, band_sig := h2 || '|' || h3),
                     struct_pack(band := 2, band_sig := h4 || '|' || h5),
                     struct_pack(band := 3, band_sig := h6 || '|' || h7)],
                    recursive := true)
      FROM sigs
    ), cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM cands
      UNION
      SELECT b_id, a_id FROM cands
    ), deg AS (
      SELECT src, count(*) AS d FROM edges GROUP BY src
    ), nt AS (
      SELECT count(DISTINCT src) AS n FROM edges
    ), pr0 AS (
      SELECT src AS node, 1.0 / (SELECT n FROM nt) AS pr
      FROM (SELECT DISTINCT src FROM edges)
    )"""
    stages = []
    for i in range(1, iters + 1):
        stages.append(
            f""", pr{i} AS (
      SELECT e.dst AS node,
             {1.0 - damping!r} / (SELECT n FROM nt)
               + {damping!r} * sum(p.pr / d.d) AS pr
      FROM edges e
      JOIN pr{i - 1} p ON p.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )"""
        )
    return (
        lsh
        + "".join(stages)
        + f"""
    SELECT node AS doc_id, round(pr, 6) AS pagerank FROM pr{iters}"""
    )


@query("q_pagerank", oracle=_pagerank_oracle_sql())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the LSH duplicate graph — authority-
    based canonical selection for duplicate clusters (the
    best-connected copy, vs q_dedup_keeper's min-id rule). Five fixed
    damped iterations; the DuckDB oracle unrolls the identical five
    stages, so the scores hash-match to 6 decimals. See pagerank() for
    the scale design (lazy fixed-iteration plan, pair-list-sized state,
    one dst-keyed shuffle per stage)."""
    docs = load_table(spark, sf_dir, "documents")
    scores = pagerank(minhash_lsh_pairs(docs))
    return scores.select(
        F.col("node").alias("doc_id"), rnd("pr", 6).alias("pagerank")
    )


@query(
    "q_golden_record",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT doc_id, md5('a:' || shingle) AS da, md5('b:' || shingle) AS db
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             min(substr(da, 1, 8)) AS h0, min(substr(da, 9, 8)) AS h1,
             min(substr(da, 17, 8)) AS h2, min(substr(da, 25, 8)) AS h3,
             min(substr(db, 1, 8)) AS h4, min(substr(db, 9, 8)) AS h5,
             min(substr(db, 17, 8)) AS h6, min(substr(db, 25, 8)) AS h7
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id,
             unnest([struct_pack(band := 0, band_sig := h0 || '|' || h1),
                     struct_pack(band := 1, band_sig := h2 || '|' || h3),
                     struct_pack(band := 2, band_sig := h4 || '|' || h5),
                     struct_pack(band := 3, band_sig := h6 || '|' || h7)],
                    recursive := true)
      FROM sigs
    ), cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM cands
      UNION
      SELECT b_id, a_id FROM cands
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
      )
      SELECT * FROM r
    ), lab AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    ), members AS (
      SELECT d.doc_id, d.n_chars, d.lang,
             CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
      FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
    ), rep AS (
      SELECT cluster_id, doc_id, n_chars,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id DESC) AS rk
      FROM members
    ), langs AS (
      SELECT cluster_id, lang,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY count(*) DESC, lang) AS lrk
      FROM members GROUP BY cluster_id, lang
    )
    SELECT m.cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(CASE WHEN r.rk = 1 THEN r.doc_id END) AS BIGINT)
             AS rep_doc_id,
           CAST(max(CASE WHEN r.rk = 1 THEN r.n_chars END) AS BIGINT)
             AS rep_n_chars,
           max(lg.lang) AS modal_lang
    FROM members m
    JOIN rep r ON r.cluster_id = m.cluster_id AND r.doc_id = m.doc_id
    JOIN (SELECT cluster_id, lang FROM langs WHERE lrk = 1) lg
      ON lg.cluster_id = m.cluster_id
    GROUP BY m.cluster_id
    """,
)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction (attribute survivorship): after
    duplicate clustering, each cluster elects canonical ATTRIBUTES —
    the longest text's doc as representative (deterministic tiebreak:
    highest doc_id) and the modal language (tiebreak: lexicographic) —
    the entity-resolution step that follows dedup in any master-data /
    corpus-curation pipeline. Singleton documents (in no LSH pair)
    form their own clusters via a left join + coalesce, so the output
    covers the whole corpus.

    Scale: clustering state is pair-list-sized (min-label propagation);
    survivorship is two cluster-keyed struct AGGREGATES (partial
    aggregation map-side, one struct per cluster shuffles) — no
    corpus-wide sort, nothing pairwise. Tie-breaks live inside the
    struct comparisons so both engines elect identical
    representatives."""
    docs = load_table(spark, sf_dir, "documents")
    labels = minlabel_clusters(minhash_lsh_pairs(docs))
    members = (
        docs.join(labels, docs.doc_id == labels.id, "left")
        .select(
            "doc_id",
            "n_chars",
            "lang",
            F.coalesce(F.col("label"), F.col("doc_id"))
            .cast("bigint")
            .alias("cluster_id"),
        )
    )
    # r16 (guide SS2.3/SS2.4): survivorship via MAX-OF-STRUCT aggregates
    # instead of row_number windows. A rank-1 window sorts every
    # cluster's members per partition and ships whole rows; the struct
    # aggregate reduces map-side (partial agg) and shuffles one struct
    # per cluster. Identical election: max(struct(n_chars, doc_id)) ==
    # ORDER BY n_chars DESC, doc_id DESC rank 1 (struct comparison is
    # field-lexicographic, both fields exact integers), and
    # min(struct(-cnt, lang)) == ORDER BY cnt DESC, lang ASC rank 1
    # (binary string order both paths). Folding the size count into the
    # same aggregate also drops the 3-way join to a 2-way.
    rep_sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max(
            F.struct(
                F.col("n_chars").cast("bigint").alias("n_chars"),
                F.col("doc_id").alias("doc_id"),
            )
        ).alias("_rep"),
    )
    modal = (
        members.groupBy("cluster_id", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("cluster_id")
        .agg(F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("lang"))).alias("_m"))
        .select("cluster_id", F.col("_m.lang").alias("modal_lang"))
    )
    return (
        rep_sizes.join(modal, "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            F.col("_rep.doc_id").alias("rep_doc_id"),
            F.col("_rep.n_chars").alias("rep_n_chars"),
            "modal_lang",
        )
    )


_LSH_TUNING_CONFIGS = [("b8r1", 8, 1), ("b4r2", 4, 2), ("b2r4", 2, 4)]


@query(
    "q_lsh_tuning",
    # Reuse the shared signature CTEs (tok/sh/hashed/sigs) and band
    # the sigs three ways below instead of the CTE's fixed 4x2 bands.
    oracle=_MINHASH_BANDS_CTE.split("), bands AS (")[0]
    + ")"
    + """
    , allbands AS (
      SELECT 'b8r1' AS config, doc_id, 0 AS band, h0 AS sig FROM sigs UNION ALL
      SELECT 'b8r1', doc_id, 1, h1 FROM sigs UNION ALL
      SELECT 'b8r1', doc_id, 2, h2 FROM sigs UNION ALL
      SELECT 'b8r1', doc_id, 3, h3 FROM sigs UNION ALL
      SELECT 'b8r1', doc_id, 4, h4 FROM sigs UNION ALL
      SELECT 'b8r1', doc_id, 5, h5 FROM sigs UNION ALL
      SELECT 'b8r1', doc_id, 6, h6 FROM sigs UNION ALL
      SELECT 'b8r1', doc_id, 7, h7 FROM sigs UNION ALL
      SELECT 'b4r2', doc_id, 0, h0 || '|' || h1 FROM sigs UNION ALL
      SELECT 'b4r2', doc_id, 1, h2 || '|' || h3 FROM sigs UNION ALL
      SELECT 'b4r2', doc_id, 2, h4 || '|' || h5 FROM sigs UNION ALL
      SELECT 'b4r2', doc_id, 3, h6 || '|' || h7 FROM sigs UNION ALL
      SELECT 'b2r4', doc_id, 0, h0 || '|' || h1 || '|' || h2 || '|' || h3 FROM sigs UNION ALL
      SELECT 'b2r4', doc_id, 1, h4 || '|' || h5 || '|' || h6 || '|' || h7 FROM sigs
    ), cand AS (
      SELECT DISTINCT a.config, a.doc_id AS a_id, b.doc_id AS b_id
      FROM allbands a JOIN allbands b
        ON a.config = b.config AND a.band = b.band AND a.sig = b.sig
       AND a.doc_id < b.doc_id
    ), est AS (
      SELECT c.config,
             ((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT + (sa.h2 = sb.h2)::INT
              + (sa.h3 = sb.h3)::INT + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT
              + (sa.h6 = sb.h6)::INT + (sa.h7 = sb.h7)::INT) / 8.0 AS e
      FROM cand c JOIN sigs sa ON c.a_id = sa.doc_id
                 JOIN sigs sb ON c.b_id = sb.doc_id
    )
    SELECT config, CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN e >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_strong,
           round(avg(e), 4) AS avg_est_jaccard
    FROM est GROUP BY config ORDER BY config
    """,
)
def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band/row tuning audit: the SAME 8 minhashes banded three
    ways — (b=8, r=1), (b=4, r=2), (b=2, r=4) — with per-config
    candidate volume, strong-pair count (signature-estimated Jaccard
    >= 0.5), and mean candidate quality. The s-curve tradeoff made
    measurable: more bands with shorter rows recall more (threshold
    ~ (1/b)^(1/r) drops) but admits noisier candidates; this is the
    design table consulted before fixing (b, r) for a corpus-wide
    dedup run.

    Scale: signatures are computed ONCE (one explode + one keyed agg);
    each config adds only a band-key equi-join on its own band table —
    the standard LSH shape, never pairwise. The per-candidate estimate
    joins the (doc, 8-column) signature table twice by id; candidates
    are band-collision-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    parts = []
    for config, b, r in _LSH_TUNING_CONFIGS:
        entries = [
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"h{band * r + j}") for j in range(r)]
                ).alias("sig"),
            )
            for band in range(b)
        ]
        parts.append(
            sigs.select(
                F.lit(config).alias("config"),
                "doc_id",
                F.explode(F.array(*entries)).alias("bs"),
            ).select(
                "config", "doc_id",
                F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"),
            )
        )
    allbands = parts[0].unionByName(parts[1]).unionByName(parts[2])
    a = allbands.select(
        "config", "band", "sig", F.col("doc_id").alias("a_id")
    )
    b_ = allbands.select(
        "config", "band", "sig", F.col("doc_id").alias("b_id")
    )
    cand = (
        a.join(b_, ["config", "band", "sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("config", "a_id", "b_id")
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"h{i}").alias(f"a_h{i}") for i in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"h{i}").alias(f"b_h{i}") for i in range(8)],
    )
    n_match = sum(
        (F.col(f"a_h{i}") == F.col(f"b_h{i}")).cast("int") for i in range(8)
    )
    est = (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .select("config", (n_match / F.lit(8.0)).alias("e"))
    )
    return (
        est.groupBy("config")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("e") >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_strong"),
            rnd(F.avg("e"), 4).alias("avg_est_jaccard"),
        )
        .orderBy("config")
    )


@query(
    "q_triangle_count",
    oracle=_MINHASH_BANDS_CTE
    + """
    , edges AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
      ) GROUP BY node
    ), tri AS (
      SELECT count(*) AS t
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), agg AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
             (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles,
             (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges
    )
    SELECT n_nodes, n_edges, n_triangles, n_wedges,
           round(CASE WHEN n_wedges > 0
                      THEN 3.0 * n_triangles / n_wedges END, 6)
               AS clustering_coeff
    FROM agg
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the LSH
    duplicate graph — the structural audit of a dedup pair list: a
    high coefficient means candidate pairs close into genuine
    duplicate cliques; a low one means band collisions are scattering
    (tune b/r via q_lsh_tuning). Triangles = the canonical oriented
    edge-join (each triangle a<b<c counted exactly once).

    Scale: the id orientation (u < v) makes every join an equi-join
    on node keys — the standard distributed triangle algorithm; at
    scale orient by DEGREE instead (low-degree node first) so hub
    fan-out in the wedge join is bounded by the arboricity, not the
    max degree. All stages are pair-list-sized, never corpus-sized —
    but the lazy plan references the edge list three times, and each
    reference re-derives the corpus minhash here; in the production
    pipeline the pair list is already MATERIALIZED parquet (the
    q_dedup_minhash_lsh output / the streaming band index), so the
    triangle pass reads it, not the corpus."""
    edges = dup_edges(load_table(spark, sf_dir, "documents"))
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    nn = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"),
    )
    ne = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        nn.join(ne)
        .join(tri)
        .select(
            "n_nodes", "n_edges", "n_triangles", "n_wedges",
            rnd(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ),
                6,
            ).alias("clustering_coeff"),
        )
    )


LSH_AUDIT_T = 0.5
LSH_AUDIT_MOD = 17


@query(
    "q_lsh_recall_audit",
    oracle=_MINHASH_BANDS_CTE
    + f"""
    , tsets AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS tset
      FROM tok
    ), truth AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM tsets a JOIN tsets b
        ON a.doc_id % {LSH_AUDIT_MOD} = 0 AND a.doc_id <> b.doc_id
      WHERE len(list_intersect(a.tset, b.tset))
            / CAST(len(list_distinct(list_concat(a.tset, b.tset))) AS DOUBLE)
            >= {LSH_AUDIT_T}
    ), cand AS (
      SELECT DISTINCT p.doc_id AS a_id, q.doc_id AS b_id
      FROM bands p JOIN bands q
        ON p.band = q.band AND p.band_sig = q.band_sig
       AND p.doc_id % {LSH_AUDIT_MOD} = 0 AND p.doc_id <> q.doc_id
    ), agg AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
             (SELECT CAST(count(*) AS BIGINT)
              FROM truth t JOIN cand c
                ON t.a_id = c.a_id AND t.b_id = c.b_id) AS n_caught
    )
    SELECT n_truth, n_candidates, n_caught,
           round(CASE WHEN n_truth > 0
                      THEN n_caught / CAST(n_truth AS DOUBLE) END, 6) AS recall,
           round(CASE WHEN n_candidates > 0
                      THEN n_caught / CAST(n_candidates AS DOUBLE) END, 6)
               AS precision_proxy
    FROM agg
    """,
)
def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generator recall audit: the probabilistic guarantee
    behind MinHash-LSH is only a guarantee in expectation — this
    measures it. Ground truth = probe-sample pairs with exact shingle
    Jaccard >= 0.5 (the brute force confined to the 1/17 probe
    slice); candidates = the band-collision pairs for the same
    probes. Reports recall (truth pairs the bands caught — the number
    that must stay near 1 before a corpus-wide dedup run) and the
    candidate precision proxy (how much verify work each collision
    costs). Complements q_lsh_tuning (which compares band shapes) and
    q_minhash_jaccard_est (which audits the estimator, not the
    bucketing).

    Scale: the exact side is probe-sample x corpus (1/17th), never
    corpus²; the candidate side is the standard band equi-join; the
    intersection is a pair-keyed join of two pair lists."""
    docs = load_table(spark, sf_dir, "documents")
    toks = materialize(widen(docs), w=tokens(F.col("text"))).filter(
        F.size("w") >= 3
    )
    tsets = toks.select(
        "doc_id", F.array_distinct(_text_shingles(F.col("w"), 3)).alias("tset")
    )
    probes = tsets.filter(F.col("doc_id") % LSH_AUDIT_MOD == 0).select(
        F.col("doc_id").alias("a_id"), F.col("tset").alias("a_set")
    )
    corpus = tsets.select(
        F.col("doc_id").alias("b_id"), F.col("tset").alias("b_set")
    )
    jac = F.size(F.array_intersect("a_set", "b_set")) / F.size(
        F.array_union("a_set", "b_set")
    ).cast("double")
    truth = (
        corpus.join(probes, F.col("a_id") != F.col("b_id"))
        .filter(jac >= LSH_AUDIT_T)
        .select("a_id", "b_id")
    )
    bands = minhash_bands(docs)
    p = bands.filter(F.col("doc_id") % LSH_AUDIT_MOD == 0).select(
        F.col("doc_id").alias("a_id"), "band", "band_sig"
    )
    q = bands.select(F.col("doc_id").alias("b_id"), "band", "band_sig")
    cand = (
        p.join(q, ["band", "band_sig"])
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    caught = truth.join(cand, ["a_id", "b_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_caught")
    )
    return (
        nt.join(nc)
        .join(caught)
        .select(
            "n_truth", "n_candidates", "n_caught",
            rnd(
                F.when(
                    F.col("n_truth") > 0,
                    F.col("n_caught") / F.col("n_truth").cast("double"),
                ),
                6,
            ).alias("recall"),
            rnd(
                F.when(
                    F.col("n_candidates") > 0,
                    F.col("n_caught") / F.col("n_candidates").cast("double"),
                ),
                6,
            ).alias("precision_proxy"),
        )
    )


@query(
    "q_bfs_levels",
    oracle="WITH RECURSIVE "
    + _MINHASH_BANDS_CTE.replace("WITH ", "", 1)
    + """
    , edges AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), bfs AS (
      SELECT doc_id AS id, 0 AS level FROM documents WHERE doc_id % 50 = 0
      UNION
      SELECT s.v AS id, b.level + 1
      FROM bfs b JOIN sym s ON s.u = b.id
      WHERE b.level < 3
    ), closest AS (
      SELECT id, min(level) AS lvl FROM bfs GROUP BY id
    )
    SELECT CAST(lvl AS BIGINT) AS level,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM closest
    GROUP BY lvl
    ORDER BY level
    """,
)
def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded breadth-first search over the near-duplicate graph:
    every 50th document seeds level 0, and three expansion rounds
    label each reached node with its HOP DISTANCE to the nearest seed
    — the contamination-blast-radius question ('how far does
    duplication spread from these known-bad documents?') that
    connected components (q_cc_alternating: membership, no distance)
    and PageRank (influence, no distance) don't answer.

    Iterative frontier expansion driver-side, recursive CTE
    oracle-side — the two canonical executions of the same fixpoint.

    Scale: each round is one join of the CURRENT level set against
    the symmetric edge list (frontier-sized, not graph-sized) plus a
    min-level agg."""
    docs = load_table(spark, sf_dir, "documents")
    sym = symmetrize(dup_edges(docs))
    seeds = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("id"))
        .withColumn("level", F.lit(0))
    )

    def expand(levels: DataFrame, r: int) -> DataFrame:
        frontier = levels.filter(F.col("level") == r - 1)
        nxt = (
            frontier.join(sym, frontier.id == sym.u)
            .select(F.col("v").alias("id"), F.lit(r).alias("level"))
        )
        return (
            levels.unionByName(nxt)
            .groupBy("id")
            .agg(F.min("level").alias("level"))
        )

    levels = iterate(seeds, expand, 3)
    return (
        levels.groupBy("level")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .select(F.col("level").cast("bigint").alias("level"), "n_nodes")
        .orderBy("level")
    )


@query(
    "q_cluster_size_dist",
    oracle=_MINHASH_BANDS_CTE
    + """
    , cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM cands
      UNION
      SELECT b_id, a_id FROM cands
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
      )
      SELECT * FROM r
    ), labels AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach
      GROUP BY src
    ), sizes AS (
      SELECT cluster_id, count(*) AS sz FROM labels GROUP BY cluster_id
      UNION ALL
      SELECT d.doc_id, 1 FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM labels)
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM sizes
    GROUP BY sz
    ORDER BY cluster_size
    """,
)
def q_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many near-dup clusters
    exist at each size (singletons included — every document outside
    the dup graph is its own cluster) — the dedup IMPACT summary: the
    tail of this histogram is where template spam lives, and
    sum(size-1 over clusters) is exactly the document count dedup
    will remove. Complements q_dedup_clusters (per-doc labels) with
    the corpus-level shape.

    Scale: labels come from the same min-label propagation; the
    histogram is a cluster-keyed count then a size-keyed count —
    both bounded by cluster cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    labels = minlabel_clusters(pairs)
    clustered_sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("sz")
    )
    singletons = (
        docs.select("doc_id")
        .join(labels.select(F.col("id").alias("doc_id")), "doc_id", "left_anti")
        .select(F.lit(1).alias("sz"))
    )
    sizes = clustered_sizes.select("sz").unionByName(singletons)
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            F.col("sz").cast("bigint").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@query(
    "q_lsh_bucket_skew",
    oracle=_MINHASH_BANDS_CTE
    + """
    , buckets AS (
      SELECT band, band_sig, CAST(count(*) AS BIGINT) AS sz
      FROM bands GROUP BY band, band_sig
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           round(quantile_cont(CAST(sz AS DOUBLE), 0.99), 2) AS p99_bucket,
           CAST(sum(sz * (sz - 1) / 2) AS BIGINT) AS candidate_pairs,
           CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_colliding_buckets
    FROM buckets
    """,
)
def q_lsh_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket skew audit: the size distribution of the
    MinHash band buckets and the candidate-pair volume it implies —
    sum over buckets of C(size, 2) IS the cost of the dedup
    candidate join, and one hot bucket (a boilerplate shingle shared
    corpus-wide) can dominate it quadratically. This is the number to
    watch BEFORE running q_dedup_minhash_lsh at a new scale: p99 and
    max bucket size tell you whether the band join needs salting
    (functions/skew.py) or a stopword-shingle filter first.

    Scale: one (band, sig)-keyed count, then a bucket-cardinality
    aggregate — the audit costs one shuffle of band keys, far less
    than the join it de-risks."""
    docs = load_table(spark, sf_dir, "documents")
    buckets = minhash_bands(docs).groupBy("band", "band_sig").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return buckets.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("sz").cast("bigint").alias("max_bucket"),
        rnd(F.expr("percentile(CAST(sz AS DOUBLE), 0.99)"), 2).alias(
            "p99_bucket"
        ),
        F.sum(F.col("sz") * (F.col("sz") - 1) / 2)
        .cast("bigint")
        .alias("candidate_pairs"),
        F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_colliding_buckets"),
    )


@query(
    "q_graph_assortativity",
    oracle=_MINHASH_BANDS_CTE
    + """
    , edges AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), deg AS (
      SELECT node, CAST(count(*) AS DOUBLE) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
      ) GROUP BY node
    ), pairs AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ), sym AS (
      SELECT dx, dy FROM pairs UNION ALL SELECT dy AS dx, dx AS dy
      FROM pairs
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           round(corr(dx, dy), 6) AS assortativity
    FROM sym
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-duplicate graph: the Pearson
    correlation of endpoint degrees over (symmetrized) edges — positive
    means heavy duplicators cluster with each other (template farms
    interlinking), negative means hubs attach to leaves (one canonical
    page copied by many one-off mirrors). The structural fingerprint
    that, with the triangle clustering coefficient and PageRank,
    characterizes WHAT KIND of duplication the corpus has, not just
    how much.

    Scale: degrees are one node-keyed count; the degree join touches
    the edge list twice keyed on endpoints; corr is algebraic."""
    edges = dup_edges(load_table(spark, sf_dir, "documents"))
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    pairs = edges.join(du, "u").join(dv, "v").select("dx", "dy")
    sym = pairs.unionByName(
        pairs.select(F.col("dy").alias("dx"), F.col("dx").alias("dy"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        sym.agg(rnd(F.corr("dx", "dy"), 6).alias("assortativity"))
        .crossJoin(n_edges)
        .select("n_edges", "assortativity")
    )


@query(
    "q_dedup_savings",
    oracle=_MINHASH_BANDS_CTE
    + """
    , cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM cands
      UNION SELECT b_id, a_id FROM cands
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
      )
      SELECT * FROM r
    ), labels AS (
      SELECT src AS doc_id, min(dst) AS keeper FROM reach GROUP BY src
    ), verdicts AS (
      SELECT d.source, d.n_chars,
             CASE WHEN l.doc_id IS NOT NULL AND l.doc_id <> l.keeper
                  THEN 1 ELSE 0 END AS removable
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(removable) AS BIGINT) AS n_removable,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN removable = 1 THEN n_chars ELSE 0 END)
                AS BIGINT) AS removable_chars,
           round(sum(CASE WHEN removable = 1 THEN n_chars ELSE 0 END)
                 / CAST(sum(n_chars) AS DOUBLE), 4) AS savings_frac
    FROM verdicts
    GROUP BY source
    ORDER BY source
    """,
)
def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup business case, per source: documents and characters
    that near-dup deduplication would REMOVE (everything in a dup
    cluster except its keeper), as an absolute and a savings fraction
    — the number that justifies (or kills) running the pipeline on a
    new crawl, and the per-source view that points at which feeds are
    mostly mirrors. Keeper = min doc_id, matching q_dedup_keeper.

    Scale: labels from the same min-label propagation; the verdict is
    one doc-keyed left join + a source-keyed rollup."""
    docs = load_table(spark, sf_dir, "documents")
    labels = minlabel_clusters(minhash_lsh_pairs(docs)).select(
        F.col("id").alias("doc_id"), F.col("label").alias("keeper")
    )
    verdicts = docs.join(labels, "doc_id", "left").select(
        "source",
        "n_chars",
        F.when(
            F.col("keeper").isNotNull()
            & (F.col("doc_id") != F.col("keeper")),
            1,
        )
        .otherwise(0)
        .alias("removable"),
    )
    rem_chars = F.sum(
        F.when(F.col("removable") == 1, F.col("n_chars")).otherwise(0)
    )
    return (
        verdicts.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("removable").cast("bigint").alias("n_removable"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            rem_chars.cast("bigint").alias("removable_chars"),
            rnd(
                rem_chars / F.sum("n_chars").cast("double"), 4
            ).alias("savings_frac"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Label-propagation communities (r9). CC (q_cc_alternating) answers
# "which docs are transitively connected"; LPA answers the finer
# question "which docs form densely-linked clusters WITHIN a
# component" — the community structure that drives template/boiler-
# plate family discovery in a near-dup graph. Synchronous LPA with a
# deterministic update (most frequent neighbor label, ties -> smallest
# label) for a fixed 3 rounds, so both engines converge identically —
# the standard determinism fix for LPA's order-sensitivity (Raghavan
# et al. 2007 note asynchronous LPA is run-order dependent).
# --------------------------------------------------------------------------
LPA_ROUNDS = 3


def _lpa(sym: DataFrame) -> DataFrame:
    """LPA_ROUNDS synchronous rounds over a symmetric (u, v) edge
    list: (id, lab) for every node, each starting as its own label."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("lab"))

    def relabel(labels: DataFrame, _: int) -> DataFrame:
        counts = (
            sym.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy(F.col("u").alias("id"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "lab")
        )

    labels = sym.select(F.col("u").alias("id")).distinct().withColumn(
        "lab", F.col("id")
    )
    return iterate(labels, relabel, LPA_ROUNDS)


def _lpa_round_sql(r: int) -> str:
    return f"""
    , n{r} AS (
      SELECT s.u AS id, x.lab, count(*) AS c
      FROM sym s JOIN x{r - 1} x ON x.id = s.v
      GROUP BY s.u, x.lab
    ), x{r} AS (
      SELECT id, lab FROM (
        SELECT id, lab,
               row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
        FROM n{r}
      ) t WHERE rn = 1
    )"""


@query(
    "q_label_propagation",
    oracle=_MINHASH_BANDS_CTE
    + """
    , edges AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), x0 AS (
      SELECT DISTINCT u AS id, u AS lab FROM sym
    )"""
    + "".join(_lpa_round_sql(r) for r in range(1, LPA_ROUNDS + 1))
    + f"""
    SELECT CAST(lab AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(id) AS BIGINT) AS min_member,
           CAST(max(id) AS BIGINT) AS max_member
    FROM x{LPA_ROUNDS}
    GROUP BY lab ORDER BY community
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation over the MinHash-LSH near-dup
    graph: every non-isolated node starts as its own label; each of
    the 3 rounds relabels every node with its neighbors' most
    frequent label (ties -> smallest), a deterministic variant of
    Raghavan et al.'s LPA. Emits per-community membership stats.

    Scale: each round is one frontier-free join of the edge list
    against the current label table (both pair-list-sized, never
    corpus-sized), a (node, label) count agg, and a per-node top-1
    window partitioned by node id — all keyed shuffles on graph
    keys; hub nodes bound the window partition size by their degree."""
    docs = load_table(spark, sf_dir, "documents")
    labels = _lpa(symmetrize(dup_edges(docs)).localCheckpoint(eager=True))
    return (
        labels.groupBy("lab")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("id").cast("bigint").alias("min_member"),
            F.max("id").cast("bigint").alias("max_member"),
        )
        .select(
            F.col("lab").cast("bigint").alias("community"),
            "n_members",
            "min_member",
            "max_member",
        )
        .orderBy("community")
    )


# --------------------------------------------------------------------------
# Modularity of the LPA communities (r9). A community assignment
# without a quality number is unfalsifiable; Newman-Girvan modularity
# Q = sum_c (e_c/m - (d_c/(2m))^2) scores how much denser the found
# communities are than a degree-preserving random graph — the accept/
# reject gate for q_label_propagation's output.
# --------------------------------------------------------------------------
@query(
    "q_graph_modularity",
    oracle=_MINHASH_BANDS_CTE
    + """
    , edges AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), x0 AS (
      SELECT DISTINCT u AS id, u AS lab FROM sym
    )"""
    + "".join(_lpa_round_sql(r) for r in range(1, LPA_ROUNDS + 1))
    + f"""
    , m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM edges),
    deg AS (
      SELECT u AS id, CAST(count(*) AS DOUBLE) AS d FROM sym GROUP BY u
    ), labeled AS (
      SELECT x.id, x.lab, deg.d
      FROM x{LPA_ROUNDS} x JOIN deg ON deg.id = x.id
    ), intra AS (
      SELECT la.lab, CAST(count(*) AS DOUBLE) AS e_c
      FROM edges e
      JOIN labeled la ON la.id = e.u
      JOIN labeled lb ON lb.id = e.v AND lb.lab = la.lab
      GROUP BY la.lab
    ), per_comm AS (
      SELECT l.lab,
             coalesce(i.e_c, 0) AS e_c,
             sum(l.d) AS d_c
      FROM labeled l LEFT JOIN intra i ON i.lab = l.lab
      GROUP BY l.lab, i.e_c
    )
    SELECT CAST((SELECT count(*) FROM per_comm) AS BIGINT) AS n_communities,
           CAST((SELECT m FROM m) AS BIGINT) AS n_edges,
           round(sum(e_c / (SELECT m FROM m)
                     - (d_c / (2 * (SELECT m FROM m)))
                       * (d_c / (2 * (SELECT m FROM m)))), 6) AS modularity
    FROM per_comm
    """,
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity of the q_label_propagation communities
    on the near-dup graph: Q = sum over communities of
    (intra-edge fraction - squared expected fraction under the
    degree-preserving null). Q near 0 means the 'communities' are
    noise; the acceptance gate for any clustering of the dup graph.

    Scale: reuses the LPA rounds (pair-list-sized state), then degree
    and intra-edge counts are two keyed aggs on the edge list; the
    final fold runs over community-cardinality rows. No step touches
    the corpus after the shingle pass."""
    docs = load_table(spark, sf_dir, "documents")
    edges = dup_edges(docs).localCheckpoint(eager=True)
    sym = symmetrize(edges)
    labels = _lpa(sym)
    m = edges.agg(F.count(F.lit(1)).cast("double").alias("m"))
    deg = sym.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).cast("double").alias("d")
    )
    labeled = labels.join(deg, "id")
    la = labeled.select(F.col("id").alias("u"), F.col("lab").alias("lab_u"))
    lb = labeled.select(F.col("id").alias("v"), F.col("lab").alias("lab_v"))
    intra = (
        edges.join(la, "u")
        .join(lb, "v")
        .filter(F.col("lab_u") == F.col("lab_v"))
        .groupBy(F.col("lab_u").alias("lab"))
        .agg(F.count(F.lit(1)).cast("double").alias("e_c"))
    )
    per_comm = (
        labeled.groupBy("lab")
        .agg(F.sum("d").alias("d_c"))
        .join(intra, "lab", "left")
        .select("lab", F.coalesce("e_c", F.lit(0.0)).alias("e_c"), "d_c")
    )
    ncomm = per_comm.agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    return (
        per_comm.crossJoin(m)
        .agg(
            rnd(
                F.sum(
                    F.col("e_c") / F.col("m")
                    - (F.col("d_c") / (2 * F.col("m")))
                    * (F.col("d_c") / (2 * F.col("m")))
                ),
                6,
            ).alias("modularity"),
            F.first(F.col("m")).cast("bigint").alias("n_edges"),
        )
        .crossJoin(ncomm)
        .select(
            F.col("nc").alias("n_communities"),
            "n_edges",
            "modularity",
        )
    )


# --------------------------------------------------------------------------
# Fellegi-Sunter record-linkage scoring (r9). The dedup family's
# candidate pairs (LSH blocks) get a PROBABILISTIC decision layer:
# per-field agreement patterns weighted by log2(m/u) — m = P(agree |
# true match), u = P(agree | non-match) — summed into a match weight
# and thresholded into link / possible / non-link (Fellegi & Sunter
# 1969, the foundation of every production entity-resolution system).
# Fixed published-style m/u parameters in EXACT milli-units so the
# weight arithmetic is integer until one final scale — no float-sum
# ordering risk (the q_quality_classifier lesson).
# --------------------------------------------------------------------------
# Per-field (m, u) in thousandths: lang (0.95, 0.20), source
# (0.90, 0.25), length-bucket (0.85, 0.30). Weights in milli-log2
# units: agree -> round(1000*log2(m/u)), disagree ->
# round(1000*log2((1-m)/(1-u))).
_FS_FIELDS = [
    ("lang", 950, 200),
    ("source", 900, 250),
    ("lenb", 850, 300),
]


def _fs_weights_milli() -> dict[str, tuple[int, int]]:
    out = {}
    for name, m, u in _FS_FIELDS:
        agree = round(1000 * math.log2(m / u))
        disagree = round(1000 * math.log2((1000 - m) / (1000 - u)))
        out[name] = (agree, disagree)
    return out


FS_LINK_MILLI = 3000  # >= 3 bits of evidence -> link
FS_NONLINK_MILLI = 0  # < 0 bits -> non-link; between -> possible


@query(
    "q_record_linkage_fs",
    oracle=_MINHASH_BANDS_CTE
    + f"""
    , pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), attrs AS (
      SELECT doc_id, lang, source,
             CAST(floor(ln(n_chars + 1) / ln(2)) AS BIGINT) AS lenb
      FROM documents
    ), scored AS (
      SELECT p.a_id, p.b_id,
             (CASE WHEN x.lang = y.lang
                   THEN {_fs_weights_milli()["lang"][0]}
                   ELSE {_fs_weights_milli()["lang"][1]} END
              + CASE WHEN x.source = y.source
                     THEN {_fs_weights_milli()["source"][0]}
                     ELSE {_fs_weights_milli()["source"][1]} END
              + CASE WHEN x.lenb = y.lenb
                     THEN {_fs_weights_milli()["lenb"][0]}
                     ELSE {_fs_weights_milli()["lenb"][1]} END)
               AS w_milli
      FROM pairs p
      JOIN attrs x ON x.doc_id = p.a_id
      JOIN attrs y ON y.doc_id = p.b_id
    ), classed AS (
      SELECT a_id, b_id, w_milli,
             CASE WHEN w_milli >= {FS_LINK_MILLI} THEN 'link'
                  WHEN w_milli < {FS_NONLINK_MILLI} THEN 'non-link'
                  ELSE 'possible' END AS verdict
      FROM scored
    )
    SELECT verdict,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(w_milli) / 1000.0, 4) AS avg_weight_bits,
           round(min(w_milli) / 1000.0, 4) AS min_weight_bits,
           round(max(w_milli) / 1000.0, 4) AS max_weight_bits
    FROM classed GROUP BY verdict ORDER BY verdict
    """,
)
def q_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage over the LSH candidate
    pairs: each pair's (lang, source, log2-length-bucket) agreement
    pattern sums per-field log2(m/u) evidence weights (integer
    milli-bits — exact BIGINT arithmetic end-to-end) and thresholds
    into link / possible / non-link. Emits the decision histogram
    with weight stats, the calibration view an ER pipeline tunes its
    thresholds on.

    Scale: candidate generation is the lossless LSH band join
    (never all-pairs); attribute lookup is two keyed joins of the
    pair list against a 3-column projection of the corpus; the
    verdict is map-side CASE arithmetic and one tiny agg. avg of
    integer milli-weights is a ratio of exact integers — immune to
    summation order."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("a_id", "b_id").distinct()
    attrs = docs.select(
        "doc_id",
        "lang",
        "source",
        F.floor(F.log(F.col("n_chars") + 1) / math.log(2.0))
        .cast("bigint")
        .alias("lenb"),
    )
    wmap = _fs_weights_milli()

    def field_w(field: str, xa, ya):
        agree, disagree = wmap[field]
        return F.when(xa == ya, F.lit(agree)).otherwise(F.lit(disagree))

    x = attrs.select(
        F.col("doc_id").alias("a_id"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
        F.col("lenb").alias("lenb_a"),
    )
    y = attrs.select(
        F.col("doc_id").alias("b_id"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("lenb").alias("lenb_b"),
    )
    scored = (
        pairs.join(x, "a_id")
        .join(y, "b_id")
        .select(
            "a_id",
            "b_id",
            (
                field_w("lang", F.col("lang_a"), F.col("lang_b"))
                + field_w("source", F.col("source_a"), F.col("source_b"))
                + field_w("lenb", F.col("lenb_a"), F.col("lenb_b"))
            )
            .cast("bigint")
            .alias("w_milli"),
        )
    )
    verdict = (
        F.when(F.col("w_milli") >= FS_LINK_MILLI, "link")
        .when(F.col("w_milli") < FS_NONLINK_MILLI, "non-link")
        .otherwise("possible")
    )
    return (
        scored.withColumn("verdict", verdict)
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            rnd(F.avg("w_milli") / 1000.0, 4).alias("avg_weight_bits"),
            rnd(F.min("w_milli") / 1000.0, 4).alias("min_weight_bits"),
            rnd(F.max("w_milli") / 1000.0, 4).alias("max_weight_bits"),
        )
        .orderBy("verdict")
    )


# --------------------------------------------------------------------------
# Pairwise corpus BLEU on near-dup candidates (r9). Jaccard (set
# overlap) treats a doc as a bag of shingles; BLEU-4 with clipping
# and a brevity penalty (Papineni et al. 2002) measures ORDERED
# n-gram agreement — the metric that distinguishes a reshuffled
# template from a true near-verbatim copy, and the standard
# generation-eval metric an LLM-data platform must ship. Add-one
# smoothed so zero-overlap orders stay finite.
# --------------------------------------------------------------------------
_BLEU_MAX_N = 4


@query(
    "q_bleu_pairs",
    oracle=_MINHASH_BANDS_CTE
    + f"""
    , pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), grams AS (
      SELECT t.doc_id, n.n,
             [array_to_string(t.w[i:i+n.n-1], ' ')
              for i in range(1, len(t.w) - n.n + 2)] AS gs
      FROM toks t, (SELECT unnest(range(1, {_BLEU_MAX_N + 1})) AS n) n
      WHERE len(t.w) >= n.n
    ), gcount AS (
      SELECT doc_id, n, g, CAST(count(*) AS DOUBLE) AS c
      FROM (SELECT doc_id, n, unnest(gs) AS g FROM grams)
      GROUP BY doc_id, n, g
    ), clipped AS (
      SELECT p.a_id, p.b_id, h.n,
             sum(least(h.c, r.c)) AS clip,
             (SELECT sum(c) FROM gcount hh
              WHERE hh.doc_id = p.a_id AND hh.n = h.n) AS total
      FROM pairs p
      JOIN gcount h ON h.doc_id = p.a_id
      JOIN gcount r ON r.doc_id = p.b_id AND r.n = h.n AND r.g = h.g
      GROUP BY p.a_id, p.b_id, h.n
    ), pn AS (
      SELECT a_id, b_id,
             sum(ln((clip + 1.0) / (total + 1.0))) / {_BLEU_MAX_N}.0
               AS log_p
      FROM clipped GROUP BY a_id, b_id
      HAVING count(*) = {_BLEU_MAX_N}
    ), lens AS (
      SELECT doc_id, CAST(len(w) AS DOUBLE) AS l FROM toks
    )
    SELECT p.a_id, p.b_id,
           round(exp(least(0.0, 1.0 - lr.l / lh.l) + p.log_p), 6) AS bleu
    FROM pn p
    JOIN lens lh ON lh.doc_id = p.a_id
    JOIN lens lr ON lr.doc_id = p.b_id
    ORDER BY p.a_id, p.b_id
    """,
)
def q_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-4 (add-one smoothed, brevity-penalized) for every LSH
    candidate pair, treating the lower doc_id as hypothesis and the
    higher as reference: clipped n-gram precision for n=1..4,
    geometric mean in log space, BP = exp(min(0, 1 - len_r/len_h)).
    Pairs missing any order entirely (hypothesis shorter than 4
    tokens, or zero shared grams at some order — rare for LSH
    candidates) drop out, mirrored by the oracle's HAVING count = 4.

    Scale: n-gram counting is per-doc map-side work; the clip join
    matches (pair, n, gram) keys — bounded by the CANDIDATE pair
    list, never all-pairs; per-order totals ride a keyed agg. Exactly
    the candidate->verify displine of the Jaccard verifier, with an
    ordered-agreement metric at the verify step."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).select("a_id", "b_id").distinct()
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    )
    gram_parts = []
    for n in range(1, _BLEU_MAX_N + 1):
        gs = F.expr(
            f"transform(sequence(1, size(w) - {n} + 1), "
            f"i -> array_join(slice(w, i, {n}), ' '))"
        )
        gram_parts.append(
            toks.filter(F.size("w") >= n).select(
                "doc_id", F.lit(n).alias("n"), F.explode(gs).alias("g")
            )
        )
    grams = gram_parts[0]
    for p in gram_parts[1:]:
        grams = grams.unionByName(p)
    gcount = grams.groupBy("doc_id", "n", "g").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    totals = gcount.groupBy("doc_id", "n").agg(F.sum("c").alias("total"))
    h = gcount.select(
        F.col("doc_id").alias("a_id"), "n", "g", F.col("c").alias("ch")
    )
    r = gcount.select(
        F.col("doc_id").alias("b_id"), "n", "g", F.col("c").alias("cr")
    )
    clipped = (
        pairs.join(h, "a_id")
        .join(r, ["b_id", "n", "g"])
        .groupBy("a_id", "b_id", "n")
        .agg(F.sum(F.least("ch", "cr")).alias("clip"))
        .join(
            totals.select(
                F.col("doc_id").alias("a_id"), "n", "total"
            ),
            ["a_id", "n"],
        )
    )
    pn = (
        clipped.groupBy("a_id", "b_id")
        .agg(
            (
                F.sum(F.log((F.col("clip") + 1.0) / (F.col("total") + 1.0)))
                / F.lit(float(_BLEU_MAX_N))
            ).alias("log_p"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("n_orders") == _BLEU_MAX_N)
    )
    lens = toks.select(
        "doc_id", F.size("w").cast("double").alias("l")
    )
    return (
        pn.join(lens.select(F.col("doc_id").alias("a_id"), F.col("l").alias("lh")), "a_id")
        .join(lens.select(F.col("doc_id").alias("b_id"), F.col("l").alias("lr")), "b_id")
        .select(
            "a_id",
            "b_id",
            rnd(
                F.exp(
                    F.least(F.lit(0.0), 1.0 - F.col("lr") / F.col("lh"))
                    + F.col("log_p")
                ),
                6,
            ).alias("bleu"),
        )
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------------
# HITS hubs/authorities (r9). PageRank (q_pagerank) scores undirected
# reachability mass; HITS (Kleinberg 1999) separates the two roles a
# node can play in a DIRECTED graph — pointing at good content (hub)
# vs being pointed at (authority). On the low->high-id oriented LSH
# candidate graph, a high-authority doc is one that many earlier
# (lower-id, i.e. earlier-crawled) near-duplicates point at — the
# natural "canonical copy" signal when ids encode crawl order. Two
# synchronous iterations with L1 normalization, every float sum a
# sorted fold so the scores are bit-identical across partitionings
# and engines (the BM25 precedent).
# --------------------------------------------------------------------------
HITS_ITERS = 2


def _hits_iter_sql(i: int) -> str:
    prev_auth = "a0" if i == 1 else f"a{i - 1}"
    return f"""
    , h{i}r AS (
      SELECT c.a_id AS node,
             list_reduce(list_sort(list(x.a)), (p, q) -> p + q) AS h
      FROM cands c JOIN {prev_auth} x ON x.node = c.b_id
      GROUP BY c.a_id
    ), h{i}n AS (
      SELECT list_reduce(list_sort(list(h)), (p, q) -> p + q) AS s FROM h{i}r
    ), h{i} AS (
      SELECT node, h / (SELECT s FROM h{i}n) AS h FROM h{i}r
    ), a{i}r AS (
      SELECT c.b_id AS node,
             list_reduce(list_sort(list(x.h)), (p, q) -> p + q) AS a
      FROM cands c JOIN h{i} x ON x.node = c.a_id
      GROUP BY c.b_id
    ), a{i}n AS (
      SELECT list_reduce(list_sort(list(a)), (p, q) -> p + q) AS s FROM a{i}r
    ), a{i} AS (
      SELECT node, a / (SELECT s FROM a{i}n) AS a FROM a{i}r
    )"""


@query(
    "q_hits_hubs_auth",
    oracle=_MINHASH_BANDS_CTE
    + """
    , cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ), nodes AS (
      SELECT a_id AS node FROM cands UNION SELECT b_id FROM cands
    ), a0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS a FROM nodes)"""
    + "".join(_hits_iter_sql(i) for i in range(1, HITS_ITERS + 1))
    + f"""
    SELECT CAST(n.node AS BIGINT) AS doc_id,
           round(coalesce(h.h, 0.0), 6) AS hub,
           round(coalesce(a.a, 0.0), 6) AS authority
    FROM nodes n
    LEFT JOIN h{HITS_ITERS} h ON h.node = n.node
    LEFT JOIN a{HITS_ITERS} a ON a.node = n.node
    ORDER BY doc_id
    """,
)
def q_hits_hubs_auth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores over the low->high-id oriented LSH
    near-duplicate graph: two synchronous iterations of hub(u) =
    sum(auth(v), u->v) and auth(v) = sum(hub(u), u->v), each half-step
    L1-normalized. Hubs are early docs whose content many later copies
    share; authorities are the heavily-duplicated late copies.

    Scale: state is node-list-sized (one double per node); each
    half-iteration is one key-shuffled join + keyed agg over the
    candidate pair list — never all-pairs. The per-node and
    normalizer sums are sorted folds (collect -> array_sort -> fold)
    so partial-agg merge order cannot flip low bits; the DuckDB
    oracle unrolls the identical stages with list_reduce(list_sort).
    Cites wqc200/sparrow: no graph surface exists in the reference
    (src/meta/def.rs stops at relational ops); this is the
    training-pipeline tier on the same LSH candidates as q_pagerank.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).localCheckpoint(eager=True)

    def ssum(col: str) -> Column:
        return F.aggregate(
            F.array_sort(F.collect_list(col)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    nodes = (
        pairs.select(F.col("a_id").alias("node"))
        .unionByName(pairs.select(F.col("b_id").alias("node")))
        .distinct()
    )
    auth = nodes.select("node", F.lit(1.0).alias("a"))
    hub = None
    for _ in range(HITS_ITERS):
        hub_raw = (
            pairs.join(auth, pairs.b_id == auth.node)
            .groupBy("a_id")
            .agg(ssum("a").alias("h"))
        )
        hn = hub_raw.agg(ssum("h").alias("s"))
        hub = hub_raw.crossJoin(hn).select(
            F.col("a_id").alias("node"), (F.col("h") / F.col("s")).alias("h")
        )
        auth_raw = (
            pairs.join(hub, pairs.a_id == hub.node)
            .groupBy("b_id")
            .agg(ssum("h").alias("ar"))
        )
        an = auth_raw.agg(ssum("ar").alias("s"))
        auth = auth_raw.crossJoin(an).select(
            F.col("b_id").alias("node"), (F.col("ar") / F.col("s")).alias("a")
        )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            F.col("node").cast("bigint").alias("doc_id"),
            rnd(F.coalesce("h", F.lit(0.0)), 6).alias("hub"),
            rnd(F.coalesce("a", F.lit(0.0)), 6).alias("authority"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Link prediction on the item co-occurrence graph (r9). The LSH dup
# graph is a union of near-cliques (banding collides transitively),
# so it has no 2-hop non-edges to predict; the ITEM graph — part
# categories linked when they co-occur in enough orders — has real
# open triads, and link-prediction scores over them (common
# neighbors, neighborhood Jaccard, Adamic-Adar) rank which
# category pairs are about to start co-occurring: the classic
# graph-completion pass behind "customers also bought". The support
# threshold scales with order count (n // 600) so graph density is
# scale-stable. Adamic-Adar's 1/ln(degree) sum runs as a sorted fold
# over the distinct weight values so the float is bit-stable;
# everything else is exact integer set arithmetic.
# --------------------------------------------------------------------------
@query(
    "q_link_prediction",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 100 AS item FROM lineitem
    ), nt AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
    ), co AS (
      SELECT a.item AS i, b.item AS j, CAST(count(*) AS BIGINT) AS c
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY 1, 2
    ), edges AS (
      SELECT i, j FROM co CROSS JOIN nt
      WHERE c >= greatest(2, n // 600)
    ), sym AS (
      SELECT i AS u, j AS v FROM edges
      UNION ALL SELECT j, i FROM edges
    ), deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u
    ), twohop AS (
      SELECT e1.u AS u, e2.v AS v, e1.v AS w
      FROM sym e1 JOIN sym e2 ON e1.v = e2.u
      WHERE e1.u < e2.v
    ), nonedge AS (
      SELECT t.u, t.v, t.w FROM twohop t
      WHERE NOT EXISTS (
        SELECT 1 FROM edges c WHERE c.i = t.u AND c.j = t.v
      )
    ), scored AS (
      SELECT n.u, n.v,
             CAST(count(DISTINCT n.w) AS BIGINT) AS common_neighbors,
             list_reduce(list_sort(list(DISTINCT 1.0 / ln(dw.d))),
                         (p, q) -> p + q) AS adamic_adar
      FROM nonedge n JOIN deg dw ON dw.u = n.w
      GROUP BY n.u, n.v
    )
    SELECT s.u AS item_a, s.v AS item_b, s.common_neighbors,
           round(CAST(s.common_neighbors AS DOUBLE)
                 / (du.d + dv.d - s.common_neighbors), 6) AS jaccard,
           round(s.adamic_adar, 6) AS adamic_adar
    FROM scored s
    JOIN deg du ON du.u = s.u
    JOIN deg dv ON dv.u = s.v
    ORDER BY s.adamic_adar DESC, item_a, item_b
    LIMIT 50
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores for 2-hop non-edges of the item
    co-occurrence graph (categories = l_partkey % 100, edges =
    co-occurrence support >= max(2, orders/600)): common-neighbor
    count, neighborhood Jaccard, and Adamic-Adar, top-50 by
    Adamic-Adar — the ranked "will co-occur next" list.

    CAVEAT (documented, not a bug): the Adamic-Adar fold runs over
    the DISTINCT weight VALUES of the shared neighbors, so two
    common neighbors with identical degree contribute once; the
    common_neighbors column keeps the exact count. This keeps the
    fold engine-portable (DuckDB's list(DISTINCT) and Spark's
    collect_set sort identically).

    Scale: the co-occurrence count is one orderkey-keyed shuffle
    bounded by items-per-basket squared; the 2-hop enumeration
    self-joins the thresholded edge list on the middle node (sum of
    degree^2, the triangle-counting budget); degree lookups
    broadcast and the final ranking is a top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("item")
    ).distinct()
    nt = items.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    a, b = items.alias("a"), items.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("i"), F.col("b.item").alias("j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    edges = (
        co.crossJoin(nt)
        .filter(F.col("c") >= F.greatest(F.lit(2), F.floor(F.col("n") / 600)))
        .select("i", "j")
        .localCheckpoint(eager=True)
    )
    sym = edges.select(
        F.col("i").alias("u"), F.col("j").alias("v")
    ).unionByName(edges.select(F.col("j").alias("u"), F.col("i").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    e1 = sym.select(F.col("u"), F.col("v").alias("w"))
    e2 = sym.select(F.col("u").alias("w"), F.col("v"))
    twohop = e1.join(e2, "w").filter(F.col("u") < F.col("v"))
    nonedge = twohop.join(
        edges.select(F.col("i").alias("u"), F.col("j").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    scored = (
        nonedge.join(
            deg.select(F.col("u").alias("w"), F.col("d").alias("dw")), "w"
        )
        .groupBy("u", "v")
        .agg(
            F.countDistinct("w").cast("bigint").alias("common_neighbors"),
            F.aggregate(
                F.array_sort(F.collect_set(1.0 / F.log(F.col("dw")))),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adamic_adar"),
        )
    )
    return (
        scored.join(
            F.broadcast(deg.select(F.col("u"), F.col("d").alias("du"))), "u"
        )
        .join(
            F.broadcast(
                deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
            ),
            "v",
        )
        .select(
            F.col("u").alias("item_a"),
            F.col("v").alias("item_b"),
            "common_neighbors",
            rnd(
                F.col("common_neighbors").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
            rnd("adamic_adar", 6).alias("adamic_adar"),
            F.col("adamic_adar").alias("_aa_raw"),
        )
        .orderBy(F.col("_aa_raw").desc(), "item_a", "item_b")
        .limit(50)
        .drop("_aa_raw")
    )


# ---------------------------------------------------------------------------
# SymSpell deletes-index fuzzy neighbors — r13 addition
# ---------------------------------------------------------------------------


@query(
    "q_symspell_neighbors",
    # The oracle is the brute-force ground truth: ALL word pairs within
    # Levenshtein distance 2. The Spark side never does all-pairs — it
    # goes through the deletes index — so the driver's hash match IS
    # the proof that the index generation has 100% recall at d=2 (the
    # q_skew_join_salted result-invariance pattern).
    oracle="""
    WITH w AS (
      SELECT DISTINCT t AS word
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS t
            FROM documents)
      WHERE t <> ''
    )
    SELECT a.word AS word_a, b.word AS word_b,
           CAST(levenshtein(a.word, b.word) AS BIGINT) AS lev
    FROM w a JOIN w b ON a.word < b.word
    WHERE levenshtein(a.word, b.word) <= 2
    """,
)
def q_symspell_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell deletes-index fuzzy matching (Garbe's symmetric delete
    algorithm, public since 2012): every word indexes all variants
    reachable by deleting <= 2 characters (including itself); two
    words within TRUE edit distance 2 are guaranteed to share at least
    one variant key, so candidate generation is a plain EQUI-JOIN on
    the variant — no all-pairs, no per-pair distance until the
    verification filter. The brute-force all-pairs scan appears only
    in the DuckDB oracle, which makes the hash comparison a 100%-recall
    proof for the index.

    Scale: the index is vocabulary-sized x ~(2 + L + L^2/2) keys per
    word (L = word length; the corpus appears only in the distinct-word
    aggregate) and the candidate join is an equi-join a shuffle
    partitioner spreads by key; Levenshtein runs only on candidate
    pairs. Production SymSpell additionally drops ultra-short keys
    (length <= 1, shared by every short word) to bound hot keys — at
    this vocabulary the skew is harmless and keeping them preserves the
    exact d<=2 recall guarantee the oracle checks."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )
    d1 = (
        "concat(array(word), transform(sequence(1, length(word)), "
        "i -> concat(substring(word, 1, i - 1), "
        "substring(word, i + 1, length(word)))))"
    )
    variants = (
        f"array_distinct(flatten(transform({d1}, "
        "v -> concat(array(v), transform(sequence(1, length(v)), "
        "i -> concat(substring(v, 1, i - 1), "
        "substring(v, i + 1, length(v))))))))"
    )
    index = words.select(
        "word", F.explode(F.expr(variants)).alias("vkey")
    )
    a = index.select(F.col("word").alias("word_a"), "vkey")
    b = index.select(F.col("word").alias("word_b"), "vkey")
    cands = (
        a.join(b, "vkey")
        .filter(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b")
        .distinct()
    )
    lev = F.levenshtein("word_a", "word_b")
    return cands.filter(lev <= 2).select(
        "word_a", "word_b", lev.cast("bigint").alias("lev")
    )


@query(
    "q_blocking_quality",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt,
             string_split(lower(text), ' ') AS w
      FROM documents
    ), keyed AS (
      SELECT doc_id,
             substr(nt, 1, 8) AS k_prefix8,
             w[1] || '|' || w[len(w)] AS k_first_last,
             CAST(len(w) AS VARCHAR) AS k_n_tokens,
             array_to_string(list_sort(list_distinct(w)), ' ') AS setkey
      FROM d
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM keyed),
    melted AS (
      SELECT doc_id, 'prefix8' AS scheme, k_prefix8 AS k FROM keyed
      UNION ALL
      SELECT doc_id, 'first_last', k_first_last FROM keyed
      UNION ALL
      SELECT doc_id, 'n_tokens', k_n_tokens FROM keyed
    ), blocks AS (
      SELECT scheme, k, CAST(count(*) AS BIGINT) AS sz
      FROM melted GROUP BY scheme, k
    ), cand AS (
      SELECT scheme, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
      FROM blocks GROUP BY scheme
    ), tp AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             a.k_prefix8 AS pa, b.k_prefix8 AS pb,
             a.k_first_last AS fa, b.k_first_last AS fb,
             a.k_n_tokens AS na, b.k_n_tokens AS nb
      FROM keyed a JOIN keyed b
        ON a.setkey = b.setkey AND a.doc_id < b.doc_id
    ), truth AS (SELECT CAST(count(*) AS BIGINT) AS truth_pairs FROM tp),
    covered AS (
      SELECT 'prefix8' AS scheme,
             CAST(count(*) FILTER (pa = pb) AS BIGINT) AS covered_pairs
      FROM tp
      UNION ALL
      SELECT 'first_last', CAST(count(*) FILTER (fa = fb) AS BIGINT)
      FROM tp
      UNION ALL
      SELECT 'n_tokens', CAST(count(*) FILTER (na = nb) AS BIGINT) FROM tp
    )
    SELECT c.scheme, c.n_blocks, c.candidate_pairs,
           t.truth_pairs, v.covered_pairs,
           round(v.covered_pairs / CAST(t.truth_pairs AS DOUBLE), 6)
             AS pairs_completeness,
           round(1.0 - c.candidate_pairs
                 / (n.n_docs * (n.n_docs - 1) / 2.0), 6)
             AS reduction_ratio
    FROM cand c
    JOIN covered v USING (scheme)
    CROSS JOIN truth t CROSS JOIN n
    ORDER BY c.scheme
    """,
)
def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme quality audit — pairs completeness (recall of
    true duplicate pairs within blocks) and reduction ratio (fraction
    of the n^2 comparison space pruned), the two standard
    entity-resolution blocking metrics (Christen, "Data Matching",
    2012) — for three cheap blockers: an 8-char normalized-text
    prefix, a first+last-token key, and a token-count band. Ground
    truth is permutation duplicates: documents with an identical
    DISTINCT-token set. This is the look-before-you-leap audit run
    before committing a blocker at corpus scale.

    Scale: candidate-pair counts come from per-block size
    combinatorics (sum of C(size, 2) over a keyed agg) — candidate
    pairs are NEVER materialized, which is the whole point of auditing
    a blocker without paying its cost; the only pairwise join is the
    truth-pair self-join on the set-fingerprint key, bounded by
    duplicate-group sizes, and each truth pair carries the three keys
    of both endpoints so coverage is a filtered count over the
    truth-pair list."""
    d = widen(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        normalize_text(F.col("text")).alias("nt"),
        tokens(F.col("text")).alias("w"),
    )
    # Pinned: one narrow (doc_id + 4 key strings) row per document,
    # computed in ONE corpus pass and read by four consumers (the doc
    # count, the melted block table, both truth-join sides) — without
    # the pin each consumer re-runs the normalize/split/sort over the
    # full text column. The same narrow-projection pin discipline as
    # global_sort_ranks; at 100 TB the pinned table is keys, not text.
    keyed = d.select(
        "doc_id",
        F.substring("nt", 1, 8).alias("k_prefix8"),
        F.concat_ws(
            "|", F.element_at("w", 1), F.element_at("w", -1)
        ).alias("k_first_last"),
        F.size("w").cast("string").alias("k_n_tokens"),
        F.array_join(F.array_sort(F.array_distinct("w")), " ").alias(
            "setkey"
        ),
    ).localCheckpoint(eager=True)
    n = keyed.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    melted = keyed.selectExpr(
        "doc_id",
        "stack(3, 'prefix8', k_prefix8, 'first_last', k_first_last,"
        " 'n_tokens', k_n_tokens) AS (scheme, k)",
    )
    cand = (
        melted.groupBy("scheme", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
        .groupBy("scheme")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(
                F.col("sz") * (F.col("sz") - 1) / 2
            ).cast("bigint").alias("candidate_pairs"),
        )
    )
    a = keyed.select(
        F.col("doc_id").alias("a_id"),
        F.col("setkey"),
        F.col("k_prefix8").alias("pa"),
        F.col("k_first_last").alias("fa"),
        F.col("k_n_tokens").alias("na"),
    )
    b = keyed.select(
        F.col("doc_id").alias("b_id"),
        F.col("setkey"),
        F.col("k_prefix8").alias("pb"),
        F.col("k_first_last").alias("fb"),
        F.col("k_n_tokens").alias("nb"),
    )
    tp = a.join(b, "setkey").filter(F.col("a_id") < F.col("b_id"))
    truth = tp.agg(F.count(F.lit(1)).cast("bigint").alias("truth_pairs"))
    covered = (
        tp.selectExpr(
            "stack(3,"
            " 'prefix8', CAST(pa = pb AS INT),"
            " 'first_last', CAST(fa = fb AS INT),"
            " 'n_tokens', CAST(na = nb AS INT)) AS (scheme, hit)"
        )
        .groupBy("scheme")
        .agg(F.sum("hit").cast("bigint").alias("covered_pairs"))
    )
    # LEFT join + coalesce: with ZERO truth pairs the stacked groupBy
    # behind `covered` yields no rows at all, while the oracle's
    # ungrouped FILTER aggregates still emit one row per scheme with
    # covered_pairs = 0 — an inner join here would drop all three
    # output rows and diverge. `cand` always carries the full 3-row
    # scheme dimension whenever the corpus is non-empty.
    return (
        cand.join(F.broadcast(covered), "scheme", "left")
        .crossJoin(truth)
        .crossJoin(n)
        .withColumn(
            "covered_pairs",
            F.coalesce(F.col("covered_pairs"), F.lit(0).cast("bigint")),
        )
        .select(
            "scheme",
            "n_blocks",
            "candidate_pairs",
            "truth_pairs",
            "covered_pairs",
            # try_divide: 0 truth pairs (or a 0/1-doc corpus) must
            # yield NULL like DuckDB's double division by zero, not
            # the ANSI DIVIDE_BY_ZERO error.
            rnd(
                F.try_divide(
                    F.col("covered_pairs"),
                    F.col("truth_pairs").cast("double"),
                ),
                6,
            ).alias("pairs_completeness"),
            rnd(
                F.lit(1.0)
                - F.try_divide(
                    F.col("candidate_pairs"),
                    F.col("n_docs") * (F.col("n_docs") - 1) / F.lit(2.0),
                ),
                6,
            ).alias("reduction_ratio"),
        )
        .orderBy("scheme")
    )


_ODD_HEX = tuple("13579bdf")


@query(
    "q_bbit_minhash",
    oracle=_MINHASH_BANDS_CTE
    + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), ssets AS (
      SELECT doc_id, list_distinct(list(shingle)) AS s FROM sh GROUP BY doc_id
    ), scored AS (
      SELECT p.a_id, p.b_id,
             (CASE WHEN (substr(sa.h0, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f'))
                      = (substr(sb.h0, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f')) THEN 1 ELSE 0 END
            + CASE WHEN (substr(sa.h1, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f'))
                      = (substr(sb.h1, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f')) THEN 1 ELSE 0 END
            + CASE WHEN (substr(sa.h2, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f'))
                      = (substr(sb.h2, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f')) THEN 1 ELSE 0 END
            + CASE WHEN (substr(sa.h3, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f'))
                      = (substr(sb.h3, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f')) THEN 1 ELSE 0 END
            + CASE WHEN (substr(sa.h4, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f'))
                      = (substr(sb.h4, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f')) THEN 1 ELSE 0 END
            + CASE WHEN (substr(sa.h5, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f'))
                      = (substr(sb.h5, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f')) THEN 1 ELSE 0 END
            + CASE WHEN (substr(sa.h6, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f'))
                      = (substr(sb.h6, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f')) THEN 1 ELSE 0 END
            + CASE WHEN (substr(sa.h7, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f'))
                      = (substr(sb.h7, 8, 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f')) THEN 1 ELSE 0 END
             ) / 8.0 AS a_frac,
             ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) +
              (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) / 8.0 AS est_full,
             len(list_intersect(xa.s, xb.s)) /
               CAST(len(list_distinct(list_concat(xa.s, xb.s))) AS DOUBLE)
               AS exact
      FROM pairs p
      JOIN sigs sa ON sa.doc_id = p.a_id
      JOIN sigs sb ON sb.doc_id = p.b_id
      JOIN ssets xa ON xa.doc_id = p.a_id
      JOIN ssets xb ON xb.doc_id = p.b_id
    )
    SELECT a_id, b_id,
           round(2.0 * a_frac - 1.0, 4) AS est_1bit,
           round(est_full, 4) AS est_full,
           round(exact, 4) AS exact_jaccard,
           round(abs((2.0 * a_frac - 1.0) - exact), 4) AS err_1bit,
           round(abs(est_full - exact), 4) AS err_full
    FROM scored
    """,
)
def q_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing (Li & Konig, WWW 2010 / CACM 2011) with
    b = 1: store only the lowest bit of each minhash component — an
    8x-64x signature compression — and recover Jaccard from the bit
    agreement rate A via the paper's unbiased estimator, which for
    small sets relative to the hash universe reduces to J = 2A - 1
    (a random bit agrees half the time). Audited over the SAME LSH
    candidate pairs as q_minhash_jaccard_est, with the full-width
    estimate and the exact Jaccard alongside, so the accuracy cost of
    the compression is measured, not assumed (1 bit doubles the
    variance per component: stderr ~ sqrt(2 J (1 - J) / k)).

    Scale: identical shape to q_minhash_jaccard_est — candidates from
    the band equi-join, the pair list broadcast against the signature
    and shingle-set tables; the b-bit truncation is a map-side
    projection of the existing signatures (at production scale the
    1-bit signature table is what ships to the comparison cluster:
    1 byte per document for k = 8)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    bands = bands_from_signatures(sigs)
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "band_sig")
    b = bands.select(F.col("doc_id").alias("b_id"), "band", "band_sig")
    pairs = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )

    def bit(col: str):
        return F.substring(F.col(col), 8, 1).isin(*_ODD_HEX).cast("int")

    sa = sigs.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"h{i}").alias(f"a_h{i}") for i in range(N_MINHASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"h{i}").alias(f"b_h{i}") for i in range(N_MINHASHES)],
    )
    toks = materialize(
        widen(docs.select("doc_id", "text")), w=tokens(F.col("text"))
    ).filter(F.size("w") >= 3)
    ssets = toks.select(
        "doc_id", F.array_distinct(_text_shingles(F.col("w"), 3)).alias("s")
    )
    xa = ssets.select(F.col("doc_id").alias("a_id"), F.col("s").alias("a_s"))
    xb = ssets.select(F.col("doc_id").alias("b_id"), F.col("s").alias("b_s"))
    joined = (
        sa.join(F.broadcast(pairs), "a_id")
        .join(sb, "b_id")
        .join(xa, "a_id")
        .join(xb, "b_id")
        # r16 continuation: same keyed repartition ahead of the
        # compute-bound per-pair projection as q_minhash_jaccard_est
        # (this query is its documented shape twin) — the estimator
        # stage otherwise runs on one AQE-coalesced task.
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "a_id", "b_id"
        )
    )
    a_frac = sum(
        (bit(f"a_h{i}") == bit(f"b_h{i}")).cast("int")
        for i in range(N_MINHASHES)
    ) / F.lit(float(N_MINHASHES))
    est_full = sum(
        (F.col(f"a_h{i}") == F.col(f"b_h{i}")).cast("int")
        for i in range(N_MINHASHES)
    ) / F.lit(float(N_MINHASHES))
    est_1bit = F.lit(2.0) * a_frac - F.lit(1.0)
    exact = F.size(F.array_intersect("a_s", "b_s")) / F.size(
        F.array_union("a_s", "b_s")
    ).cast("double")
    return joined.select(
        "a_id",
        "b_id",
        rnd(est_1bit, 4).alias("est_1bit"),
        rnd(est_full, 4).alias("est_full"),
        rnd(exact, 4).alias("exact_jaccard"),
        rnd(F.abs(est_1bit - exact), 4).alias("err_1bit"),
        rnd(F.abs(est_full - exact), 4).alias("err_full"),
    )


# --------------------------------------------------------------------------
# Content-defined chunking dedup (r15). Fixed-size chunking (the
# q_doc_chunking shape) breaks dedup the moment one token is inserted
# upstream of a chunk boundary — every later chunk shifts. CDC (the
# LBFS/FastCDC family: Muthitacharoen et al., SOSP 2001; Xia et al.,
# ATC 2016) instead cuts wherever a rolling hash of the local content
# window hits a pinned pattern, so boundaries re-synchronize right
# after any edit and shared runs between near-identical documents
# dedup at chunk granularity. Expected chunk length here is 16 tokens
# (boundary iff the first hex digit of md5(2-token window) = '0').
# --------------------------------------------------------------------------


@query(
    "q_cdc_chunk_dedup",
    oracle="""
    WITH d AS (
      SELECT source, string_split(text, ' ') AS t
      FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ), cut AS (
      SELECT source, t, len(t) AS n,
             list_filter(range(2, len(t) + 1),
               i -> i < len(t)
                    AND substr(md5(t[i-1] || ' ' || t[i]), 1, 1) = '0')
               AS cuts
      FROM d
    ), ch AS (
      SELECT source,
             unnest(list_transform(range(1, len(cuts) + 2),
               k -> array_to_string(
                      t[(list_prepend(0, cuts))[k] + 1
                        : (list_append(cuts, n))[k]], ' '))) AS chunk
      FROM cut
    ), g AS (
      SELECT source, chunk, CAST(count(*) AS BIGINT) AS cnt,
             CAST(len(string_split(chunk, ' ')) AS BIGINT) AS tlen
      FROM ch GROUP BY source, chunk
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_distinct_chunks,
           round(1.0 - count(*) / CAST(sum(cnt) AS DOUBLE), 6)
               AS dup_chunk_frac,
           round(sum((cnt - 1) * tlen)
                 / CAST(sum(cnt * tlen) AS DOUBLE), 6)
               AS dedup_savings_frac,
           round(sum(cnt * tlen) / CAST(sum(cnt) AS DOUBLE), 4)
               AS mean_chunk_tokens
    FROM g GROUP BY source ORDER BY source
    """,
)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup per source: cut the token
    stream after position i whenever the first hex digit of
    md5(t[i-1] + ' ' + t[i]) is '0' (P = 1/16, expected 16-token
    chunks; never within the last token so chunks are non-empty),
    then measure chunk-store dedup: total vs distinct chunks, the
    duplicate-chunk fraction, and the token savings a chunk store
    would realize (occurrences beyond the first are free).

    Scale: boundary detection and chunk slicing are pure map-side
    array lambdas inside whole-stage codegen — no joins, no windows,
    no shuffle until the single (source, chunk) keyed agg (at 100 TB
    the group key is md5(chunk), not the chunk text) with map-side
    combine, then a per-source rollup. Exactly ONE corpus pass; the
    boundary rule depends only on a 2-token window, so partitioning
    documents across 1000 executors cannot change any cut."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("t")
    )
    cut = (
        docs.filter(F.size("t") >= 5)
        .select(
            "source",
            "t",
            F.size("t").alias("n"),
            F.expr(
                "filter(sequence(2, size(t)),"
                " i -> i < size(t) AND substr(md5(concat("
                "element_at(t, i - 1), ' ', element_at(t, i))), 1, 1)"
                " = '0')"
            ).alias("cuts"),
        )
        .select(
            "source",
            "t",
            F.expr("concat(array(0), cuts)").alias("starts"),
            F.expr("concat(cuts, array(n))").alias("ends"),
        )
    )
    ch = cut.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(starts)),"
                " k -> concat_ws(' ', slice(t, element_at(starts, k) + 1,"
                " element_at(ends, k) - element_at(starts, k))))"
            )
        ).alias("chunk"),
    )
    g = ch.groupBy("source", "chunk").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tlen = F.size(F.split(F.col("chunk"), " ")).cast("bigint")
    return (
        g.select("source", "cnt", tlen.alias("tlen"))
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_chunks"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_chunks"),
            rnd(
                F.lit(1.0)
                - F.count(F.lit(1)) / F.sum("cnt").cast("double"),
                6,
            ).alias("dup_chunk_frac"),
            rnd(
                F.sum((F.col("cnt") - 1) * F.col("tlen"))
                / F.sum(F.col("cnt") * F.col("tlen")).cast("double"),
                6,
            ).alias("dedup_savings_frac"),
            rnd(
                F.sum(F.col("cnt") * F.col("tlen"))
                / F.sum("cnt").cast("double"),
                4,
            ).alias("mean_chunk_tokens"),
        )
        .orderBy("source")
    )


SPAN_MERGE_MAX_DF = 16


@query(
    "q_dup_span_merge",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= {SPAN_TOKENS}
    ), pos AS (
      SELECT doc_id, w,
             unnest(range(1, len(w) - {SPAN_TOKENS} + 2)) AS i
      FROM tok
    ), spans AS (
      SELECT doc_id, i,
             md5(array_to_string(w[i : i + {SPAN_TOKENS} - 1], ' ')) AS sh
      FROM pos
    ), eligible AS (
      SELECT sh FROM (
        SELECT sh, count(DISTINCT doc_id) AS nd FROM spans GROUP BY sh
      ) WHERE nd >= 2 AND nd <= {SPAN_MERGE_MAX_DF}
    ), m AS (
      SELECT s.doc_id, s.i, s.sh FROM spans s JOIN eligible e ON s.sh = e.sh
    ), hits AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                      a.i AS ia, b.i AS ib
      FROM m a JOIN m b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ), runs AS (
      SELECT a_id, b_id, count(*) AS run_len
      FROM (
        SELECT a_id, b_id, ia - ib AS d, ia,
               ia - row_number() OVER (PARTITION BY a_id, b_id, ia - ib
                                       ORDER BY ia) AS grp
        FROM hits
      ) GROUP BY a_id, b_id, d, grp
    ), run_agg AS (
      SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS n_runs,
             CAST(max(run_len) + {SPAN_TOKENS} - 1 AS BIGINT)
               AS longest_run_tokens
      FROM runs GROUP BY a_id, b_id
    ), cov AS (
      SELECT DISTINCT a_id, b_id, ia FROM hits
    ), isl AS (
      SELECT a_id, b_id, ia,
             sum(CASE WHEN prev_ia IS NULL
                        OR ia - prev_ia > {SPAN_TOKENS} THEN 1 ELSE 0 END)
               OVER (PARTITION BY a_id, b_id ORDER BY ia
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM (
        SELECT a_id, b_id, ia,
               lag(ia) OVER (PARTITION BY a_id, b_id ORDER BY ia) AS prev_ia
        FROM cov
      )
    ), cov_agg AS (
      SELECT a_id, b_id,
             CAST(sum(mx - mn + {SPAN_TOKENS}) AS BIGINT) AS merged_tokens_a
      FROM (
        SELECT a_id, b_id, island, min(ia) AS mn, max(ia) AS mx
        FROM isl GROUP BY a_id, b_id, island
      ) GROUP BY a_id, b_id
    ), nsp AS (
      SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS n_shared_spans
      FROM hits GROUP BY a_id, b_id
    )
    SELECT n.a_id, n.b_id, n.n_shared_spans, r.n_runs,
           r.longest_run_tokens, c.merged_tokens_a,
           r.longest_run_tokens >= {RUN_FLAG_TOKENS} AS exceeds_flag
    FROM nsp n JOIN run_agg r ON n.a_id = r.a_id AND n.b_id = r.b_id
    JOIN cov_agg c ON n.a_id = c.a_id AND n.b_id = c.b_id
    """,
)
def q_dup_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicate-run MERGING per doc pair — the
    Lee et al. 2022 (arXiv:2107.06499) ExactSubstr end state that
    q_dup_span_runs stops short of: q_dup_span_runs says how long a
    doc's longest duplicated run is against ANYONE; this query says,
    for each colliding PAIR, how the shared {SPAN_TOKENS}-token spans
    collapse into maximal verbatim runs. Two spans at positions
    (ia, ib) and (ia+1, ib+1) lie on one diagonal d = ia - ib and
    merge into a single run; a maximal diagonal run of R spans
    certifies R + {SPAN_TOKENS} - 1 consecutively shared tokens —
    exactly the paper's merge of overlapping 50-token matches into one
    removable substring. merged_tokens_a is the a-side union coverage
    (interval union of [ia, ia + {SPAN_TOKENS} - 1] over all shared
    spans, any diagonal): the total duplicated token mass doc a shares
    with doc b, the quantity a pair-level dedup cut actually removes.

    Scale: pair generation is the span-hash EQUI-join (never
    all-pairs), with a posting-list bound: spans shared by more than
    {SPAN_MERGE_MAX_DF} docs are boilerplate (handled by
    q_boilerplate_interdoc) and excluded, so a hot span cannot explode
    the join quadratically — the same discipline as
    q_containment_join's probe-side prefix filter. Run/island
    detection is per-pair windows (pair-bounded state, corpus-
    independent); gaps-and-islands via the diagonal row_number trick
    and the island-break running sum, both whole-stage-codegen'd."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = materialize(
        docs.select("doc_id", "text"), w=F.split(F.lower("text"), " ")
    ).filter(F.size("w") >= SPAN_TOKENS)
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - SPAN_TOKENS + 1),
                lambda i: F.struct(
                    i.alias("i"),
                    F.md5(
                        F.concat_ws(" ", F.slice("w", i, SPAN_TOKENS))
                    ).alias("sh"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.i").alias("i"), F.col("s.sh").alias("sh"))
    eligible = (
        spans.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= SPAN_MERGE_MAX_DF))
        .select("sh")
    )
    # Pin the eligible span positions ONCE (localCheckpoint): both
    # sides of the pair join and nothing else consume the corpus, so
    # leaving this lazy re-runs the tokenize+explode+df-filter chain
    # per reference (first cut audited scans=12). The pinned table is
    # the Lee et al. span index a production run materializes anyway.
    m = spans.join(eligible, "sh").localCheckpoint(eager=True)
    a = m.select(
        "sh", F.col("doc_id").alias("a_id"), F.col("i").alias("ia")
    )
    b = m.select(
        "sh", F.col("doc_id").alias("b_id"), F.col("i").alias("ib")
    )
    # hits feeds three aggregates (runs / coverage / shared-span
    # counts) — pin it too; it is candidate-pair-sized, bounded by the
    # df cap, never corpus-sized.
    hits = (
        a.join(b, "sh")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "ia", "ib")
        .distinct()
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window

    w_diag = Window.partitionBy("a_id", "b_id", "d").orderBy("ia")
    runs = (
        hits.withColumn("d", F.col("ia") - F.col("ib"))
        .withColumn("grp", F.col("ia") - F.row_number().over(w_diag))
        .groupBy("a_id", "b_id", "d", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    run_agg = runs.groupBy("a_id", "b_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        (F.max("run_len") + SPAN_TOKENS - 1)
        .cast("bigint")
        .alias("longest_run_tokens"),
    )
    w_pair = Window.partitionBy("a_id", "b_id").orderBy("ia")
    cov = hits.select("a_id", "b_id", "ia").distinct()
    isl = cov.withColumn("prev_ia", F.lag("ia").over(w_pair)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_ia").isNull()
                | (F.col("ia") - F.col("prev_ia") > SPAN_TOKENS),
                1,
            ).otherwise(0)
        ).over(w_pair.rowsBetween(Window.unboundedPreceding, 0)),
    )
    cov_agg = (
        isl.groupBy("a_id", "b_id", "island")
        .agg((F.max("ia") - F.min("ia") + SPAN_TOKENS).alias("itok"))
        .groupBy("a_id", "b_id")
        .agg(F.sum("itok").cast("bigint").alias("merged_tokens_a"))
    )
    nsp = hits.groupBy("a_id", "b_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_spans")
    )
    return (
        nsp.join(run_agg, ["a_id", "b_id"])
        .join(cov_agg, ["a_id", "b_id"])
        .select(
            "a_id",
            "b_id",
            "n_shared_spans",
            "n_runs",
            "longest_run_tokens",
            "merged_tokens_a",
            (F.col("longest_run_tokens") >= RUN_FLAG_TOKENS).alias(
                "exceeds_flag"
            ),
        )
    )


INDEX_DELTA_MOD = 5  # doc_id % 5 == 0 -> the delta batch (~20%)


@query(
    "q_minhash_index_merge",
    oracle=_MINHASH_BANDS_CTE
    + f"""
    , base AS (
      SELECT doc_id, band, band_sig FROM bands
      WHERE doc_id % {INDEX_DELTA_MOD} <> 0
    ), delta AS (
      SELECT doc_id, band, band_sig FROM bands
      WHERE doc_id % {INDEX_DELTA_MOD} = 0
    ), base_pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM base a JOIN base b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), delta_pairs AS (
      SELECT DISTINCT least(d.doc_id, x.doc_id) AS a_id,
                      greatest(d.doc_id, x.doc_id) AS b_id
      FROM delta d JOIN bands x
        ON d.band = x.band AND d.band_sig = x.band_sig
       AND d.doc_id <> x.doc_id
    ), full_pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    ), nd AS (
      SELECT count(DISTINCT CASE WHEN doc_id % {INDEX_DELTA_MOD} <> 0
                                 THEN doc_id END) AS n_base,
             count(DISTINCT CASE WHEN doc_id % {INDEX_DELTA_MOD} = 0
                                 THEN doc_id END) AS n_delta
      FROM bands
    )
    SELECT CAST(nd.n_base AS BIGINT) AS n_base_docs,
           CAST(nd.n_delta AS BIGINT) AS n_delta_docs,
           CAST((SELECT count(*) FROM base_pairs) AS BIGINT)
             AS base_pairs,
           CAST((SELECT count(*) FROM delta_pairs) AS BIGINT)
             AS delta_new_pairs,
           CAST((SELECT count(*) FROM base_pairs)
              + (SELECT count(*) FROM delta_pairs) AS BIGINT)
             AS incremental_pairs,
           CAST((SELECT count(*) FROM full_pairs) AS BIGINT) AS full_pairs,
           (SELECT count(*) FROM base_pairs)
             + (SELECT count(*) FROM delta_pairs)
             = (SELECT count(*) FROM full_pairs) AS consistent
    FROM nd
    """,
)
def q_minhash_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch maintenance of the MinHash-LSH band index —
    the batch twin of streaming/incremental_dedup.py's band index
    (reference has no incremental path at all; its KV scans recompute
    everything, src/store/reader/sled.rs). A production corpus is
    ingested in batches: recomputing the full O(corpus) shingle pass
    per delta is the naive cost this op avoids. Because a MinHash
    signature depends only on its OWN document, the stored band index
    of the base corpus stays valid when a delta batch arrives; merging
    is (1) band-key equi-join of delta bands against base ∪ delta —
    candidate pairs touching at least one delta doc — and (2) a plain
    append of delta bands into the index. The audit proves
    exactness: base-only pairs + delta-touching pairs must equal the
    from-scratch index's pairs (the two sets partition full_pairs by
    'does the pair touch a delta doc').

    Scale: the delta probe joins |delta bands| against the index on
    (band, band_sig) — work proportional to the DELTA, not the corpus
    (the base self-join here exists only to audit; production keeps
    base_pairs from the previous run). Signature computation runs once
    per doc (base and delta partitions of one corpus-wide pass)."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    bands = minhash_bands(docs).localCheckpoint(eager=True)
    is_delta = F.col("doc_id") % INDEX_DELTA_MOD == 0
    base = bands.filter(~is_delta)
    delta = bands.filter(is_delta)

    def pair_count(left: DataFrame, right: DataFrame, sym: bool) -> DataFrame:
        a = left.select(
            F.col("doc_id").alias("a"), "band", "band_sig"
        )
        b = right.select(
            F.col("doc_id").alias("b"), "band", "band_sig"
        )
        j = a.join(b, ["band", "band_sig"])
        if sym:
            pairs = j.filter(F.col("a") < F.col("b")).select("a", "b")
        else:
            pairs = j.filter(F.col("a") != F.col("b")).select(
                F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
            )
        return pairs.distinct().agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )

    base_pairs = pair_count(base, base, sym=True)
    delta_pairs = pair_count(delta, bands, sym=False)
    full_pairs = pair_count(bands, bands, sym=True)
    nd = bands.agg(
        F.countDistinct(
            F.when(~is_delta, F.col("doc_id"))
        ).cast("bigint").alias("n_base_docs"),
        F.countDistinct(
            F.when(is_delta, F.col("doc_id"))
        ).cast("bigint").alias("n_delta_docs"),
    )
    return (
        nd.crossJoin(base_pairs.select(F.col("n").alias("base_pairs")))
        .crossJoin(delta_pairs.select(F.col("n").alias("delta_new_pairs")))
        .crossJoin(full_pairs.select(F.col("n").alias("full_pairs")))
        .select(
            "n_base_docs",
            "n_delta_docs",
            "base_pairs",
            "delta_new_pairs",
            (F.col("base_pairs") + F.col("delta_new_pairs")).alias(
                "incremental_pairs"
            ),
            "full_pairs",
            (
                F.col("base_pairs") + F.col("delta_new_pairs")
                == F.col("full_pairs")
            ).alias("consistent"),
        )
    )


PPR_SEEDS = 3  # restart mass spreads uniformly over the 3 lowest node ids
PPR_ITERS = 4
PPR_DAMP = 0.85


def _ppr_oracle_sql(
    iters: int = PPR_ITERS, damping: float = PPR_DAMP
) -> str:
    lsh = """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS shingle
      FROM tok
    ), hashed AS (
      SELECT doc_id, md5('a:' || shingle) AS da, md5('b:' || shingle) AS db
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             min(substr(da, 1, 8)) AS h0, min(substr(da, 9, 8)) AS h1,
             min(substr(da, 17, 8)) AS h2, min(substr(da, 25, 8)) AS h3,
             min(substr(db, 1, 8)) AS h4, min(substr(db, 9, 8)) AS h5,
             min(substr(db, 17, 8)) AS h6, min(substr(db, 25, 8)) AS h7
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id,
             unnest([struct_pack(band := 0, band_sig := h0 || '|' || h1),
                     struct_pack(band := 1, band_sig := h2 || '|' || h3),
                     struct_pack(band := 2, band_sig := h4 || '|' || h5),
                     struct_pack(band := 3, band_sig := h6 || '|' || h7)],
                    recursive := true)
      FROM sigs
    ), cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM cands
      UNION
      SELECT b_id, a_id FROM cands
    ), deg AS (
      SELECT src, count(*) AS d FROM edges GROUP BY src
    ), nodes AS (SELECT DISTINCT src AS node FROM edges),
    seeds AS (
      SELECT node FROM nodes ORDER BY node LIMIT {seeds}
    ), pr0 AS (
      SELECT n.node,
             CASE WHEN s.node IS NOT NULL
                  THEN 1.0 / {seeds} ELSE 0.0 END AS pr
      FROM nodes n LEFT JOIN seeds s ON s.node = n.node
    )""".replace("{seeds}", str(PPR_SEEDS))
    stages = []
    for i in range(1, iters + 1):
        stages.append(
            f""", pr{i} AS (
      SELECT n.node,
             CASE WHEN s.node IS NOT NULL
                  THEN {1.0 - damping!r} / {PPR_SEEDS} ELSE 0.0 END
               + {damping!r} * coalesce(c.c, 0.0) AS pr
      FROM nodes n
      LEFT JOIN seeds s ON s.node = n.node
      LEFT JOIN (
        SELECT e.dst AS node, sum(p.pr / d.d) AS c
        FROM edges e
        JOIN pr{i - 1} p ON p.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
      ) c ON c.node = n.node
    )"""
        )
    return (
        lsh
        + "".join(stages)
        + f"""
    SELECT n.node AS doc_id, round(p.pr, 6) AS ppr,
           s.node IS NOT NULL AS is_seed
    FROM nodes n JOIN pr{iters} p ON p.node = n.node
    LEFT JOIN seeds s ON s.node = n.node"""
    )


@query("q_ppr_seeded", oracle=_ppr_oracle_sql())
def q_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (random walk with restart; Jeh & Widom
    2003) over the LSH duplicate graph, seeded on the {PPR_SEEDS}
    lowest node ids — contamination-neighborhood tracing: if the
    seeds are eval-set documents, the PPR mass ranks every corpus
    document by how reachable it is from the eval set through chains
    of near-duplicates, which is exactly the transitive leakage a
    direct n-gram contamination check (q_contamination) cannot see
    (A overlaps B, B overlaps C => C is contaminated at one remove).
    Restart mass (1 - d) returns to the uniform seed distribution
    each step, so scores decay with graph distance from the seeds —
    the global q_pagerank has no such locality.

    Scale: identical shape to pagerank() — the walk runs on the
    pair-list-sized rank table (the corpus is never touched after
    candidate generation); each of the {PPR_ITERS} fixed lazy
    iterations is one dst-keyed shuffle with map-side combine plus a
    broadcast of the seed set; unlike the global rank the restart
    vector is a {PPR_SEEDS}-row broadcast, not a 1/n scalar.
    Non-seed zero-restart rows keep PPR a proper probability
    diffusion (mass sums to <= 1, leaking only via dangling-free
    symmetric edges)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    # Pin the graph tables ONCE (localCheckpoint — the sinkhorn /
    # maxcover multi-consumer discipline): edges/deg/nodes are
    # pair-list-sized and every one of the 4 unrolled iterations
    # consumes them, so leaving them lazy re-derives the corpus-wide
    # LSH candidate join per reference (first cut audited scans=76,
    # exchanges=183; pinned: scans=0 on the iteration path). At
    # production scale the pinned edge list is the stored dup-graph
    # artifact the walk would read anyway.
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("b_id").alias("src"), F.col("a_id").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("d")
    ).localCheckpoint(eager=True)
    nodes = edges.select(
        F.col("src").alias("node")
    ).distinct().localCheckpoint(eager=True)
    seeds = (
        nodes.orderBy("node")
        .limit(PPR_SEEDS)
        .select("node", F.lit(True).alias("is_seed"))
        .localCheckpoint(eager=True)
    )
    restart = F.when(
        F.col("is_seed").isNotNull(), F.lit(1.0) / PPR_SEEDS
    ).otherwise(F.lit(0.0))
    pr = nodes.join(seeds, "node", "left").select(
        "node", restart.alias("pr")
    )
    for _ in range(PPR_ITERS):
        contrib = (
            edges.join(pr, edges.src == pr.node)
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("d")).alias("c"))
            .withColumnRenamed("dst", "node")
        )
        pr = (
            nodes.join(seeds, "node", "left")
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.when(
                        F.col("is_seed").isNotNull(),
                        F.lit(1.0 - PPR_DAMP) / PPR_SEEDS,
                    ).otherwise(F.lit(0.0))
                    + PPR_DAMP * F.coalesce("c", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return (
        pr.join(seeds, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            rnd("pr", 6).alias("ppr"),
            F.coalesce("is_seed", F.lit(False)).alias("is_seed"),
        )
    )
