"""X3 similarity-search queries over ``embeddings``, oracle-checked.

Cross-engine exactness: Spark's ``aggregate(zip_with(...))`` left-fold in
doubles is bit-identical to DuckDB's ``list_inner_product(DOUBLE[], ...)``
(verified empirically: 0 ULP difference over the corpus), and both engines
apply the same ``dot / (sqrt(dot_aa) * sqrt(dot_bb))`` expression, so
scores, orderings, and threshold cuts agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from foglamp_filter_python35_spark.catalog import (
    QuerySpec,
    load,
    o_davg,
    o_davg_expr,
    o_ordstat_quantile,
    ordstat_quantile,
    parquet_row_count,
)
from foglamp_filter_python35_spark.functions import similarity as S

_QUERY_ID = 0
_K = 10
_DUP_THRESHOLD = 0.4
# Coarse-quantizer cell count for the IVF queries.  Cell-pruned pair
# generation is quadratic IN CELL SIZE (n/k per cell -> n^2/k pairs
# total), so k is the pruning dial: 16 cells cut candidate pairs ~2x vs
# 8 with the same exact-verify contract.  At 100 TB k grows with corpus
# (k ~ sqrt(n) keeps cells constant-size) and assignment is a stored
# column written at ingest.
_N_CENTROIDS = 16

_COS_SQL = (
    "list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == _QUERY_ID).select(
        F.col("embedding").alias("qv")
    )
    return S.brute_force_topk(emb, query, _K)


O_EMBEDDING_TOPK = f"""
SELECT a.vec_id, {_COS_SQL} AS score
FROM embeddings a
JOIN (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID}) b ON TRUE
ORDER BY score DESC, a.vec_id
LIMIT {_K}
"""


def q_embedding_cosine_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector near-dups via IVF-cell pruning + exact cosine verify.  The
    all-pairs theta join (``S.cosine_pairs``) is test-only ground truth —
    never a catalog plan; candidates here come from an equi-join on the
    coarse-quantizer cell id."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return S.ivf_cell_pairs(emb, centroids, _DUP_THRESHOLD).orderBy(
        "id_a", "id_b"
    )


O_EMBEDDING_COSINE_DUP = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
assign AS (
  SELECT a.vec_id, b.cid,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {_COS_SQL} DESC, b.cid) AS rn
  FROM embeddings a CROSS JOIN cents b
),
a1 AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
cells AS (
  SELECT e.vec_id, e.embedding, a1.cid
  FROM embeddings e JOIN a1 USING (vec_id)
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_SQL} AS score
FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE {_COS_SQL} >= {_DUP_THRESHOLD}
ORDER BY id_a, id_b
"""


# --- X3e-audit: IVF cell-balance histogram — the index-build QA pass.
# Cell-pruned search cost is quadratic in cell size, so one bloated
# cell quietly destroys the pruning ratio; this reports per-cell vector
# counts plus each cell's share of the corpus.  Plan: broadcast
# centroids, map-side assignment, one partial+final count.


def q_ivf_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = S.ivf_assign(emb, centroids)
    # one-row total broadcast keeps the builder lazy (no driver action)
    total = emb.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    return (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .crossJoin(F.broadcast(total))
        .select(
            "cid",
            "n_vectors",
            (F.col("n_vectors").cast("double") / F.col("n_total")).alias(
                "share"
            ),
        )
        .orderBy("cid")
    )


O_IVF_CELL_HISTOGRAM = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
assign AS (
  SELECT a.vec_id, b.cid,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {_COS_SQL} DESC, b.cid) AS rn
  FROM embeddings a CROSS JOIN cents b
),
a1 AS (SELECT vec_id, cid FROM assign WHERE rn = 1)
SELECT cid,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(COUNT(*) AS DOUBLE)
         / (SELECT CAST(COUNT(*) AS DOUBLE) FROM embeddings) AS share
FROM a1
GROUP BY cid
ORDER BY cid
"""


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return S.ivf_topk(emb, centroids, _QUERY_ID, _K)


O_EMBEDDING_IVF_TOPK = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
assign AS (
  SELECT a.vec_id, b.cid,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {_COS_SQL} DESC, b.cid) AS rn
  FROM embeddings a CROSS JOIN cents b
),
a1 AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
qcell AS (SELECT cid FROM a1 WHERE vec_id = {_QUERY_ID}),
cell AS (
  SELECT e.vec_id, e.embedding
  FROM embeddings e JOIN a1 ON a1.vec_id = e.vec_id
  JOIN qcell ON a1.cid = qcell.cid
)
SELECT a.vec_id, {_COS_SQL} AS score
FROM cell a
JOIN (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID}) b ON TRUE
ORDER BY score DESC, a.vec_id
LIMIT {_K}
"""

# --- X3b: random-hyperplane LSH near-dups (the LSH-bucketed scale path;
# IVF is the other).  The SAME deterministic plane literals are embedded
# in the Spark plan and the oracle SQL, so buckets, candidates, and
# verified pairs agree exactly. ---

_LSH_PLANES = 16
_LSH_BITS = 4
_LSH_DIM = 64
_LSH_THRESHOLD = 0.4


def q_embedding_lsh_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DEFAULTS-ROUTED (r9): no explicit sketch params — the sizing rule
    # ``lsh_config(n)`` picks the keyspace, so the driver's oracle gate
    # exercises the production deployment path itself.  At every gate
    # scale (n=500 sf0.01, n=2000 sf0.1) ``lsh_config`` returns exactly
    # (_LSH_PLANES, _LSH_BITS) = (16, 4) — the constants the oracle's
    # plane literals are generated from (pinned by
    # tests/test_sketch_sizing.py::test_gate_scale_defaults_match_oracle
    # _constants).
    emb = load(spark, sf_dir, "embeddings")
    # n from the parquet footer (r17): the sizing rule needs the corpus
    # row count at plan time; the footer read is ~1ms where the
    # emb.count() fallback costs a Spark job per build (~0.25s warm,
    # ~2.4s cold) — same exact n, so the sketch (and results) are
    # identical.
    return S.rp_lsh_near_dups(
        emb,
        threshold=_LSH_THRESHOLD,
        dim=_LSH_DIM,
        n=parquet_row_count(sf_dir, "embeddings"),
    ).orderBy("id_a", "id_b")


def _lsh_oracle() -> str:
    planes = S.random_hyperplanes(_LSH_PLANES, _LSH_DIM)
    n_bands = _LSH_PLANES // _LSH_BITS

    def band_expr(b: int) -> str:
        terms = []
        for i in range(_LSH_BITS):
            lit = "[" + ", ".join(repr(x) for x in planes[b * _LSH_BITS + i]) + "]"
            terms.append(
                f"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), "
                f"{lit}) >= 0 THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    band_selects = "\n  UNION ALL ".join(
        f"SELECT vec_id, embedding, {b} AS band_id, {band_expr(b)} AS band_val"
        f" FROM embeddings"
        for b in range(n_bands)
    )
    return f"""
WITH banded AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS va, b.embedding AS vb
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       list_inner_product(CAST(va AS DOUBLE[]), CAST(vb AS DOUBLE[]))
         / (sqrt(list_inner_product(CAST(va AS DOUBLE[]), CAST(va AS DOUBLE[])))
          * sqrt(list_inner_product(CAST(vb AS DOUBLE[]), CAST(vb AS DOUBLE[]))))
         AS score
FROM cand
WHERE list_inner_product(CAST(va AS DOUBLE[]), CAST(vb AS DOUBLE[]))
         / (sqrt(list_inner_product(CAST(va AS DOUBLE[]), CAST(va AS DOUBLE[])))
          * sqrt(list_inner_product(CAST(vb AS DOUBLE[]), CAST(vb AS DOUBLE[]))))
      >= {_LSH_THRESHOLD}
ORDER BY id_a, id_b
"""


_N_QUERIES = 8


def q_embedding_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return S.knn_join(emb, queries, k=5).orderBy("qid", "rank")


O_EMBEDDING_KNN_JOIN = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < {_N_QUERIES}
),
scored AS (
  SELECT q.qid, a.vec_id,
         list_inner_product(CAST(a.embedding AS DOUBLE[]),
                            CAST(q.embedding AS DOUBLE[]))
           / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
            * sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[]))))
           AS score
  FROM embeddings a CROSS JOIN q
),
ranked AS (
  SELECT qid, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT qid, vec_id, score, rank
FROM ranked WHERE rank <= 5
ORDER BY qid, rank
"""

# --- per-label centroids: posexplode over the vector dimension, exact
# decimal mean per (label, dim).  The embedding-space summarization step
# (class prototypes / IVF training stats); explode is map-side, one
# partial+final hash agg on (label, dim) — at 100 TB the shuffle carries
# one partial row per (label, dim, map task), never raw vectors.


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from foglamp_filter_python35_spark.catalog import davg  # noqa: PLC0415

    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    return (
        ex.groupBy("label", "dim")
        .agg(davg("v", "centroid"), F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("label", "dim")
    )


O_EMBEDDING_CENTROIDS = f"""
SELECT label, CAST(gs - 1 AS BIGINT) AS dim,
       {o_davg("CAST(v AS DOUBLE)", "centroid")},
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM (
  -- two unnests in one SELECT zip positionally in DuckDB
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS gs,
         unnest(embedding) AS v
  FROM embeddings
)
GROUP BY label, dim
ORDER BY label, dim
"""

# --- int8 quantization (the vector-index build step): l2-normalize each
# embedding and floor-quantize to [-127, 127], emitting per-vector audit
# stats (norm, quantized checksum, min/max).  Map-only — no shuffle; at
# 100 TB this is the write path of a quantized ANN index.  floor (not
# round) keeps the lattice assignment single-rounded IEEE, so Spark and
# DuckDB agree bit-for-bit; the checksum is an exact integer sum.


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    q = F.transform(
        e,
        lambda x: F.least(
            F.greatest(
                F.floor(x.cast("double") * 127.0 / F.col("l2_norm")),
                F.lit(-127),
            ),
            F.lit(127),
        ),
    )
    return (
        emb.select("vec_id", "embedding", S.norm("embedding").alias("l2_norm"))
        .filter(F.col("l2_norm") > 0)
        .select(
            "vec_id",
            "l2_norm",
            F.aggregate(
                q, F.lit(0).cast("bigint"), lambda acc, v: acc + v
            ).alias("q_sum"),
            F.array_min(q).cast("bigint").alias("q_min"),
            F.array_max(q).cast("bigint").alias("q_max"),
        )
        .orderBy("vec_id")
    )


O_EMBEDDING_QUANTIZE = """
WITH n AS (
  SELECT vec_id,
         CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS l2_norm
  FROM embeddings
),
q AS (
  SELECT vec_id, l2_norm,
         list_transform(e,
           x -> LEAST(GREATEST(floor(x * 127.0 / l2_norm), -127), 127)) AS qv
  FROM n WHERE l2_norm > 0
)
SELECT vec_id, l2_norm,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
       CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
       CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max
FROM q
ORDER BY vec_id
"""

# --- embedding hygiene: norm outliers ------------------------------------
# Corpus-QA for the vector store: vectors whose L2 norm falls outside
# median +/- 1.5*IQR (the Tukey fence) — truncated inputs, double-embedded rows, or zero
# vectors.  One tiny exact-quantile agg broadcast against a map-side
# scan; norms are sqrt(dot) (IEEE-exact, shared with the oracle).
#
# ENGINE-EXACT FENCES (r3 ADVICE hardening): the quantiles are computed
# from explicitly rank-selected order statistics via `ordstat_quantile`
# — both engines evaluate the identical IEEE interpolation expression,
# so a norm sitting EXACTLY on the fence gets the same membership in
# Spark and DuckDB (previously `percentile` vs `quantile_cont` could
# diverge by 1 ULP; see tests/test_properties.py fence-tie test).
# The exact-quantile agg buffers the norm column in one agg state — the
# same asymptotics as Spark's exact `percentile`; at 100 TB swap to
# approx_percentile and drop the exactness claim.


def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id", S.norm("embedding").alias("l2")
    )
    stats = normed.agg(
        F.count("l2").alias("n"),
        F.sort_array(F.collect_list("l2")).alias("s"),
    ).select(
        ordstat_quantile("s", "n", 0.25).alias("p25"),
        ordstat_quantile("s", "n", 0.5).alias("p50"),
        ordstat_quantile("s", "n", 0.75).alias("p75"),
    )
    j = normed.crossJoin(F.broadcast(stats))
    iqr = F.col("p75") - F.col("p25")
    return (
        j.filter(
            (F.col("l2") > F.col("p50") + 1.5 * iqr)
            | (F.col("l2") < F.col("p50") - 1.5 * iqr)
        )
        .select("vec_id", "l2", "p50")
        .orderBy("vec_id")
    )


O_EMBEDDING_NORM_OUTLIERS = f"""
WITH normed AS (
  SELECT vec_id,
         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS l2
  FROM embeddings),
agg AS (
  SELECT COUNT(l2) AS n, list_sort(list(l2)) AS s FROM normed),
stats AS (
  SELECT {o_ordstat_quantile('s', 'n', 0.25)} AS p25,
         {o_ordstat_quantile('s', 'n', 0.5)} AS p50,
         {o_ordstat_quantile('s', 'n', 0.75)} AS p75
  FROM agg)
SELECT vec_id, l2, p50
FROM normed CROSS JOIN stats
WHERE l2 > p50 + 1.5 * (p75 - p25)
   OR l2 < p50 - 1.5 * (p75 - p25)
ORDER BY vec_id
"""


# --- X3f: semantic dedup (SemDeDup-style) — the embedding-space twin of
# X2's text near-dup arc, composed end-to-end: IVF-cell-pruned cosine
# pairs above threshold -> diameter-independent star-contraction
# connected components -> keep the minimum vec_id per cluster -> ONE
# per-label audit rollup.  Candidate generation is the equi-join on the
# coarse-quantizer cell (never all-pairs); cluster labels shuffle
# (vec_id, comp) ints only; the corpus joins the loser list once.
# Oracle: the same cell-pruned pairs in SQL, closed transitively by a
# recursive CTE — which also proves star contraction converged exactly.


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from foglamp_filter_python35_spark.functions.dedup import (  # noqa: PLC0415
        connected_components_star,
    )

    emb = load(spark, sf_dir, "embeddings")
    # DEFAULTS-ROUTED (r9): centroids omitted — ``ivf_cell_pairs`` sizes
    # the cell count from the corpus (``ivf_cell_count(n)`` = 16 at both
    # gate scales) and seeds centroids deterministically
    # (``seed_centroids`` = the 16 lowest vec_ids, which on the
    # contiguous 0..n-1 testdata ids is exactly the oracle's
    # ``vec_id < {_N_CENTROIDS}`` cut — pinned by
    # tests/test_sketch_sizing.py).  The driver gate therefore verifies
    # the production defaults path, not a hand-pinned twin.  n comes
    # from the parquet footer (r17, see q_embedding_lsh_dup) — same
    # exact count, no plan-build Spark job.
    pairs = S.ivf_cell_pairs(
        emb, None, _DUP_THRESHOLD, n=parquet_row_count(sf_dir, "embeddings")
    )
    comp = connected_components_star(pairs)
    losers = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("vec_id"), F.lit(1).alias("_loser")
    )
    return (
        emb.select("vec_id", "label")
        .join(losers, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("_loser").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("_loser").isNull(), 0).otherwise(1))
            .cast("bigint")
            .alias("n_removed"),
        )
        .orderBy("label")
    )


O_SEMANTIC_DEDUP = f"""
WITH RECURSIVE cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
assign AS (
  SELECT a.vec_id, b.cid,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY {_COS_SQL} DESC, b.cid) AS rn
  FROM embeddings a CROSS JOIN cents b
),
a1 AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
cells AS (
  SELECT e.vec_id, e.embedding, a1.cid
  FROM embeddings e JOIN a1 USING (vec_id)
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_COS_SQL} >= {_DUP_THRESHOLD}
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
),
comp AS (
  SELECT n.u AS vec_id, LEAST(n.u, MIN(r.v)) AS component
  FROM (SELECT DISTINCT u FROM edges) n
  JOIN reach r ON r.u = n.u
  GROUP BY n.u
),
losers AS (SELECT vec_id FROM comp WHERE component <> vec_id)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN l.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_removed
FROM embeddings e LEFT JOIN losers l USING (vec_id)
GROUP BY label
ORDER BY label
"""


# --- X3g: k-NN label purity — the standard embedding-quality eval
# (does the vector space cluster by label?): for each probe vector, the
# fraction of its k nearest corpus neighbors sharing its label.  Probe
# set is broadcast (bounded), scoring is a map-side projection over the
# corpus scan, and the per-probe top-k shuffles on qid only — the G17
# knn-join plan with a label-agreement aggregate on top.

_PURITY_PROBES = 20
_PURITY_K = 10


def q_knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < _PURITY_PROBES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("q_label"),
        # probe norm computed once per probe inside the broadcast (r17);
        # the inline cosine re-folded it per (corpus x probe) row
        S.norm("embedding").alias("_qn"),
    )
    # corpus norms once per corpus row BELOW the multiplying join;
    # dot/(_vn*_qn) is the identical IEEE expression to the inline
    # cosine — bit-identical scores
    embn = emb.select(
        "vec_id",
        "label",
        "embedding",
        S.norm("embedding").alias("_vn"),
    )
    scored = (
        embn.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "q_label",
            "vec_id",
            F.col("label").alias("n_label"),
            F.try_divide(
                S.dot("embedding", "qv"),
                F.col("_vn") * F.col("_qn"),
            ).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _PURITY_K
    )
    n_same = F.sum(
        F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0)
    ).cast("bigint")
    return (
        top.groupBy("qid", "q_label")
        .agg(n_same.alias("n_same"))
        .select(
            "qid",
            "q_label",
            "n_same",
            (F.col("n_same").cast("double") / _PURITY_K).alias("purity"),
        )
        .orderBy("qid")
    )


O_KNN_LABEL_PURITY = f"""
WITH probes AS (
  SELECT vec_id AS qid, embedding, label AS q_label
  FROM embeddings WHERE vec_id < {_PURITY_PROBES}),
ranked AS (
  SELECT b.qid, b.q_label, a.vec_id, a.label AS n_label,
         ROW_NUMBER() OVER (PARTITION BY b.qid
                            ORDER BY {_COS_SQL} DESC, a.vec_id) AS rn
  FROM embeddings a CROSS JOIN probes b
  WHERE a.vec_id <> b.qid)
SELECT qid, q_label,
       CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same,
       CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS DOUBLE)
         / {_PURITY_K} AS purity
FROM ranked WHERE rn <= {_PURITY_K}
GROUP BY qid, q_label
ORDER BY qid
"""


# --- X3h: per-dimension corpus statistics — the whitening/normalization
# prep pass (mean-center + scale per dimension before indexing).  One
# posexplode + one partial+final hash agg on dim.
#
# Determinism note: decimal casts are NOT safe here — float32 values are
# dyadic rationals whose decimal expansions can terminate exactly one
# digit past the decimal scale (found in this corpus: 0.1983642578125
# ties at scale 12), and Spark rounds such ties half-up while DuckDB
# rounds half-even.  Instead the values are quantized to the 1e-12 grid
# with PURE IEEE ops — floor(x * 1e12 + 0.5) — which both engines
# evaluate bit-identically, then summed as exact BIGINTs; mean/variance
# derive from the integer sums with identically-parenthesized double
# expressions.  The statistic is thus "stats of the 1e-12-quantized
# values": well-defined, deterministic, and engine-exact.

_DIM_Q = "1e12"


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode("embedding").alias("dim", "xf")
    ).select("dim", F.col("xf").cast("double").alias("x"))
    qx = F.floor(F.col("x") * F.expr(_DIM_Q) + F.lit(0.5)).cast("long")
    qxx = F.floor(
        F.col("x") * F.col("x") * F.expr(_DIM_Q) + F.lit(0.5)
    ).cast("long")
    agg = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qx).alias("s_int"),
        F.sum(qxx).alias("ss_int"),
    )
    n = F.col("n").cast("double")
    m = (F.col("s_int").cast("double") / F.expr(_DIM_Q)) / n
    m2 = (F.col("ss_int").cast("double") / F.expr(_DIM_Q)) / n
    return agg.select(
        "dim",
        F.col("n").cast("bigint").alias("n"),
        m.alias("mean"),
        (m2 - m * m).alias("variance"),
    ).orderBy("dim")


O_EMBEDDING_DIM_STATS = f"""
WITH dims AS (
  SELECT CAST(gs - 1 AS INTEGER) AS dim,
         CAST(v AS DOUBLE) AS x
  FROM (
    -- two unnests in one SELECT zip positionally in DuckDB
    SELECT unnest(range(1, len(embedding) + 1)) AS gs,
           unnest(embedding) AS v
    FROM embeddings
  )),
agg AS (
  SELECT dim, COUNT(*) AS n,
         SUM(CAST(floor(x * {_DIM_Q} + 0.5) AS BIGINT)) AS s_int,
         SUM(CAST(floor(x * x * {_DIM_Q} + 0.5) AS BIGINT)) AS ss_int
  FROM dims GROUP BY dim)
SELECT dim,
       CAST(n AS BIGINT) AS n,
       (CAST(s_int AS DOUBLE) / {_DIM_Q}) / CAST(n AS DOUBLE) AS mean,
       (CAST(ss_int AS DOUBLE) / {_DIM_Q}) / CAST(n AS DOUBLE)
         - ((CAST(s_int AS DOUBLE) / {_DIM_Q}) / CAST(n AS DOUBLE))
           * ((CAST(s_int AS DOUBLE) / {_DIM_Q}) / CAST(n AS DOUBLE))
         AS variance
FROM agg
ORDER BY dim
"""


# --- G89: inter-label centroid margin ------------------------------------
# Embedding-space class-separation audit: squared L2 distance between
# every pair of label centroids.  A label whose centroid sits close to
# another's signals mislabeled or entangled classes — the eval-side
# complement of knn_label_purity.  Centroids are a (labels x dims)
# aggregate (vocabulary-sized, sublinear in corpus); the pair join is
# centroids-only, so the whole query after the one posexplode shuffle is
# O(labels^2 x dims) — trivially broadcastable at any corpus size.
# Cross-engine exactness: per-dim squared diffs are quantized with pure
# IEEE ops (floor(d^2 * 1e9 + 0.5), the embedding_dim_stats pattern) and
# summed as BIGINT — no float association order anywhere.


def q_embedding_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from foglamp_filter_python35_spark.catalog import davg  # noqa: PLC0415

    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select("label", "dim", F.col("v").cast("double").alias("v"))
    cent = ex.groupBy("label", "dim").agg(davg("v", "c"))
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    d = F.col("ca") - F.col("cb")
    pairs = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.floor(d * d * F.lit(1e9) + F.lit(0.5)).alias("q"),
        )
    )
    return (
        pairs.groupBy("label_a", "label_b")
        .agg(
            F.sum("q").alias("dist2_q"),
            F.count(F.lit(1)).alias("n_dims"),
        )
        .orderBy("label_a", "label_b")
    )


O_EMBEDDING_LABEL_MARGIN = f"""
WITH cent AS (
  SELECT label, CAST(gs - 1 AS BIGINT) AS dim,
         {o_davg_expr("CAST(v AS DOUBLE)")} AS c
  FROM (
    SELECT label,
           unnest(range(1, len(embedding) + 1)) AS gs,
           unnest(embedding) AS v
    FROM embeddings)
  GROUP BY label, dim),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(FLOOR((a.c - b.c) * (a.c - b.c) * 1e9 + 0.5) AS BIGINT) AS q
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label)
SELECT label_a, label_b,
       CAST(SUM(q) AS BIGINT) AS dist2_q,
       CAST(COUNT(*) AS BIGINT) AS n_dims
FROM pairs
GROUP BY label_a, label_b
ORDER BY label_a, label_b
"""


# --- G90: IVF coarse-quantizer training (Lloyd k-means, 2 iterations) -----
# The iterative-algorithm representative in the catalog: trains the
# centroids the IVF queries consume, as two unrolled Lloyd rounds —
# deterministic seeding (the first k vectors), assignment by QUANTIZED
# integer squared-L2 (floor(d^2*1e12+0.5) summed as BIGINT, so argmin
# ties and sums are engine-exact), centroid update via the decimal-avg.
# Each round is: broadcast (k x d) centroid rows -> map-side per-dim
# terms -> one (vec, cid) integer agg -> argmin -> one (cid, dim) avg.
# At 100 TB: identical dataflow with k-means|| init and the per-dim join
# fused into a packed-array dot kernel; rounds stay O(n*d*k) map-side
# work + vocabulary-sized aggregates, the textbook Spark k-means shape.
# The oracle unrolls the same two rounds in SQL — every stage integer-
# or decimal-exact, so the driver hash-gate covers an ITERATIVE plan.

_KM_K = 16
_KM_SCALE = 1e12


def q_ivf_train_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from foglamp_filter_python35_spark.catalog import davg  # noqa: PLC0415

    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    c0 = ex.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), "dim", F.col("v").alias("c")
    )

    def assign(cent: DataFrame) -> DataFrame:
        d = F.col("v") - F.col("c")
        dist = (
            ex.join(F.broadcast(cent), "dim")
            .select(
                "vec_id",
                "cid",
                F.floor(d * d * F.lit(_KM_SCALE) + F.lit(0.5)).alias("q"),
            )
            .groupBy("vec_id", "cid")
            .agg(F.sum("q").alias("dist_q"))
        )
        mind = dist.groupBy("vec_id").agg(F.min("dist_q").alias("mind"))
        return (
            dist.join(mind, "vec_id")
            .filter(F.col("dist_q") == F.col("mind"))
            .groupBy("vec_id")
            .agg(
                F.min("cid").alias("cid"),  # deterministic tie-break
                F.min("mind").alias("dist_q"),
            )
        )

    b1 = assign(c0)
    c1 = (
        ex.join(b1.select("vec_id", "cid"), "vec_id")
        .groupBy("cid", "dim")
        .agg(davg("v", "c"))
    )
    b2 = assign(c1)
    return (
        b2.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
            F.sum("dist_q").alias("inertia_q"),
        )
        .orderBy("cid")
    )


def _km_assign_sql(cent: str, tag: str) -> str:
    return f"""
d{tag} AS (
  SELECT e.vec_id, c.cid,
         CAST(SUM(CAST(FLOOR((e.v - c.c) * (e.v - c.c) * 1e12 + 0.5)
                       AS BIGINT)) AS BIGINT) AS dist_q
  FROM ex e JOIN {cent} c ON e.dim = c.dim
  GROUP BY e.vec_id, c.cid),
m{tag} AS (SELECT vec_id, MIN(dist_q) AS mind FROM d{tag} GROUP BY vec_id),
b{tag} AS (
  SELECT d.vec_id, MIN(d.cid) AS cid, MIN(d.dist_q) AS dist_q
  FROM d{tag} d JOIN m{tag} m
    ON d.vec_id = m.vec_id AND d.dist_q = m.mind
  GROUP BY d.vec_id)"""


O_IVF_TRAIN_KMEANS = f"""
WITH ex AS (
  SELECT vec_id, CAST(gs - 1 AS BIGINT) AS dim, CAST(v AS DOUBLE) AS v
  FROM (
    SELECT vec_id,
           unnest(range(1, len(embedding) + 1)) AS gs,
           unnest(embedding) AS v
    FROM embeddings)),
c0 AS (SELECT vec_id AS cid, dim, v AS c FROM ex WHERE vec_id < {_KM_K}),
{_km_assign_sql('c0', '1')},
c1 AS (
  SELECT b.cid, e.dim,
         {o_davg_expr("e.v")} AS c
  FROM ex e JOIN b1 b ON e.vec_id = b.vec_id
  GROUP BY b.cid, e.dim),
{_km_assign_sql('c1', '2')}
SELECT cid,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(SUM(dist_q) AS BIGINT) AS inertia_q
FROM b2
GROUP BY cid
ORDER BY cid
"""


# --- G95: top principal component by power iteration (2 unrolled
# rounds) — embedding-space QA: the dominant variance direction flags
# batch effects / collapsed encoders before training.  Same iterative-
# algorithm-under-the-hash-gate pattern as k-means (G90): per-dim means
# centered out (decimal-avg, broadcast), every matvec a quantized-
# integer sum (order-free), the 64-row direction vector broadcast into
# the next round, normalization one sqrt of a quantized sum-of-squares.
# At 100 TB each round is one scan + two int-sum shuffles keyed by
# vec_id/dim; rounds are a fixed unroll, state is (dims) rows.  Start
# vector = all-ones (unnormalized is fine: each round renormalizes, and
# the oracle replays the identical arithmetic, so convergence quality
# is irrelevant to the gate). ---

_PCA_SCALE = 1e12


def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from foglamp_filter_python35_spark.catalog import davg  # noqa: PLC0415

    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    mu = ex.groupBy("dim").agg(davg("v", "mu"))
    xc = ex.join(F.broadcast(mu), "dim").select(
        "vec_id", "dim", (F.col("v") - F.col("mu")).alias("x")
    )

    def matvec(vcur: DataFrame) -> DataFrame:
        """One power-iteration round: w = X^T (X v), renormalized."""
        s = (
            xc.join(F.broadcast(vcur), "dim")
            .select(
                "vec_id",
                F.floor(
                    F.col("x") * F.col("vd") * F.lit(_PCA_SCALE) + F.lit(0.5)
                ).alias("q"),
            )
            .groupBy("vec_id")
            .agg((F.sum("q").cast("double") / F.lit(_PCA_SCALE)).alias("s"))
        )
        w = (
            xc.join(s, "vec_id")
            .select(
                "dim",
                F.floor(
                    F.col("s") * F.col("x") * F.lit(_PCA_SCALE) + F.lit(0.5)
                ).alias("q"),
            )
            .groupBy("dim")
            .agg((F.sum("q").cast("double") / F.lit(_PCA_SCALE)).alias("w"))
        )
        nrm = w.agg(
            F.sqrt(
                F.sum(
                    F.floor(
                        F.col("w") * F.col("w") * F.lit(_PCA_SCALE)
                        + F.lit(0.5)
                    )
                ).cast("double")
                / F.lit(_PCA_SCALE)
            ).alias("nrm")
        )
        return w.crossJoin(F.broadcast(nrm)).select(
            "dim", (F.col("w") / F.col("nrm")).alias("vd")
        )

    v0 = xc.select("dim").distinct().select("dim", F.lit(1.0).alias("vd"))
    v1 = matvec(v0)
    v2 = matvec(v1)
    return v2.select("dim", F.col("vd").alias("loading")).orderBy("dim")


def _pca_round_sql(vcur: str, tag: str) -> str:
    return f"""
s{tag} AS (
  SELECT x.vec_id,
         CAST(SUM(CAST(FLOOR(x.x * v.vd * 1e12 + 0.5) AS BIGINT))
              AS DOUBLE) / 1e12 AS s
  FROM xc x JOIN {vcur} v ON x.dim = v.dim
  GROUP BY x.vec_id),
w{tag} AS (
  SELECT x.dim,
         CAST(SUM(CAST(FLOOR(s.s * x.x * 1e12 + 0.5) AS BIGINT))
              AS DOUBLE) / 1e12 AS w
  FROM xc x JOIN s{tag} s ON x.vec_id = s.vec_id
  GROUP BY x.dim),
n{tag} AS (
  SELECT SQRT(CAST(SUM(CAST(FLOOR(w * w * 1e12 + 0.5) AS BIGINT))
              AS DOUBLE) / 1e12) AS nrm
  FROM w{tag}),
v{tag} AS (
  SELECT dim, w / nrm AS vd FROM w{tag} CROSS JOIN n{tag})"""


O_EMBEDDING_PCA_POWER = f"""
WITH ex AS (
  SELECT vec_id, CAST(gs - 1 AS BIGINT) AS dim, CAST(v AS DOUBLE) AS v
  FROM (
    -- two unnests in one SELECT zip positionally in DuckDB
    SELECT vec_id,
           unnest(range(1, len(embedding) + 1)) AS gs,
           unnest(embedding) AS v
    FROM embeddings)),
mu AS (
  SELECT dim, {o_davg('v', 'mu')} FROM ex GROUP BY dim),
xc AS (
  SELECT e.vec_id, e.dim, e.v - m.mu AS x
  FROM ex e JOIN mu m ON e.dim = m.dim),
v0 AS (
  SELECT DISTINCT dim, CAST(1.0 AS DOUBLE) AS vd FROM xc),
{_pca_round_sql('v0', '1')},
{_pca_round_sql('v1', '2')}
SELECT dim, vd AS loading FROM v2 ORDER BY dim
"""


# --- G104: IVF recall audit (recall@k vs brute force) --------------------
# The acceptance test for an ANN index: for a deterministic probe set
# (every ``_RECALL_QMOD``-th vector), compare multi-probe IVF top-k
# against the exact brute-force top-k and report recall@k per query.
# This is the number a platform pins in its index SLO ("recall@10 >=
# 0.95 at nprobe=2") and re-measures after every re-train; G87's
# cell-balance histogram says the index is WELL SHAPED, this says it is
# RIGHT.  Scale: ground truth is the broadcast-query kNN (exact, one
# corpus scan); the IVF side scans only probed cells; the final
# intersection joins two (queries x k)-row frames — negligible.  A
# query's own cell is always probe #1 (same argmax), so n_hits >= 1 and
# every probe query appears in the output.

_RECALL_QMOD = 97
_RECALL_NPROBE = 2


def q_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    queries = emb.filter(F.col("vec_id") % _RECALL_QMOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        # query norm once per query (r17) — reused by the candidate
        # scoring below instead of re-folding per candidate row
        S.norm("embedding").alias("_qn"),
    )
    truth = S.knn_join(
        emb, queries.select("qid", "qv"), k=_K
    ).select("qid", "vec_id")
    assign = S.ivf_assign(emb, centroids)
    probe_scored = queries.crossJoin(F.broadcast(centroids)).select(
        "qid", "cid", S.cosine("qv", "cv").alias("cscore")
    )
    wp = Window.partitionBy("qid").orderBy(F.col("cscore").desc(), "cid")
    probes = (
        probe_scored.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _RECALL_NPROBE)
        .select("qid", "cid")
    )
    cand = emb.join(assign, "vec_id").join(F.broadcast(probes), "cid")
    scored = cand.join(F.broadcast(queries), "qid").select(
        "qid",
        "vec_id",
        F.try_divide(
            S.dot("embedding", "qv"),
            S.norm("embedding") * F.col("_qn"),
        ).alias("score"),
    )
    wk = Window.partitionBy("qid").orderBy(F.col("score").desc(), "vec_id")
    ivf = (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= _K)
        .select("qid", "vec_id")
    )
    return (
        ivf.join(truth, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            "qid",
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(float(_K))).alias(
                "recall_at_k"
            ),
        )
        .orderBy("qid")
    )


O_IVF_RECALL_AUDIT = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding FROM embeddings
  WHERE vec_id < {_N_CENTROIDS}),
q AS (
  SELECT vec_id AS qid, embedding FROM embeddings
  WHERE vec_id % {_RECALL_QMOD} = 0),
truth AS (
  SELECT qid, vec_id FROM (
    SELECT b.qid, a.vec_id,
           ROW_NUMBER() OVER (PARTITION BY b.qid
                              ORDER BY {_COS_SQL} DESC, a.vec_id) AS rank
    FROM embeddings a CROSS JOIN q b) WHERE rank <= {_K}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT a.vec_id, b.cid,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY {_COS_SQL} DESC, b.cid) AS rn
    FROM embeddings a CROSS JOIN cents b) WHERE rn = 1),
probes AS (
  SELECT qid, cid FROM (
    SELECT a.qid, b.cid,
           ROW_NUMBER() OVER (PARTITION BY a.qid
                              ORDER BY {_COS_SQL} DESC, b.cid) AS rn
    FROM q a CROSS JOIN cents b) WHERE rn <= {_RECALL_NPROBE}),
cand AS (
  SELECT p.qid, e.vec_id, e.embedding
  FROM probes p
  JOIN assign s ON s.cid = p.cid
  JOIN embeddings e ON e.vec_id = s.vec_id),
ivf AS (
  SELECT qid, vec_id FROM (
    SELECT a.qid, a.vec_id,
           ROW_NUMBER() OVER (PARTITION BY a.qid
                              ORDER BY {_COS_SQL} DESC, a.vec_id) AS rank
    FROM cand a JOIN q b ON b.qid = a.qid) WHERE rank <= {_K})
SELECT t.qid,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(*) AS DOUBLE) / {_K}.0 AS recall_at_k
FROM truth t JOIN ivf i ON i.qid = t.qid AND i.vec_id = t.vec_id
GROUP BY t.qid ORDER BY t.qid
"""


SPECS = [
    QuerySpec("ivf_recall_audit", q_ivf_recall_audit, O_IVF_RECALL_AUDIT),
    QuerySpec(
        "embedding_norm_outliers",
        q_embedding_norm_outliers,
        O_EMBEDDING_NORM_OUTLIERS,
    ),
    QuerySpec("embedding_topk", q_embedding_topk, O_EMBEDDING_TOPK, headline=True),
    QuerySpec(
        "embedding_cosine_dup", q_embedding_cosine_dup, O_EMBEDDING_COSINE_DUP
    ),
    QuerySpec("embedding_ivf_topk", q_embedding_ivf_topk, O_EMBEDDING_IVF_TOPK),
    QuerySpec(
        "embedding_knn_join", q_embedding_knn_join, O_EMBEDDING_KNN_JOIN
    ),
    QuerySpec("embedding_lsh_dup", q_embedding_lsh_dup, _lsh_oracle()),
    QuerySpec(
        "embedding_centroids", q_embedding_centroids, O_EMBEDDING_CENTROIDS
    ),
    QuerySpec(
        "embedding_quantize", q_embedding_quantize, O_EMBEDDING_QUANTIZE
    ),
    QuerySpec("semantic_dedup", q_semantic_dedup, O_SEMANTIC_DEDUP),
    QuerySpec("knn_label_purity", q_knn_label_purity, O_KNN_LABEL_PURITY),
    QuerySpec(
        "embedding_dim_stats", q_embedding_dim_stats, O_EMBEDDING_DIM_STATS
    ),
    QuerySpec(
        "ivf_cell_histogram", q_ivf_cell_histogram, O_IVF_CELL_HISTOGRAM
    ),
    QuerySpec(
        "embedding_label_margin",
        q_embedding_label_margin,
        O_EMBEDDING_LABEL_MARGIN,
    ),
    QuerySpec(
        "ivf_train_kmeans", q_ivf_train_kmeans, O_IVF_TRAIN_KMEANS
    ),
    QuerySpec(
        "embedding_pca_power", q_embedding_pca_power, O_EMBEDDING_PCA_POWER
    ),
]
