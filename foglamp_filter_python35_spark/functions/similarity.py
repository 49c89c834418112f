"""X3 — similarity search over embedding columns (array<float>).

All vector math is Catalyst higher-order functions (``zip_with`` +
``aggregate``) — a strict left-fold in doubles, which is bit-identical to
DuckDB's ``list_inner_product`` over DOUBLE[], making every query here
oracle-exact with zero tolerance.  The builders (``dot``, ``norm``,
``cosine``, ``rp_lsh_sketch``) take column NAMES and emit ONE parsed SQL
expression each: ~0.5ms of driver time per call where the Column-API
lambda plumbing cost ~70ms of py4j round trips (r18 build-time profile).

Scale design:

* brute-force top-k: the query vector is a broadcast one-row dim; the
  scan is embarrassingly parallel; top-k is a TakeOrdered (no global
  sort).  This is the *baseline* and also the correct plan for one query
  vector at any corpus size.
* all-pairs near-dup at 100 TB must prune candidates: ``ivf_assign``
  gives a coarse quantizer (cluster on centroid id -> equi-join within
  cells), the same pattern as the LSH banding in ``dedup``.  The
  brute-force pair query exists as the correctness oracle at test scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from foglamp_filter_python35_spark.functions import cache
from foglamp_filter_python35_spark.functions.sqltext import (
    double_lit,
    quote_ident,
)


def _dot_sql(a: str, b: str) -> str:
    """The dot product of two SQL array expressions as SQL text:
    ``zip_with`` cast-to-double multiply, strict left-fold from 0.0."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def dot(a: str, b: str) -> Column:
    """Double dot product of the array columns named ``a`` and ``b``: a
    left-fold over ``zip_with``, bit-compatible with DuckDB as the
    oracle gate requires.

    Mismatched dimensions and NULL vectors give NULL (zip_with pads the
    shorter side) — downstream score filters drop such rows rather than
    crash; audit with a ``size(a) != size(b)`` check when corpus hygiene
    is in question (e.g. mixed embedding-model versions).

    Corrupt elements: a NULL element gives NULL; a NaN element gives
    NaN, which Spark orders ABOVE all doubles, so ``score >= threshold``
    filters accept such rows.  Audit NaN elements with
    ``exists(v, x -> isnan(x))`` when corpus hygiene is in question
    (pinned by tests/test_dedup_functions.py)."""
    return F.expr(_dot_sql(quote_ident(a), quote_ident(b)))


def norm(a: str) -> Column:
    q = quote_ident(a)
    return F.expr(f"sqrt({_dot_sql(q, q)})")


def cosine(a: str, b: str) -> Column:
    """Cosine similarity; NULL (excluded downstream, never a crash) for
    zero-norm vectors — under Spark 4's default ANSI mode a bare division
    would abort the whole job on one degenerate row."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def brute_force_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``emb`` against a ONE-ROW ``query`` DataFrame
    holding column ``qv``.  Broadcast + project + TakeOrdered.

    The query norm is computed ONCE inside the broadcast side (r17):
    inlined ``cosine`` would re-fold ``norm(qv)`` per corpus row, and the
    interpreted higher-order fold is the per-row cost here.  The factored
    ``dot/(norm_a*_qn)`` is the same IEEE expression, bit-identical."""
    q = query.select(F.col("qv"), norm("qv").alias("_qn"))
    scored = emb.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        F.try_divide(
            dot(vec_col, "qv"),
            norm(vec_col) * F.col("_qn"),
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def knn_join(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Batch top-k: cosine k nearest corpus vectors for EVERY query
    vector.  The query set is broadcast (it's the small side by
    construction); scoring is a map-side projection over the corpus scan;
    the per-query top-k is a window ranked on (score desc, id) — at scale
    that shuffles only on qid, and candidate rows per task are bounded by
    the rank filter pushed into the sort."""
    from pyspark.sql import Window  # noqa: PLC0415

    # norms factored out of the multiplying join (r17): corpus norms are
    # computed once per corpus row BELOW the join (not once per
    # (row x query) pair) and query norms once per query inside the
    # broadcast.  dot/(_vn*_qn) is the identical IEEE expression to the
    # inline cosine — bit-identical scores, ~3x less interpreted fold
    # work per scored pair.
    embn = emb.select(
        F.col(id_col),
        F.col(vec_col),
        norm(vec_col).alias("_vn"),
    )
    qn = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        norm(query_vec_col).alias("_qn"),
    )
    scored = embn.crossJoin(F.broadcast(qn)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.try_divide(
            dot(vec_col, query_vec_col),
            F.col("_vn") * F.col("_qn"),
        ).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


# ---------------------------------------------------------------------------
# Measured sketch-sizing rules (round-6 scale probe, SCALE.md "Round-6
# measured scale probe") promoted to API defaults.  At a FIXED sketch
# keyspace, candidate pairs grow O(n^2 / keyspace) — the probe measured
# the catalog's pinned constants going quadratic at 10x data, while the
# same operators with keyspace grown alongside n stayed flat-to-5x at
# 100x.  The rules: sign-LSH keeps 4 bands and grows bits so the
# expected band-bucket volume stays ~constant (2^bits ∝ n); IVF grows
# the cell count so the expected cell volume stays ~constant
# (cells ∝ n), with the assignment stored at ingest.  target volume 125
# reproduces the probe's measured schedule exactly:
# n=2k -> (16 planes, 4 bits) / 16 cells;  n=20k -> (32, 8) / 160;
# n=200k -> (44, 11) / 1600.
# ---------------------------------------------------------------------------

_SKETCH_BANDS = 4
_SKETCH_TARGET_VOLUME = 125


def lsh_config(
    n: int,
    bands: int = _SKETCH_BANDS,
    target_bucket: int = _SKETCH_TARGET_VOLUME,
) -> tuple[int, int]:
    """Size-derived sign-LSH config for a corpus of ``n`` vectors:
    ``(n_planes, bits_per_band)`` with ``bands`` bands and the expected
    band-bucket volume held at ``target_bucket`` (``2^bits ∝ n``).
    Floor of 4 bits keeps tiny corpora on the catalog's oracle-pinned
    constants.  This is ``rp_lsh_near_dups``'s default when no explicit
    sketch parameters are passed."""
    import math  # noqa: PLC0415

    bits = max(4, math.ceil(math.log2(max(1.0, n / target_bucket))))
    return bands * bits, bits


def ivf_cell_count(
    n: int, target_cell: int = _SKETCH_TARGET_VOLUME
) -> int:
    """Size-derived IVF cell count: ``cells ∝ n`` with the expected cell
    volume held at ``target_cell`` — the stored-assignment deployment
    shape (the in-cell pair join stays linear in n; the one-off O(n*k)
    assignment is paid at ingest and persisted partitioned by cid).
    Floor of 16 cells keeps tiny corpora on the catalog's oracle-pinned
    constant."""
    import math  # noqa: PLC0415

    return max(16, math.ceil(n / target_cell))


def seed_centroids(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse-quantizer seed: the ``k`` lowest-id vectors
    as (cid, cv) — the same seeding the catalog's k-means trainer and
    the scale probe use.  Coarse quantization only needs an even-ish
    partition of the corpus for candidate pruning (precision is exact —
    recall is the tunable); swap in k-means-trained centroids
    (``ivf_train_kmeans``) when cell balance matters.

    Not a global sort: ``orderBy(id).limit(k)`` compiles to
    ``TakeOrderedAndProject`` — per-partition top-k merged on the
    driver, O(n) scan + O(k log k) merge, verified in the physical
    plan — so seeding stays cheap at corpus scale."""
    return (
        emb.orderBy(F.col(id_col))
        .limit(k)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    )


def random_hyperplanes(n_planes: int, dim: int, seed: int = 42):
    """Deterministic random hyperplanes for sign-LSH, as plain Python
    lists — embedded as literals into BOTH the Spark plan and the DuckDB
    oracle so the bucketing is engine-identical.  (A fixed seed, not
    runtime randomness: reproducibility is part of the operator
    contract.)"""
    import random  # noqa: PLC0415

    rng = random.Random(seed)
    return [
        [rng.uniform(-1.0, 1.0) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def rp_lsh_sketch(
    vec: str, planes: list[list[float]], bits_per_band: int
) -> Column:
    """Sign-LSH band values of the array column named ``vec``: one
    integer per band, bit i = sign of the dot product with plane
    (band*bits+i).  Remainder planes (``len(planes) % bits_per_band``)
    are dropped.  A NULL or dimension-mismatched vector has NULL plane
    dots, which the ``CASE`` turns into bit 0, so such rows get
    all-zero bands — never a NULL array, never a task crash.  A
    non-finite plane value raises ``ValueError`` at build time.

    ONE parsed SQL expression for the whole sketch instead of ~1100
    Column-API py4j round trips (16 planes x 64 literals measured ~1.2s
    of pure driver latency per plan build, r18); ``double_lit`` renders
    each plane value as the same IEEE double bit for bit, so band
    values match the oracle's (pinned by the LSH oracle parity and
    test_sketch_sizing)."""
    # Kept as n_planes separate scalar folds DELIBERATELY (r17 probe):
    # a single-pass matrix fold (one aggregate with an n_planes-wide
    # accumulator over a transposed plane literal) was prototyped and
    # measured SLOWER (0.40s vs 0.25s at sf0.1, 16x64) — the per-step
    # array allocation outweighs the saved passes — and Spark 4.1's
    # ``aggregate`` with an array-typed accumulator additionally resets
    # NULL slots to the init value (measured: [[1.0,2.0],[NULL,3.0]]
    # zip_with-add folds to [0.0,5.0], not [NULL,5.0]), which forces an
    # input-sanitizing guard on that shape.  Scalar-accumulator folds
    # have none of these problems.
    n_bands = len(planes) // bits_per_band
    v = quote_ident(vec)
    band_exprs = []
    for b in range(n_bands):
        terms = []
        for i in range(bits_per_band):
            plane = planes[b * bits_per_band + i]
            arr = ", ".join(double_lit(x) for x in plane)
            d = _dot_sql(v, f"array({arr})")
            terms.append(f"(CASE WHEN {d} >= 0 THEN 1 ELSE 0 END) * {1 << i}")
        band_exprs.append(" + ".join(terms))
    return F.expr(f"array({', '.join(band_exprs)})")


def rp_lsh_near_dups(
    emb: DataFrame,
    threshold: float,
    n_planes: int | None = None,
    bits_per_band: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """Near-duplicate vectors by random-hyperplane LSH + exact cosine
    verify — the LSH-bucketed alternative to IVF pruning.

    Vectors agreeing on ANY band (bits_per_band sign bits) become
    candidates via a band-bucket equi-join (linear in bucket volume, the
    same shape as MinHash banding); exact cosine then filters to
    >= threshold.  Precision is exact; recall is tuned by
    n_planes/bits_per_band.  The all-pairs product is never formed.

    Sketch sizing defaults to the measured scale rule ``lsh_config(n)``
    (``2^bits ∝ n``, 4 bands — SCALE.md round-6 probe: flat at 10x,
    5.0x wall at 100x, where a fixed keyspace is quadratic).  Pass BOTH
    ``n_planes`` and ``bits_per_band`` to pin an explicit sketch, or
    neither to size from the corpus — since r9 the catalog's
    ``embedding_lsh_dup`` takes the defaults path too (at gate scales
    ``lsh_config`` reproduces the oracle's pinned constants exactly, so
    the driver gates the production path).

    Pass ``dim`` (the embedding dimensionality) and ``n`` (the corpus
    row count) — both config, known to any real corpus — so plan
    construction launches no Spark job; omitting them falls back to a
    probe row / a count job, a convenience for interactive use.
    """
    if (n_planes is None) != (bits_per_band is None):
        raise ValueError(
            "pass both n_planes and bits_per_band (explicit sketch) or"
            " neither (size-derived via lsh_config)"
        )
    if n_planes is None:
        if n is None:
            n = emb.count()
        n_planes, bits_per_band = lsh_config(n)
    if dim is None:
        dim = emb.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    planes = random_hyperplanes(n_planes, dim, seed)
    n_bands = n_planes // bits_per_band
    sk = emb.select(
        F.col(id_col),
        F.col(vec_col),
        rp_lsh_sketch(vec_col, planes, bits_per_band).alias("bands"),
    )
    # ids-only banding: the band self-join multiplies rows by bucket
    # volume, so shipping the vectors through it would shuffle
    # O(candidates x dim) floats.  Join narrow (id, band) rows instead,
    # dedupe the id pairs, then fetch each side's vector once via an
    # id-keyed join (AQE broadcasts the vector side at small scale; at
    # corpus scale it is a shuffle join on the 8-byte id — either way the
    # wide arrays never ride the multiplied join).
    banded = sk.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.col("bands")[b].alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_val")
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        # the exact-verify fold is CPU-bound (~5us/pair interpreted),
        # but the candidate stream is BYTE-tiny (16 B/row), so AQE's
        # size-based coalescing collapses the band-join output to one
        # post-shuffle partition and the whole verify runs serially
        # (measured at sf0.1: 515k candidates -> 1 partition, fold
        # verify 3.36s on one core vs 0.51s spread; an Arrow-batched
        # dot kernel only reached 1.69s — OPTIMIZATION_r18.md).
        # Hash-repartitioning the slim id pairs to the session's
        # core count is the cheapest possible exchange (ids only, the
        # wide vectors are fetched after), spreads the fold evenly, and
        # removes the hot-band straggler at any scale; values are
        # untouched so results are bit-identical.
        .repartition(
            emb.sparkSession.sparkContext.defaultParallelism,
            "id_a",
            "id_b",
        )
    )
    # per-vector norms are computed ONCE before the pair join (sqrt is
    # IEEE-exact, so dot/(norm_a*norm_b) is bit-identical to the inline
    # cosine) — each candidate pair then costs one dot product, not three
    va = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm(vec_col).alias("norm_a"),
    )
    vb = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm(vec_col).alias("norm_b"),
    )
    scored = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.try_divide(
                dot("va", "vb"),
                F.col("norm_a") * F.col("norm_b"),
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )
    # a pair agreeing on k bands surfaces k times; dedup AFTER the
    # threshold filter so the heavy shuffle dedups O(results), not
    # O(candidates) — duplicate rows carry identical scores
    return scored.dropDuplicates(["id_a", "id_b"])


def cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine >= threshold — exact, O(n^2) BY CONSTRUCTION.

    TEST-SCALE ORACLE ONLY: this is the ground-truth twin that pruned
    variants (``ivf_cell_pairs``, ``rp_lsh_near_dups``) are validated
    against in tests.  It is deliberately NOT exposed as a catalog query;
    at corpus scale the pair join is quadratic and must never run."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            cosine("va", "vb").alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def ivf_cell_pairs(
    emb: DataFrame,
    centroids: DataFrame | None,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: DataFrame | None = None,
    n: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs with IVF coarse-quantizer pruning +
    exact cosine verify — the scale path for all-pairs similarity.

    Vectors are assigned to their max-cosine centroid; candidate pairs
    come from an EQUI-JOIN on the cell id (never an all-pairs theta
    join), then exact cosine filters to >= threshold.  Precision is
    exact; recall contract: a pair straddling a cell boundary is missed
    — recall is tuned by the number of centroids (fewer cells = higher
    recall, bigger buckets).  At 100 TB the assignment is a precomputed
    stored column and the corpus is partitioned by cid, so the pair join
    is partition-local; a jumbo cell is handled by salting the verify or
    splitting the centroid, not by widening the join.

    ``assign`` is that stored-column path made explicit: pass a
    precomputed ``(id_col, cid)`` assignment (e.g. persisted at ingest)
    and the coarse quantization is skipped entirely — ``centroids`` may
    then be None.  The recurring dedup pass pays only the cell-local
    pair join + exact verify (measured in SCALE.md's round-6 probe:
    100x vectors in 22.8x wall).

    With BOTH ``centroids`` and ``assign`` omitted, the cell count is
    sized from the corpus by the measured scale rule ``ivf_cell_count``
    (``cells ∝ n`` — constant expected cell volume, so the pair join
    stays linear in n) and centroids are the deterministic
    ``seed_centroids`` pick; pass ``n`` (corpus row count — config at
    any real deployment) to skip the sizing count job."""
    if assign is None:
        if centroids is None:
            if n is None:
                n = emb.count()
            centroids = seed_centroids(
                emb, ivf_cell_count(n), id_col, vec_col
            )
        assign = ivf_assign(emb, centroids, id_col, vec_col)
    # the cell join multiplies rows by cell volume — keep it ids-only and
    # fetch vectors + precomputed norms per side afterwards (one dot
    # product per pair instead of three; sqrt is IEEE-exact so the score
    # is bit-identical to the inline cosine)
    a = assign.select(F.col(id_col).alias("id_a"), "cid")
    b = assign.select(F.col(id_col).alias("id_b"), "cid")
    # same serial-verify hazard as rp_lsh_near_dups: the assign frame is
    # tiny post-aggregation, AQE coalesces it to ~1 partition, and the
    # cell join then emits EVERY candidate pair in that one task, so the
    # exact-verify fold (~5us/pair interpreted) runs serially.  Spread
    # the slim (id_a, id_b) pairs across the session's cores before
    # fetching the wide vectors — values untouched, bit-identical.
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .repartition(
            emb.sparkSession.sparkContext.defaultParallelism,
            "id_a",
            "id_b",
        )
    )
    va = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm(vec_col).alias("norm_a"),
    )
    vb = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm(vec_col).alias("norm_b"),
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.try_divide(
                dot("va", "vb"),
                F.col("norm_a") * F.col("norm_b"),
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse quantization: assign every vector to its max-cosine centroid
    (broadcast centroids; deterministic tie-break on the LOWEST cid).

    ``centroids`` must have columns (cid, cv).  Returns (id, cid).
    At 100 TB this is the partitioner: downstream searches touch one cell
    (or a probe list) instead of the whole corpus.

    Numeric cids take the hash-aggregate argmax (partial-aggregatable —
    the scale path); any other orderable cid type (string labels, ...)
    falls back to the window form, which is semantically identical but
    shuffle-sorts the n x k scored rows (ADVICE r6: the negated-cid
    trick in the aggregate is numeric-only, and Spark 4 ANSI mode makes
    that a hard error rather than a silent wrong tie-break).
    """
    from pyspark.sql.types import NumericType  # noqa: PLC0415

    # norms factored out of the k-way multiply (r17): the inline cosine
    # re-folds norm(v) once per (vector x centroid) row — k times per
    # vector — and the interpreted fold is the dominant per-row cost.
    # Computing each side's norm once below the join and dividing by
    # (_vn * _cn) is the identical IEEE expression: bit-identical
    # cscores, measured 0.80s -> 0.48s at sf0.1 (k=16).
    embn = emb.select(
        F.col(id_col), F.col(vec_col), norm(vec_col).alias("_vn")
    )
    centn = centroids.select(
        F.col("cid"), F.col("cv"), norm("cv").alias("_cn")
    )
    scored = embn.crossJoin(F.broadcast(centn)).select(
        F.col(id_col),
        F.col("cid"),
        F.try_divide(
            dot(vec_col, "cv"),
            F.col("_vn") * F.col("_cn"),
        ).alias("cscore"),
    )
    if isinstance(centroids.schema["cid"].dataType, NumericType):
        # argmax as a hash aggregate, not a window: max_by over
        # (cscore, -cid) picks the max-cosine centroid with ties broken
        # on the LOWEST cid — bit-identical to ordering by
        # (cscore DESC, cid) and taking row 1, but partial-aggregatable:
        # map-side combine collapses the n x k scored rows to n rows
        # BEFORE the shuffle, where the window form shuffle-sorts all
        # n x k rows.  At n=200k, k=1600 (the scale-probe's
        # cells-proportional-to-n point) this is the difference between
        # shuffling 320M rows and 200k.  NULL cscores (zero-norm
        # vectors) lose to any non-null score in struct ordering, and an
        # all-NULL group still tie-breaks to the lowest cid.
        return scored.groupBy(id_col).agg(
            F.max_by(
                F.col("cid"), F.struct(F.col("cscore"), -F.col("cid"))
            ).alias("cid")
        )
    from pyspark.sql import Window  # noqa: PLC0415

    # type-agnostic fallback: desc is nulls-last, so NULL cscores lose
    # and an all-NULL group falls to the lowest cid — same contract as
    # the aggregate path above
    w = Window.partitionBy(id_col).orderBy(
        F.col("cscore").desc(), F.col("cid")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "cid")
    )


def ivf_topk(
    emb: DataFrame,
    centroids: DataFrame | None,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: DataFrame | None = None,
) -> DataFrame:
    """IVF search: quantize corpus + query, then brute-force only the
    query's cell.  Approximate (single-probe) by design; see
    ``ivf_topk_multiprobe`` for the recall/latency dial.

    ``assign`` is the stored-column deployment path (same contract as
    ``ivf_cell_pairs``): pass the precomputed ``(id_col, cid)``
    assignment and no quantization job runs per query — ``centroids``
    may then be None."""
    if assign is None:
        if centroids is None:
            raise ValueError("ivf_topk needs centroids or assign")
        # assign feeds two consumers (cell join + query-cell lookup);
        # persist or the corpus x centroids quantization runs twice.  At
        # 100 TB the assignment is a precomputed stored column, not a
        # per-query job — the registry gives interactive sessions an
        # explicit release hook (cache.release()) so repeated ivf_topk
        # calls don't accumulate.
        assign = cache.register(
            ivf_assign(emb, centroids, id_col, vec_col)
        )
    emb_cells = emb.join(assign, id_col)
    query_cell = assign.filter(F.col(id_col) == query_id).select("cid")
    query_vec = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qv")
    )
    cell = emb_cells.join(F.broadcast(query_cell), "cid")
    return brute_force_topk(
        cell.select(id_col, vec_col), query_vec, k, id_col, vec_col
    )


def ivf_topk_multiprobe(
    emb: DataFrame,
    centroids: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: DataFrame | None = None,
) -> DataFrame:
    """Multi-probe IVF: search the ``nprobe`` cells whose centroids are
    closest to the QUERY VECTOR (not just the query's own cell) — the
    standard recall dial.  nprobe == n_centroids degrades gracefully to
    exact brute force; cost scales ~linearly with nprobe because only
    probed cells are scanned (broadcast semi-join on cid prunes the
    rest; with the corpus stored partitioned-by-cell that pruning is
    partition pruning at the scan).

    ``assign`` is the stored-column deployment path: pass the
    precomputed ``(id_col, cid)`` assignment and only the tiny
    centroid-probe scoring runs per query (``centroids`` is still
    required — it ranks the probe cells)."""
    from pyspark.sql import Window  # noqa: PLC0415

    if assign is None:
        # single consumer chains below, but the probe scoring and the
        # final brute force both hang off query_vec/assign — persist the
        # assignment (precomputed stored column at scale, see ivf_topk;
        # released via cache.release())
        assign = cache.register(
            ivf_assign(emb, centroids, id_col, vec_col)
        )
    query_vec = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qv")
    )
    probe_scored = centroids.crossJoin(F.broadcast(query_vec)).select(
        "cid", cosine("cv", "qv").alias("cscore")
    )
    w = Window.orderBy(F.col("cscore").desc(), F.col("cid"))
    probes = (
        probe_scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("cid")
    )
    cell = emb.join(assign, id_col).join(F.broadcast(probes), "cid")
    return brute_force_topk(
        cell.select(id_col, vec_col), query_vec, k, id_col, vec_col
    )
