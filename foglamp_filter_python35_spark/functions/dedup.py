"""X1/X2 — exact and near-duplicate detection at 100 TB scale.

Algorithms (all shuffle-bounded, no all-pairs comparison):

* exact:    hash-groupBy on content fingerprint — one shuffle.
* MinHash+LSH: shingle -> k independent min-hashes -> band signatures ->
  equality self-join on (band, signature) -> exact-Jaccard verify on the
  candidate set only.  Cost is O(docs x shingles) + a band-bucket join;
  the full cross-product is never materialized.
* SimHash:  per-shingle hash -> bitwise majority -> band the signature ->
  hamming verify on candidates.
* n-gram Jaccard: prefix-filtered pair generation (only pairs sharing at
  least one shingle) + exact verify.

Hash function: ONE md5 per shingle, split into two 60-bit halves, then
k hash functions derived arithmetically (Kirsch-Mitzenmacher:
``s_i = (h1 + i*h2) mod p``).  This is ~13x less hashing than k
independent md5 calls and replaces 32-char string mins with bigint
mins, while staying bit-for-bit reproducible in the DuckDB oracle
(``conv(substring(md5(x),1,15),16,10)`` == DuckDB
``CAST('0x' || substring(md5(x),1,15) AS BIGINT)``).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from foglamp_filter_python35_spark.functions.sqltext import quote_ident


def _env_int(name: str, default: int) -> int:
    """Deployment tunable (same pattern as the snapshot-table merge
    knobs): a non-negative integer from the DRIVER's environment.  A
    malformed value raises at import — a silently ignored typo'd
    override is worse than a loud one."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        v = int(raw)
    except ValueError as exc:
        raise ValueError(
            f"{name} must be an integer edge count, got {raw!r}"
        ) from exc
    if v < 0:
        raise ValueError(f"{name} must be >= 0, got {v}")
    return v


# TUNABLE (env FSP_CC_DRIVER_EDGE_BUDGET): a connected-components input
# at or below this many DISTINCT edges is labeled by an exact
# union-find on the driver instead of the distributed star-contraction
# loop.  The star loop pays one Spark job per round (~4-6 shuffles
# each) regardless of data size — measured 4.4s of pure driver-loop
# latency for a 256-edge near-dup graph at sf0.1, where the union-find
# path labels the same graph in one bounded collect (~0.3s).  Near-dup
# edge sets are O(duplicate docs), so production graphs land on either
# side: the gate keeps tiny-to-moderate graphs off the per-round job
# tax and sends genuinely large ones to the O(log^2 n)-round loop.
# The edge count is read from the SAME fingerprint action that the
# loop needs anyway, so the gate costs no extra job.  100k edges is
# ~3 MB of id pairs — far inside driver memory; raise it on a
# fat-driver deployment, set 0 to force the distributed loop
# everywhere (tests exercise both sides).  The module global is the
# import-time default; ``connected_components_star`` re-reads the env
# var per call (ADVICE r17), so setting the knob in a live session
# takes effect without a re-import.
_CC_DRIVER_EDGE_BUDGET = _env_int("FSP_CC_DRIVER_EDGE_BUDGET", 100_000)


def word_ngrams(tokens_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles from the token ARRAY COLUMN named
    ``tokens_col`` (a materialized column, not an inline split() — see
    ``shingles``).

    Documents shorter than n tokens yield an EMPTY array — guarded with
    CASE, because sequence(1, 0) is the descending array [1, 0], not
    empty, and would crash element_at.

    Built as ONE parsed SQL string (one py4j round trip) where the
    Column-API lambda plumbing paid ~60 round trips of pure driver
    latency per call (r18 build-time profile); values are pinned by the
    dedup oracles."""
    toks = quote_ident(tokens_col)
    # the lambda variable must differ from the column's name (compared
    # case-insensitively, as Spark resolves names), or it would capture
    # the column inside the lambda
    i = "i"
    while i == tokens_col.lower():
        i += "_"
    parts = ", ".join(
        f"element_at({toks}, {i})" if j == 0
        else f"element_at({toks}, {i} + {j})"
        for j in range(n)
    )
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} THEN"
        f" array_distinct(transform(sequence(1, size({toks}) -"
        f" {n - 1}), {i} -> concat_ws(' ', {parts})))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    repartition: bool = True,
) -> DataFrame:
    """One row per (doc, distinct shingle).

    Two deliberate plan choices:
    * tokens are projected to a column BEFORE the n-gram lambda — Spark
      does not common-subexpression-eliminate inside higher-order
      functions, so an inlined split() re-executes per n-gram (measured
      ~5x slower);
    * optional repartition to the session's default parallelism — a small
    corpus read as one parquet split would otherwise run the md5-heavy
    downstream single-threaded.  At 100 TB the source has thousands of
    splits and the repartition collapses into normal scan parallelism.
    HASH-partitioned by the (unique) doc id, not round-robin (r17):
    keyless ``repartition(n)`` first pays a local sort of its input
    (``spark.sql.execution.sortBeforeRepartition``, needed so retried
    tasks reproduce the row-to-partition assignment) — a full sort of
    the tokenized stream at corpus scale; hashing the deterministic id
    needs no such sort and spreads evenly since ids are unique.
    """
    toks_df = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_ts"))
    toks_df = toks_df.filter(F.size("_ts") >= n)
    if repartition:
        target = df.sparkSession.sparkContext.defaultParallelism
        toks_df = toks_df.repartition(target, F.col(id_col))
    return toks_df.select(
        F.col(id_col), F.explode(word_ngrams("_ts", n)).alias("shingle")
    )


MINHASH_PRIME = 1_000_000_007  # < 2^30, so h1 + 63*h2 never overflows


def doc_shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    repartition: bool = True,
) -> DataFrame:
    """(id, sset): per-doc DISTINCT n-gram shingle ARRAY in one map-only
    pass — the shared upstream of every shingle-based dedup signal
    (MinHash signatures fold over it, SimHash/containment explode it).
    Persist THIS frame (via functions.cache) to feed several signals
    from one tokenize+shingle scan; at 100 TB it is the stored shingle
    table every dedup pass reads."""
    base = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_ts"))
    base = base.filter(F.size("_ts") >= n)
    if repartition:
        # hash by the unique id, not round-robin — skips the
        # sort-before-repartition a keyless repartition pays (see
        # ``shingles``)
        target = df.sparkSession.sparkContext.defaultParallelism
        base = base.repartition(target, F.col(id_col))
    return base.select(
        F.col(id_col), word_ngrams("_ts", n).alias("sset")
    )


def minhash_sets_signatures(
    sets: DataFrame, id_col: str = "doc_id", num_hashes: int = 12
) -> DataFrame:
    """(id, sset, s0..s{k-1}) from a precomputed (id, sset) frame — the
    signature fold of ``minhash_doc_sets`` split out so callers holding
    a shared shingle-set frame (``doc_shingle_sets``) don't re-scan.

    Kept as k separate transform+array_min passes DELIBERATELY (r17
    probe): a single-pass fold with a k-wide accumulator
    (acc[i] = least(acc[i], (h1 + i*h2) % p)) was prototyped and
    measured SLOWER (0.42s vs 0.25s at sf0.1, k=12) — the fold's
    per-step array allocation outweighs the saved passes in Spark's
    interpreted higher-order-function evaluator — and Spark 4.1's
    ``aggregate`` with an array-typed accumulator additionally resets
    NULL slots to the init value, a correctness hazard the per-pass
    form never touches."""
    # Expressions are built as PARSED SQL, not Column-API lambdas (r18):
    # every higher-order F.transform costs ~60 py4j socket round trips
    # (lambda variable registration + per-node calls), and the k=12
    # signature folds made this builder ~0.5s of pure DRIVER time per
    # plan build (cProfile: 2.9k round trips/build, 80% in socket
    # recv).  One F.expr per column is ONE round trip; the parsed tree
    # is the same Catalyst expression (same literal types: the prime
    # fits in INT either way, conv->CAST AS BIGINT == .cast("long")),
    # so signatures stay bit-identical (pinned by the existing
    # exploded-path parity test and the md5-based oracles).
    p = MINHASH_PRIME
    hashed = sets.select(
        F.col(id_col),
        "sset",
        F.expr("transform(sset, x -> md5(x))").alias("_md5s"),
    ).select(
        F.col(id_col),
        "sset",
        F.expr(
            "transform(_md5s, m -> named_struct("
            f"'h1', CAST(conv(substring(m, 1, 15), 16, 10) AS BIGINT) % {p},"
            f" 'h2', CAST(conv(substring(m, 17, 15), 16, 10) AS BIGINT) % {p}"
            "))"
        ).alias("_hs"),
    )
    sig_cols = [
        F.expr(
            f"array_min(transform(_hs, h -> (h.h1 + {i} * h.h2) % {p}))"
        ).alias(f"s{i}")
        for i in range(num_hashes)
    ]
    return hashed.select(F.col(id_col), "sset", *sig_cols)


def minhash_doc_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 12,
    repartition: bool = True,
) -> DataFrame:
    """(id, sset, s0..s{k-1}) in ONE map-only pass — zero shuffles.

    The per-doc shingle SET is just the distinct n-gram array, so both
    the signatures (array_min over Kirsch-Mitzenmacher combinations of
    one md5 per shingle) and the exact-verify sets come from array
    higher-order functions, never an explode + groupBy.  Signature
    values are bit-identical to the exploded ``minhash_signatures``
    path (asserted in tests).  Each transform stage is projected to a
    real column first — Spark does not CSE inside lambda bodies, so an
    inlined md5 would re-hash per derived value."""
    sets = doc_shingle_sets(df, id_col, text_col, ngram, repartition)
    return minhash_sets_signatures(sets, id_col, num_hashes)


def minhash_signatures(sh: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """k min-hashes per doc in ONE hash aggregate (partial+final).

    One md5 per shingle; the k hash functions are Kirsch-Mitzenmacher
    combinations of its two 60-bit halves: ``s_i = (h1 + i*h2) mod p``.
    All integer arithmetic — the min-agg compares bigints, not 32-char
    strings, and the md5 cost is independent of k.
    """
    p = F.lit(MINHASH_PRIME)
    m = F.md5(F.col("shingle"))
    h1 = (F.conv(F.substring(m, 1, 15), 16, 10).cast("long") % p).alias("h1")
    h2 = (F.conv(F.substring(m, 17, 15), 16, 10).cast("long") % p).alias("h2")
    hashed = sh.select(F.col(id_col), h1, h2)
    aggs = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % p).alias(f"s{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sigs: DataFrame, id_col: str, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """Explode each signature into (band_id, band_sig) rows."""
    if num_hashes % rows_per_band:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by "
            f"rows_per_band={rows_per_band}: trailing signatures would be "
            "silently unbanded, changing the LSH threshold curve"
        )
    n_bands = num_hashes // rows_per_band
    # ONE parsed SQL expression instead of ~40 Column-API py4j round
    # trips (r18 build-time profile — same Catalyst tree, bit-identical
    # bands; see word_ngrams)
    structs = ", ".join(
        "named_struct('band_id', {b}, 'band_sig', md5(concat_ws('|', {cols})))".format(
            b=b,
            cols=", ".join(
                f"s{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return sigs.select(
        F.col(id_col), F.explode(F.expr(f"array({structs})")).alias("band")
    ).select(id_col, "band.band_id", "band.band_sig")


def candidate_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Distinct doc pairs sharing at least one LSH bucket.  The join key
    (band_id, band_sig) keeps buckets tiny, so the self-join is linear in
    bucket volume, never quadratic in corpus size."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def pair_jaccard_from_sets(
    pairs: DataFrame,
    sets: DataFrame,
    id_col: str = "doc_id",
    broadcast_pairs: bool = True,
) -> DataFrame:
    """Exact Jaccard for a candidate-pair set against a per-doc
    shingle-set table ``sets`` = (id_col, sset).

    Two join shapes, picked by CANDIDATE CARDINALITY:

    * ``broadcast_pairs=True`` (LSH-sized candidate sets, thousands of
      pairs): the pair frame is usually EXPENSIVE to compute (banding +
      self-join + distinct), so it must execute exactly once — ``pairs``
      appears once in the plan, broadcast against a streamed pass over
      ``sets`` for ``set_a``, and that candidate-bounded result is
      broadcast against a second pass for ``set_b``.  ``sets`` is never
      shuffled.
    * ``broadcast_pairs=False`` (DF-pruned prefix filtering, O(corpus)
      pairs — 1.1M at sf0.1): plain shuffle equi-joins on each id.  Still
      3x faster than verifying over EXPLODED shingle rows, because each
      pair carries two set arrays instead of fanning out into |set|
      join rows.

    Either way the Jaccard expression is identical (array_intersect over
    distinct shingle arrays == matching-row counts), so both shapes are
    interchangeable with each other and the DuckDB oracle."""
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("sset").alias("set_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("sset").alias("set_b"))
    n_common = F.size(F.array_intersect("set_a", "set_b"))
    jac = (
        n_common.cast("double")
        / (F.size("set_a") + F.size("set_b") - n_common)
    ).alias("jaccard")
    if broadcast_pairs:
        with_a = sa.join(F.broadcast(pairs), "id_a")
        return sb.join(F.broadcast(with_a), "id_b").select(
            "id_a", "id_b", jac
        )
    return (
        pairs.join(sa, "id_a").join(sb, "id_b").select("id_a", "id_b", jac)
    )


def minhash_lsh_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 12,
    rows_per_band: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Full MinHash+LSH near-duplicate pipeline with exact verify.

    Construction is PURE PLAN-BUILDING — no Spark job runs until the
    caller acts on the result (asserted by
    test_builders_launch_no_jobs_at_plan_build): signatures are
    MAP-SIDE per-doc array folds (``minhash_doc_sets``), so the only
    shuffles are the band bucket self-join (its exchange is identical
    on both sides -> ReusedExchange computes it once) and the
    candidate distinct.  The md5-heavy candidate pipeline appears
    exactly ONCE in the plan — the verify join
    (``pair_jaccard_from_sets``) broadcasts the pair set against two
    streamed passes over the doc-set projection.

    The doc-set frame is PERSISTED (lazily, via functions.cache, so
    plan construction still launches no job; released by the next
    catalog query / cache.release): it feeds three subtrees (the
    signature fold plus both verify passes), and caching it beats
    re-tokenizing per pass — measured 0.86s -> 0.69s at sf0.1 (r17).
    This mirrors the 100 TB deployment, where the doc-set table
    (id, sset, s0..sk) is written to storage once and every pipeline
    run reads it."""
    from foglamp_filter_python35_spark.functions import cache  # noqa: PLC0415

    ds = cache.register(
        minhash_doc_sets(df, id_col, text_col, ngram, num_hashes)
    )
    sigs = ds.select(
        F.col(id_col), *[F.col(f"s{i}") for i in range(num_hashes)]
    )
    bands = lsh_bands(sigs, id_col, num_hashes, rows_per_band)
    cands = candidate_pairs(bands, id_col)
    sets = ds.select(F.col(id_col), "sset")
    return pair_jaccard_from_sets(cands, sets, id_col).filter(
        F.col("jaccard") >= threshold
    )


# Candidate generation ignores shingles present in more than this many
# documents.  A corpus-ubiquitous shingle ("in the the", boilerplate
# headers) creates a bucket of every doc containing it — the pair join
# over that bucket is quadratic in corpus size.  Rare shingles carry the
# near-dup signal: at threshold 0.8 two near-dup docs share most of
# their shingle sets, so they share rare shingles unless EVERY shared
# shingle is corpus-common (boilerplate-only docs — not near-dups in the
# training-data sense).  The cutoff bounds any bucket to max_df rows ->
# max_df^2 candidate pairs, independent of corpus size.
NGRAM_MAX_DF = 50


def _df_pruned_and_stats(
    sh: DataFrame, id_col: str, max_df: int, persist_tags: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Shared DF-pruning core (r17 restructure): per-shingle document
    frequency via ONE window over ONE hash-partitioning by shingle,
    instead of a groupBy + join back — the join re-shuffled the full
    (id, shingle) stream by shingle a second time; the window tags each
    row in place, and the downstream pair self-join reuses the same
    partitioning.  The per-doc stats (total shingles, corpus-common
    shingles) fuse into ONE id-keyed aggregate over the tagged rows
    where the old shape paid two aggregates + a join.  Returns
    (pruned rows (id, shingle) with df <= max_df, stats
    (id, n_total, n_common)) — both row-identical to the old shape
    (parity-tested; measured 2.10s -> 1.52s for full containment at
    sf0.1).

    ``persist_tags=True`` (r18) additionally persists the tagged stream
    (lazily via functions.cache — no job at plan build; released by the
    next catalog query): it feeds FOUR consumers in the full containment
    plan (both sides of the pair self-join plus the stats agg), and
    exchange reuse alone only deduplicates the shuffle write — the
    WindowExec above it re-executed per consumer.  OPT-IN because the
    win is context-dependent (both measured interleaved min-of-N at
    sf0.1, exact parity): inside ``dedup_ensemble`` — where the shingle
    stream explodes an already-persisted sets frame and three signal
    branches compete for the same stage slots — the persist took the
    containment branch 3.12s -> 1.97s (9911545:tools/r18_containment_ab.py);
    standalone ``doc_containment`` measured it flat-to-worse (1.97s
    plain vs 2.11s persisted), so the default stays off.  A
    broadcast-survivors verify (the minhash-verify shape) was also
    prototyped and measured FLAT-to-worse (3.26s alone, 2.71s combined
    with this persist) — AQE already broadcasts the O(survivors) side
    of the verify joins — so the shuffle verify stays."""
    from pyspark.sql import Window  # noqa: PLC0415

    from foglamp_filter_python35_spark.functions import cache  # noqa: PLC0415

    w = Window.partitionBy("shingle")
    shdf = sh.withColumn("_df", F.count(F.lit(1)).over(w))
    if persist_tags:
        shdf = cache.register(shdf)
    pruned = shdf.filter(F.col("_df") <= max_df).select(
        F.col(id_col), "shingle"
    )
    stats = shdf.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("_df") <= max_df, 0).otherwise(1)
        ).alias("n_common"),
    )
    return pruned, stats


def ngram_candidate_pairs(
    sh: DataFrame, id_col: str = "doc_id", max_df: int = NGRAM_MAX_DF
) -> DataFrame:
    """DF-pruned prefix filtering: candidate pairs from an equality join
    on shingles whose document frequency is <= max_df.  The DF window
    shares its one shuffle (shingle) with the pair self-join, so pruning
    adds no exchange, and every join bucket is bounded."""
    pruned, _ = _df_pruned_and_stats(sh, id_col, max_df)
    sa = pruned.select(F.col(id_col).alias("id_a"), "shingle")
    sb = pruned.select(F.col(id_col).alias("id_b"), "shingle")
    return (
        sa.join(sb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.8,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dups with DF-pruned prefix filtering:
    candidate pairs come from an equality join on RARE shingles (document
    frequency <= max_df), then exact verify over the FULL shingle sets.
    The scan-heavy exact twin of the MinHash pipeline.

    Recall contract: a pair whose shared shingles are ALL corpus-common
    (df > max_df) is not reported — those shingles are boilerplate, not
    duplication signal, and including them makes the pair join quadratic
    in corpus size.

    Verify never ships set arrays for the bulk of candidates.  The rare-
    shingle join is grouped into exact per-pair SHARED-RARE counts
    (narrow rows: two ids + a count — O(corpus) candidate pairs are 1.1M
    at sf0.1 but only ~20 bytes each), and each doc's count of COMMON
    (df > max_df) shingles gives a provable upper bound on the full-set
    Jaccard:

        inter_full <= inter_rare + min(n_common_a, n_common_b)
        j <= ub_inter / (|A| + |B| - ub_inter)

    Only pairs whose bound clears the threshold — essentially the true
    near-dups — are verified exactly against the full set arrays, so the
    wide rows number O(duplicates), not O(candidates).  Measured 29s ->
    ~4s end-to-end at sf0.1 vs shipping arrays for every candidate."""
    sh = shingles(df, id_col, text_col, ngram)
    pruned, stats = _df_pruned_and_stats(sh, id_col, max_df)

    sa = pruned.select(F.col(id_col).alias("id_a"), "shingle")
    sb = pruned.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_rare"))
    )
    st_a = stats.select(
        F.col(id_col).alias("id_a"),
        F.col("n_total").alias("na"),
        F.col("n_common").alias("nca"),
    )
    st_b = stats.select(
        F.col(id_col).alias("id_b"),
        F.col("n_total").alias("nb"),
        F.col("n_common").alias("ncb"),
    )
    ub_inter = F.col("inter_rare") + F.least(F.col("nca"), F.col("ncb"))
    ub_j = ub_inter.cast("double") / (
        F.col("na") + F.col("nb") - ub_inter
    )
    survivors = (
        inter.join(st_a, "id_a")
        .join(st_b, "id_b")
        .filter(ub_j >= threshold)
        .select("id_a", "id_b")
    )

    base = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_ts")
    ).filter(F.size("_ts") >= ngram)
    sets = base.select(
        F.col(id_col), word_ngrams("_ts", ngram).alias("sset")
    )
    return pair_jaccard_from_sets(
        survivors, sets, id_col, broadcast_pairs=False
    ).filter(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.9,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """Asymmetric near-dup: shingle-set CONTAINMENT of the smaller doc in
    the pair, ``|A ∩ B| / min(|A|, |B|)`` — catches a snippet embedded in
    a larger document, which symmetric Jaccard misses (a 40-shingle doc
    fully contained in a 400-shingle doc has J ≈ 0.1 but containment 1.0).
    The standard second dedup pass of an LLM corpus pipeline.

    Same DF-pruned + count-bounded architecture as
    ``ngram_jaccard_pairs`` (same recall contract on corpus-common
    shingles): per-pair shared-rare counts stay narrow, the upper bound

        containment <= (inter_rare + min(n_common_a, n_common_b))
                       / min(|A|, |B|)

    prefilters candidates, and only survivors touch the wide set arrays.
    """
    sh = shingles(df, id_col, text_col, ngram)
    sets = doc_shingle_sets(df, id_col, text_col, ngram, repartition=False)
    return containment_from_shingles(sh, sets, id_col, threshold, max_df)


def containment_from_shingles(
    sh: DataFrame,
    sets: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.9,
    max_df: int = NGRAM_MAX_DF,
    persist_tags: bool = False,
) -> DataFrame:
    """``ngram_containment_pairs`` from precomputed (id, shingle) and
    (id, sset) frames, for callers sharing one shingle scan.

    ``persist_tags`` persists the DF-tagged shingle stream — pass True
    from multi-signal callers (``dedup_ensemble``), keep the default
    for standalone use; see ``_df_pruned_and_stats`` for the measured
    trade-off."""
    pruned, stats = _df_pruned_and_stats(sh, id_col, max_df, persist_tags)

    sa = pruned.select(F.col(id_col).alias("id_a"), "shingle")
    sb = pruned.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_rare"))
    )
    st_a = stats.select(
        F.col(id_col).alias("id_a"),
        F.col("n_total").alias("na"),
        F.col("n_common").alias("nca"),
    )
    st_b = stats.select(
        F.col(id_col).alias("id_b"),
        F.col("n_total").alias("nb"),
        F.col("n_common").alias("ncb"),
    )
    ub = (
        F.col("inter_rare") + F.least(F.col("nca"), F.col("ncb"))
    ).cast("double") / F.least(F.col("na"), F.col("nb"))
    survivors = (
        inter.join(st_a, "id_a")
        .join(st_b, "id_b")
        .filter(ub >= threshold)
        .select("id_a", "id_b")
    )

    s_a = sets.select(F.col(id_col).alias("id_a"), F.col("sset").alias("set_a"))
    s_b = sets.select(F.col(id_col).alias("id_b"), F.col("sset").alias("set_b"))
    n_shared = F.size(F.array_intersect("set_a", "set_b"))
    containment = n_shared.cast("double") / F.least(
        F.size("set_a"), F.size("set_b")
    )
    return (
        survivors.join(s_a, "id_a")
        .join(s_b, "id_b")
        .select("id_a", "id_b", containment.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash — 32-bit signature via per-bit majority vote over shingle hashes.
# Everything is integer arithmetic on md5-derived values, JVM-side.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32
_SIMHASH_BANDS = 4  # 4 bands x 8 bits


def simhash_signatures(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """32-bit simhash per doc: one hash-agg with 32 bit-majority sums."""
    # parsed SQL expressions, not ~350 Column-API py4j round trips (r18
    # build-time profile — same Catalyst trees, bit-identical; see
    # word_ngrams)
    h = F.expr(
        "CAST(conv(substring(md5(shingle), 1, 8), 16, 10) AS BIGINT)"
    )
    hashed = sh.withColumn("h", h)
    bit_sums = [
        F.expr(f"sum((shiftright(h, {j}) & 1) * 2 - 1)").alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy(id_col).agg(*bit_sums)
    sig = " + ".join(
        f"shiftleft(CAST(CASE WHEN b{j} > 0 THEN 1 ELSE 0 END"
        f" AS BIGINT), {j})"
        for j in range(SIMHASH_BITS)
    )
    return agg.select(F.col(id_col), F.expr(sig).alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dups by simhash: band the 32-bit signature into 4 bytes; any
    pair within hamming distance <= 3 of each other must agree on at
    least one band (pigeonhole), so banding has perfect recall here."""
    sh = shingles(df, id_col, text_col, ngram)
    return simhash_from_shingles(sh, id_col, max_hamming)


def simhash_from_shingles(
    sh: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """``simhash_near_dups`` from a precomputed (id, shingle) frame, for
    callers sharing one shingle scan across several dedup signals."""
    sigs = simhash_signatures(sh, id_col)
    bits_per_band = SIMHASH_BITS // _SIMHASH_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("simhash"), b * bits_per_band)
                .bitwiseAND(F.lit((1 << bits_per_band) - 1))
                .alias("band_val"),
            )
            for b in range(_SIMHASH_BANDS)
        ]
    )
    bands = sigs.select(
        F.col(id_col), F.col("simhash"), F.explode(band_structs).alias("band")
    ).select(id_col, "simhash", "band.band_id", "band.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
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
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(
        F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    ).cast("bigint")
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 8,
) -> DataFrame:
    """Duplicate-cluster labeling: connected components over a near-dup
    pair graph by min-label propagation (HashMin): ``iterations`` rounds
    of "take the minimum label over my neighbors and myself".

    Converges exactly when ``iterations`` covers every node's distance
    to its component's minimum-label node; near-dup components at high
    thresholds are tiny and dense (pairs must share most of their
    content), so the default 8 is generous — and the catalog query is
    additionally asserted against a transitive-closure oracle, which
    fails loudly if the bound is ever insufficient.  Pass a larger
    ``iterations`` for general graphs (cost grows linearly).

    The build is fully lazy (zero Spark jobs): the previous label frame
    is referenced exactly ONCE per round — self-loop edges replace the
    usual "left join my own label back" second reference — so the plan
    grows linearly in ``iterations``, never exponentially.  Each round
    shuffles label rows (node, comp) only, never document contents.
    The edge frame appears in every round's plan but its expensive
    pair-generation lineage executes once: it ends in a shuffle (the
    candidate ``distinct``), and Spark reuses identical exchange/AQE
    shuffle stages within one execution — measured faster here than an
    explicit persist, and nothing leaks into the session cache.  At
    100 TB: checkpoint the label frame every few rounds (plan-size
    hygiene) and switch to alternating large-star/small-star, which
    converges in O(log n) rounds independent of diameter.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
    )
    nodes = edges.select(F.col("u").alias("node")).distinct()
    # self-loops make "min over neighbors" include the node's own label,
    # collapsing the round to ONE join + ONE aggregate with a single
    # reference to the previous labels
    withself = edges.union(
        nodes.select(F.col("node").alias("u"), F.col("node").alias("v"))
    )
    comp = nodes.select("node", F.col("node").alias("comp"))
    for _ in range(iterations):
        comp = (
            withself.join(comp, withself.v == comp.node)
            .groupBy("u")
            .agg(F.min("comp").alias("comp"))
            .select(F.col("u").alias("node"), "comp")
        )
    return comp


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contractions (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log^2 n) rounds *independent of
    graph diameter*, where fixed-round HashMin
    (:func:`connected_components`) needs as many rounds as each node's
    distance to its component minimum — a billion-node chain would need
    a billion HashMin rounds but ~30 star rounds.

    Trade-off vs the HashMin path: this is a driver-side convergence
    loop (one tiny stats action per round, lineage cut by
    ``localCheckpoint`` so the plan never grows), while HashMin builds
    one fully lazy plan with zero jobs.  Use HashMin for small bounded
    components (near-dup graphs at high thresholds), the star variant
    when component diameters are unknown or large.  On a real cluster,
    swap ``localCheckpoint`` (executor-local storage) for a reliable
    ``checkpoint`` directory so a lost executor cannot lose a round.

    Each round is two degree-keyed shuffles of (node, node) edge rows —
    never document payloads.  Edges hold the invariant ``a > b``:
    large-star links every larger-than-center neighbor to the
    neighborhood minimum, small-star links the center and its smaller
    neighbors to that minimum, so both emit (bigger, smaller) pairs.
    Convergence is detected by (count, bit_xor of xxhash64) edge-set
    fingerprints going stable, then CONFIRMED by an exact set check
    (``exceptAll(...).isEmpty()`` — with equal counts, one-sided
    emptiness proves set equality): a 64-bit fingerprint collision
    between successive non-equal edge sets therefore cannot silently
    terminate with wrong labels (r3 ADVICE).  The exact check costs one
    job and runs only when fingerprints match — once, at the fixpoint.
    At the fixpoint the edge set is exactly the star
    {(v, root) : v non-root}, read off as the label map.
    """
    e = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("a"),
            F.least(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # eager=False: the first fingerprint action materializes the
        # checkpoint in the SAME job instead of paying a separate one —
        # one job per round, not two.  Fault profile is identical to
        # eager (both are executor-local); a real cluster swaps this for
        # reliable checkpoint() either way (see docstring).
        .localCheckpoint(eager=False)
    )
    # lazy on purpose: only read once at the end, over the checkpointed
    # initial edge set — a checkpoint here would cost one more job
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )

    def _fingerprint(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("chk"),
        ).first()
        return (row["n"], row["chk"])

    prev = _fingerprint(e)

    # Small-graph fast path (r17): the fingerprint above already
    # materialized the checkpointed edge set AND counted it, so the
    # gate is free.  At or below the budget, collect the (a, b) pairs
    # — bounded driver work, the snapshot-table keyset-probe pattern —
    # and label components with an exact union-find whose union always
    # attaches the larger root under the smaller, so every tree root
    # IS its component minimum: the returned (node, comp) map is
    # bit-identical to the star loop's fixpoint (property-tested
    # against it).  A NULL id (impossible from equi-join-derived pair
    # frames, but this function is public) falls through to the
    # distributed loop rather than guessing an order for None.
    # Gated to integral/string id types (ADVICE r17): the union-by-min
    # relies on Python ``<`` agreeing with Spark's min ordering, which
    # holds for ints and strings but not e.g. float NaN ids (Python
    # comparisons with NaN are always False) — any other type takes
    # the distributed loop, whose ordering is Spark's own.
    from pyspark.sql.types import IntegralType, StringType  # noqa: PLC0415

    budget = _env_int("FSP_CC_DRIVER_EDGE_BUDGET", _CC_DRIVER_EDGE_BUDGET)
    id_type = e.schema["a"].dataType
    if prev[0] <= budget and isinstance(
        id_type, (IntegralType, StringType)
    ):
        rows = e.collect()
        if not any(r[0] is None or r[1] is None for r in rows):
            parent: dict = {}

            def _find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for a_val, b_val in rows:
                if a_val not in parent:
                    parent[a_val] = a_val
                if b_val not in parent:
                    parent[b_val] = b_val
                ra, rb = _find(a_val), _find(b_val)
                if ra != rb:
                    # smaller root stays root -> root == component min
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            labels = [(n_, _find(n_)) for n_ in parent]
            node_type = e.schema["a"].dataType
            out_schema = (
                f"node {node_type.simpleString()}, "
                f"comp {node_type.simpleString()}"
            )
            return e.sparkSession.createDataFrame(labels, out_schema)

    e_prev = e
    for _ in range(max_rounds):
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # large-star: m(u) = min(N(u) ∪ {u}); link every v ∈ N(u), v > u
        # to m(u)
        lmin = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("a", "mb").alias("m"))
        )
        # no distinct here: duplicate (v, m) emissions from different
        # centers cannot change any downstream MIN, and the round's
        # final distinct dedups before the fingerprint — saves one
        # shuffle per round
        e1 = (
            sym.filter(F.col("b") > F.col("a"))
            .join(lmin, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # small-star: m(u) = min(N<(u)); link u and every other smaller
        # neighbor to m(u)
        sym1 = e1.union(e1.select(F.col("b").alias("a"), F.col("a").alias("b")))
        lt = sym1.filter(F.col("b") < F.col("a"))
        smin = lt.groupBy("a").agg(F.min("b").alias("m"))
        e2 = (
            lt.join(smin, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(smin.select(F.col("a"), F.col("m").alias("b")))
            .distinct()
            .localCheckpoint(eager=False)  # materialized by _fingerprint
        )
        e = e2
        cur = _fingerprint(e)
        # equal fingerprints imply equal counts; the one-sided exceptAll
        # emptiness then proves exact set equality (collision guard)
        if cur == prev and e.exceptAll(e_prev).isEmpty():
            break
        prev = cur
        e_prev = e
    else:
        raise RuntimeError(
            f"connected_components_star: no convergence in {max_rounds} "
            "rounds (fingerprints still changing)"
        )
    star = e.select(F.col("a").alias("node"), F.col("b").alias("comp"))
    return nodes.join(star, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )
