"""X4 — text analysis for LLM-data pipelines, all Catalyst-native.

Tokenization, corpus statistics, language ID, quality scoring, document
fingerprinting.  Every function here stays JVM-side (split / higher-order
functions / regexp), so it runs inside whole-stage codegen with zero
Python-worker cost — at 100 TB these are scan-dominated, shuffle-free
per-row transforms (the groupBy in token counting is the one shuffle, with
map-side partial aggregation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny high-frequency English function-word list for quality scoring.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the corpus is single-space separated)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def regex_tokens(text: Column | str, pattern: str = "[a-z]+") -> Column:
    """BPE-ish regex tokenization: all lowercase-alpha runs."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(pattern), F.lit(0))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("bigint")


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text))).cast("bigint")


def avg_token_length(text: Column | str) -> Column:
    """Mean token length = non-space chars / token count (exact ints ->
    one double division; deterministic across engines)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.length(F.replace(c, F.lit(" "), F.lit(""))).cast("double") / token_count(c)


def stopword_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_stop = F.size(
        F.filter(tokens(c), lambda t: t.isin(*STOPWORDS))
    ).cast("double")
    return n_stop / token_count(c)


def quality_score(text: Column | str) -> Column:
    """Composite quality heuristic in [0, 1]: half stopword density
    (natural-language-ness), half length factor saturating at 100 tokens."""
    c = F.col(text) if isinstance(text, str) else text
    length_factor = F.least(token_count(c).cast("double") / 100.0, F.lit(1.0))
    return stopword_ratio(c) * 0.5 + length_factor * 0.5


def language_id(text: Column | str) -> Column:
    """Character-class language heuristic.

    Ordered rules: CJK codepoints -> zh; German-only letters -> de;
    Spanish marks -> es; French accents -> fr; else en.  (On the synthetic
    ASCII corpus everything lands in 'en' — the rule chain is the
    operator; accuracy on real corpora comes from richer rule tables.)
    """
    c = F.col(text) if isinstance(text, str) else text

    def has(pat: str) -> Column:
        return c.rlike(pat)

    return (
        F.when(has("[\\u4e00-\\u9fff]"), F.lit("zh"))
        .when(has("[äöüß]"), F.lit("de"))
        .when(has("[ñ¿¡]"), F.lit("es"))
        .when(has("[àâçèêëîïôùûœ]"), F.lit("fr"))
        .otherwise(F.lit("en"))
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the lower-cased,
    whitespace-normalized text (identical hex in any engine).

    Empty tokens are filtered AFTER the split rather than relying on
    trim(): trim strips only ASCII spaces, so leading tabs/newlines would
    otherwise survive as an empty first token and change the hash."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.filter(F.split(F.lower(c), "\\s+"), lambda t: t != "")
    return F.md5(F.concat_ws(" ", toks))


def top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_df: int = 1,
) -> DataFrame:
    """tf-idf-style top-k salient terms per document.

    Ranking is (tf desc, df asc, term asc) — the same ordering tf/df or
    tf*log(N/df) induces for fixed tf, but computed on exact integers, so
    results are bit-deterministic across engines (float idf ties back to
    integer comparisons).  Two hash aggregates (term frequency per doc,
    document frequency per term) + one windowed top-k; df is a
    per-term table, broadcast when small, shuffled otherwise.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "rank")
    )


def md5_bucket(id_col: Column | str, mod: int = 100) -> Column:
    """Deterministic bucket in [0, mod) as a pure function of the id:
    15 hex chars of md5 (60 bits, fits signed 64) mod ``mod`` — stable
    across runs, partitionings, and engines (DuckDB twin:
    ``CAST('0x' || substring(md5(id), 1, 15) AS BIGINT) % mod``).
    The single bucket expression behind hash_split AND
    stratified_sample_pct, so the two can never drift apart."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10)
        .cast("long")
        % mod
    )


def hash_split(
    id_col: Column | str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> Column:
    """Deterministic train/val/test assignment from md5 of the row id.

    The split must be a pure function of the id — stable across runs,
    partitionings, and engines — so shuffling-based sampling is out.
    """
    bucket = md5_bucket(id_col)
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Overlapping token-window chunking (the LLM-context prep step):
    one output row per (doc, chunk), chunk k covering tokens
    [k*stride, k*stride + window).  All array higher-order functions —
    explode fans out JVM-side, no shuffle, no Python.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    # last chunk index: smallest k with k*stride + window >= n_tokens, so
    # the tail is covered exactly once and no chunk is fully contained in
    # its predecessor (n <= window -> single chunk 0)
    last_k = F.when(
        n > window,
        F.floor((n - window + stride - 1) / stride).cast("int"),
    ).otherwise(F.lit(0))
    starts = F.sequence(F.lit(0), last_k)
    ex = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.explode(starts).alias("_k"),
    )
    chunk = F.slice(
        F.col("_toks"), F.col("_k") * stride + F.lit(1), F.lit(window)
    )
    return ex.select(
        F.col(id_col),
        F.col("_k").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def mask_digits(col: Column | str, repl: str = "<NUM>") -> Column:
    """PII-style redaction: every digit run collapses to ``repl``.

    Pure regexp_replace — JVM-side, codegen, scan-dominated at 100 TB.
    The pattern sticks to POSIX-portable syntax (``[0-9]+``) so the same
    literal runs identically under Java regex and RE2-based engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "[0-9]+", repl)


def digit_run_count(col: Column | str) -> Column:
    """How many digit runs ``mask_digits`` would redact (audit column)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit("[0-9]+"), F.lit(0))).cast(
        "bigint"
    )


#: corpus_prefilter thresholds — one place so the oracle SQL and any
#: caller share them.
PREFILTER_MIN_TOKENS = 20
PREFILTER_MAX_TOKENS = 400
PREFILTER_MIN_QUALITY = 0.35


def corpus_prefilter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    min_tokens: int = PREFILTER_MIN_TOKENS,
    max_tokens: int = PREFILTER_MAX_TOKENS,
    min_quality: float = PREFILTER_MIN_QUALITY,
) -> DataFrame:
    """The composite LLM-corpus quality gate: one pass deciding, per doc,
    keep or the FIRST matching reject reason —

    1. ``duplicate``      not the minimum id for its fingerprint
    2. ``lang_mismatch``  predicted language differs from the label
    3. ``too_short`` / ``too_long``  token count outside bounds
    4. ``low_quality``    composite score below threshold
    5. ``keep``

    All rules are Catalyst-native; the only shuffle is the fingerprint
    window (hash-partition by fingerprint — the same key exact dedup
    shuffles on, so at 100 TB this pass piggybacks on the dedup
    partitioning).  Rule order is part of the contract: each doc reports
    the FIRST gate it fails, so counts by reason are reproducible."""
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy("fingerprint")
    feats = df.select(
        F.col(id_col),
        F.col(lang_col),
        token_count(text_col).alias("_nt"),
        quality_score(text_col).alias("_q"),
        language_id(text_col).alias("_lp"),
        fingerprint(text_col).alias("fingerprint"),
    ).withColumn("_canon", F.min(id_col).over(w))
    reason = (
        F.when(F.col(id_col) != F.col("_canon"), F.lit("duplicate"))
        .when(F.col("_lp") != F.col(lang_col), F.lit("lang_mismatch"))
        .when(F.col("_nt") < min_tokens, F.lit("too_short"))
        .when(F.col("_nt") > max_tokens, F.lit("too_long"))
        .when(F.col("_q") < min_quality, F.lit("low_quality"))
        .otherwise(F.lit("keep"))
    )
    return feats.select(
        F.col(id_col),
        reason.alias("reason"),
        (reason == "keep").alias("keep"),
    )


def stratified_sample_pct(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    rates: dict[str, int],
    default_pct: int = 100,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the corpus-rebalancing
    step (e.g. keep 10% of the dominant language, all of the rare ones).

    Membership is a pure function of the row id (md5 bucket mod 100 <
    the stratum's rate), so the sample is stable across runs, engines,
    and partitionings, and the filter is a map-side scan predicate — no
    shuffle, no sort, trivially pushdown-friendly.  ``rates`` maps
    stratum value -> percentage kept (0-100); absent strata keep
    ``default_pct``."""
    rate_map = F.create_map(
        *[F.lit(x) for kv in rates.items() for x in kv]
    )
    # try_element_at, not element_at/getItem: a stratum absent from the
    # map must yield NULL -> default_pct (ANSI mode throws on missing
    # map keys, and Column-key getItem is deprecated)
    rate = F.coalesce(
        F.try_element_at(rate_map, F.col(strata_col)), F.lit(default_pct)
    )
    return df.filter(md5_bucket(id_col) < rate)

