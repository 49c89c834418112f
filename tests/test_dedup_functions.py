"""Unit + cross-validation tests for the dedup library (X1/X2)."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from foglamp_filter_python35_spark.catalog.dedup import (
    q_minhash_lsh_dedup,
    q_ngram_jaccard_pairs,
    q_simhash_dedup,
)
from foglamp_filter_python35_spark.functions import dedup as D


@contextmanager
def forced_cc_budget(value: int = 0):
    """Temporarily override the CC driver-gate edge budget (0 = force
    the distributed star loop) — the one sanctioned way for tests to
    toggle the gate (ADVICE r17: four hand-rolled try/finally blocks
    were easy to get wrong)."""
    old = D._CC_DRIVER_EDGE_BUDGET
    D._CC_DRIVER_EDGE_BUDGET = value
    try:
        yield
    finally:
        D._CC_DRIVER_EDGE_BUDGET = old


def test_minhash_equals_exact_on_this_corpus(spark, sf_correct):
    """At J>=0.8 with 6 bands x 2 rows, LSH recall on the planted near-dups
    is ~1; verify the probabilistic pipeline returns exactly the exact
    prefix-filtered answer on this corpus."""
    mh = {(r.id_a, r.id_b) for r in q_minhash_lsh_dedup(spark, sf_correct).collect()}
    exact = {
        (r.id_a, r.id_b) for r in q_ngram_jaccard_pairs(spark, sf_correct).collect()
    }
    assert mh == exact and len(exact) > 0


def test_simhash_subset_of_near_dups(spark, sf_correct):
    sim = {(r.id_a, r.id_b) for r in q_simhash_dedup(spark, sf_correct).collect()}
    mh = {(r.id_a, r.id_b) for r in q_minhash_lsh_dedup(spark, sf_correct).collect()}
    assert len(sim) > 0
    # hamming<=3 on 32 bits is stricter than J>=0.8; allow no strays
    assert sim <= mh


def test_shingles_and_signature_shape(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y"), (4, "q w e")],
        ["doc_id", "text"],
    )
    sh = D.shingles(df)
    got = {
        (r.doc_id, r.shingle) for r in sh.collect()
    }
    assert (1, "a b c") in got and (1, "b c d") in got
    assert not any(d == 3 for d, _ in got)  # too short for 3-grams
    sigs = D.minhash_signatures(sh, "doc_id", 4)
    rows = {r.doc_id: (r.s0, r.s1, r.s2, r.s3) for r in sigs.collect()}
    assert rows[1] == rows[2]  # identical docs -> identical signatures
    assert rows[1] != rows[4]


@pytest.mark.slow
def test_ivf_multiprobe_recall_improves_and_converges(spark, sf_smoke):
    """nprobe is the recall dial: probing more cells can only add
    candidates, and probing every cell IS brute force."""
    from pyspark.sql import functions as F

    from foglamp_filter_python35_spark.catalog import load
    from foglamp_filter_python35_spark.functions.similarity import (
        brute_force_topk,
        ivf_topk_multiprobe,
    )

    emb = load(spark, sf_smoke, "embeddings")
    n_cents = 8
    cents = emb.filter(F.col("vec_id") < n_cents).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    exact = [r.vec_id for r in brute_force_topk(emb, qv, 10).collect()]

    def recall(nprobe):
        got = {
            r.vec_id
            for r in ivf_topk_multiprobe(
                emb, cents, query_id=0, k=10, nprobe=nprobe
            ).collect()
        }
        return len(got & set(exact)) / len(exact)

    r1, r3, rall = recall(1), recall(3), recall(n_cents)
    assert r1 <= r3 <= rall
    assert rall == 1.0  # probing every cell == exact


def test_word_ngrams_short_doc_is_empty_not_crash(spark):
    from foglamp_filter_python35_spark.functions.dedup import word_ngrams

    df = spark.createDataFrame([("a b",), ("x y z",)], "text string")
    out = (
        df.select(F.split("text", " ").alias("toks"))
        .select(F.size(word_ngrams("toks", 3)).alias("n"))
        .collect()
    )
    assert sorted(r.n for r in out) == [0, 1]


def test_word_ngrams_token_column_named_like_the_lambda_variable(spark):
    """A token column named ``i`` (the n-gram lambda's variable name)
    gives the same n-grams as the same data under another name, instead
    of being captured by the lambda variable."""
    from foglamp_filter_python35_spark.functions.dedup import word_ngrams

    data = [(["a", "b", "c"],), (["x", "y"],), (["z"],)]
    as_i = spark.createDataFrame(data, "i array<string>")
    as_toks = spark.createDataFrame(data, "toks array<string>")
    got = [r.g for r in as_i.select(word_ngrams("i", 2).alias("g")).collect()]
    want = [
        r.g for r in as_toks.select(word_ngrams("toks", 2).alias("g")).collect()
    ]
    assert got == want == [["a b", "b c"], ["x y"], []]


def test_backtick_column_names_build_the_same_values(spark):
    """Names are rendered into parsed SQL through one quoting helper: a
    column whose name holds a backtick must give the same dot / norm /
    word_ngrams values as a plain-named copy, not an injection or a
    parse error."""
    from foglamp_filter_python35_spark.functions.dedup import word_ngrams
    from foglamp_filter_python35_spark.functions.similarity import dot, norm

    odd = "v`ec"
    df = spark.createDataFrame(
        [
            ([1.0, 2.0, 3.0], ["a", "b", "c", "d"]),
            ([0.5, -1.0, 4.0], ["x", "y"]),
        ],
        "plain array<double>, toks array<string>",
    ).select(
        "plain",
        F.col("plain").alias(odd),
        "toks",
        F.col("toks").alias("t`oks"),
    )
    rows = df.select(
        dot("plain", "plain").alias("d"),
        dot(odd, odd).alias("d_odd"),
        norm("plain").alias("n"),
        norm(odd).alias("n_odd"),
        word_ngrams("toks", 2).alias("g"),
        word_ngrams("t`oks", 2).alias("g_odd"),
    ).collect()
    for r in rows:
        assert r.d == r.d_odd and r.n == r.n_odd and r.g == r.g_odd
    assert [r.d for r in rows] == [14.0, 17.25]
    assert rows[0].g == ["a b", "b c", "c d"]


def test_dot_null_and_ragged_vectors_give_null(spark):
    from foglamp_filter_python35_spark.functions.similarity import dot

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], [3.0, 4.0]),  # 11.0
            (2, None, [1.0, 1.0]),  # NULL side
            (3, [1.0, 2.0, 3.0], [1.0, 1.0]),  # ragged dims
        ],
        "i long, a array<float>, b array<float>",
    )
    got = {r.i: r.d for r in df.select("i", dot("a", "b").alias("d")).collect()}
    assert got == {1: 11.0, 2: None, 3: None}


def test_dot_corrupt_element_contract(spark):
    """A NULL element inside a correctly-dimensioned vector gives a NULL
    dot (dropped by a ``>= threshold`` filter); a NaN element gives NaN,
    which Spark orders above all doubles, so it PASSES the filter — the
    documented contract in ``dot``."""
    import math

    from foglamp_filter_python35_spark.functions.similarity import dot

    df = spark.createDataFrame(
        [
            (1, [1.0, None, 3.0], [1.0, 2.0, 3.0]),  # NULL element
            (2, [1.0, float("nan"), 3.0], [1.0, 2.0, 3.0]),  # NaN element
            (3, [1.0, 2.0, 3.0], [1.0, 2.0, 3.0]),  # clean: 14.0
        ],
        "i long, a array<double>, b array<double>",
    )
    got = {
        r.i: r
        for r in df.select(
            "i",
            dot("a", "b").alias("d"),
            (dot("a", "b") >= F.lit(0.0)).alias("passes"),
        ).collect()
    }
    assert got[1].d is None and got[1].passes is None
    assert math.isnan(got[2].d) and got[2].passes is True
    assert got[3].d == 14.0 and got[3].passes is True


@pytest.mark.slow
def test_doc_set_signatures_match_exploded_path(spark):
    """The map-side array-fold signatures (minhash_doc_sets) must be
    bit-identical to the exploded groupBy path (minhash_signatures) —
    they share the md5 + Kirsch-Mitzenmacher arithmetic, differing only
    in physical shape (zero shuffles vs explode + hash-agg)."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w"), (4, "q w")],
        "doc_id long, text string",
    )
    k = 6
    exploded = {
        r.doc_id: tuple(r[f"s{i}"] for i in range(k))
        for r in D.minhash_signatures(D.shingles(docs), "doc_id", k).collect()
    }
    mapside = {
        r.doc_id: tuple(r[f"s{i}"] for i in range(k))
        for r in D.minhash_doc_sets(docs, num_hashes=k).collect()
    }
    assert exploded == mapside and 4 not in mapside  # too-short doc dropped
    # and the doc-set column equals the distinct shingle set
    sset = {
        r.doc_id: sorted(r.sset)
        for r in D.minhash_doc_sets(docs, num_hashes=1).collect()
    }
    sh = D.shingles(docs).collect()
    by_doc: dict[int, list[str]] = {}
    for r in sh:
        by_doc.setdefault(r.doc_id, []).append(r.shingle)
    assert sset == {d: sorted(v) for d, v in by_doc.items()}


@pytest.mark.slow
def test_ngram_candidates_bounded_under_ubiquitous_shingle(spark):
    """One corpus-common shingle must not pair every doc with every other
    doc: with the DF cutoff, candidates come only from rare shingles, so
    a hot shingle contributes zero pairs instead of O(n^2)."""
    n = 40
    # every doc contains the hot shingle "spam spam spam"; docs 0/1 are
    # near-dups sharing rare content, everything else is unique
    rows = [(0, "spam spam spam alpha beta gamma delta one"),
            (1, "spam spam spam alpha beta gamma delta two")]
    rows += [
        (i, f"spam spam spam uniq{i}a uniq{i}b uniq{i}c uniq{i}d")
        for i in range(2, n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = D.shingles(docs)
    cands = D.ngram_candidate_pairs(sh, "doc_id", max_df=10).collect()
    got = {(r.id_a, r.id_b) for r in cands}
    # without the cutoff the hot shingle alone yields n*(n-1)/2 = 780 pairs
    assert got == {(0, 1)}
    # the full pipeline still verifies the surviving pair exactly
    dups = D.ngram_jaccard_pairs(docs, threshold=0.5, max_df=10).collect()
    assert {(r.id_a, r.id_b) for r in dups} == {(0, 1)}


def test_lsh_bands_rejects_ragged_banding(spark):
    from foglamp_filter_python35_spark.functions.dedup import (
        lsh_bands,
        minhash_signatures,
        shingles,
    )

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    sigs = minhash_signatures(shingles(docs), "doc_id", 12)
    with pytest.raises(ValueError, match="not divisible"):
        lsh_bands(sigs, "doc_id", 12, 5)


def test_cosine_zero_vector_is_null_not_crash(spark):
    from foglamp_filter_python35_spark.functions.similarity import (
        brute_force_topk,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    rows = {r.vec_id: r.score for r in brute_force_topk(emb, qv, 3).collect()}
    assert rows[1] is None  # degenerate vector excluded, job survives
    assert rows[0] == 1.0


@pytest.mark.slow
def test_rp_lsh_pairs_subset_of_brute_force_with_equal_scores(spark, sf_correct):
    from foglamp_filter_python35_spark.catalog import load
    from foglamp_filter_python35_spark.functions.similarity import (
        cosine_pairs,
        rp_lsh_near_dups,
    )

    emb = load(spark, sf_correct, "embeddings")
    thr = 0.4
    lsh = {
        (r.id_a, r.id_b): r.score
        for r in rp_lsh_near_dups(emb, threshold=thr).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.score
        for r in cosine_pairs(emb, thr).collect()
    }
    assert len(lsh) > 0  # the operator finds real pairs on this corpus
    for pair, s in lsh.items():
        assert pair in exact and s == exact[pair]


@pytest.mark.slow
def test_ivf_cell_pairs_subset_of_brute_force_with_equal_scores(
    spark, sf_correct
):
    """The IVF-pruned near-dup query (the catalog's embedding_cosine_dup
    plan) returns a subset of the all-pairs ground truth, with identical
    scores — pruning may cost recall, never precision."""
    from foglamp_filter_python35_spark.catalog import load
    from foglamp_filter_python35_spark.functions.similarity import (
        cosine_pairs,
        ivf_cell_pairs,
    )

    emb = load(spark, sf_correct, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    thr = 0.4
    pruned = {
        (r.id_a, r.id_b): r.score
        for r in ivf_cell_pairs(emb, centroids, thr).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.score for r in cosine_pairs(emb, thr).collect()
    }
    assert len(pruned) > 0
    for pair, s in pruned.items():
        assert pair in exact and s == exact[pair]


@pytest.mark.slow
def test_builders_launch_no_jobs_at_plan_build(spark):
    """Query builders are pure plan construction: no Spark job may run
    until the caller acts.  Guards against eager count()/first() creeping
    back into minhash / RP-LSH / IVF construction."""
    from foglamp_filter_python35_spark.functions.similarity import (
        ivf_cell_pairs,
        rp_lsh_near_dups,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(6)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    cents = emb.limit(2).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    import datetime as _dt

    from foglamp_filter_python35_spark.functions import signal as _S

    readings = spark.createDataFrame(
        [(1, "a", _dt.datetime(2024, 1, 1), 1.0)],
        "event_id long, event_type string, ts timestamp, value double",
    )
    sc = spark.sparkContext
    sc.setJobGroup("plan-build-probe", "builders must not launch jobs")
    try:
        D.minhash_lsh_near_dups(docs)
        D.ngram_jaccard_pairs(docs)
        D.simhash_near_dups(docs)
        # n, like dim, is config at any real deployment — passing it
        # keeps the size-derived sketch defaults job-free at plan build
        rp_lsh_near_dups(emb, threshold=0.5, dim=3, n=6)
        ivf_cell_pairs(emb, cents, 0.5)
        ivf_cell_pairs(emb, None, 0.5, n=6)  # auto-sized quantizer
        _S.deadband_chunked(
            readings, "value", "event_type", ["ts", "event_id"], 10.0
        )
        D.connected_components(
            spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        )
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("plan-build-probe")
        sc.setJobGroup("", "")
    assert jobs == [], f"plan construction launched Spark jobs: {jobs}"


@pytest.mark.slow
def test_connected_components_vs_union_find(spark):
    # random sparse graph (long paths possible -> explicit iteration
    # budget) + a deliberate 8-node chain; labels must equal true
    # components from a union-find reference
    import random

    rng = random.Random(11)
    edges = {(rng.randrange(60), rng.randrange(60)) for _ in range(40)}
    edges = {(a, b) for a, b in edges if a != b}
    edges |= {(100 + i, 101 + i) for i in range(7)}  # chain 100..107

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in sorted(edges)], "id_a long, id_b long"
    )
    got = {
        r.node: r.comp
        for r in D.connected_components(pairs, iterations=30).collect()
    }
    assert got == want
    # the star-contraction path must produce the identical label map —
    # BOTH sides of the r17 small-graph gate (driver union-find at the
    # default budget, the distributed loop with the budget forced to 0)
    star_driver = {
        r.node: r.comp
        for r in D.connected_components_star(pairs).collect()
    }
    assert star_driver == want
    with forced_cc_budget(0):
        star_loop = {
            r.node: r.comp
            for r in D.connected_components_star(pairs).collect()
        }
    assert star_loop == want


@pytest.mark.slow
def test_star_cc_converges_on_deep_chain_where_hashmin_cannot(spark):
    # a 200-hop chain: diameter >> any sane fixed HashMin round count.
    # Star contraction halves structure per round (O(log^2 n) total) and
    # must label every node 0; default-round HashMin provably cannot.
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    # force the DISTRIBUTED loop: the point of this test is the star
    # contraction's convergence, which the r17 small-graph driver gate
    # would otherwise bypass at this edge count
    with forced_cc_budget(0):
        star = {
            r.node: r.comp
            for r in D.connected_components_star(pairs).collect()
        }
    assert star == {i: 0 for i in range(n + 1)}

    hashmin = {
        r.node: r.comp
        for r in D.connected_components(pairs, iterations=8).collect()
    }
    # the documented HashMin failure mode this variant exists to fix:
    # nodes further than 8 hops from the minimum keep a wrong label
    assert hashmin != star
    assert hashmin[n] > 0


def test_star_cc_empty_and_single_pair(spark):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components_star(empty).collect() == []
    one = spark.createDataFrame([(7, 3)], "id_a long, id_b long")
    got = {r.node: r.comp for r in D.connected_components_star(one).collect()}
    assert got == {3: 3, 7: 3}
    # both cases again with the driver gate closed (distributed loop)
    with forced_cc_budget(0):
        assert D.connected_components_star(empty).collect() == []
        got = {
            r.node: r.comp
            for r in D.connected_components_star(one).collect()
        }
    assert got == {3: 3, 7: 3}


def test_star_cc_driver_gate_parity_on_random_graphs(spark):
    """r17 small-graph gate: the driver union-find path and the
    distributed star loop must produce the identical label map on a
    batch of random graphs (different densities, disconnected parts,
    duplicate/reversed edges)."""
    import random

    for seed, n_nodes, n_edges in ((3, 20, 10), (5, 40, 55), (9, 15, 40)):
        rng = random.Random(seed)
        raw = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        raw = [(a, b) for a, b in raw if a != b]
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a, b in raw] or [(0, 1)],
            "id_a long, id_b long",
        )
        fast = {
            r.node: r.comp
            for r in D.connected_components_star(pairs).collect()
        }
        with forced_cc_budget(0):
            loop = {
                r.node: r.comp
                for r in D.connected_components_star(pairs).collect()
            }
        assert fast == loop, f"seed {seed}: gate sides disagree"


def test_cc_driver_edge_budget_env_knob():
    """FSP_CC_DRIVER_EDGE_BUDGET follows the merge-knob contract: valid
    override respected, malformed/negative values raise loudly."""
    import pytest as _pytest

    assert D._env_int("FSP_CC_TEST_ABSENT", 7) == 7
    os_environ = D.os.environ
    os_environ["FSP_CC_TEST_KNOB"] = "42"
    try:
        assert D._env_int("FSP_CC_TEST_KNOB", 7) == 42
        os_environ["FSP_CC_TEST_KNOB"] = "nope"
        with _pytest.raises(ValueError):
            D._env_int("FSP_CC_TEST_KNOB", 7)
        os_environ["FSP_CC_TEST_KNOB"] = "-1"
        with _pytest.raises(ValueError):
            D._env_int("FSP_CC_TEST_KNOB", 7)
    finally:
        del os_environ["FSP_CC_TEST_KNOB"]


def _took_driver_gate(pairs) -> bool:
    """The driver union-find path returns a createDataFrame label map —
    its plan is a local/RDD scan with no joins; the distributed loop's
    plan ends in the nodes-left-join-star shape."""
    plan = D.connected_components_star(pairs)._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return "Join" not in plan


def test_star_cc_gate_restricted_to_int_and_str_ids(spark):
    """ADVICE r17: the union-find fast path trusts Python ``<`` to match
    Spark's min ordering — true for ints and strings, false for float
    NaN ids.  Non-int/str id types must take the distributed loop."""
    int_pairs = spark.createDataFrame([(7, 3)], "id_a long, id_b long")
    str_pairs = spark.createDataFrame(
        [("b", "a")], "id_a string, id_b string"
    )
    dbl_pairs = spark.createDataFrame(
        [(7.0, 3.0)], "id_a double, id_b double"
    )
    assert _took_driver_gate(int_pairs)
    assert _took_driver_gate(str_pairs)
    assert not _took_driver_gate(dbl_pairs)
    # the loop still labels float ids correctly
    got = {
        r.node: r.comp
        for r in D.connected_components_star(dbl_pairs).collect()
    }
    assert got == {3.0: 3.0, 7.0: 3.0}


def test_cc_driver_edge_budget_read_at_call_time(spark):
    """ADVICE r17: setting FSP_CC_DRIVER_EDGE_BUDGET in a live session
    must take effect without re-importing the package (env wins over
    the import-time module default)."""
    pairs = spark.createDataFrame([(7, 3)], "id_a long, id_b long")
    assert _took_driver_gate(pairs)
    D.os.environ["FSP_CC_DRIVER_EDGE_BUDGET"] = "0"
    try:
        assert not _took_driver_gate(pairs)
    finally:
        del D.os.environ["FSP_CC_DRIVER_EDGE_BUDGET"]
    assert _took_driver_gate(pairs)


def test_ivf_assign_argmax_ties_pick_lowest_cid(spark):
    """Round-6 rewrite: the assignment argmax became a partial-
    aggregatable ``max_by(cid, struct(cscore, -cid))`` hash aggregate
    (map-side combine collapses the n x k scored rows to n before the
    shuffle) instead of a window row_number over all n x k rows.  The
    semantics must be unchanged: max cosine wins, exact ties break to
    the LOWEST centroid id — pinned here with two duplicate centroids
    whose cosines tie bit-identically."""
    from foglamp_filter_python35_spark.functions.similarity import (
        ivf_assign,
    )

    emb = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    # cids 5 and 2 are the SAME vector -> every cosine ties exactly;
    # cid 9 is orthogonal to vec 10
    cents = spark.createDataFrame(
        [(5, [1.0, 0.0]), (2, [1.0, 0.0]), (9, [0.0, 1.0])],
        "cid long, cv array<float>",
    )
    got = {r.vec_id: r.cid for r in ivf_assign(emb, cents).collect()}
    assert got[10] == 2  # tie between 5 and 2 -> lowest cid
    assert got[11] == 9  # clear max-cosine winner
    assert got[12] == 2  # 45 degrees to both axes: three-way tie -> 2
    # every vector is assigned exactly once
    assert sorted(got) == [10, 11, 12]


def test_ivf_assign_string_cids_use_window_fallback(spark):
    """ADVICE r6: the negated-cid tie-break in the hash-aggregate argmax
    is numeric-only — under Spark 4 ANSI mode a string cid would be a
    hard error.  Non-numeric cids route to the window form with the same
    contract: max cosine wins, ties break to the LOWEST cid (string
    ordering)."""
    from foglamp_filter_python35_spark.functions.similarity import (
        ivf_assign,
    )

    emb = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [("e", [1.0, 0.0]), ("b", [1.0, 0.0]), ("z", [0.0, 1.0])],
        "cid string, cv array<float>",
    )
    got = {r.vec_id: r.cid for r in ivf_assign(emb, cents).collect()}
    assert got[10] == "b"  # tie between "e" and "b" -> lowest string cid
    assert got[11] == "z"  # clear max-cosine winner
    assert got[12] == "b"  # three-way tie -> "b"
    assert sorted(got) == [10, 11, 12]
