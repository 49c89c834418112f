"""Measured scale probe: do the heavy operators scale linearly?

The driver testdata tops out at sf0.1 (5k documents, 2k embeddings,
100k events, 600k lineitem) — small enough that the >2 s bench tail is
fixed per-job overhead, not data work (SCALE.md "Round-5 tail audit").
This tool produces the evidence for the claim that matters at 100 TB:
replicate the sf0.1 tables 10x and 100x with STRUCTURE-PRESERVING
perturbations and measure how the heavy catalog queries' wall-clock
actually grows on the same 32-core box.

Structure-preserving means each replica keeps the workload shape of the
original while replicas stay mutually independent, so total work scales
exactly with the multiplier and a super-linear (quadratic) plan defect
cannot hide:

- documents: ids shift by ``rep * 10**7``; every WORD is prefixed with a
  per-replica tag (``r3_the``).  Within a replica all pairwise shingle
  Jaccards are unchanged (every doc gets the same tag), across replicas
  every shingle differs, so Jaccard is 0 and the planted near-dup pair
  count scales exactly x mult.  ``n_chars`` is recomputed.
- embeddings: ids shift; each replica's vectors are multiplied
  elementwise by a per-replica random ±1 mask.  Sign flips preserve
  intra-replica cosine EXACTLY (dot((s*a),(s*b)) = dot(a,b), norms
  unchanged — float32 sign flips are IEEE-lossless) while cross-replica
  dots decorrelate like random projections, so near-dup pairs and LSH
  bucket volumes scale x mult, not x mult^2.
- events: event_id/user_id shift (per-user sessions replicate x mult);
  timestamps untouched so window/session shapes are identical.
- lineitem: l_orderkey shifts; all measures untouched.

Usage (run alone — co-tenant Spark sessions contaminate timings):
    python tools/scale_probe.py --build          # ~1 min, writes /tmp/scale_probe
    python tools/scale_probe.py --run            # prints one JSON line + md table
    python tools/scale_probe.py --run --mults 1,10
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

BASE_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PROBE_ROOT = "/tmp/scale_probe"
KEY_SHIFT = 10**7  # > any sf0.1 id; rep<=99 keeps ids well inside int64
EMB_DIM = 64

# query -> (table it reads, multiples it runs at).  events/lineitem stop
# at x10 to bound build size and runtime; the shingle families go to
# x100 where a quadratic blowup would be unmissable (500k docs).
#
# The fixed-parameter embedding near-dup queries stop at x10 BY DESIGN:
# their sketch keyspace is a constant (4-bit LSH bands = 16 values;
# 16 IVF cells), so candidate pairs grow O(n^2 / keyspace) — correct
# and driver-oracle-checkable at sf0.01, quadratic at x100.  The
# *_tuned probes below are the scale path: the same operators with the
# keyspace grown alongside n (the documented config rule), which is
# what a 100 TB deployment would run.
PROBES: dict[str, tuple[str, tuple[int, ...]]] = {
    "minhash_lsh_dedup": ("documents", (1, 10, 100)),
    "dedup_clusters": ("documents", (1, 10, 100)),
    "bm25_retrieval": ("documents", (1, 10, 100)),
    "embedding_lsh_dup": ("embeddings", (1, 10)),
    "semantic_dedup": ("embeddings", (1, 10)),
    "sessionization": ("events", (1, 10)),
    "pricing_summary": ("lineitem", (1, 10)),
}

# sign-LSH: 4 bands, bits grown so expected bucket volume stays ~flat
# (2^bits tracks n); IVF: centroids grown ~sqrt(n) (the SemDeDup /
# FAISS-IVF balance point: assignment O(n*k) vs in-cell pairs O(n^2/k)
# meet at k ~ sqrt(n)).
# Since round 7 the tuned schedules are DERIVED from the production
# sizing API (similarity.lsh_config / ivf_cell_count over the known
# replica counts) rather than hand-pinned — the probe now measures
# exactly what a defaults-only caller gets.  The sqrt(n) IVF row stays
# hand-pinned: it exists as the measured-inferior comparison point.
_EMB_BASE_N = 2_000  # sf0.1 embeddings rows


def _tuned_lsh_bits(mult: int) -> int:
    from foglamp_filter_python35_spark.functions import similarity as S

    return S.lsh_config(_EMB_BASE_N * mult)[1]


def _linear_ivf_cells(mult: int) -> int:
    from foglamp_filter_python35_spark.functions import similarity as S

    return S.ivf_cell_count(_EMB_BASE_N * mult)


_TUNED_IVF_CELLS = {1: 16, 10: 50, 100: 160}


def _tuned_lsh(spark, d: str, mult: int):
    from pyspark.sql import functions as F

    from foglamp_filter_python35_spark.catalog import load
    from foglamp_filter_python35_spark.functions import similarity as S

    bits = _tuned_lsh_bits(mult)
    pairs = S.rp_lsh_near_dups(
        load(spark, d, "embeddings"),
        threshold=0.4,
        n_planes=4 * bits,
        bits_per_band=bits,
        dim=EMB_DIM,
    )
    return pairs.agg(F.count(F.lit(1)).alias("n_pairs"))


def _tuned_semantic(spark, d: str, mult: int, cells=None):
    from pyspark.sql import functions as F

    from foglamp_filter_python35_spark.catalog import load
    from foglamp_filter_python35_spark.functions import similarity as S
    from foglamp_filter_python35_spark.functions.dedup import (
        connected_components_star,
    )

    emb = load(spark, d, "embeddings")
    n_cells = cells[mult] if cells else _TUNED_IVF_CELLS[mult]
    # centroids come from replica 0 only (ids below KEY_SHIFT are
    # unshifted) so the cell count is n_cells TOTAL, not n_cells/replica
    centroids = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    pairs = S.ivf_cell_pairs(emb, centroids, 0.4)
    comp = connected_components_star(pairs)
    return comp.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.countDistinct("comp").alias("n_clusters"),
    )


def _linear_semantic(spark, d: str, mult: int):
    return _tuned_semantic(
        spark, d, mult, cells={mult: _linear_ivf_cells(mult)}
    )


# (dataset dir, n_cells) -> checkpointed (vec_id, cid) assignment.  The
# stored-column analog: at 100 TB the coarse assignment is computed once
# at ingest and persisted partitioned by cid (ivf_cell_pairs docstring),
# so the recurring dedup pass pays only the cell-local pair join.  The
# prep hook below builds it OUTSIDE the timed window.
_ASSIGN_MEMO: dict = {}


def _assigned_prep(spark, d: str, mult: int) -> None:
    from pyspark.sql import functions as F

    from foglamp_filter_python35_spark.catalog import load
    from foglamp_filter_python35_spark.functions import similarity as S

    n_cells = _linear_ivf_cells(mult)
    key = (d, n_cells)
    if key not in _ASSIGN_MEMO:
        emb = load(spark, d, "embeddings")
        centroids = emb.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        _ASSIGN_MEMO[key] = S.ivf_assign(emb, centroids).localCheckpoint(
            eager=True
        )


def _assigned_semantic(spark, d: str, mult: int):
    from pyspark.sql import functions as F

    from foglamp_filter_python35_spark.catalog import load
    from foglamp_filter_python35_spark.functions import similarity as S
    from foglamp_filter_python35_spark.functions.dedup import (
        connected_components_star,
    )

    emb = load(spark, d, "embeddings")
    # the operator itself, with the coarse quantization swapped for the
    # stored assignment column — same code path a deployment runs
    pairs = S.ivf_cell_pairs(
        emb, None, 0.4, assign=_ASSIGN_MEMO[(d, _linear_ivf_cells(mult))]
    )
    comp = connected_components_star(pairs)
    return comp.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.countDistinct("comp").alias("n_clusters"),
    )


TUNED_PROBES: dict = {
    "embedding_lsh_dup_tuned": ("embeddings", (1, 10, 100), _tuned_lsh, None),
    "semantic_dedup_tuned": (
        "embeddings",
        (1, 10, 100),
        _tuned_semantic,
        None,
    ),
    "semantic_dedup_cells_n": (
        "embeddings",
        (1, 10, 100),
        _linear_semantic,
        None,
    ),
    "semantic_dedup_assigned": (
        "embeddings",
        (1, 10, 100),
        _assigned_semantic,
        _assigned_prep,
    ),
}


def _build(spark) -> None:
    from pyspark.sql import functions as F

    # coverage must span BOTH probe maps: the tuned/assigned variants
    # run embeddings at x100 even though the fixed-parameter probe
    # stops at x10
    coverage = [(t, ms) for t, ms in PROBES.values()] + [
        (t, ms) for t, ms, _, _ in TUNED_PROBES.values()
    ]
    mults = sorted({m for _, ms in coverage for m in ms})
    tables_at: dict[str, int] = {}
    for table, ms in coverage:
        tables_at[table] = max(tables_at.get(table, 0), max(ms))

    for mult in mults:
        out = os.path.join(PROBE_ROOT, f"x{mult}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        rep = F.col("rep")

        for table, top in sorted(tables_at.items()):
            if mult > top:
                continue
            src = spark.read.parquet(os.path.join(BASE_DIR, f"{table}.parquet"))
            reps = spark.range(mult).select(F.col("id").alias("rep"))
            df = src.crossJoin(reps)
            if table == "documents":
                tagged = F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(
                            F.lit("r"), rep.cast("string"), F.lit("_"), w
                        ),
                    ),
                    " ",
                )
                df = df.select(
                    (F.col("doc_id") + rep * KEY_SHIFT).alias("doc_id"),
                    tagged.alias("text"),
                    "lang",
                    "source",
                    F.length(tagged).alias("n_chars"),
                )
            elif table == "embeddings":
                masks = spark.createDataFrame(
                    [
                        (
                            r,
                            [
                                float(
                                    random.Random(r * 131 + i).choice((-1, 1))
                                )
                                for i in range(EMB_DIM)
                            ],
                        )
                        for r in range(mult)
                    ],
                    "rep long, mask array<float>",
                )
                df = df.join(masks, "rep").select(
                    (F.col("vec_id") + rep * KEY_SHIFT).alias("vec_id"),
                    F.transform(
                        F.zip_with(
                            F.col("embedding"),
                            F.col("mask"),
                            lambda x, m: x * m,
                        ),
                        lambda x: x.cast("float"),
                    ).alias("embedding"),
                    "label",
                )
            elif table == "events":
                df = df.select(
                    (F.col("event_id") + rep * KEY_SHIFT).alias("event_id"),
                    "ts",
                    (F.col("user_id") + rep * KEY_SHIFT).alias("user_id"),
                    "event_type",
                    "value",
                    "props",
                )
            else:  # lineitem
                df = df.select(
                    (F.col("l_orderkey") + rep * KEY_SHIFT).alias(
                        "l_orderkey"
                    ),
                    *[c for c in src.columns if c != "l_orderkey"],
                )
            n_out = min(32, max(1, mult))
            df.repartition(n_out).write.mode("overwrite").parquet(
                os.path.join(out, f"{table}.parquet")
            )
            print(f"built x{mult}/{table}", file=sys.stderr)


def _run(spark, mults_filter: set[int]) -> dict:
    from foglamp_filter_python35_spark.catalog import all_queries
    from foglamp_filter_python35_spark.functions import cache

    specs = all_queries()
    runs: list[tuple[str, tuple[int, ...], object, object]] = [
        (name, ms, specs[name].fn, None) for name, (_, ms) in PROBES.items()
    ] + [
        (name, ms, fn, prep)
        for name, (_, ms, fn, prep) in TUNED_PROBES.items()
    ]

    results: dict[str, dict] = {}
    for name, ms, fn, prep in runs:
        tuned = name in TUNED_PROBES
        row: dict[str, float] = {}
        for mult in ms:
            if mult not in mults_filter:
                continue
            d = os.path.join(PROBE_ROOT, f"x{mult}")

            def build(dd=d, m=mult, f=fn):
                return f(spark, dd, m) if tuned else f(spark, dd)

            if prep is not None:  # untimed: the stored-column analog
                prep(spark, d, mult)
            spark._jvm.System.gc()  # noqa: SLF001
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            best = time.perf_counter() - t0
            cache.release(blocking=False)
            if best < 150:  # min-of-2 drops the codegen-compile sample
                t0 = time.perf_counter()
                build().write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                cache.release(blocking=False)
            row[f"x{mult}"] = round(best, 2)
            print(f"{name} x{mult}: {best:.2f}s", file=sys.stderr)
        for mult in ms:
            if mult != 1 and f"x{mult}" in row and "x1" in row:
                row[f"ratio_{mult}"] = round(row[f"x{mult}"] / row["x1"], 1)
        results[name] = row
    return results


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--build", action="store_true")
    p.add_argument("--run", action="store_true")
    p.add_argument("--mults", default="1,10,100")
    p.add_argument("--only", default=None, help="comma-separated probe names")
    args = p.parse_args()
    mults = {int(m) for m in args.mults.split(",")}
    if args.only:
        keep = set(args.only.split(","))
        for d in (PROBES, TUNED_PROBES):
            for k in [k for k in d if k not in keep]:
                del d[k]

    from foglamp_filter_python35_spark.session import get_spark

    spark = get_spark(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    if args.build:
        _build(spark)
    if args.run:
        res = _run(spark, mults)
        print(json.dumps({"base": BASE_DIR, "probes": res}))
        print("\n| query | x1 (s) | x10 (s) | x100 (s) | t100/t1 |")
        print("|---|---|---|---|---|")
        for name, row in res.items():
            print(
                f"| {name} | {row.get('x1', '—')} | {row.get('x10', '—')} "
                f"| {row.get('x100', '—')} | {row.get('ratio_100', '—')} |"
            )
    spark.stop()


if __name__ == "__main__":
    main()
