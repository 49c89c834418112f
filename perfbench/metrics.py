"""What the benchmark measures beyond the names in ``BENCHMARK.json``.

``BENCHMARK.json`` at the repository root is the one list of workloads
and metrics (name, unit, which way is better); ``load_spec`` reads it.
The end-to-end metric and workload each per-layer metric should move is
recorded in ``perfbench/README.md``.
"""

from __future__ import annotations

import json
import os

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

#: the 12 ``headline=True`` catalog queries plus the two heavy residuals
CATALOG_QUERIES = [
    "minhash_lsh_dedup", "embedding_topk", "bm25_retrieval", "text_stats",
    "token_count_total", "scale35", "python_filter_scale35", "pricing_summary",
    "revenue_by_nation", "top_orders_per_segment", "sessionization",
    "downsample_1h", "embedding_lsh_dup", "dedup_ensemble",
]

#: self time (span duration minus its child spans) per layer, summed over
#: the run: metric -> the span names it sums
SELF_TIMES = {
    "self.session_ms": ("session.start",),
    "self.prepare_ms": ("input.prepare", "generator.prerender"),
    "self.warmup_ms": ("warmup",),
    "self.trigger_ms": ("stream.trigger",),
    "self.add_batch_ms": ("stream.addBatch",),
    "self.sink_ms": ("sink.write",),
    "self.catalog_build_ms": ("catalog.build",),
    "self.catalog_exec_ms": ("catalog.exec",),
    "self.check_ms": ("check",),
}


def load_spec(path: str = SPEC_PATH) -> dict:
    """``BENCHMARK.json`` with its metric lists as ``name -> unit`` maps."""
    with open(path) as f:
        doc = json.load(f)
    return {
        "workloads": [w["name"] for w in doc["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in doc["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in doc["per_layer"]},
    }
