"""The benchmark's metrics, read from ``BENCHMARK.json`` (name → unit),
and the layer names the workloads report per-layer metrics under."""

from __future__ import annotations

import json
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(_ROOT, "BENCHMARK.json")) as _f:
    _DECLARED = json.load(_f)

END_TO_END = {m["name"]: m["unit"] for m in _DECLARED["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _DECLARED["per_layer"]}

# the headline queries of each plans module plus grouped LSH; the
# headline set's q_broadcast_join_revenue, q_current_window and
# q_daily_distinct are left out to fit the run budget (their modules are
# covered by q_three_way_join and q_pricing_summary)
QUERY_LAYERS = {
    "q_pricing_summary": "plans.aggregates",
    "q_three_way_join": "plans.joins",
    "q_top1_per_group": "plans.windows",
    "q_dedup_minhash_lsh": "plans.dedup",
    "q_ann_bruteforce": "plans.similarity",
    "q_token_count": "plans.textops",
    "q_dedup_minhash_lsh_grouped": "plans.dedup",
}

SELF_TIMED = [
    "crawl.engine.tick",
    "crawl.snapshots.commit",
    "crawl.seen.commit_shards",
    "crawl.seen.compact",
    "crawl.harvest.harvest_tick",
    "plans.incremental.add_batch",
    "plans.incremental_cc.add_pairs",
]
