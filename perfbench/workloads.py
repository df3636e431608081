"""The benchmark's workloads: which queries run, on which generated inputs.

Each workload is one closed loop with a single client: a pass runs its query
list in order, and the next query starts only after the previous result has
been collected with ``toPandas()``. Why each workload exists, with its input
row counts, is recorded in ``BENCHMARK.json``.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "relational": {
        "name": "relational",
        "kind": "relational",
        "scale": 0.01,
        "queries": [
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q5_region_revenue",
            "q_topk_per_group",
            "q_sessionize",
            "i1_impute_mean",
            "i4_interpolate",
            "e3_target_encode",
        ],
    },
    "corpus": {
        "name": "corpus",
        "kind": "corpus",
        "base_docs": 600,
        "base_vecs": 250,
        "copies": 4,
        "queries": [
            "dd_minhash_pairs",
            "dd_simhash_pairs",
            "tx_quality",
            "tx_lang_id",
            "ss_brute_topk",
            "ss_ivf_topk",
        ],
    },
}
