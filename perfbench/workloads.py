"""The benchmark's workloads: the registry keys each one runs, and why.

A workload is defined by its keys. Every key's result is checked against the
engine's DuckDB oracle SQL (or, for the rows-only keys, a canonical run), so
a workload must only hold keys that are correct on the generated inputs.
``tables`` names the tables the traced run loads directly to time ``io.load``.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "olap": {
        "keys": [
            "agg_groupby",
            "join_multiway",
            "win_row_number_topk",
            "agg_events_topk",
            "agg_pivot",
            "join_shuffle_equi",
            "join_asof",
            "agg_quantiles_exact_multi",
            "q_volume_between_nations",
        ],
        "tables": ["lineitem", "orders", "customer", "supplier", "part", "nation", "region", "events"],
        "why": (
            "lazy relational plans: Catalyst planning plus scan and shuffle execution; "
            "eager build jobs and pipeline memos are bypassed"
        ),
    },
    "dedup": {
        "keys": [
            "dedup_minhash_weighted",
            "dedup_simhash_pairs",
            "emb_dedup_ann_verified",
            "tokenize_bpe_apply",
        ],
        "tables": ["documents", "embeddings"],
        "why": (
            "LLM-data dedup: most time goes into eager query-build jobs, localCheckpoints, "
            "Arrow kernels and session memos, little into the final collect"
        ),
    },
    "etl": {
        "keys": [
            "sink_parquet_roundtrip",
            "sink_partitioned",
            "sink_compaction",
            "scd2_merge_apply",
            "cdc_apply_changes",
            "stream_tumbling",
            "stream_dedup",
        ],
        "tables": ["orders", "lineitem", "customer", "events"],
        "why": (
            "batch ETL: writes beside reads through sources/ and streaming/, including "
            "availableNow replays and files left behind"
        ),
    },
}

# The four olap keys with hand-written vanilla PySpark twins in the
# repository's tools/vanilla_twins.py (key -> its name in VANILLA_BUILDERS).
TWINS = {
    "agg_groupby": "q1_agg",
    "join_multiway": "q3_join3",
    "win_row_number_topk": "window_rank",
    "agg_events_topk": "events_agg",
}
