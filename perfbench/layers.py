"""Canonical metric names. ``BENCHMARK.json`` lists the same names; the
tests check that the two agree."""

from __future__ import annotations

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("bulk_s", "s", "lower", 0.25),
    ("query_p50_s", "s", "lower", 0.25),
    ("query_tail_s", "s", "lower", 0.25),
    ("query_mix_s", "s", "lower", 0.25),
    ("bytes_per_input_byte", "ratio", "lower", 0.2),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

QUERIES = (
    "dedup_detector_agreement", "doc_lsh_precision_audit",
    "similarity_ivfpq_rerank", "similarity_ivfpq_residual", "dedup_clusters",
    "corpus_dedup_summary", "doc_curation_decision", "embedding_ann_recall",
    "part_basket_pairs", "top_users", "events_hourly",
    "lineitem_return_rate_by_discount",
)

# the queries every run times; the traced run adds the rest of QUERIES
# (their end-to-end share did not fit the benchmark's time budget; the
# connected-components spine is timed end to end inside `curate run`)
TIMED_QUERIES = ("top_users", "events_hourly", "lineitem_return_rate_by_discount")

DASHBOARD = (
    "recent_blocks", "fork_distribution", "top_proposers",
    "blob_commitment_check", "withdrawals_daily", "execution_daily",
    "network_health_hourly", "fork_transitions", "sync_participation_daily",
    "attestation_inclusion_delay",
)

# the dashboard functions every run times; the traced run adds the rest
TIMED_DASHBOARD = ("fork_distribution", "top_proposers", "attestation_inclusion_delay")

_S, _C, _B, _R = "s", "count", "bytes", "ratio"

# (name, unit, better)
PER_LAYER = [
    ("session.jobs", _C, "lower"),
    ("session.stages", _C, "lower"),
    ("session.task_s", _S, "lower"),
    ("session.gc_s", _S, "lower"),
    ("session.shuffle_write_bytes", _B, "lower"),
    ("session.spill_bytes", _B, "lower"),
    ("session.busy_ratio", _R, "higher"),
    ("beacon_api.requests", _C, "lower"),
    ("beacon_api.not_found", _C, "lower"),
    ("beacon_api.retries", _C, "lower"),
    ("beacon_api.get_s", _S, "lower"),
    ("beacon_api.rows_per_request", _R, "higher"),
    ("storage.write_calls", _C, "lower"),
    ("storage.write_s", _S, "lower"),
    ("storage.files_written", _C, "lower"),
    ("storage.bytes_written", _B, "lower"),
    ("storage.read_latest_build_s", _S, "lower"),
    ("storage.latest_rows_in_per_out", _R, "lower"),
    ("storage.compact_s", _S, "lower"),
    ("storage.compact_bytes_rewritten", _B, "lower"),
    ("storage.lake_files", _C, "lower"),
    ("ledger.calls", _C, "lower"),
    ("ledger.s", _S, "lower"),
    ("ledger.manifest_files", _C, "lower"),
    ("transform.build_s", _S, "lower"),
    ("transform.raw_rows_in", _C, "higher"),
    ("transform.rows_out", _C, "higher"),
    ("transform.fanout_ratio", _R, "higher"),
    ("pipeline.transform_range_s", _S, "lower"),
    ("pipeline.transform_range_self_s", _S, "lower"),
    ("pipeline.transform_range_jobs", _C, "lower"),
    ("pipeline.sink_write_s", _S, "lower"),
    ("realtime.process_window_self_s", _S, "lower"),
    ("realtime.fetch_local_s", _S, "lower"),
    ("realtime.window_latency_s", _S, "lower"),
    *[(f"analytics.{f}_s", _S, "lower") for f in DASHBOARD],
    *[
        (f"queries.{q}.{k}", u, "lower")
        for q in QUERIES
        for k, u in (("build_s", _S), ("exec_s", _S), ("jobs", _C),
                     ("exchanges", _C), ("scans", _C), ("shuffle_bytes", _B))
    ],
    ("dedup.connected_components_s", _S, "lower"),
    ("dedup.connected_components_jobs", _C, "lower"),
    ("dedup.minhash_lsh_candidates_build_s", _S, "lower"),
    ("dedup.broadcast_if_small_calls", _C, "lower"),
    ("curation.stage_s", _S, "lower"),
    ("curation.outputs_s", _S, "lower"),
    ("curation.jobs", _C, "lower"),
    ("trace.overhead_s", _S, "lower"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
