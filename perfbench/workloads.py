"""The benchmark's workloads and how a seed turns one into a request plan.

Every workload is a closed loop with one client: the next request is sent
when the previous one has completed. A pass is one visit to each of the
workload's queries, in an order drawn from the seed (a draw without
replacement, so every pass does the same work and pass times compare);
passes repeat until the run's time is spent and at least `min_passes`
have run.
"""
import random

# Registry module that owns each query (SparkEntry's operator families).
MODULE = {
    **dict.fromkeys([
        "q_filter_eq", "q_filter_range", "q_search_tags", "q_search_tags_quoted",
        "q_orderby_page", "q_orderby_page_envelope", "q_group_options",
        "q_group_options_indexed", "q_join_links", "q_distinct", "q_agg_stats",
        "q_topk_group"], "Relational"),
    **dict.fromkeys(["events_recent", "events_windowed_topk", "events_retention_maintain"],
                    "Events"),
    **dict.fromkeys(["flow_filter", "flow_switch", "flow_json_parse"], "Flow"),
    **dict.fromkeys([
        "etl_dedup_merge", "merge_upsert", "etl_scd2", "etl_jsonlines",
        "etl_pipeline_e2e", "etl_quarantine", "etl_rename_normalize",
        "etl_sanitize"], "Etl"),
    **dict.fromkeys([
        "src_jsonlines_file", "sink_kv_batches", "sink_partitioned",
        "src_parquet_merge_schema"], "Io"),
    "dedup_components": "Dedup",
}
FAMILIES = sorted(set(MODULE.values()))

WORKLOADS = {
    # The reference's list endpoint: light requests, so plan build, jobs
    # per query and driver gaps dominate; exec-side data work barely shows.
    "api_list": dict(
        sf=0.01, copies=1, sink="noop", min_passes=4,
        queries=[q for q, m in MODULE.items() if m == "Relational"] + [
            "events_recent", "events_windowed_topk", "flow_filter", "flow_switch"]),
    # The ETL bundle plus ingest and sink on a 10x key-shifted copy, each
    # result written as parquet, so scan, shuffle, spill and write dominate
    # and job cadence is amortized. Two multi-job queries ride along for
    # the session caches: events_retention_maintain checkpoints its
    # incremental state through CacheScope, dedup_components reads the
    # minhash component index that IndexCache builds once per session.
    "etl_batch": dict(
        sf=0.001, copies=10, sink="parquet", min_passes=2,
        queries=["etl_dedup_merge", "merge_upsert", "etl_scd2", "etl_jsonlines",
                 "flow_json_parse", "src_jsonlines_file", "etl_pipeline_e2e",
                 "sink_kv_batches", "sink_partitioned", "src_parquet_merge_schema",
                 "etl_quarantine", "etl_rename_normalize", "etl_sanitize",
                 "events_retention_maintain", "dedup_components"]),
}


def plan(workload, seed, max_passes=200):
    """(warm-up order, timed passes) for a workload; a pure function of seed."""
    qs = list(WORKLOADS[workload]["queries"])
    rng = random.Random(f"{workload}:{seed}")
    warmup = rng.sample(qs, len(qs))
    return warmup, [rng.sample(qs, len(qs)) for _ in range(max_passes)]
