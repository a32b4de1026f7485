"""The benchmark's workloads: each is a fixed list of calls into
`graft.SparkEntry.queries`, with the graft module the call goes into.
A pass runs every call once, in an order seeded per pass. After one
unmeasured warm pass, a run measures `passes` passes, and more only while
fewer than --seconds have passed: each workload's pass takes longer than
the benchmark's run_seconds on a 4-core machine, so there the count is
fixed."""

WORKLOADS = {
    "catalog_curation": {
        "why": "metadata ETL (search docs, dashboard and lineage graphs, "
               "publish: 70% of a pass) beside training-data operators, in "
               "~90 one- or two-task jobs: executor compute, shuffle and "
               "driver time all show",
        "passes": 1,
        "calls": [
            ("q_table_lineage", "GraphBuild"),
            ("q_dashboard_graph_nodes", "DashboardBuild"),
            ("q_user_search_doc", "SearchDocs"),
            ("q_publish_upsert", "Publish"),
            ("q_text_quality", "TextOps"),
            ("q_simhash", "DedupOps"),
            ("q_ann_topk", "SimilarityOps"),
            ("q_corpus_shuffle", "LayoutOps"),
            ("q_video_fingerprint", "MultimodalOps"),
        ],
    },
    "stream_admission": {
        "why": "three AvailableNow streams of two KB-sized micro-batches "
               "each (one seeds a store, the next probes or folds into it) "
               "plus a claim-store append and sweep: ~120 tiny jobs, "
               "so driver time dominates",
        "passes": 1,
        "calls": [
            ("q_image_dedup_stream", "MediaDedupStream"),
            ("q_claim_retention", "CurationStream"),
            ("q_embed_dedup_stream", "EmbedDedupStream"),
            ("q_stream_publish_fold", "StreamPublish"),
        ],
    },
}

# every module a workload names, so each traced run reports all of them
MODULES = sorted({m for w in WORKLOADS.values() for _, m in w["calls"]})
