"""The benchmark's workloads: which SparkEntry queries each runs, at which
input scale, and the module that holds each query's main call (the
`<module>.busy_s` attribution in the traced run). README.md gives the
reasons; BENCHMARK.json names the workloads."""

WORKLOADS = {
    "etl": {
        "scale": 0.1,
        "queries": {
            "q1_agg": "graft",
            "q_total_order_rank": "operators",
            "q_skew_join": "operators",
        },
    },
    "stream_policy": {
        "scale": 0.01,
        "queries": {
            "q_stream_replication_recovery": "streaming",
        },
    },
    "artifact_write": {
        "scale": 0.01,
        "queries": {
            "q_embed_ivf_disk": "functions",
        },
    },
}

MODULES = ["graft", "operators", "functions", "streaming", "sources"]
