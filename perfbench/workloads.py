"""The benchmark's workloads: the registered queries each one issues, in
order. Why each exists is recorded in ``BENCHMARK.json`` and README.md.

Each workload is a closed loop: one client issues the queries serially
through the driver contract (``registry.QUERIES``), nothing else runs
concurrently.
"""

WORKLOADS = {
    "vector_search": (
        "knn_exact",
        "knn_filtered",
        "eval_backend_compare",
        "report_pivot",
        "embed_knn_pipeline",
        "text_bm25_search",
    ),
    "relational_stream": (
        "agg_hash",
        "sessionize_batch",
        "graph_pagerank",
        "stream_tumbling",
        "sink_merge_rows",
    ),
}
