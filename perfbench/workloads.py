"""Workload definitions: sizes, operation mix and set-up of each workload.

Both are closed loops with one client thread at local[nproc]. DESIGN.md
records why each was chosen and which layers it loads.
"""
import gen

# query_mix: registry queries that need no staged build (a fresh session
# gains no index artifact or staged frame when they run), spread over every
# query family. Left out to fit the time budget: q19_disjunctive and
# semi_join (a filter-aggregate and a join, as q1_agg and q5/q18 are),
# text_normalize and data_split (map-only row transforms).
QUERY_MIX = [
    # relational: fixture table loads, joins, aggregation, windows
    "q1_agg", "q5_nation_revenue", "q18_big_orders", "window_topn", "json_funcs",
    # vector kernels: exact cosine top-k, pairwise, centroids
    "knn_topk", "pairwise_sim", "centroid_by_label",
    # text
    "dedup_exact", "ngram_jaccard",
    # pipeline / training-data prep
    "minhash_signature", "stratified_sample",
]

WORKLOADS = {
    "query_mix": {
        "sf": 0.01,
        "tables": gen.TABLES,
        "primary": "query",
        "ops": {"names": QUERY_MIX, "passes": 20},
        "harness_args": QUERY_MIX,
        "verify_only": QUERY_MIX,
    },
    "index_churn": {
        "sf": 0.001,                      # 500 x 64-d f32 corpus
        "tables": ["embeddings"],
        "primary": "search",
        # a round is one update then `reads_per_update` searches; each
        # update deletes `batch` ids (> 2% of the live graph), so every
        # update's maintenance tick compacts
        "ops": {"updates": 40, "batch": 11, "reads_per_update": 12},
    },
}
