"""The benchmark's workloads: which ops run, how, and on which fixture.

Each op is a key of an engine module's `queries` map; the harness times the
builder call and then the action on the frame it returns.
"""
import os

SERVE_MIX = [
    "q_sim_topk_ivf", "q_vec_pq", "q_vec_ivfpq", "q_sim_topk",
    "q_sim_range_search", "q_knn_label_vote",
    "q_text_bm25", "q_text_tfidf", "q_text_inverted_index", "q_dedup_near",
    "q_graph_hits", "q_graph_closeness", "q_graph_pagerank",
    "q_agg_group", "q_join_inner_bhj", "q_win_rank", "q_subq_exists",
    "q_shape_q3",
]
SERVE_FAILING = ["q_vec_pq", "q_vec_ivfpq", "q_text_inverted_index",
                 "q_dedup_near", "q_graph_hits"]

WORKLOADS = {
    # The product path: EPrints exports in, validated and reshaped, Bulkrax
    # CSV out. One client runs whole passes; the session memo is never used.
    # The 45 ops of the full path take about 40 s a pass on a 4-core host,
    # too long for a run of at least 100 ops within the time a run may
    # take, so this is a 10-op cut chosen by measured time: among lists
    # that hold a heavy parquet sink and average at most 0.42 s an op, the
    # one whose category shares of a pass come closest to the full pass's
    # (scans 23% vs 25%, sinks 44% vs 47%, validation and CDC 11% vs 13%,
    # scalar cleanup 8% vs 7%, reshapes 7% vs 8%). The upsert is the only
    # Events op and is kept though its share is larger here (7% vs 1%).
    # README.md lists each op's share.
    "migrate": {
        "mode": "batch",
        "scale": "1x",
        "ops": [
            # source-format scans
            "q_scan_orc", "q_scan_json_corrupt", "q_scan_xml",
            # sinks: zstd parquet, Bulkrax multi-value CSV
            "q_sink_parquet_zstd", "q_sink_csv_multival",
            # validation
            "q_validate_sequence",
            # scalar cleanup
            "q_fn_json", "q_fn_date2",
            # Bulkrax reshape
            "q_unpivot",
            # the incremental upsert through a streaming foreachBatch
            "q_stream_foreachbatch_upsert",
        ],
    },
    # Many users on one live session: a closed loop of clients, each
    # sending its next query when its previous one completed, drawn by
    # seeded shuffle from a read-only search/similarity/reporting mix. The
    # memo is filled during set-up, so the Checkpoints hit path and driver
    # scheduling under contention are what this workload adds. No sinks:
    # sink paths are per fixture and would clobber each other.
    # The engine does not serve this mix correctly yet: q_vec_pq,
    # q_vec_ivfpq, q_graph_hits and q_text_inverted_index fail now and then
    # under concurrent clients (one call frees the checkpoint another call
    # is still reading: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), and q_dedup_near
    # returns 24 rows against the DuckDB oracle's 25 on the 0.1x fixture of
    # seed 1. A run counts those calls as failed and exits 1, so this
    # workload is not in BENCHMARK.json; serve_warm_subset is.
    "serve_warm": {
        "mode": "serve",
        "scale": "1x",
        "ops": SERVE_MIX,
    },
    # serve_warm's mix less the five ops above, plus q_multimodal_features
    # so that the Multimodal layer is measured. On the 0.1x fixture, so that
    # a run of at least 100 ops fits in about a minute.
    "serve_warm_subset": {
        "mode": "serve",
        "scale": "0.1x",
        "min_ops": 115,
        "ops": [op for op in SERVE_MIX if op not in SERVE_FAILING] +
               ["q_multimodal_features"],
    },
}

# Every run holds at least this many timed ops, so p90 has ten beyond it.
MIN_OPS = 100


def cpus():
    return max(1, min(os.cpu_count() or 1, 4))


def clients(workload):
    return cpus() if WORKLOADS[workload]["mode"] == "serve" else 1
