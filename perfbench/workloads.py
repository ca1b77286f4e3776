"""The benchmark's workloads: which input each reads and which catalog
queries (ops) one pass issues. README.md gives the reason for each.

The six listing and price-parse queries read a crawl that is not in the
repository, so no workload uses them.
"""

WORKLOADS = {
    # Fixed-cost queries at sf0.1, read-only, one or more from every
    # non-store family. Planning, driver gaps and job count dominate.
    "interactive_sf01": {
        "input": "base",
        "ops": [
            "q_topk",                             # tpch
            "q_histogram",                        # events
            "q_window_stats",                     # window
            "q_anti_join",                        # join
            "q_heavy_hitters",                    # sketch
            "q_word_topk", "q_doc_sample",        # text; q_doc_sample is rows-only
            "q_vec_norms",                        # vector
            "q_media_bytes",                      # media
        ],
    },
    # Heavy queries on the x10 replica: tasks, scan, shuffle and spill
    # dominate, planning is a rounding error. q_vec_semdedup (its skew
    # cell is in the input) takes about 21 s here on 4 cores, more than
    # one run can spend, so it is not an op.
    "workbound_x10": {
        "input": "x10",
        "ops": ["q_ship_priority", "q_agg_rollup", "q_word_topk", "q_vec_knn_brute"],
    },
    # The store lifecycle at sf0.1: DML commits (write ops) beside pruned
    # reads of landed stores (read ops).
    "store_lifecycle": {
        "input": "base",
        "ops": [
            "q_store_merge", "q_store_update_dv",  # commit path, DML
            "q_store_compact",                     # compaction
            "q_store_cdf_stream",                  # CDF, AvailableNow stream
            "q_store_timetravel",                  # time travel
            "q_store_topn", "q_store_bloomskip",   # pruned reads
            "q_store_statskip", "q_store_dpp",     # stats skipping, DPP
            "q_store_agg_meta",                    # metadata-only aggregate
            "q_store_changes",                     # CDF read
        ],
    },
}
