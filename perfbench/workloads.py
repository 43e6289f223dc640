"""The benchmark's workloads and end-to-end metrics.

Each workload is a fixed list of registered queries run one at a time
(a closed loop with one client) at `local[N]`. Why each exists, and which
layer metrics should move on it, is in README.md.
"""

WORKLOADS = {w["name"]: w for w in [
    {
        "name": "relational_grown",
        # TPC-H shaped scans, joins and aggregates on a GrowFixture cut:
        # executor work (scan, join, shuffle, codegen) with graft.streaming
        # and graft.llm idle
        "grow": 8,
        "queries": ["q1_agg", "q_join_q9", "q_join_q18"],
    },
    {
        "name": "llm_pipeline",
        # iterative graph queries (large plans, many jobs, per-round
        # checkpoints) and MinHash near-duplicate detection (graft.llm
        # kernels)
        "grow": None,
        "queries": ["q_hits", "q_pagerank", "q_dedup_minhash"],
    },
    {
        "name": "stream_replay",
        # a replay gate: micro-batch fixed cost, RocksDB state commits, feed,
        # WAL and offset-log writes
        "grow": None,
        "queries": ["q_stream_dedup"],
    },
]}


def _m(name, unit, better, bound):
    return {"name": name, "unit": unit, "better": better, "bound": bound}


END_TO_END = [
    _m("wall_s", "s", "lower", 0.25),
    _m("query_p50_s", "s", "lower", 0.25),
    _m("query_p90_s", "s", "lower", 0.25),
    _m("peak_rss_mb", "MB", "lower", 0.10),
    _m("setup_s", "s", "lower", 0.25),
]
