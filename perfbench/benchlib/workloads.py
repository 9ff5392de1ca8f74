"""Workload definitions: which SparkEntry queries run, at what scale factor.

Query lists are kept in fixed name order. Every query named here has a
DuckDB oracle in `SparkEntry.oracleSql` and writes nothing outside the
session (no `SparkEntry` scratch lake), so the benchmark reads and writes
only inside its own checkout. After the cold first pass a run makes
`warmup` passes that are checked but not measured (the JIT is still
warming through them), then `passes` measured passes, chosen so that the
passes after the first take longer than the run length at today's speed:
the measured work is then the same in every run."""

GRAPH_LOOPS = ["dd_cluster", "gr_bfs", "gr_components", "st_ipf"]

WORKLOADS = {
    "graph_loops": {"kind": "queries", "sf": 0.01, "queries": GRAPH_LOOPS,
                    "warmup": 2, "passes": 3},
    # 10k events (sf0.01) as 14 time-ordered JSON-lines files, 10% of the
    # events delivered a second time one file later; 1 file per trigger, so
    # the 3 measured passes give 42 micro-batches and the tail rule reaches p75
    "lambda_stream": {"kind": "stream", "sf": 0.01, "files": 14,
                      "redeliver": 0.10, "files_per_trigger": 1,
                      "warmup": 0, "passes": 3},
}
