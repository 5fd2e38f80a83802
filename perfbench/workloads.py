"""The benchmark's workloads and input sizes (pure data, no Spark).

Each registry workload lists the queries it runs and, per query, the
fixture tables the query reads; ``input_mb_per_s`` divides the bytes of
those tables by the warm pass time. The text job instead reads the
generated corpus once per façade job.
"""

from __future__ import annotations

# Scale of the generated fixture tables (lineitem rows = 6e6 * SF).
SF = 0.01

# Text corpus for mr_textjob: whole files of Zipf words.
CORPUS_FILES = 8
CORPUS_WORDS_PER_FILE = 8_000
CORPUS_VOCAB = 1_000

# (form, app): façade form and reference app of each text job.
MR_JOBS = (("df", "wc"), ("df", "indexer"), ("rdd", "wc"), ("rdd", "indexer"))

# ``warmup`` is the number of passes after the first that are run and
# timed but left out of ``wall_s``: warm passes keep getting faster
# while the JIT compiles the hot paths, and the median of a short run
# would sit on that slope, which moves with the load on the machine.
# ``pass_s`` is a workload's nominal warm pass after the warm-up on a
# 4-CPU machine; a run then measures round(seconds / pass_s) passes, at
# least one. Fixing the count (not timing a window) keeps the work the
# same in every run.
WORKLOADS: dict[str, dict] = {
    "mr_textjob": {
        "why": "the reference job: wc and indexer through both MapReduce facade forms into key-value part files",
        "warmup": 1,
        "pass_s": 5.2,
        "queries": {},
    },
    "graph_iterative": {
        "why": "driver-side loops of small jobs: a graph peeling fixpoint and a stateful micro-batch drain",
        "warmup": 5,
        "pass_s": 2.7,
        "queries": {
            "kcore_peel_bipartite": ("lineitem", "orders"),
            "stream_floor_balance_user": ("events",),
        },
    },
}
