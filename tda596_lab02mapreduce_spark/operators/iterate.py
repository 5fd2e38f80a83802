"""Fixed-round iteration with per-round lineage truncation.

The reference engine has no iteration: its one job is a single
map→shuffle→reduce pass (mr/coordinator.go:120-140). The fixed-round
graph loops in this package (HITS half-rounds, k-core peeling, label
propagation, the min-plus BFS/SSSP relaxation) are driver-side loops
of DataFrame rounds that share the one lineage policy stated here.
PageRank (with its personalized form) keeps its measured every-third-
round eager cadence; see ``operators/pagerank.py``.

Lineage policy: after every round the state is marked
``localCheckpoint(eager=False)``. Each round's plan therefore starts
from the previous round's checkpoint instead of re-stacking every
earlier round, so plan size and optimizer cost stay flat in the round
count. No action is issued by the loop: no eager checkpoint, no count,
no convergence test. Under AQE, marking a frame still executes that
round's shuffle-map stages (Spark runs a plan's query stages when the
physical plan is executed), while each round's final stage is computed
as part of the next round's first stage, or by the consuming action
for the last round. The invariant this relies on: the first action
that reads a lazily checkpointed frame must compute ALL of its
partitions (a full scan, an aggregate, a write). A partial first
action such as ``limit``/``take`` caches only some blocks, and Spark
then runs an extra job to fill in the rest.

Retention: the lazily checkpointed blocks are not released inside a
query builder. The consuming action runs after the builder returns,
so the builder has no point where unpersisting them is safe; they are
bounded per query and evicted LRU by the block manager, and a
long-lived session that wants them gone eagerly can unpersist through
the returned frame's lineage or cycle the session. A ``persist()``-ed
input that ``step`` reads (an edge layout) may be unpersisted once
``iterate`` returns only if no round reads it after the round's last
exchange: the earlier stages have already run by then, but a read in
a round's final stage happens inside the consuming action and would
recompute the released input. The graph loops here all read their
edge layout before the round's aggregate exchange.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

__all__ = ["iterate"]


def iterate(
    state: DataFrame, step: Callable[[DataFrame], DataFrame], rounds: int
) -> DataFrame:
    """Apply ``step`` to ``state`` ``rounds`` times, lazily
    checkpointing the state after every round (see the module
    docstring for the lineage and retention policy)."""
    for _ in range(rounds):
        state = step(state).localCheckpoint(eager=False)
    return state
