"""HITS (hubs & authorities) over a directed / bipartite edge list.

Third member of the iterative-graph family (components, pagerank,
hits — the reference's engine has no iteration at all: its one job is
a single map→shuffle→reduce pass, mr/coordinator.go:120-140).
Kleinberg's HITS ("Authoritative sources in a hyperlinked
environment", JACM 1999) is the directed complement of PageRank: a
node is a good HUB if it points at good authorities, a good AUTHORITY
if good hubs point at it. On a bipartite interaction graph
(customer→part, user→document) this is the classic co-HITS
recommendation primitive: authority = items endorsed by broad
customers, hub = customers whose baskets concentrate on endorsed
items.

Cross-engine determinism (the pagerank.py discipline): the whole
power iteration runs in exact integer micro-units. Scores are BIGINT
in 1e-6 units on the hot aggregate path (DECIMAL(38) only inside the
tiny per-node normalize product); each half-round is an integer-sum
aggregate followed by max-normalization via integer division
((1e6·s) div max_s — max-norm is the standard alternative to the L2
norm and keeps the fixpoint direction identical). No floating point
exists anywhere in the loop, so a fixed iteration count is
bit-identical at any parallelism and in any engine — the registered
query carries a full unrolled-CTE DuckDB hash oracle.

Scale notes (100 TB posture, mirrors pagerank.py):
- both half-round directions live in ONE cached edge layout keyed on
  the sending node, so every half-round is the same step over one
  frame of raw sums, run through ``operators/iterate.py`` (lazy
  checkpoint per half-round, no lineage stacking); each raw frame is
  read twice (max and normalize) from its checkpoint;
- the per-half-round max is a 1-row aggregate crossJoin-broadcast — it
  stays INSIDE the plan (no driver-side collect in the loop);
- fixed iteration count, zero driver decisions in the loop;
- integer sums are order-independent, so AQE/skew-split re-plans
  cannot change the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark.operators.iterate import iterate

__all__ = ["hits"]

_UNIT = 1_000_000


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iters: int = 5,
) -> DataFrame:
    """Run ``iters`` HITS rounds on the directed edge list.

    One round is: authority(d) = Σ_{s→d} hub(s), max-normalized to
    1e6; then hub(s) = Σ_{s→d} authority(d), max-normalized to 1e6.
    Hubs start at 1e6. Returns the union frame
    ``(node_type ∈ {'hub','auth'}, node_id, score_u)`` with scores in
    exact integer micro-units (max node of each side scores exactly
    1e6). Nodes absent from ``edges`` are absent from the output.
    """
    # Scores are BIGINT micro-units on the hot aggregate path (sum ≤
    # 1e6·max_degree, so bigint is safe while max_degree < 9e12); the
    # normalize expression alone widens to DECIMAL(38) for the 1e6·s
    # product (safe while max_degree < 1e6 even in bigint, unbounded
    # in decimal). Same integers either way — the r9 tuning measured
    # DECIMAL sums as the single largest cost (14.8 s → 11 s at
    # sf0.1, together with checkpointing the raw sums).
    norm = f"CAST((CAST({_UNIT} AS DECIMAL(38,0)) * s) div m AS BIGINT)"
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    # Materialize the deduped edge list ONCE: both the layout below and
    # the initial hubs read it, and jobs do not share un-materialized
    # subplans (optimization r16, guide §1.2).
    e = e.localCheckpoint(eager=False)
    # Both half-round directions in ONE layout keyed on the sending
    # node: a hub row (hub, s) sends along s→d to (auth, d), an
    # authority row (auth, d) sends back along s→d to (hub, s).
    fan = (
        e.select(
            F.lit("hub").alias("node_type"),
            F.col("src").alias("node_id"),
            F.lit("auth").alias("to_type"),
            F.col("dst").alias("to_id"),
        )
        .unionByName(
            e.select(
                F.lit("auth").alias("node_type"),
                F.col("dst").alias("node_id"),
                F.lit("hub").alias("to_type"),
                F.col("src").alias("to_id"),
            )
        )
        .repartition("node_type", "node_id")
        .persist()
    )

    def scores(raw: DataFrame) -> DataFrame:
        m = raw.agg(F.max("s").alias("m"))
        return raw.crossJoin(F.broadcast(m)).select(
            "node_type", "node_id", F.expr(norm).alias("score_u")
        )

    def half(raw: DataFrame) -> DataFrame:
        return (
            fan.join(scores(raw), ["node_type", "node_id"])
            .groupBy(
                F.col("to_type").alias("node_type"), F.col("to_id").alias("node_id")
            )
            .agg(F.sum("score_u").alias("s"))
        )

    # hubs start at 1e6: a raw sum of 1 everywhere normalizes to it
    raw = e.select(
        F.lit("hub").alias("node_type"),
        F.col("src").alias("node_id"),
        F.lit(1).cast("bigint").alias("s"),
    ).distinct().localCheckpoint()
    # the last two half-rounds are the outputs: authorities, then hubs
    a_raw = iterate(raw, half, 2 * iters - 1)
    h_raw = iterate(a_raw, half, 1)
    fan.unpersist()
    return scores(h_raw).unionByName(scores(a_raw))


def hits_oracle_sql(edge_cte: str, iters: int = 5) -> str:
    """Unrolled DuckDB replay of :func:`hits` (the pagerank oracle
    discipline): ``edge_cte`` must define a relation ``e(src, dst)``
    (already distinct). Every round is the identical integer-sum +
    integer-division max-normalization, so the replay hashes
    bit-exactly against the Spark plan."""
    # Every *r stage is referenced TWICE (the normalize join and its
    # max scalar subquery): without MATERIALIZED, DuckDB inlines CTEs,
    # so the reference fan-out compounds exponentially across rounds —
    # 5 unrolled rounds hang. MATERIALIZED pins each stage to one
    # evaluation (the CTE analogue of the Spark plan's localCheckpoint).
    parts = [
        edge_cte,
        "h0 AS MATERIALIZED (SELECT DISTINCT src,"
        " CAST(1000000 AS HUGEINT) AS hu FROM e)",
    ]
    prev_h = "h0"
    for i in range(1, iters + 1):
        parts.append(
            f"a{i}r AS MATERIALIZED (SELECT e.dst, SUM({prev_h}.hu) AS s "
            f"FROM e JOIN {prev_h} USING (src) GROUP BY e.dst)"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT dst,"
            f" (1000000 * s) // (SELECT max(s) FROM a{i}r)"
            f" AS au FROM a{i}r)"
        )
        parts.append(
            f"h{i}r AS MATERIALIZED (SELECT e.src, SUM(a{i}.au) AS s "
            f"FROM e JOIN a{i} USING (dst) GROUP BY e.src)"
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT src,"
            f" (1000000 * s) // (SELECT max(s) FROM h{i}r)"
            f" AS hu FROM h{i}r)"
        )
        prev_h = f"h{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT 'hub' AS node_type, src AS node_id, CAST(hu AS BIGINT) AS score_u
FROM h{iters}
UNION ALL
SELECT 'auth', dst, CAST(au AS BIGINT) FROM a{iters}
"""
    )
