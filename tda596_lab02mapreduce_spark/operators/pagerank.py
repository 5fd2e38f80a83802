"""PageRank over an undirected candidate-pair graph.

Second member of the iterative-graph family next to
``operators/components.py`` (same reference gap: the reference's
pipeline has no iteration at all — its one job is a single
map→shuffle→reduce pass, mr/coordinator.go:120-140). Over a near-dup
similarity graph, rank identifies the *hub* documents — templates and
boilerplate sources connected to many near-copies — which is how a
training-data pipeline picks cluster canonicals or flags machine-
generated spam families.

Algorithm (Page et al., "The PageRank Citation Ranking", 1999; the
public power-iteration form): rank'(v) = (1-d) + d * Σ_{u~v}
rank(u)/deg(u), run a FIXED number of rounds — deterministic output,
no float-threshold convergence test for engines to disagree on.

Cross-engine determinism (round 8): the ENTIRE iteration runs in
exact integer micro-units — rank carried as a BIGINT in 1e-6 units,
each neighbor share quantized to 1e-8 units with explicit half-up
integer division ((200·rank_u + deg) div (2·deg)), the in-mass an
integer sum (order-independent), and the damping update again pure
integer arithmetic ((170·in_mass + 10000) div 20000 + 150000 for
d=0.85).  No floating point exists anywhere in the loop, so the
10-round recursion is bit-identical at any parallelism and in ANY
engine, and pagerank_neardup_hubs carries a full DuckDB hash oracle
(the unrolled-SQL replay in queries/llm_pipeline.py).  A first
attempt used round-to-6dp DOUBLES per round (the Holt trick): it
failed — 0.85·(exact decimal) + 0.15 lands EXACTLY on x.xxxxx5
boundaries structurally, and Spark's BigDecimal HALF_UP vs DuckDB's
shifted-nearbyint disagree on which side the nearest double falls.
Quantization error vs. the real-valued fixpoint is < 1e-5 per rank —
far inside every consumer's tolerance.

Scale notes (100 TB posture, mirrors components.py):
- the symmetric edge list is cached pre-partitioned on the join key,
  so every round reuses one shuffle layout;
- degrees are computed once and carried WITH the rank rows (joined a
  single time up front), so each round is join+agg, not join+join;
- ranks are eagerly ``localCheckpoint``ed every third round (the
  measured cadence; see the loop) — no lineage stacking;
- a fixed iteration count means zero driver-side convergence actions
  in the loop.

Personalized PageRank is the same update with a per-node restart mass
in place of the uniform (1-d): pass ``base`` as ``(id, base_u)`` rows
in 1e-6 units (ppr_seeded_related_parts pays it only to seed nodes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iters: int = 10,
    damping: float = 0.85,
    base: DataFrame | None = None,
    id_out: str = "id",
    rank_out: str = "rank",
) -> DataFrame:
    """Rank nodes of an undirected edge list by power iteration.

    Returns one row per node appearing in ``edges`` with its rank
    after ``iters`` rounds (initial rank 1.0; ranks sum to ~|V|).
    Singletons are absent by construction (their rank is the constant
    ``1 - damping``); callers union them back for total coverage.
    Every node present has degree >= 1, so there are no dangling-mass
    corrections to apply. ``base`` (optional, ``(id, base_u)``)
    replaces the uniform restart mass (1-d) with a per-node one in
    1e-6 units; nodes absent from it get none.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.repartition("src").persist()

    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # damping must be expressible in hundredths so the update is pure
    # integer arithmetic (d_pct/100); 0.85 -> 85
    d_pct = round(damping * 100)
    if abs(d_pct / 100.0 - damping) > 1e-12:
        raise ValueError(f"damping must be a multiple of 0.01, got {damping}")
    # the RECEIVER's degree and restart mass ride on the edge list
    # (joined once, before the loop): each round is then a single
    # join + single aggregate — the rank update happens inside the
    # aggregate's grouping keys instead of a second per-round join
    # against the state frame
    recv = deg.select(F.col("src").alias("dst"), F.col("deg").alias("dst_deg"))
    if base is None:
        # uniform (1-d) in 1e-6 micro-units: a literal grouping key,
        # which the optimizer drops from the aggregate
        restart = F.lit((100 - d_pct) * 10_000).cast("bigint")
    else:
        recv = recv.join(
            base.select(F.col("id").alias("dst"), F.col("base_u").alias("dst_base")),
            "dst",
            "left",
        )
        restart = F.coalesce(F.col("dst_base"), F.lit(0)).cast("bigint")
    sym_d = sym.join(recv, "dst").repartition("src").persist()

    # (id, deg, rank_u) rides as one frame: one up-front join, none in
    # the loop; rank_u is the rank in exact 1e-6 integer units.
    state = deg.select(
        F.col("src").alias("id"), "deg", F.lit(1_000_000).cast("bigint").alias("rank_u")
    ).localCheckpoint()

    for it in range(iters):
        state = (
            sym_d.join(
                state.select(
                    F.col("id").alias("src"),
                    # share = rank/deg quantized to 1e-8 units,
                    # half-up: (200·rank_u + deg) div (2·deg)
                    F.expr("(200 * rank_u + deg) div (2 * deg)").alias(
                        "share_e8"
                    ),
                ),
                "src",
            )
            .groupBy(
                F.col("dst").alias("id"),
                F.col("dst_deg").alias("deg"),
                restart.alias("base_u"),
            )
            .agg(F.sum("share_e8").alias("in_mass_e8"))
            .select(
                "id",
                "deg",
                "base_u",
                # rank' = restart + d·in_mass, half-up back to 1e-6 units
                (
                    F.col("base_u")
                    + F.expr(
                        f"(2 * {d_pct} * in_mass_e8 + 10000) div 20000"
                    )
                ).alias("rank_u"),
            )
        )
        # Eager checkpoint every third round and after the last, NOT
        # the per-round lazy policy of operators/iterate.py: a pagerank
        # round is cheap, so per-checkpoint execution overhead
        # dominates. Round-9 sweep at sf0.1: every round 8.1 s,
        # cadence 2 4.1-5.1 s, cadence 3 3.6-4.6 s, one fully chained
        # plan 6.9 s. Fresh-JVM runs at sf0.1, local[4]: iterate()
        # 8.76/7.95/7.91/6.59 s against 6.68/7.19/7.00/5.53 s for this
        # loop. Results are independent of checkpoint placement (pure
        # integer plan).
        if it % 3 == 2 or it == iters - 1:
            state = state.localCheckpoint()
    sym.unpersist()
    sym_d.unpersist()
    return state.select(
        F.col("id").alias(id_out),
        (F.col("rank_u").cast("double") / F.lit(1_000_000.0)).alias(rank_out),
    )
