"""Graph analytics over the constructed KG's link structure.

PageRank as pure DataFrame iterations — the canonical iterative algorithm a
KG engine is asked for (entity importance for candidate ranking in linking,
crawl prioritization in the web pipeline). Semantics chosen for
engine-exact verifiability, the ivf_train playbook:

- ranks are FIXED-POINT integers (×``scale``): each iteration re-rounds to
  a long, so double summation-order differences between engines (and
  between partitionings) are absorbed at every step. Absorption is exact
  unless a contribution sum lands within ~1 ulp of a .5 rounding boundary
  (≈1e-13 per node-iteration — the same residual ivf_train accepts); the
  (1-d)·scale base term is snapped to its exact decimal value so it adds
  no bias of its own against an oracle's literal;
- simple-graph edges (distinct (src, dst)); dangling mass is dropped (the
  standard edge-list simplification — dangling nodes keep receiving rank
  but redistribute none), documented rather than hidden;
- a fixed iteration count, not a convergence test: the oracle unrolls the
  same iterations as CTE stages.

Scale shape: per iteration ONE join (edges ⋈ ranks, both keyed by src —
co-partitioned after the first shuffle) and ONE groupBy(dst) with map-side
partial sums; the edges×outdegree frame is computed once and persisted.
The iterations run on ``fixpoint.iterate``, whose per-round checkpoint
keeps the plan linear in depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdf2hk_spark import fixpoint


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    scale: int = 10_000,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank_e4) after ``iters`` fixed-point power iterations.

    rank_0 = scale; rank_{k+1}(n) = round((1-d)·scale +
    d·Σ_{m→n} rank_k(m)/outdeg(m)). Nodes with no in-links settle at
    round((1-d)·scale)."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    outdeg = e.groupBy("src").agg(F.count("*").alias("od"))
    ed = e.join(outdeg, "src").persist()
    nodes = fixpoint.checkpoint(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # snap to the exact decimal: (1-0.85)*10000 evaluates to
    # 1500.0000000000002 in binary, which would bias every node by +2e-13
    # against an oracle writing the literal 1500
    base = round((1.0 - damping) * scale * 1e9) / 1e9

    def power_step(ranks: DataFrame) -> DataFrame:
        contrib = (
            ed.join(ranks.select(F.col("node").alias("src"), "r"), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("r").cast("double") / F.col("od")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        return nodes.join(contrib, "node", "left").select(
            "node",
            F.round(base + damping * F.coalesce(F.col("c"), F.lit(0.0)))
            .cast("long")
            .alias("r"),
        )

    ranks = fixpoint.iterate(
        power_step,
        nodes.select("node", F.lit(scale).cast("long").alias("r")),
        rounds=iters,
    )
    ed.unpersist()
    return ranks.select("node", F.col("r").alias("rank_e4"))
