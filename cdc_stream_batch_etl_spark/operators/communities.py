"""Bounded-round label propagation over the co-purchase graph —
community seeds by min-label spread (Raghavan et al., Phys. Rev. E
2007 introduced LPA; the min-label variant here is its deterministic
form, equal to radius-K partial connected components; beyond-reference,
SURVEY §2.11 graph family next to copurchase_pagerank and
dedup_components).

dedup_components computes FULL connected components with the
alternating-star contraction (unbounded rounds, driver-side
convergence check); product-affinity exploration usually wants the
cheaper bounded question "which parts cluster within K hops of each
other?" — K fixed means a STATIC plan (K join+agg rounds unrolled, no
driver loop, fully expressible to the optimizer and to the SQL
oracle), the same reason four_step_path_counts fixes its walk length.

Per round, every node takes the min of its own label and its
neighbors' labels; after K=3 rounds node v holds min(part key within
distance ≤3). Communities are reported as (community = that min key,
n_members), the seed table a merchandiser or a diversity sampler
joins parts against.

Determinism: labels are part keys, min() over integers — order-free
exact; the report is an integer group-count. ORDER BY community.

Scale: edges are the SUPPORTED pair table (output-bounded, persisted
once — graphprofile._edges' posture); each round is one degree-bounded
join (edge list ⋈ label table on node) + one min-agg, both shuffling
on the node key — K× the cost class of one degree computation, no
corpus-sized broadcast, no driver-side iteration state. The unrolled
lineage is 3 joins deep — trivial against dedup_components' log-N
contraction depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.materialize import materialize
from ..registry import register
from .graphprofile import _EDGES_CTE, _directed, _edges

K_ROUNDS = 3


def _one_round_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT node, min(lbl) AS lbl FROM (
    SELECT node, lbl FROM {prev}
    UNION ALL
    SELECT d.u AS node, p.lbl FROM directed d JOIN {prev} p ON d.v = p.node
  ) GROUP BY node
)"""


_LPA_ORACLE = (
    f"WITH {_EDGES_CTE},\n"
    "n0 AS (SELECT DISTINCT u AS node, u AS lbl FROM directed),"
    + ",".join(_one_round_sql(f"n{i}", f"n{i + 1}") for i in range(K_ROUNDS))
    + f"""
SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
FROM n{K_ROUNDS} GROUP BY lbl ORDER BY community
"""
)


@register("label_propagation_communities", oracle=_LPA_ORACLE)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(community, n_members) — min-label communities after K_ROUNDS
    propagation rounds over the supported co-purchase graph."""
    edges = _edges(spark, sf_dir)
    directed = _directed(edges).select(
        F.col("part_a").alias("u"), F.col("part_b").alias("v")
    )
    labels = directed.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(K_ROUNDS):
        nbr = directed.join(labels, directed["v"] == labels["node"]).select(
            F.col("u").alias("node"), "lbl"
        )
        labels = materialize(
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl")),
            # each round is consumed TWICE by the next (self + neighbor
            # branch): without a lineage break the 2^K fan re-runs the
            # whole prefix per branch (lm.py's lazy materialize precedent
            # — lazy, materialized once at first use, GC-cleaned)
            eager=False,
        )
    return (
        labels.groupBy("lbl")
        .agg(F.count("*").cast("bigint").alias("n_members"))
        .select(F.col("lbl").alias("community"), "n_members")
        .orderBy("community")
    )
