"""Bounded k-core peeling over the co-purchase graph — the density
backbone extractor (Seidman, Social Networks 1983 defines k-cores;
beyond-reference, SURVEY §2.11 graph family: LPA finds WHO clusters
together, this finds WHERE the graph is dense enough to trust).

Recommendation and graph-embedding pipelines prune to a k-core first:
a part whose degree is ≥ K only because of one-off baskets adds noise,
and the co-purchase signal concentrates in the subgraph where every
node keeps ≥ K supported neighbors AFTER its weak neighbors are gone
— the fixpoint property plain degree filtering misses. Full k-core
iterates data-dependently; like label_propagation_communities (and
four_step_path_counts before it) this registers a FIXED number of
peel rounds — a static unrolled plan the optimizer and the SQL oracle
both see whole — and reports the shrinking (nodes, edges) ledger per
round: round 0 is the raw supported graph, round r is after r peels
of degree-<K nodes. Convergence is visible in the output (equal
consecutive rows = fixpoint reached), not hidden in driver-side loop
state.

Determinism: pure integer degree counts and semi-join survivals; the
report is four rows of exact counts.

Scale: per round, one degree agg + two node-keyed semi-joins on the
SUPPORTED edge table (output-bounded, persisted once — the
graphprofile posture), each with a lineage break so round r's frame
is computed once. K rounds = K× the cost class of one degree pass.

DEPTH CONTRACT (r11 verdict #5): PEEL_ROUNDS=3 is the DECLARED
semantics, not an approximation of convergence — "the 3-peel partial
core", exactly as label_propagation_communities declares K-round LPA.
The output makes the distinction observable: if the last two ledger
rows are equal, 3 peels reached the true k-core fixpoint (they do on
every tested SF: the co-purchase graph's weak fringe is shallow — one
supported-degree tail, not a long chain); if they differ, the report
says so in data and the consumer can raise PEEL_ROUNDS, paying one
extra degree-agg + two semi-joins per round (measured sf1 exponent
0.68/round, SCALING.md — linear in the surviving edge set, so deeper
rounds are CHEAPER than earlier ones as the frame shrinks). At 100×
scale the depth needed is a property of the graph's fringe depth, not
its size: co-purchase fringes stay shallow because basket sizes are
bounded, so 3 remains the right default and the ledger remains the
audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.materialize import materialize
from ..registry import register
from .graphprofile import _EDGES_CTE, _directed, _edges

CORE_K = 3
PEEL_ROUNDS = 3


def _peel_sql(prev: str, cur: str) -> str:
    return f"""
k{cur} AS (
  SELECT u AS node FROM e{prev} GROUP BY u HAVING count(*) >= {CORE_K}
),
e{cur} AS (
  SELECT e.u, e.v FROM e{prev} e
  JOIN k{cur} a ON e.u = a.node
  JOIN k{cur} b ON e.v = b.node
)"""


_KCORE_ORACLE = (
    f"WITH {_EDGES_CTE},\n"
    "e0 AS (SELECT u, v FROM directed),"
    + ",".join(_peel_sql(str(i), str(i + 1)) for i in range(PEEL_ROUNDS))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" CAST(count(DISTINCT u) AS BIGINT) AS nodes_remaining,"
        f" CAST(count(*) / 2 AS BIGINT) AS edges_remaining FROM e{r}"
        for r in range(PEEL_ROUNDS + 1)
    )
    + "\nORDER BY round"
)


@register("k_core_decomposition", oracle=_KCORE_ORACLE)
def k_core_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(round, nodes_remaining, edges_remaining) — the supported
    co-purchase graph peeled toward its {CORE_K}-core, one row per
    bounded peel round (round 0 = unpeeled)."""
    e = _directed(_edges(spark, sf_dir)).select(
        F.col("part_a").alias("u"), F.col("part_b").alias("v")
    )
    # r12 optimization (guide §2.4): each round's degree table now serves
    # BOTH the peel predicate and that round's ledger row — the old shape
    # paid an extra full edge pass per round for a two-stage
    # count_distinct summary. nodes_remaining = number of degree groups
    # and edges_remaining = sum(deg)/2 = count(*)/2 are the same exact
    # integers (count(*) of the edge frame IS sum of its per-u degrees),
    # so the output is bit-identical and the oracle is unchanged. Only
    # the final round still needs its own summary pass (no degree agg
    # follows it). The small per-round degree frames are persist()ed
    # (consumed twice: ledger + filter); caller clears via clearCache.
    summaries = []
    for r in range(PEEL_ROUNDS):
        degs = e.groupBy("u").agg(F.count("*").alias("deg")).persist()
        summaries.append(
            degs.agg(
                F.lit(r).cast("bigint").alias("round"),
                F.count("*").cast("bigint").alias("nodes_remaining"),
                # coalesce: an emptied round has sum(deg)=NULL where the
                # old count(*) was 0 — the sf0.1 ledger hits this case
                (F.coalesce(F.sum("deg"), F.lit(0)) / 2)
                .cast("bigint")
                .alias("edges_remaining"),
            )
        )
        keep = degs.filter(F.col("deg") >= CORE_K).select(F.col("u").alias("node"))
        e = materialize(
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v"),
            # each round feeds the degree agg AND the next round's two
            # semi-joins — break the lineage so it computes once
            eager=False,
        )
    summaries.append(
        e.agg(
            F.lit(PEEL_ROUNDS).cast("bigint").alias("round"),
            F.count_distinct("u").cast("bigint").alias("nodes_remaining"),
            (F.count("*") / 2).cast("bigint").alias("edges_remaining"),
        )
    )
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionByName(s)
    return out.orderBy("round")
