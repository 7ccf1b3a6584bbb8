"""Connected-components canonicalization over near-duplicate pairs.

Beyond-reference operator — the step that turns *pairs* (dedup/minhash.py)
into a usable dedup decision. Pairwise output is not enough for a training
corpus: if A~B and B~C, keeping "one of each pair" can keep both A and C.
The correct semantics are transitive — group near-dup pairs into
components and keep one canonical document (min doc_id) per component.

This is a genuinely *iterative* algorithm, the class SURVEY.md §2 has no
SQL row for; it is still fully DuckDB-oracled here via a recursive CTE
(reachability closure → min reachable id), so the driver gets a
hash-exact check, not a weaker rows-only one.

Spark implementation — two algorithms behind one API:

- ``algorithm="star"`` (default, the 100 TB path): alternating
  large-star/small-star contraction (Kiveris et al., "Connected
  Components in MapReduce and Beyond"). Each round rewires edges toward
  per-neighborhood minima, so component radii shrink geometrically —
  convergence in O(log n) rounds regardless of diameter, where min-label
  propagation needs O(diameter) rounds (a 1M-node chain: ~20 rounds vs
  ~1M). Each round is two tiny groupBy shuffles over the *edge* list —
  near-dup pairs, ~0.1% of corpus size — so the loop cost stays dominated
  by the one LSH pass that produced the pairs.
- ``algorithm="label"`` (small-graph fast path): min-label propagation to
  fixpoint, O(diameter) rounds. For near-dup clusters the diameter is
  tiny (pairs/triangles/short chains), so it converges in 2-3 rounds and
  skips the edge-reorientation work.

Both truncate lineage per round with materialize() so plans don't grow
exponentially, and both stop on the first round with no change.

Output: every document with its canonical id and a keep/drop flag —
singletons are their own canonical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.materialize import materialize
from ..registry import register
from .minhash import lsh_pairs, pairs_oracle_sql

MAX_ITER = 20

_CC_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {pairs_oracle_sql("documents")}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.node = e.src
)
SELECT node AS doc_id,
       min(lbl) AS canonical_id,
       min(lbl) = node AS is_canonical
FROM walk
GROUP BY node
"""


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set, oriented (small, large), self-loops dropped."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}). Symmetric neighborhoods; one groupBy shuffle."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nbh = sym.groupBy("src").agg(
        F.collect_set("dst").alias("nbrs"), F.min("dst").alias("min_nb")
    )
    m = F.least(F.col("src"), F.col("min_nb"))
    return (
        nbh.select(m.alias("m"), F.col("src").alias("u"), F.explode("nbrs").alias("v"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("m").alias("src"), F.col("v").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small; for each node u connect all its smaller
    neighbors (and u itself) to the neighborhood minimum."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).filter(F.col("u") != F.col("v"))
    nbh = oriented.groupBy("u").agg(
        F.collect_set("v").alias("nbrs"), F.min("v").alias("m")
    )
    to_min = nbh.select(
        F.col("m").alias("src"),
        F.explode(F.array_union("nbrs", F.array("u"))).alias("dst"),
    )
    return to_min


def star_contraction(edges: DataFrame, max_iter: int = MAX_ITER):
    """Alternate large-star/small-star until the edge set is stable.

    Returns ``(star_edges, rounds)`` where star_edges is the converged
    (src=component min, dst=member) star forest over every non-isolated
    node. O(log n) rounds (Kiveris et al. thm 3.2); each round is two
    groupBy shuffles over the edge list only.
    """
    cur = materialize(_canonical(edges))
    for rounds in range(1, max_iter + 1):
        nxt = materialize(_canonical(_small_star(_large_star(cur))))
        # distinct sets are equal iff their full outer join has no
        # one-sided row — ONE action per round where the former
        # (count, subtract().count()) spelling paid two jobs and an
        # extra shuffle on every iteration (r12)
        diff = (
            nxt.withColumn("_n", F.lit(1))
            .join(cur.withColumn("_c", F.lit(1)), ["src", "dst"], "full_outer")
            .filter(F.col("_n").isNull() | F.col("_c").isNull())
            .count()
        )
        cur = nxt
        if diff == 0:
            break
    return cur, rounds


def connected_components(
    nodes: DataFrame, edges: DataFrame, algorithm: str = "star"
) -> DataFrame:
    """Connected-component labels: (id, label), label = min id of the
    component.

    nodes: one column ``id``; edges: ``src``/``dst`` (any orientation).
    ``algorithm="star"`` is the O(log n)-round scale path;
    ``algorithm="label"`` is the O(diameter) small-graph fast path.
    """
    if algorithm == "star":
        star, _ = star_contraction(edges)
        # converged star edges are (component_min, member); every
        # non-isolated node appears as a dst of exactly its root
        member_lbl = star.groupBy("dst").agg(F.min("src").alias("nb_label"))
        return nodes.join(
            member_lbl, nodes["id"] == member_lbl["dst"], "left"
        ).select(
            "id",
            F.least(F.col("id"), F.coalesce(F.col("nb_label"), F.col("id"))).alias(
                "label"
            ),
        )
    if algorithm != "label":
        raise ValueError(f"unknown algorithm {algorithm!r} (use 'star' or 'label')")
    # materialize the (tiny) symmetrized edge list once — every round
    # joins against it, and without this the full upstream pipeline that
    # produced the pairs (LSH candidate gen + verification) would re-run
    # per iteration
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    sym = materialize(sym)
    labels = materialize(nodes.select("id", F.col("id").alias("label")))
    for _ in range(MAX_ITER):
        nb_min = (
            sym.join(labels, sym["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("label").alias("nb_label"))
        )
        new_labels = materialize(
            labels.join(nb_min, labels["id"] == nb_min["dst"], "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))).alias(
                    "new_label"
                ),
                "label",
            )
        )
        changed = new_labels.filter(F.col("new_label") != F.col("label")).count()
        labels = new_labels.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return labels


_CLUSTER_STATS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {pairs_oracle_sql("documents")}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.node = e.src
), labels AS (
  SELECT node, min(lbl) AS canonical_id FROM walk GROUP BY node
), sizes AS (
  SELECT canonical_id, count(*) AS cluster_size FROM labels GROUP BY canonical_id
)
SELECT cluster_size,
       count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_dropped
FROM sizes
GROUP BY cluster_size
"""


@register("dup_cluster_stats", oracle=_CLUSTER_STATS_ORACLE)
def dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution — the dedup decision summary a
    pipeline reports (how many docs survive, how many drop, how big the
    worst cluster is). One extra tiny groupBy over dedup_components."""
    labels = dedup_components(spark, sf_dir)
    sizes = labels.groupBy("canonical_id").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).cast("bigint").alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count("*")).cast("bigint").alias("n_dropped"),
    )


@register("dedup_components", oracle=_CC_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_pairs(docs.select("doc_id", "text"))
    labels = connected_components(
        docs.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
    )
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("canonical_id"),
        (F.col("label") == F.col("id")).alias("is_canonical"),
    )
