"""Embedding outlier detection — corrupt-vector screening for the
training-data pipeline.

A large embedding corpus always contains damaged rows (zeroed vectors,
wrong-model embeddings, float corruption in transit); downstream ANN and
clustering silently degrade unless they are screened out. Standard
recipe: distance of each vector to its cluster centroid, z-scored
WITHIN the cluster (global z-scores would flag whole small clusters, not
broken vectors).

Beyond-reference. Deterministic to the driver's atol=0 oracle:
- cells come from the shared adaptive √N centroid reservoir
  (similarity/linalg.py — same assignment convention as semantic_dedup);
- per-vector distance is the index-ordered squared-L2 fold;
- per-cell mean and variance use SORTED folds of d and d² (the
  kmeans/centroids sorted-fold idiom: list_sort fixes the float
  summation order in both engines; var = E[d²] − E[d]², identical IEEE
  ops both sides);
- z-score guards the 1-member/zero-variance cell with a CASE.

Known blind spot, by construction: corrupt vectors that are ALSO far
from every centroid in the same way (e.g. all-zero rows) tie in
assignment, collapse into one tiny cell together, and z-score as normal
within it. That is why ``n_cell`` rides along in the output — the
standard companion guard is "flag z > threshold OR n_cell < floor", and
the caller owns the floor (it is corpus-shape-dependent).

Scale shape: one broadcast assignment scan (N×K, K ∝ √N), one
(cell)-keyed agg of 3 scalars with map-side combine, one broadcast-able
join of the tiny per-cell stats back onto the corpus. No quadratic
stage anywhere — this is the cheap screen that runs BEFORE the pair-
generating dedup operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.materialize import materialize
from ..registry import register
from ..similarity.linalg import adaptive_stride_sql, centroids
from ..similarity.linalg import dot as _dot

Z_THRESHOLD = 2.0

_DOT = "list_dot_product({a}, {b})"

_OUTLIERS_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), cent AS (
  SELECT vec_id AS cid, emb AS cemb FROM e
  WHERE vec_id % {adaptive_stride_sql("e")} = 0
), assign AS (
  SELECT vec_id,
         (max(struct_pack(d := {_DOT.format(a="emb", b="cemb")}, cid := cid))).cid AS cell,
         (max(struct_pack(d := {_DOT.format(a="emb", b="cemb")}, cid := cid))).d AS best_dot,
         {_DOT.format(a="emb", b="emb")} AS self_dot
  FROM e CROSS JOIN cent
  GROUP BY vec_id, emb
), dist AS (
  SELECT a.vec_id, a.cell,
         a.self_dot - 2 * a.best_dot + {_DOT.format(a="c.cemb", b="c.cemb")} AS d2
  FROM assign a JOIN cent c ON a.cell = c.cid
), stats AS (
  SELECT cell,
         count(*) AS n_cell,
         list_reduce(list_sort(list(d2)), (x, y) -> x + y) / count(*) AS mean_d2,
         list_reduce(list_sort(list(d2 * d2)), (x, y) -> x + y) / count(*) AS mean_d4
  FROM dist GROUP BY cell
)
SELECT d.vec_id,
       CAST(d.cell AS BIGINT) AS cell,
       s.n_cell,
       round(d.d2, 6) AS d2_r,
       CASE WHEN s.mean_d4 - s.mean_d2 * s.mean_d2 > 0
            THEN round((d.d2 - s.mean_d2) / sqrt(s.mean_d4 - s.mean_d2 * s.mean_d2), 6)
            ELSE 0.0 END AS z_r,
       CASE WHEN s.mean_d4 - s.mean_d2 * s.mean_d2 > 0
            THEN (d.d2 - s.mean_d2) / sqrt(s.mean_d4 - s.mean_d2 * s.mean_d2) > {Z_THRESHOLD}
            ELSE FALSE END AS is_outlier
FROM dist d JOIN stats s USING (cell)
"""


@register("embedding_outliers", oracle=_OUTLIERS_ORACLE)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector squared-L2 to its cell centroid, z-scored within the
    cell; is_outlier flags the broken-vector tail a curation pipeline
    drops before dedup/ANN."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    cent = centroids(e)

    assign = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("d", _dot("emb", "cemb"))
        .withColumn("self_dot", _dot("emb", "emb"))
        .groupBy("vec_id", "emb", "self_dot")
        .agg(F.max(F.struct(F.col("d"), F.col("cid"))).alias("top"))
        .select(
            "vec_id",
            "self_dot",
            F.col("top.cid").alias("cell"),
            F.col("top.d").alias("best_dot"),
        )
    )
    dist = materialize(
        assign.join(F.broadcast(cent), assign["cell"] == cent["cid"])
        .withColumn("d2", F.col("self_dot") - 2 * F.col("best_dot") + _dot("cemb", "cemb"))
        .select("vec_id", "cell", "d2"),
        # feeds the per-cell stats agg AND the final join back
        eager=False,
    )
    folded_d2 = F.aggregate(F.sort_array(F.collect_list("d2")), F.lit(0.0), lambda a, x: a + x)
    folded_d4 = F.aggregate(
        F.sort_array(F.collect_list(F.col("d2") * F.col("d2"))), F.lit(0.0), lambda a, x: a + x
    )
    stats = dist.groupBy("cell").agg(
        F.count("*").alias("n_cell"),
        (folded_d2 / F.count("*")).alias("mean_d2"),
        (folded_d4 / F.count("*")).alias("mean_d4"),
    )
    var = F.col("mean_d4") - F.col("mean_d2") * F.col("mean_d2")
    z = (F.col("d2") - F.col("mean_d2")) / F.sqrt(var)
    return (
        dist.join(F.broadcast(stats), "cell")
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            "n_cell",
            F.round("d2", 6).alias("d2_r"),
            F.when(var > 0, F.round(z, 6)).otherwise(F.lit(0.0)).alias("z_r"),
            F.when(var > 0, z > Z_THRESHOLD).otherwise(F.lit(False)).alias("is_outlier"),
        )
    )
