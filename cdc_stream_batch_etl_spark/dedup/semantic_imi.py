"""Semantic dedup with a two-level (IMI) coarse quantizer.

The flat quantizer in dedup/semantic.py assigns each vector to the
nearest of K ∝ √N stride-sampled centroids — N·√N = N^1.5 assignment
work, the dominant term the ×8 probe measures (exponent ~0.74 with
fixed overheads still masking part of it). The inverted multi-index
(Babenko & Lempitsky 2012, "The Inverted Multi-Index") replaces the
flat codebook with the PRODUCT of two half-space codebooks: split each
embedding into lo/hi halves, quantize each half against its own
K' ∝ N^(1/4) reservoir, and use the PAIR (cell_lo, cell_hi) as the
cluster id. Cell count is K'² ≈ √N — the same partitioning granularity
as the flat quantizer — but assignment work drops to 2·N·N^(1/4) =
O(N^1.25), because each half-assignment scans only N^(1/4) centroids.

Everything else is the semantic.py plan unchanged: broadcast the (tiny)
half-codebooks against one corpus scan, argmax-dot per half with the
(d, cid) struct-max tie convention, rank inside the checkpoint, in-cell
pairs only, MAX_CELL fail-open cap, smallest-vec_id survivor.

Trade vs the flat quantizer: product cells are axis-aligned in the
half-space metric, so cell boundaries are less faithful to full-space
cosine neighborhoods — a near-dup pair can straddle cells whose halves
disagree. That is the standard IMI recall trade; SemDeDup's own
clustering is approximate too (k-means), so the operator family offers
both and the ×8 probe decides which one the 100 TB path uses
(SCALING.md records the decision).

Reference anchor: beyond-reference (the reference has no vector ops);
completes the scale ladder of similarity/ivf.py (flat IVF) the same way
ann_pq_topk completes ann_cosine_topk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.materialize import materialize
from ..registry import register
from ..similarity.linalg import CENTROID_STRIDE
from ..similarity.linalg import dot as _dot
from .semantic import MAX_CELL, SEM_THRESHOLD

_DOT = "list_dot_product({a}, {b})"
_COS = (
    "list_dot_product(a.emb, b.emb) / "
    "(sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))"
)

#: stride ∝ N^(3/4) ⇒ K' ∝ N^(1/4) centroids per half-codebook
_IMI_STRIDE_SQL = (
    f"(SELECT greatest({CENTROID_STRIDE}, "
    f"CAST(ceil(pow(count(*), 0.75)) AS BIGINT)) FROM e)"
)

_IMI_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), halves AS (
  SELECT vec_id, emb,
         emb[1:CAST(floor(len(emb) / 2) AS BIGINT)] AS lo,
         emb[CAST(floor(len(emb) / 2) AS BIGINT) + 1:len(emb)] AS hi
  FROM e
), cent AS (
  SELECT vec_id AS cid, lo AS clo, hi AS chi FROM halves
  WHERE vec_id % {_IMI_STRIDE_SQL} = 0
), assign AS (
  SELECT vec_id, emb,
         (max(struct_pack(d := {_DOT.format(a="lo", b="clo")}, cid := cid))).cid AS cell_lo,
         (max(struct_pack(d := {_DOT.format(a="hi", b="chi")}, cid := cid))).cid AS cell_hi
  FROM halves CROSS JOIN cent
  GROUP BY vec_id, emb
), capped AS (
  SELECT vec_id, emb, cell_lo, cell_hi,
         row_number() OVER (PARTITION BY cell_lo, cell_hi ORDER BY vec_id) AS rk
  FROM assign
), pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM capped a
  JOIN capped b ON a.cell_lo = b.cell_lo AND a.cell_hi = b.cell_hi
              AND a.vec_id < b.vec_id
  WHERE a.rk <= {MAX_CELL} AND b.rk <= {MAX_CELL}
    AND {_COS} >= {SEM_THRESHOLD}
), removed AS (
  SELECT DISTINCT vb FROM pairs
)
SELECT a.vec_id,
       CAST(a.cell_lo AS BIGINT) AS cell_lo,
       CAST(a.cell_hi AS BIGINT) AS cell_hi,
       r.vb IS NULL AS kept
FROM assign a LEFT JOIN removed r ON a.vec_id = r.vb
"""


def _imi_centroids(halves: DataFrame) -> DataFrame:
    """(cid, clo, chi) — one N^(3/4)-stride reservoir supplying BOTH
    half-codebooks (same 1-row-broadcast stride idiom as linalg.centroids)."""
    stride = halves.agg(
        F.greatest(
            F.lit(CENTROID_STRIDE), F.ceil(F.pow(F.count("*"), F.lit(0.75)))
        )
        .cast("bigint")
        .alias("stride")
    )
    return (
        halves.crossJoin(F.broadcast(stride))
        .filter(F.col("vec_id") % F.col("stride") == 0)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("lo").alias("clo"),
            F.col("hi").alias("chi"),
        )
    )


@register("semantic_dedup_imi", oracle=_IMI_ORACLE)
def semantic_dedup_imi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup with the product-quantizer cell assignment: every
    vector annotated with its (cell_lo, cell_hi) IMI cell and whether
    in-cell cosine dedup keeps it (smallest vec_id survives)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d2 = F.floor(F.size("emb") / 2).cast("int")
    halves = (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .withColumn("lo", F.slice("emb", F.lit(1), d2))
        .withColumn("hi", F.slice("emb", d2 + 1, F.size("emb") - d2))
        .withColumn("nrm", F.sqrt(_dot("emb", "emb")))
    )
    cent = _imi_centroids(halves.select("vec_id", "lo", "hi"))

    assign = materialize(
        halves.crossJoin(F.broadcast(cent))
        .withColumn("dlo", _dot("lo", "clo"))
        .withColumn("dhi", _dot("hi", "chi"))
        .groupBy("vec_id", "emb", "nrm")
        .agg(
            F.max(F.struct(F.col("dlo").alias("d"), F.col("cid"))).alias("tlo"),
            F.max(F.struct(F.col("dhi").alias("d"), F.col("cid"))).alias("thi"),
        )
        .select(
            "vec_id",
            "emb",
            "nrm",
            F.col("tlo.cid").alias("cell_lo"),
            F.col("thi.cid").alias("cell_hi"),
        )
        # rank inside the checkpoint — semantic.py's measured-4× rule
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("cell_lo", "cell_hi").orderBy("vec_id")
            ),
        ),
        eager=False,
    )

    capped = assign.filter(F.col("rk") <= MAX_CELL)
    a, b = capped.alias("a"), capped.alias("b")
    cos = _dot("a.emb", "b.emb") / (F.col("a.nrm") * F.col("b.nrm"))
    removed = (
        a.join(
            b,
            (F.col("a.cell_lo") == F.col("b.cell_lo"))
            & (F.col("a.cell_hi") == F.col("b.cell_hi"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= SEM_THRESHOLD)
        .select(F.col("b.vec_id").alias("vb"))
        .distinct()
    )

    return assign.join(removed, assign["vec_id"] == removed["vb"], "left").select(
        "vec_id",
        F.col("cell_lo").cast("bigint").alias("cell_lo"),
        F.col("cell_hi").cast("bigint").alias("cell_hi"),
        F.col("vb").isNull().alias("kept"),
    )
