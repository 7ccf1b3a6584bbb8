"""DSIR-style importance weighting — target-domain data selection.

Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) scores every raw document by how much it resembles a
small TRUSTED target domain, using the ratio of hashed-n-gram language
models p_target/p_raw; the corpus is then resampled by those weights.
Here the target domain is ``source = 'src0'`` (the "curated slice" the
fixture provides) and the features are unigrams with add-one smoothing.

Determinism (driver oracle, atol=0 — the lm.py trade): DSIR's log-ratio
needs ``ln()``, which is not correctly-rounded and diverges between JVM
and C libm in the last ulp. We score with the AVERAGE PROBABILITY RATIO
instead: each token's ratio is two exact integer→double divisions and
one double division (bit-identical in any IEEE engine), and the per-doc
sum folds in POSITION order via the sorted-fold idiom (collect_list →
array_sort → left fold; ``list(r ORDER BY pos)`` + list_reduce in
DuckDB). Ranks the corpus the way the log score would; min/max ratio
ride along as the extreme-token diagnostics.

Plan shape (the DSIR scale story):
  pass 1: one posexplode of the corpus → token table, lazily
          materialized once (it feeds raw counts, target counts,
          and the scoring join — lm.py precedent);
  pass 2: two |vocab|-sized groupBys (map-side combine) + three scalar
          aggregates broadcast via 1-row crossJoin (the tfidf.py
          doc-count pattern);
  pass 3: token table ⋈ vocab-sized model (AQE broadcasts the model
          under threshold; degrades to a shuffle join on `w` for a
          1M+-word vocab) → per-doc sorted fold.
No quadratic stage anywhere; the corpus is shuffled once, on (doc_id)
at the final aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.materialize import materialize
from ..functions.parallelism import fan_out
from ..registry import register

TARGET_SOURCE = "src0"

_IMPORTANCE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, pos, words[pos + 1] AS w
  FROM (
    SELECT doc_id, source, string_split(text, ' ') AS words,
           unnest(range(len(string_split(text, ' ')))) AS pos
    FROM documents
  )
), raw_cnt AS (
  SELECT w, count(*) AS cr FROM toks GROUP BY w
), tgt_cnt AS (
  SELECT w, count(*) AS ct FROM toks WHERE source = '{TARGET_SOURCE}' GROUP BY w
), scalars AS (
  SELECT (SELECT count(*) FROM raw_cnt) AS v,
         (SELECT count(*) FROM toks) AS r_total,
         (SELECT count(*) FROM toks WHERE source = '{TARGET_SOURCE}') AS t_total
), model AS (
  SELECT rc.w,
         (CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) / CAST(s.t_total + s.v AS DOUBLE))
           / (CAST(rc.cr + 1 AS DOUBLE) / CAST(s.r_total + s.v AS DOUBLE)) AS ratio
  FROM raw_cnt rc LEFT JOIN tgt_cnt tc ON rc.w = tc.w CROSS JOIN scalars s
), scored AS (
  SELECT t.doc_id, t.pos, m.ratio FROM toks t JOIN model m ON t.w = m.w
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       list_reduce(list(ratio ORDER BY pos), (a, b) -> a + b) / count(*)
         AS avg_importance,
       min(ratio) AS min_ratio,
       max(ratio) AS max_ratio
FROM scored
GROUP BY doc_id
"""


@register("dsir_importance", oracle=_IMPORTANCE_ORACLE)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document target-domain importance: mean smoothed-unigram
    probability ratio p_target/p_raw, plus the extreme token ratios."""
    docs = load_table(spark, sf_dir, "documents")
    toks = materialize(
        fan_out(docs)
        .select("doc_id", "source", F.posexplode(F.split("text", " ")).alias("pos", "w")),
        eager=False,
    )
    raw_cnt = toks.groupBy("w").agg(F.count("*").alias("cr"))
    tgt_cnt = (
        toks.filter(F.col("source") == TARGET_SOURCE).groupBy("w").agg(F.count("*").alias("ct"))
    )
    scalars = (
        raw_cnt.agg(F.count("*").alias("v"))
        .crossJoin(toks.agg(F.count("*").alias("r_total")))
        .crossJoin(
            toks.filter(F.col("source") == TARGET_SOURCE).agg(F.count("*").alias("t_total"))
        )
    )
    # identical association order to the oracle: (ct+1)/(t_total+v)
    # divided by (cr+1)/(r_total+v) — every step a single IEEE division
    model = (
        raw_cnt.join(tgt_cnt, "w", "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            "w",
            (
                (
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    / (F.col("t_total") + F.col("v")).cast("double")
                )
                / ((F.col("cr") + 1).cast("double") / (F.col("r_total") + F.col("v")).cast("double"))
            ).alias("ratio"),
        )
    )
    scored = toks.join(model, "w").select("doc_id", "pos", "ratio")
    folded = F.aggregate(
        F.expr("transform(array_sort(collect_list(struct(pos, ratio))), s -> s.ratio)"),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        (folded / F.count("*")).alias("avg_importance"),
        F.min("ratio").alias("min_ratio"),
        F.max("ratio").alias("max_ratio"),
    )
