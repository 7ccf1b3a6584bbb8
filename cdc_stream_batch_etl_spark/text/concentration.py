"""Lexical concentration profile per source — Simpson, Shannon,
effective vocabulary, head mass (beyond-reference, SURVEY §2.11 corpus-
science family next to lexical_stats / zipf_law_fit: TTR and the Zipf
exponent describe vocabulary SIZE and tail SHAPE; concentration indices
describe how hard the distribution leans on its head — the number a
contamination/boilerplate review reads first, because a source whose
tokens are 80 % ten words is template spam however large its
vocabulary).

Per source, over the single-space word distribution:
  - simpson       = sum n_i*(n_i-1) / (N*(N-1)) — the probability two
                    tokens drawn without replacement are the same word
                    (exact integer ratio, no FP until the one division)
  - inv_simpson   = 1/simpson — the "effective number of words" under
                    the Simpson lens
  - shannon_nats  = -sum p_i ln p_i, folded in explicit word order
                    (the centroids idiom; ln differs across engines in
                    the last ulp), exported rounded to 9 decimals
  - effective_vocab = exp(shannon) — perplexity of the unigram model
  - top10_share   = head mass of the 10 most frequent words, ranked by
                    (count desc, word) — an exact integer ratio

Scale: the two-stage wordcount plan (explode -> map-side partial ->
(source, word) shuffle) shared with lexical_stats; everything after
runs on the per-source type frames. The entropy fold collects one
array per source — bounded by that source's vocabulary, the same
bound every TF-IDF/postings stage in text/ already carries.

Exactness: counts are bigint; simpson's numerator accumulates in
decimal(38,0)/HUGEINT (sum n_i^2 reaches N^2); only ln/exp are FP and
both fold in explicit order and export 9-rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register

TOP_HEAD = 10

_CONC_ORACLE = f"""
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS word
  FROM documents
),
wc AS (
  SELECT source, word, count(*) AS cnt FROM w GROUP BY 1, 2
),
tot AS (
  SELECT source, sum(cnt) AS n, count(*) AS n_types FROM wc GROUP BY 1
),
ranked AS (
  SELECT wc.source, wc.word, wc.cnt, t.n, t.n_types,
         (CAST(wc.cnt AS DOUBLE) / t.n) AS p,
         row_number() OVER (PARTITION BY wc.source
                            ORDER BY wc.cnt DESC, wc.word) AS rnk
  FROM wc JOIN tot t ON wc.source = t.source
)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_tokens,
       CAST(max(n_types) AS BIGINT) AS n_types,
       CAST(sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS DOUBLE)
         / (CAST(max(n) AS DOUBLE) * (max(n) - 1)) AS simpson,
       (CAST(max(n) AS DOUBLE) * (max(n) - 1))
         / CAST(sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS DOUBLE)
         AS inv_simpson,
       round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(p * ln(p) ORDER BY word)), (a, b) -> a + b), 9)
         AS shannon_nats,
       round(exp(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(p * ln(p) ORDER BY word)), (a, b) -> a + b)), 9)
         AS effective_vocab,
       CAST(sum(CASE WHEN rnk <= {TOP_HEAD} THEN cnt ELSE 0 END) AS DOUBLE)
         / max(n) AS top10_share
FROM ranked
GROUP BY source
ORDER BY source
"""


@register("lexical_concentration_report", oracle=_CONC_ORACLE)
def lexical_concentration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, n_types, simpson, inv_simpson, shannon_nats,
    effective_vocab, top10_share) — how head-heavy each source's word
    distribution is."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("source", F.explode(F.split("text", " ")).alias("word"))
    wc = w.groupBy("source", "word").agg(F.count("*").alias("cnt"))
    tot = wc.groupBy("source").agg(
        F.sum("cnt").alias("n"), F.count("*").alias("n_types")
    )
    ranked = wc.join(F.broadcast(tot), "source").select(
        "source",
        "word",
        "cnt",
        "n",
        "n_types",
        (F.col("cnt").cast("double") / F.col("n")).alias("p"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.desc("cnt"), "word"))
        .alias("rnk"),
    )
    ent_fold = F.expr(
        "aggregate(array_sort(collect_list(struct(word, p_term))), 0.0D, "
        "(acc, e) -> acc + e.p_term)"
    )
    terms = ranked.withColumn("p_term", F.col("p") * F.log("p"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        terms.groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.max("n_types").cast("bigint").alias("n_types"),
            (
                F.sum(F.col("cnt").cast("decimal(38,0)") * (F.col("cnt") - 1))
                .cast("double")
                / (F.max("n").cast("double") * (F.max("n") - 1))
            ).alias("simpson"),
            (
                (F.max("n").cast("double") * (F.max("n") - 1))
                / F.sum(
                    F.col("cnt").cast("decimal(38,0)") * (F.col("cnt") - 1)
                ).cast("double")
            ).alias("inv_simpson"),
            F.round(-ent_fold, 9).alias("shannon_nats"),
            F.round(F.exp(-ent_fold), 9).alias("effective_vocab"),
            (
                F.sum(
                    F.when(F.col("rnk") <= TOP_HEAD, F.col("cnt")).otherwise(0)
                ).cast("double")
                / F.max("n")
            ).alias("top10_share"),
        )
        .orderBy("source")
    )
