"""Fellegi-Sunter record-linkage weights: per-field m/u agreement
probabilities estimated from labeled pair sets (beyond-reference,
SURVEY §2.11 entity-resolution family next to blocking_efficiency_report
/ dedup_ledger: blocking decides WHICH pairs to compare; Fellegi-Sunter
(JASA 1969) decides HOW MUCH each field agreement is worth — the
m-probability P(field agrees | match) over u-probability
P(field agrees | non-match) ratio that classic linkers threshold on).

Semantics, on documents:
  match pairs   — within-group pairs of the 8-word-prefix near-dup
                  groups (dedup_prefix's digest, dedup/exact.py:35 —
                  the cheap high-precision match label available
                  without training data), doc_id_a < doc_id_b;
  non-match     — a deterministic pseudo-random pairing: docs are
                  bucketed by the 60-bit md5 device mod {N_BUCKETS}
                  (text/sampling.py's split arithmetic), ordered by
                  (md5-60bit, doc_id) within the bucket, and adjacent
                  rows paired; pairs that accidentally share the match
                  digest are excluded from the u-estimate;
  fields        — lang, source, len_bucket = n_chars // 100,
                  tok_bucket = n_tokens // 10.

Output: one row per field with the pair counts, agreement counts,
m_rate, u_rate (exact int/int -> double divisions) and
weight_ratio = m_rate/u_rate (NULL when u_rate = 0) — the ln-free
monotone equivalent of the classic log2 agreement weight (the repo
convention: no libm transcendentals in exported values).

Scale: the match leg is the exact-dedup shuffle (digest hash-agg /
self-join on uniform digests, group sizes bounded by the near-dup
cluster cap); the non-match leg's pairing window is PARTITIONED by the
md5 bucket — per-bucket sort of n/{N_BUCKETS} rows, embarrassingly
parallel, never a global sort. Both legs reduce to two 1-row agg
frames; the report is a constant 4-row stack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register

N_BUCKETS = 16

_H60 = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"

_FS_ORACLE = f"""
WITH feat AS (
  SELECT doc_id,
         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS digest,
         lang, source,
         n_chars // 100 AS len_bucket,
         len(string_split(text, ' ')) // 10 AS tok_bucket,
         {_H60} AS h60,
         {_H60} % {N_BUCKETS} AS bucket
  FROM documents
),
mpairs AS (
  SELECT a.lang = b.lang AS ag_lang,
         a.source = b.source AS ag_source,
         a.len_bucket = b.len_bucket AS ag_len,
         a.tok_bucket = b.tok_bucket AS ag_tok
  FROM feat a JOIN feat b
    ON a.digest = b.digest AND a.doc_id < b.doc_id
),
ranked AS (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY bucket ORDER BY h60, doc_id)
              - 1 AS BIGINT) // 2 AS pair_id
  FROM feat
),
upairs AS (
  SELECT a.lang = b.lang AS ag_lang,
         a.source = b.source AS ag_source,
         a.len_bucket = b.len_bucket AS ag_len,
         a.tok_bucket = b.tok_bucket AS ag_tok
  FROM ranked a JOIN ranked b
    ON a.bucket = b.bucket AND a.pair_id = b.pair_id
   AND a.doc_id < b.doc_id
  WHERE a.digest <> b.digest
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_match,
         CAST(sum(CASE WHEN ag_lang THEN 1 ELSE 0 END) AS BIGINT) AS m_lang,
         CAST(sum(CASE WHEN ag_source THEN 1 ELSE 0 END) AS BIGINT) AS m_source,
         CAST(sum(CASE WHEN ag_len THEN 1 ELSE 0 END) AS BIGINT) AS m_len,
         CAST(sum(CASE WHEN ag_tok THEN 1 ELSE 0 END) AS BIGINT) AS m_tok
  FROM mpairs
),
u AS (
  SELECT CAST(count(*) AS BIGINT) AS n_unmatch,
         CAST(sum(CASE WHEN ag_lang THEN 1 ELSE 0 END) AS BIGINT) AS u_lang,
         CAST(sum(CASE WHEN ag_source THEN 1 ELSE 0 END) AS BIGINT) AS u_source,
         CAST(sum(CASE WHEN ag_len THEN 1 ELSE 0 END) AS BIGINT) AS u_len,
         CAST(sum(CASE WHEN ag_tok THEN 1 ELSE 0 END) AS BIGINT) AS u_tok
  FROM upairs
),
rows_out AS (
  SELECT 'lang' AS field, n_match, n_unmatch, m_lang AS m_agree,
         u_lang AS u_agree FROM m CROSS JOIN u
  UNION ALL
  SELECT 'source', n_match, n_unmatch, m_source, u_source FROM m CROSS JOIN u
  UNION ALL
  SELECT 'len_bucket', n_match, n_unmatch, m_len, u_len FROM m CROSS JOIN u
  UNION ALL
  SELECT 'tok_bucket', n_match, n_unmatch, m_tok, u_tok FROM m CROSS JOIN u
)
SELECT field, n_match AS n_match_pairs, n_unmatch AS n_unmatch_pairs,
       m_agree, u_agree,
       CASE WHEN n_match > 0
            THEN CAST(m_agree AS DOUBLE) / n_match END AS m_rate,
       CASE WHEN n_unmatch > 0
            THEN CAST(u_agree AS DOUBLE) / n_unmatch END AS u_rate,
       CASE WHEN n_match > 0 AND n_unmatch > 0 AND u_agree > 0
            THEN (CAST(m_agree AS DOUBLE) / n_match)
                 / (CAST(u_agree AS DOUBLE) / n_unmatch) END AS weight_ratio
FROM rows_out
ORDER BY field
"""


def _h60(col: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )


@register("fellegi_sunter_weights", oracle=_FS_ORACLE)
def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 rows (one per comparison field): m/u agreement counts and
    rates from prefix-dup match pairs vs md5-paired random pairs."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8), " ")
    feat = docs.select(
        "doc_id",
        F.md5(prefix).alias("digest"),
        "lang",
        "source",
        F.expr("n_chars div 100").alias("len_bucket"),
        F.expr("size(split(text, ' ')) div 10")
        .cast("bigint")
        .alias("tok_bucket"),
        _h60(F.col("doc_id")).alias("h60"),
        (_h60(F.col("doc_id")) % N_BUCKETS).alias("bucket"),
    )

    _agreements = [
        (F.col("a.lang") == F.col("b.lang")).alias("ag_lang"),
        (F.col("a.source") == F.col("b.source")).alias("ag_source"),
        (F.col("a.len_bucket") == F.col("b.len_bucket")).alias("ag_len"),
        (F.col("a.tok_bucket") == F.col("b.tok_bucket")).alias("ag_tok"),
    ]

    fa, fb = feat.alias("a"), feat.alias("b")
    mpairs = fa.join(
        fb,
        (F.col("a.digest") == F.col("b.digest"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(*_agreements)

    ranked = feat.withColumn(
        "pair_id",
        F.expr(
            "CAST(row_number() OVER "
            "(PARTITION BY bucket ORDER BY h60, doc_id) - 1 AS BIGINT) div 2"
        ),
    )
    ra, rb = ranked.alias("a"), ranked.alias("b")
    upairs = (
        ra.join(
            rb,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.pair_id") == F.col("b.pair_id"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.digest") != F.col("b.digest"))
        .select(*_agreements)
    )

    def fold(df, prefix_name, count_name):
        aggs = [F.count("*").cast("bigint").alias(count_name)]
        for short, col in (
            ("lang", "ag_lang"),
            ("source", "ag_source"),
            ("len", "ag_len"),
            ("tok", "ag_tok"),
        ):
            aggs.append(
                F.sum(F.when(F.col(col), 1).otherwise(0))
                .cast("bigint")
                .alias(f"{prefix_name}_{short}")
            )
        return df.agg(*aggs)

    m = fold(mpairs, "m", "n_match")
    u = fold(upairs, "u", "n_unmatch")
    one = m.join(F.broadcast(u))
    stacked = one.selectExpr(
        "stack(4, "
        "'lang', m_lang, u_lang, "
        "'len_bucket', m_len, u_len, "
        "'source', m_source, u_source, "
        "'tok_bucket', m_tok, u_tok"
        ") AS (field, m_agree, u_agree)",
        "n_match",
        "n_unmatch",
    )
    m_rate = F.when(
        F.col("n_match") > 0, F.col("m_agree").cast("double") / F.col("n_match")
    )
    u_rate = F.when(
        F.col("n_unmatch") > 0,
        F.col("u_agree").cast("double") / F.col("n_unmatch"),
    )
    return stacked.select(
        "field",
        F.col("n_match").alias("n_match_pairs"),
        F.col("n_unmatch").alias("n_unmatch_pairs"),
        "m_agree",
        "u_agree",
        m_rate.alias("m_rate"),
        u_rate.alias("u_rate"),
        F.when(
            (F.col("n_match") > 0)
            & (F.col("n_unmatch") > 0)
            & (F.col("u_agree") > 0),
            (F.col("m_agree").cast("double") / F.col("n_match"))
            / (F.col("u_agree").cast("double") / F.col("n_unmatch")),
        ).alias("weight_ratio"),
    ).orderBy("field")
