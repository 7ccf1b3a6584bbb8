"""Span-level (substring) exact deduplication — beyond-reference.

Document-level dedup (dedup/exact.py, dedup/minhash.py) misses the
dominant duplication mode in web-scale training corpora: *partial*
overlap — boilerplate paragraphs, quoted passages, templated sections —
inside otherwise-distinct documents. The standard remedy (Lee et al.
2022, "Deduplicating Training Data Makes Language Models Better") finds
exact repeated token spans of a fixed length across the corpus. The
paper's single-machine tool is a suffix array; the distributed
re-expression is positional n-gram fingerprinting:

    doc → positional N-word spans (scan-local array expr + one explode)
      → 60-bit md5 span hash (engine-neutral, see dedup/__init__.py)
      → groupBy(hash): spans seen in ≥2 distinct docs   [shuffle 1]
      → join back to positions, co-partitioned on hash  [reuses shuffle 1]
      → per-doc union of covered token positions        [shuffle 2]

Scale notes (100 TB):
- The positional explode is corpus_tokens × 1 rows — the same mass a
  suffix array indexes, but embarrassingly parallel and with map-side
  partial aggregation on the span hash. Shuffle rows carry the 8-byte
  hash + doc_id + int pos, never the span text.
- `duplicate_spans` groups by the HASH and keeps `min(ngram)` as the
  human-readable example, so the wide string column never becomes the
  shuffle key.
- The dup-span join keys both sides on the hash the aggregation just
  shuffled on — AQE/Catalyst reuses the exchange rather than
  re-partitioning; the dup side is also a candidate for broadcast when
  the duplicated-span set is small relative to the corpus.
- Coverage counts DISTINCT covered token indices (overlapping spans do
  not double-count), so the ratio is a true fraction of the document.

The N_SPAN=8 window is the paper's 50-token idea scaled to this
corpus's ~50-word synthetic documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.materialize import materialize
from ..functions.parallelism import fan_out
from ..registry import register
from ..dedup import hash64_expr, hash64_sql

N_SPAN = 8


def _pos_ngrams(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, pos, ngram) — positional N-word spans, built
    scan-local (one array expression) then exploded once; posexplode
    supplies the 0-based span position. The gram array is a zip_with
    fold over shifted slices (linear; see dedup.ngram_fold_sql for why
    the transform(sequence) spelling is quadratic)."""
    from ..dedup import ngram_fold_sql

    return (
        fan_out(docs).select("doc_id", F.split("text", " ").alias("words"))
        .select(
            "doc_id",
            F.size("words").alias("n_words"),
            F.expr(ngram_fold_sql("words", N_SPAN)).alias("pn"),
        )
        .select("doc_id", "n_words", F.posexplode("pn").alias("pos", "ngram"))
    )


# DuckDB spelling of the same positional spans (1-based slice is
# inclusive on both ends: words[p+1 : p+N] is exactly N words).
_PNG_SQL = f"""
  SELECT doc_id, len(words) AS n_words,
         unnest(range(greatest(len(words) - {N_SPAN} + 1, 0))) AS pos, words
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
"""

_G_SQL = f"""
  SELECT doc_id, n_words, pos,
         array_to_string(words[pos + 1 : pos + {N_SPAN}], ' ') AS ngram
  FROM ({_PNG_SQL})
"""


_DUP_SPANS_ORACLE = f"""
SELECT {hash64_sql("ngram")} AS span_hash,
       min(ngram) AS example,
       count(*) AS n_occ,
       count(DISTINCT doc_id) AS n_docs
FROM ({_G_SQL})
GROUP BY 1
HAVING count(DISTINCT doc_id) >= 2
"""


@register("duplicate_spans", oracle=_DUP_SPANS_ORACLE)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact N-word spans occurring in ≥2 distinct documents, keyed by the
    60-bit span hash (the shuffle key at scale); min(ngram) rides along as
    the example so the report stays human-readable."""
    png = _pos_ngrams(load_table(spark, sf_dir, "documents"))
    return (
        png.groupBy(F.expr(hash64_expr("ngram")).alias("span_hash"))
        .agg(
            F.min("ngram").alias("example"),
            F.count("*").alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )


_COVERAGE_ORACLE = f"""
WITH g AS ({_G_SQL}),
dup AS (
  SELECT {hash64_sql("ngram")} AS h
  FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT g.doc_id, unnest(range(g.pos, g.pos + {N_SPAN})) AS tp
  FROM g JOIN dup ON {hash64_sql("g.ngram")} = dup.h
),
cov AS (
  SELECT doc_id, count(DISTINCT tp) AS covered_tokens FROM hits GROUP BY doc_id
)
SELECT d.doc_id,
       len(string_split(d.text, ' ')) AS n_words,
       coalesce(cov.covered_tokens, 0) AS covered_tokens,
       coalesce(cov.covered_tokens, 0) / len(string_split(d.text, ' ')) AS coverage
FROM documents d LEFT JOIN cov ON d.doc_id = cov.doc_id
"""


@register("span_dedup_coverage", oracle=_COVERAGE_ORACLE)
def span_dedup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of token positions covered by some span that
    also appears in another document — the quantity Lee et al. threshold
    to drop or trim partially-duplicated documents. Overlapping spans are
    unioned (count DISTINCT positions), so coverage ∈ [0, 1]."""
    docs = load_table(spark, sf_dir, "documents")
    # the hashed positional-span table feeds BOTH the dup aggregation and
    # the position join; a lazy materialize() computes it once at
    # the first action instead of re-hashing the corpus for the second
    # consumer (components.py precedent; blocks are GC-cleaned with the
    # plan). At cluster scale this trades one corpus re-scan for local
    # block storage of (doc_id, pos, h) — 20 B/span, far smaller than the
    # text it derives from.
    png = materialize(
        _pos_ngrams(docs)
        .withColumn("h", F.expr(hash64_expr("ngram")))
        .select("doc_id", "n_words", "pos", "h"),
        eager=False,
    )
    dup = (
        png.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    cov = (
        png.join(dup, "h")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + N_SPAN - 1)).alias("tp"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("tp").alias("covered_tokens"))
    )
    base = docs.select("doc_id", F.size(F.split("text", " ")).alias("n_words"))
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        (F.coalesce("covered_tokens", F.lit(0)) / F.col("n_words")).alias("coverage"),
    )
