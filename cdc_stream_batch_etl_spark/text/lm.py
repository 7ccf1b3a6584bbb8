"""Corpus bigram language-model scoring — the KenLM-style fluency filter.

Production corpus curation scores every document with a small LM trained
on the corpus itself (or a trusted subset) and drops the tail — the
CCNet/Gopher "perplexity filter". The distributed re-expression needs two
corpus passes:

  pass 1 (train): count bigram transitions C(w1,w2) and prefix mass
          C(w1) over the whole corpus — two groupBys with map-side
          combine, output |vocab|² and |vocab| rows;
  pass 2 (score): join each document's positional bigrams to the model
          and reduce per document.

Determinism (driver oracle, atol=0): the score is the AVERAGE TRANSITION
PROBABILITY sum(P(w2|w1))/n, not log-perplexity — ln() is not a
correctly-rounded IEEE operation and diverges between JVM and C libm in
the last ulp, while each P is an exact-integer division and the sum
folds in POSITION order via the sorted-fold idiom (collect_list(struct)
→ array_sort → left fold; `list(p ORDER BY pos)` + list_reduce in
DuckDB — see similarity/centroids.py for why 0.0-seed and first-element
seed agree bitwise). min P rides along as the max-surprisal signal; both
rank documents the same way a log score would.

Scale: the model tables are |vocab|-sized — broadcast-joined here (AQE
does it under the threshold); with a 1M-word vocabulary the bigram model
is ~10⁹ rows and the join becomes a shuffle join on (w1, w2), which is
exactly what the plan degrades to when broadcast doesn't fit. The
per-doc reduce shuffles (doc_id, pos, p) triples only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.materialize import materialize
from ..functions.parallelism import fan_out
from ..registry import register

_LM_ORACLE = """
WITH big AS (
  SELECT doc_id, pos, words[pos + 1] AS w1, words[pos + 2] AS w2
  FROM (
    SELECT doc_id, words, unnest(range(len(words) - 1)) AS pos
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
  )
), cb AS (
  SELECT w1, w2, count(*) AS cnt FROM big GROUP BY w1, w2
), cp AS (
  SELECT w1, count(*) AS cnt FROM big GROUP BY w1
), scored AS (
  SELECT b.doc_id, b.pos,
         CAST(cb.cnt AS DOUBLE) / cp.cnt AS p
  FROM big b
  JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
  JOIN cp ON b.w1 = cp.w1
)
SELECT doc_id,
       count(*) AS n_bigrams,
       list_reduce(list(p ORDER BY pos), (a, b) -> a + b) / count(*) AS avg_transition_p,
       min(p) AS min_transition_p
FROM scored
GROUP BY doc_id
"""


@register("doc_lm_score", oracle=_LM_ORACLE)
def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under the corpus's own bigram transition
    model: avg P(w_i | w_{i-1}) and the worst single transition. Low
    scorers are the disfluent / boilerplate / wrong-language tail a
    perplexity filter would drop."""
    docs = load_table(spark, sf_dir, "documents")
    # positional bigrams via zip_with over two shifted slices — the inputs
    # are HOF children (evaluated once per row); a transform(sequence)
    # lambda indexing `words` would re-tokenize per element after
    # CollapseProject inlines the split (quadratic — see ngram_fold_sql)
    big = materialize(
        fan_out(docs)
        .select("doc_id", F.split("text", " ").alias("words"))
        .select(
            "doc_id",
            F.expr(
                """
                zip_with(slice(words, 1, greatest(size(words) - 1, 0)),
                         slice(words, 2, greatest(size(words) - 1, 0)),
                         (a, b) -> struct(a AS w1, b AS w2))
                """
            ).alias("bs"),
        )
        .select("doc_id", F.posexplode("bs").alias("pos", "b"))
        .select("doc_id", "pos", "b.w1", "b.w2"),
        # the bigram table feeds the two model aggregations AND the score
        # join; materialize it once instead of re-exploding the corpus
        # three times (spans.py precedent — lazy, GC-cleaned blocks)
        eager=False,
    )
    cb = big.groupBy("w1", "w2").agg(F.count("*").alias("cb_cnt"))
    cp = big.groupBy("w1").agg(F.count("*").alias("cp_cnt"))
    # assemble the model FIRST (vocab-sized join: |bigrams| ⋈ |vocab|),
    # then join the corpus once — the positional bigram table is the big
    # side and must not be shuffled twice; under the broadcast threshold
    # AQE ships the finished model to every task and the corpus is never
    # shuffled at all for scoring
    model = cb.join(cp, ["w1"]).select(
        "w1", "w2", (F.col("cb_cnt").cast("double") / F.col("cp_cnt")).alias("p")
    )
    scored = big.join(model, ["w1", "w2"]).select("doc_id", "pos", "p")
    folded = F.aggregate(
        F.expr("transform(array_sort(collect_list(struct(pos, p))), s -> s.p)"),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        (folded / F.count("*")).alias("avg_transition_p"),
        F.min("p").alias("min_transition_p"),
    )
