"""N-gram language-model scoring (CCNet-style perplexity quality filter).

The classic LLM-corpus quality signal (CCNet / Gopher pipelines): train
an n-gram LM on the corpus (or a clean reference corpus), score every
document by average negative log-likelihood, drop the worst tail.
KenLM plays this role in published pipelines; the Spark-first
re-expression keeps everything in codegen + two shuffles:

- **Training** = two partial-aggregated groupBys (unigram and bigram
  counts).  Token/bigram explosion happens via ``regexp_extract_all`` +
  ``transform(sequence(...))`` — array expressions, no UDFs.
- **Scoring** = explode each document's bigrams once, one equi-join per
  count table (broadcast when small, shuffle otherwise — AQE handles
  the Zipfian head-word skew), then a per-doc average.

At 100 TB the count tables are themselves big data (bigram types scale
~corpus size): they stay distributed, joins are plain equi-joins on the
token keys, and the trained model is a reusable artifact (write the
count DataFrames to a managed table and reuse across scoring runs).

Smoothing: add-k over the observed vocabulary,
``p(w2|w1) = (c(w1 w2) + k) / (c(w1) + k * V)`` — elementary, exact,
and expressible in DuckDB SQL for the oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

WORD_RE = "[a-z]+"


def tokenize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + lowercase word array (codegen regexp, no UDF)."""
    return docs.select(
        "doc_id",
        F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_RE}', 0)").alias(
            "w"
        ),
    )


def perplexity_scores(
    docs: DataFrame, text_col: str = "text", k: float = 0.1
) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus's
    own add-k bigram LM.  Returns (doc_id, n_bigrams, nll); lower nll =
    more typical text.  Documents with < 2 tokens drop out (no bigram
    evidence — CCNet drops them too).

    ONE corpus pass (VERDICT r7 task #7: the old shape tokenized the
    corpus four times — uni branch, big branch, pairs branch, vocab
    count — and the regexp+explode pass dominated at ~0.45 s each on
    sf0.1).  Now a single positional stream carries every token once:
    row (doc_id, w1, w2) per position, w2 NULL at each document's final
    position (the sentinel).  Unigram counts = plain count by w1 over
    the whole stream (sentinels included, so doc-final tokens count);
    bigram counts and the scoring pairs = the non-sentinel rows; vocab
    = |distinct w1| (every token IS some row's w1).  The stream is
    localCheckpoint'ed: materialized once to executor block storage
    (comparable to one shuffle write of the token stream), lineage
    truncated, and blocks freed by the ContextCleaner when the result
    DataFrame is dropped — at cluster scale this trades one corpus-
    sized spill for three corpus re-reads, the same trade a shuffle
    makes."""
    toks = tokenize(docs, text_col).filter(F.size("w") >= 1)
    stream = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 1), "
                    "i -> struct(w[i] AS w1, "
                    "CASE WHEN i < size(w) - 1 THEN w[i + 1] END AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
        .localCheckpoint(eager=True)
    )
    uni = stream.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    pairs = stream.filter(F.col("w2").isNotNull())
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # vocab rides the SAME job as the scoring joins: a one-row broadcast
    # cross join instead of an eager uni.count() driver action (which
    # cost one extra job round-trip plus a second evaluation of the uni
    # aggregate before the main DAG even started).  k * vocab is the
    # identical IEEE double product either way.
    vocab_df = uni.agg(F.count(F.lit(1)).cast("double").alias("__vocab"))
    scored = (
        pairs.join(uni, "w1")  # c(w1) always exists: w1 came from the corpus
        .join(big, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(vocab_df))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(k))
                    / (F.col("c1") + F.lit(k) * F.col("__vocab"))
                )
            ).alias("nll_term"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("nll_term").alias("nll"),
    )
