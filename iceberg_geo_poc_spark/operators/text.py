"""Text-analysis operators for training-data pipelines (SURVEY.md §2.12).

Language-ID, quality scoring, token counting and document
fingerprinting — all pure JVM-side expressions (split / higher-order
array functions / regexp), zero Python in the hot path, one narrow
projected scan per query.  Every constant (stopword lists, regex,
hash modulus) is embedded identically in the DuckDB oracle SQL, so the
heuristics themselves are hash-verified, not just the plumbing.

Scale notes: each operator is a stateless per-row map — no shuffle at
all until the caller aggregates.  At 100 TB these run as a single
narrow stage fused into the Parquet scan by whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from iceberg_geo_poc_spark.operators.hashing import MERSENNE_P, spark_hash60

# BPE-ish tokenization: letter runs, digit runs, single punctuation.
# Plain character classes only — identical semantics in Java regex
# (Spark) and RE2 (DuckDB).
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# Tiny per-language marker lists (function words chosen to be disjoint
# across languages).  Deliberately small: the operator contract is a
# deterministic n-gram/stopword *heuristic*, not a trained model.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "with", "for", "that"],
    "de": ["der", "und", "die", "das", "ist", "mit", "nicht", "ein"],
    "es": ["el", "los", "las", "es", "por", "con", "para", "una"],
    "fr": ["le", "les", "est", "avec", "pour", "dans", "une", "sur"],
    "zh": ["de5", "shi4", "zai4", "le5", "he2", "you3", "wo3", "ta1"],
}

# English function words for the quality stopword-ratio feature.
QUALITY_STOPWORDS = LANG_MARKERS["en"]

FP_BASE = 31  # polynomial rolling-hash base


def _array_lit(words: list[str]) -> str:
    """SQL array literal with ESCAPED string elements: a word containing
    a single quote (e.g. French "d'une" in a stopword list) must produce
    a valid literal, not an AnalysisException (ADVICE r11).  Backslashes
    escape first so an input backslash cannot re-arm the quote."""
    def q(w: str) -> str:
        return "'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'"

    return "array(" + ", ".join(q(w) for w in words) + ")"


def with_words(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("words", F.split(F.col(text_col), " "))


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish token counts per document."""
    return with_words(docs).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size("words").alias("n_ws_tokens"),
        F.expr(f"size(regexp_extract_all(text, '{BPE_PATTERN}', 0))").alias(
            "n_bpe_tokens"
        ),
        F.expr("size(array_distinct(words))").alias("n_uniq_words"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Deterministic stopword-overlap language ID.

    Score per language = |distinct(words) ∩ markers|; argmax with
    lexicographic tie-break; all-zero -> 'und'.  Expressed as one
    greatest() + CASE chain so the whole classifier is a single
    codegen-stage projection.
    """
    langs = sorted(LANG_MARKERS)
    scores = {
        lang: f"size(array_intersect(array_distinct(words), {_array_lit(LANG_MARKERS[lang])}))"
        for lang in langs
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    # first (lexicographically) language achieving the max wins
    case = " ".join(
        f"WHEN {scores[lang]} = best AND best > 0 THEN '{lang}'" for lang in langs
    )
    return (
        with_words(docs)
        .withColumn("best", F.expr(best))
        .select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            F.expr(f"CASE {case} ELSE 'und' END").alias("pred_lang"),
            F.col("best").alias("marker_hits"),
        )
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic document quality in [0,1] from portable features.

    length_score  : saturating word count (full credit at 100+ words)
    uniq_ratio    : lexical diversity, distinct/total words
    stopword_rate : English function-word fraction
    punct_rate    : BPE punctuation tokens / all BPE tokens
    score = 0.4*length + 0.3*uniq + 0.2*(1 - punct) + 0.1*stopword
    """
    sw = _array_lit(QUALITY_STOPWORDS)
    d = with_words(docs).select(
        "doc_id",
        F.size("words").alias("n_words"),
        F.expr("size(array_distinct(words))").alias("n_uniq"),
        F.expr(f"size(filter(words, w -> array_contains({sw}, w)))").alias("n_stop"),
        F.expr(f"size(regexp_extract_all(text, '{BPE_PATTERN}', 0))").alias("n_bpe"),
        F.expr(
            f"size(regexp_extract_all(text, '[^A-Za-z0-9 ]', 0))"
        ).alias("n_punct"),
    )
    return d.select(
        "doc_id",
        "n_words",
        F.round(
            F.least(F.col("n_words") / 100.0, F.lit(1.0)) * 0.4
            + (F.col("n_uniq") / F.col("n_words")) * 0.3
            + (1.0 - F.col("n_punct") / F.col("n_bpe")) * 0.2
            + (F.col("n_stop") / F.col("n_words")) * 0.1,
            6,
        ).alias("quality"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Order-sensitive polynomial rolling hash over word hashes.

    fp = fold(words, 0, (acc, w) -> (acc*31 + h60(w) mod p) mod p).
    Unlike a content md5, the rolling form extends to windowed/rolling
    fingerprints (substring dedup) by subtracting the leading term; here
    we expose the whole-document variant.
    """
    h = spark_hash60("w")
    return with_words(docs).select(
        "doc_id",
        F.expr(
            f"aggregate(words, CAST(0 AS BIGINT), "
            f"(acc, w) -> (acc * {FP_BASE} + {h} % {MERSENNE_P}) % {MERSENNE_P})"
        ).alias("fingerprint"),
    )


EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
LONGNUM_PATTERN = "[0-9]{6,}"


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII scrubbing for training corpora: replace emails and long digit
    runs with placeholder tokens and collapse runs of whitespace.

    Pure `regexp_replace`/`regexp_count` expressions — whole-stage
    codegen, zero shuffles, trivially parallel at any corpus size.  The
    patterns are deliberately RE2-compatible so the DuckDB oracle runs
    the identical regexes.
    """
    clean = F.regexp_replace(F.col("text"), EMAIL_PATTERN, "<EMAIL>")
    clean = F.regexp_replace(clean, LONGNUM_PATTERN, "<NUM>")
    clean = F.trim(F.regexp_replace(clean, "[ \\t\\n]+", " "))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.regexp_count(F.col("text"), F.lit(EMAIL_PATTERN)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(LONGNUM_PATTERN)).alias("n_longnums"),
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Dataset profiling: count / nulls / min / max / mean / stddev /
    exact median per numeric column — the pre-training sanity sweep.
    One aggregation pass; every stat is partial-aggregable except the
    exact percentile, which Spark computes with a single sort-based
    aggregate (swap for approx_percentile at the 100 TB tier when a
    1e-4 error is acceptable)."""
    import pyspark.sql.functions as F

    rows = []
    for c in cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.count(F.col(c)).alias("n"),
                F.sum(F.col(c).isNull().cast("long")).alias("n_null"),
                F.round(F.min(c).cast("double"), 6).alias("min_v"),
                F.round(F.max(c).cast("double"), 6).alias("max_v"),
                F.round(F.avg(c), 6).alias("mean_v"),
                F.round(F.stddev_samp(c), 6).alias("stddev_v"),
                F.round(F.expr(f"percentile({c}, 0.5)"), 6).alias("median_v"),
            ).alias(c)
        )
    wide = df.agg(*rows)
    stacked = wide.select(
        F.explode(F.array(*[F.col(c) for c in cols])).alias("s")
    )
    return stacked.select("s.*").orderBy("column")


def iqr_outlier_filter(df: DataFrame, col: str, k: float = 1.5) -> DataFrame:
    """Keep rows inside [Q1 - k*IQR, Q3 + k*IQR] — the standard
    outlier scrub before training-statistics jobs.  Quantiles come from
    one tiny agg (broadcast to the filter); the filter itself is
    codegen."""
    import pyspark.sql.functions as F

    q = df.agg(
        F.expr(f"percentile({col}, 0.25)").alias("__q1"),
        F.expr(f"percentile({col}, 0.75)").alias("__q3"),
    )
    # one-plan form: broadcast the 1-row quantile agg into the filter —
    # stays lazy, one job, no driver round-trip
    iqr = F.col("__q3") - F.col("__q1")
    return (
        df.crossJoin(F.broadcast(q))
        .filter(
            (F.col(col) >= F.col("__q1") - k * iqr)
            & (F.col(col) <= F.col("__q3") + k * iqr)
        )
        .drop("__q1", "__q3")
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals, shuffle-free.

    Per document: word count, most-frequent-unigram fraction, duplicate
    2-gram fraction, and the keep decision (top-unigram <= 0.20 AND
    dup-2gram <= 0.30 — the Gopher repetition-filter thresholds).  All
    per-row array expressions in whole-stage codegen: no explode, no
    shuffle — a linear pass that scales with bytes read, which is what
    a 100 TB quality-filter sweep needs.  (Docs here are ~100 words, so
    the O(distinct x words) per-row count is bounded; for book-length
    docs swap in the explode+groupBy formulation.)
    """
    words = F.split(F.col("text"), " ")
    d = docs.withColumn("w", words).withColumn("n_words", F.size("w"))
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("w"),
            lambda u: F.size(F.filter(F.col("w"), lambda x: x == u)),
        )
    )
    grams = F.expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"
    )
    d = d.withColumn("g", grams)
    dup2 = F.when(
        F.size("g") > 0,
        F.round(
            (F.size("g") - F.size(F.array_distinct("g")))
            / F.size("g").cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    top_frac = F.round(top_cnt / F.col("n_words").cast("double"), 6)
    return d.select(
        "doc_id",
        "n_words",
        top_frac.alias("top_unigram_frac"),
        dup2.alias("dup_2gram_frac"),
        ((top_frac <= 0.20) & (dup2 <= 0.30)).alias("keep"),
    )


def length_histogram(docs: DataFrame) -> DataFrame:
    """Documents per (lang, power-of-two length bucket) — the corpus
    length profile a pipeline inspects before choosing packing/window
    sizes.  One partial-aggregated shuffle on (lang, bucket)."""
    bucket = F.pow(
        F.lit(2.0), F.floor(F.log2(F.greatest(F.col("n_chars"), F.lit(1))))
    ).cast("long")
    return (
        docs.groupBy(F.col("lang"), bucket.alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "len_bucket")
    )


def vocab_top_terms(docs: DataFrame, k: int = 50) -> DataFrame:
    """Global top-k vocabulary with counts and corpus coverage — the
    tokenizer-vocab-building primitive.  explode -> partial-aggregated
    count shuffle -> single top-k (rank window over the k-bounded
    aggregate); coverage = term count / total tokens.  At 100 TB the
    groupBy('term') shuffle is the cost and is partial-aggregated
    map-side; the window sees only the aggregated vocabulary.

    The token total folds over the AGGREGATED vocabulary (sum of term
    counts, broadcast one-row cross-join) instead of the r15 form's
    eager ``toks.count()``, which ran a SECOND full explode pass over
    the corpus as a blocking driver job at plan-build time (guide §1.2
    "don't compute things twice").  sum(n) is the same exact integer;
    cast to double gives the identical IEEE quotient.  Interleaved
    A/B, output identical: 32-file 10x corpus med 0.72 -> 0.64 s (the
    saved pass is small on the synthetic corpus's bounded vocabulary;
    one fewer full corpus explode and one fewer blocking plan-time job
    is the scale rationale)."""
    from pyspark.sql import Window

    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").cast("double").alias("__total"))
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "term",
            "n",
            F.round(F.col("n") / F.col("__total"), 6).alias("coverage"),
        )
        .orderBy("rank")
    )


def chunk_documents(
    docs: DataFrame, size: int, overlap: int = 0
) -> DataFrame:
    """Sliding-window token chunking — the context-window preparation
    step of an LLM pipeline: each document's token stream splits into
    chunks of ``size`` tokens advancing by ``size - overlap``.

    Entirely whole-stage-codegen: split -> sequence/explode for the
    chunk index fan-out -> slice/array_join per chunk.  The output/input
    row ratio is the fan-out; no shuffle, no Python.  The chunk count is
    exact integer arithmetic (no float ceil) so engines can't disagree:
    n_chunks = 1 if n <= size else (n - size + stride - 1) div stride + 1.
    """
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    w = with_words(docs)
    n = F.size("words")
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.expr(f"(size(words) - {size} + {stride - 1}) DIV {stride}") + 1
    ).cast("long")
    slice_expr = f"slice(words, chunk_id * {stride} + 1, {size})"
    return (
        w.withColumn(
            "chunk_id", F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1))
        )
        .select(
            "doc_id",
            "chunk_id",
            F.expr(f"array_join({slice_expr}, ' ')").alias("chunk_text"),
            F.expr(f"size({slice_expr})").alias("n_chunk_tokens"),
        )
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms — the keyword/feature extraction
    primitive.  tf = term count in doc; idf = ln(N / df) with df = #docs
    containing the term; ties broken by term for determinism.

    Shape (r16, guide §2.4): explode -> (doc, term) partial-agg count,
    then ``df`` as ONE window count over the term key — the tf frame
    has exactly one row per (doc_id, term), so ``count(*) OVER
    (PARTITION BY term)`` equals the previous ``groupBy(term).count``
    + join-back exactly, while evaluating the tf subtree once and
    dropping the join's probe-side re-shuffle (3 exchanges of the term
    stream -> 2).  The per-doc top-k window sees one row per
    (doc, term), never raw tokens.  At 100 TB the (doc_id, term)
    aggregate dominates and is the canonical map-side-combine case.
    Interleaved A/B, output identical: 32-file 10x corpus med
    4.84 -> 2.19 s, 1x 2.20 -> 1.78 s, single-file sf0.1 0.91 -> 0.74.
    """
    from pyspark.sql import Window

    tf = (
        with_words(docs)
        .select("doc_id", F.explode("words").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.select(
        F.count_distinct(F.col("doc_id")).alias("n_docs")
    )
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


def novelty_scores(docs: DataFrame) -> DataFrame:
    """Per-document novelty: the fraction of its distinct 3-word
    shingles that occur in NO other document — the inverse of the
    contamination/duplication signals, used to up-weight genuinely new
    content in curation.

    Shape (r16, guide §2.4 "remove shuffles outright"): ONE window
    count over the shingle key.  ``with_shingles`` emits DISTINCT
    shingles per doc, so (doc_id, s) rows are unique and
    ``count(*) OVER (PARTITION BY s)`` equals the inverted index's
    ``count_distinct(doc_id)`` exactly.  The previous groupBy +
    re-join-back form evaluated the explode head twice and shuffled
    the gram stream twice (agg + join probe side); the window needs
    one gram-stream exchange and one evaluation.  The window is not
    free for hot keys: ``WindowExec`` buffers each key partition (all
    rows of one shingle) before it emits the count, so a boilerplate
    shingle in 10^6 docs holds its 10^6 rows at once (Spark spills the
    buffer to disk past its threshold).  Interleaved A/B, output-identical on all
    three inputs: 32-file 10x corpus med 7.46 -> 2.86 s, single-file
    sf0.1 7.17 -> 3.60 s, 32-file 1x 1.69 -> 1.05 s."""
    from pyspark.sql import Window

    from iceberg_geo_poc_spark.operators.dedup import with_shingles

    sh = with_shingles(with_words(docs)).select(
        "doc_id", F.explode("shingles").alias("s")
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("s"))
    return (
        sh.withColumn("n_docs", n_docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.avg((F.col("n_docs") == 1).cast("double")), 6
            ).alias("novelty"),
        )
    )


def canonical_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL canonicalization for crawl dedup: lowercase, strip scheme and
    a leading ``www.``, drop the fragment and every ``utm_*`` tracking
    parameter, normalize a dangling ``?``/``&`` and trailing slash.

    The same page crawled as ``HTTPS://WWW.Site.example/a/?utm_source=x``
    and ``https://site.example/a`` must land on one canonical key — the
    first dedup any web corpus performs (URL-level, before any content
    hash).  Pure regexp_replace chain: whole-stage codegen, zero
    shuffles, and RE2-compatible so the DuckDB oracle runs the
    identical regexes.
    """
    c = F.lower(F.col(url_col))
    c = F.regexp_replace(c, "^https?://", "")
    c = F.regexp_replace(c, "^www\\.", "")
    c = F.regexp_replace(c, "#.*$", "")  # fragment
    # tracking params: anchored to a query-string separator so path
    # segments ('/docs/utm_source=x.html') and longer param names
    # ('xutm_a=b') are untouched; the (...)+ absorbs utm runs in one pass
    c = F.regexp_replace(c, "([?&])(utm_[a-z]+=[^&#]*(&|$))+", "$1")
    c = F.regexp_replace(c, "[?&]+$", "")  # dangling separators
    c = F.regexp_replace(c, "/$", "")  # trailing slash
    return df.withColumn("canonical_url", c)


def url_dedup(df: DataFrame, url_col: str = "url") -> DataFrame:
    """One row per canonical URL: the smallest doc_id wins (the
    deterministic keeper convention shared by every dedup operator
    here), with the duplicate count.  One partial-agg groupBy on the
    canonical key — map-side combine keeps the shuffle at one row per
    distinct URL."""
    return (
        canonical_urls(df, url_col)
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_urls"),
        )
    )


def normalize_unicode(
    df: DataFrame, form: str = "NFC", text_col: str = "text"
) -> DataFrame:
    """Unicode normalization + control-character strip — the first pass
    of any multilingual corpus cleanup (decomposed accents fold under
    NFC; fullwidth/compatibility forms under NFKC; C0/C1 controls are
    crawl noise).  The control strip is a codegen regexp; normalization
    itself is an Arrow-batched pandas UDF (Python's unicodedata owns
    the normalization tables — Spark has no JVM builtin), one linear
    pass, zero shuffle.  Adds ``text_norm``.
    """
    import pandas as pd  # noqa: F401 (resolves the UDF type hints)
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize(form, v) if v is not None else None
        )

    stripped = F.regexp_replace(
        F.col(text_col), "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""
    )
    return df.withColumn("text_norm", _norm(stripped))


def span_corruption(
    docs: DataFrame,
    text_col: str = "text",
    rate_num: int = 20,
    rate_den: int = 97,
) -> DataFrame:
    """T5-style SPAN CORRUPTION (Raffel et al. 2020 §3.1.4, the
    denoising objective): mask ~rate_num/rate_den of token positions,
    collapse each RUN of masked tokens into one ``<extra_id_K>``
    sentinel in the corrupted text, and emit the matching target
    sequence (sentinel + original span tokens).  Masking is a pure
    integer hash of (doc_id, position) — deterministic across engines
    and reruns, no RNG state — so the pair (corrupted, target) is
    reproducible training data.

    Everything is whole-stage-codegen array algebra (split/transform/
    filter/array_join): no UDF, no shuffle, no per-row Python.  The
    prefix span-count is an O(len^2) slice-fold per document — fine for
    natural-language token counts; ``span_corruption_long`` is the
    O(len) posexplode+window form for documents past ~10k tokens
    (property-tested to agree, tests/test_pipeline_operators.py).

    Returns (doc_id, corrupted, target, n_spans)."""
    return (
        docs.selectExpr("doc_id", f"split({text_col}, ' ') AS t")
        .selectExpr(
            "doc_id",
            "t",
            f"transform(sequence(1, size(t)), i -> "
            f"pmod(doc_id * 2654435761 + (i-1) * 40503, {rate_den})"
            f" < {rate_num}) AS mk",
        )
        .selectExpr(
            "doc_id", "t", "mk",
            "transform(sequence(1, size(t)), i -> element_at(mk, i) AND "
            "(CASE WHEN i = 1 THEN true ELSE NOT element_at(mk, i-1) END)) "
            "AS st",
        )
        .selectExpr(
            "doc_id", "t", "mk", "st",
            "transform(sequence(1, size(t)), "
            "i -> size(filter(slice(st, 1, i), v -> v))) AS sid",
        )
        .selectExpr(
            "doc_id",
            "array_join(filter(transform(sequence(1, size(t)), i -> "
            "CASE WHEN NOT element_at(mk, i) THEN element_at(t, i) "
            "WHEN element_at(st, i) THEN concat('<extra_id_', "
            "CAST(element_at(sid, i) - 1 AS STRING), '>') END), "
            "v -> v IS NOT NULL), ' ') AS corrupted",
            "array_join(filter(transform(sequence(1, size(t)), i -> "
            "CASE WHEN element_at(st, i) THEN concat('<extra_id_', "
            "CAST(element_at(sid, i) - 1 AS STRING), '> ', element_at(t, i)) "
            "WHEN element_at(mk, i) THEN element_at(t, i) END), "
            "v -> v IS NOT NULL), ' ') AS target",
            "CAST(element_at(sid, size(t)) AS BIGINT) AS n_spans",
        )
    )


def span_corruption_long(
    docs: DataFrame,
    text_col: str = "text",
    rate_num: int = 20,
    rate_den: int = 97,
) -> DataFrame:
    """``span_corruption`` for LONG documents: identical semantics and
    output (same (doc_id, position) hash mask, same sentinels), but the
    per-position span index comes from a running sum over POSEXPLODED
    tokens instead of the array form's O(len^2) prefix slice-fold — so
    a 50k-token document costs O(len), not 2.5e9 slice visits.

    Plan shape: posexplode -> two windows partitioned by doc_id (span
    starts via lag, span ids via running sum — each partition is ONE
    document, bounded by document length, no skew concern) -> one
    groupBy doc_id reassembling both sequences with
    array_sort(collect_list(struct(pos, piece))).  One shuffle on
    doc_id; everything else codegen."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    ex = (
        docs.selectExpr(
            "doc_id", f"posexplode(split({text_col}, ' ')) AS (pos, tok)"
        )
        .withColumn(
            "mk",
            F.expr(
                f"pmod(doc_id * 2654435761 + pos * 40503, {rate_den})"
                f" < {rate_num}"
            ),
        )
        .withColumn(
            "st",
            F.col("mk")
            & ~F.coalesce(F.lag("mk").over(w), F.lit(False)),
        )
        .withColumn(
            "sid", F.sum(F.col("st").cast("int")).over(run)
        )
        .withColumn(
            "piece_c",
            F.expr(
                "CASE WHEN NOT mk THEN tok WHEN st THEN "
                "concat('<extra_id_', CAST(sid - 1 AS STRING), '>') END"
            ),
        )
        .withColumn(
            "piece_t",
            F.expr(
                "CASE WHEN st THEN concat('<extra_id_', "
                "CAST(sid - 1 AS STRING), '> ', tok) "
                "WHEN mk THEN tok END"
            ),
        )
    )

    def joined(piece: str) -> F.Column:
        return F.expr(
            "array_join(transform(filter(array_sort("
            f"collect_list(struct(pos, {piece}))), "
            f"s -> s.{piece} IS NOT NULL), s -> s.{piece}), ' ')"
        )

    return ex.groupBy("doc_id").agg(
        joined("piece_c").alias("corrupted"),
        joined("piece_t").alias("target"),
        F.max("sid").cast("long").alias("n_spans"),
    )


def fim_transform(
    docs: DataFrame, text_col: str = "text", min_tokens: int = 3
) -> DataFrame:
    """FILL-IN-THE-MIDDLE transformation (Bavarian et al. 2022): split
    each document at two deterministic points into (prefix, middle,
    suffix) and emit the PSM-ordered training text
    ``<PRE> prefix <SUF> suffix <MID> middle`` — the data-level
    augmentation that teaches a causal LM to infill.

    The cut points are pure integer hashes of doc_id (two independent
    multiplicative hashes mod len+1, sorted), so the pair is
    reproducible across engines and reruns — same posture as
    ``span_corruption``.  Documents under ``min_tokens`` tokens pass
    through unchanged (fim_text = text, empty middle).  Everything is
    codegen array algebra: split, slice, array_join; no UDF, no
    shuffle.  -> (doc_id, fim_text, n_prefix, n_middle, n_suffix)."""
    cut1 = "pmod(doc_id * 2654435761, size(t) + 1)"
    cut2 = "pmod(doc_id * 40503 + 17, size(t) + 1)"
    return (
        docs.selectExpr("doc_id", f"split({text_col}, ' ') AS t")
        .selectExpr(
            "doc_id",
            "t",
            f"least({cut1}, {cut2}) AS lo",
            f"greatest({cut1}, {cut2}) AS hi",
        )
        .selectExpr(
            "doc_id",
            f"""CASE WHEN size(t) < {int(min_tokens)}
                THEN array_join(t, ' ')
                ELSE concat(
                  '<PRE> ', array_join(slice(t, 1, lo), ' '),
                  ' <SUF> ', array_join(slice(t, hi + 1, size(t) - hi), ' '),
                  ' <MID> ', array_join(slice(t, lo + 1, hi - lo), ' '))
                END AS fim_text""",
            f"CAST(CASE WHEN size(t) < {int(min_tokens)} THEN size(t) "
            "ELSE lo END AS BIGINT) AS n_prefix",
            f"CAST(CASE WHEN size(t) < {int(min_tokens)} THEN 0 "
            "ELSE hi - lo END AS BIGINT) AS n_middle",
            f"CAST(CASE WHEN size(t) < {int(min_tokens)} THEN 0 "
            "ELSE size(t) - hi END AS BIGINT) AS n_suffix",
        )
    )


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    required_stopwords: list[str] | None = None,
    min_stopword_hits: int = 2,
    min_alpha_word_frac: float = 0.80,
    max_symbol_word_ratio: float = 0.10,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021 §A1.1) minus the
    repetition family (that is ``operators/text.py::repetition_stats``):
    word-count bounds, mean-word-length band, symbol-to-word ratio
    (# and ellipsis), fraction of words with an alphabetic character,
    and presence of >= ``min_stopword_hits`` DISTINCT required
    stopwords.  Every signal is a per-row array expression in
    whole-stage codegen — a quality sweep that scales with bytes read,
    no shuffle, no Python.  -> per-doc signals + ``keep``."""
    stops = required_stopwords or [
        "the", "be", "to", "of", "and", "that", "have", "with",
    ]
    # bind the stopword list as a literal array COLUMN, never by
    # interpolating raw strings into SQL text (a stopword like "don't"
    # would otherwise produce invalid SQL)
    d = docs.select(
        "doc_id",
        F.expr("split(text, ' ')").alias("w"),
        F.col("text"),
        F.array(*[F.lit(s) for s in stops]).alias("_stops"),
    ).select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.round(
            F.expr("aggregate(w, 0L, (a, x) -> a + length(x))")
            / F.size("w").cast("double"),
            6,
        ).alias("mean_word_len"),
        F.round(
            F.expr("size(filter(w, x -> x rlike '[A-Za-z]'))")
            / F.size("w").cast("double"),
            6,
        ).alias("alpha_word_frac"),
        F.expr(
            "size(filter(_stops, s -> array_contains(w, s)))"
        ).alias("stopword_hits"),
        F.round(
            (
                F.expr("size(regexp_extract_all(text, '#', 0))")
                + F.expr(r"size(regexp_extract_all(text, '\\.\\.\\.', 0))")
            )
            / F.size("w").cast("double"),
            6,
        ).alias("symbol_word_ratio"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stopword_hits") >= min_stopword_hits)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
    )
    return d.withColumn("keep", keep)
