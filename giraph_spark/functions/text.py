"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, document fingerprinting.

All expression-only (whole-stage codegen; zero Python UDFs) so they run at
scan speed — at 100 TB these are the map-side of the pipeline and must not
leave the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import normalize_text

# A BPE-ish token regex: words, numbers, or single non-space symbols.
TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]"

STOPWORDS = [
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "for",
    "on", "was", "with", "as", "be", "at", "by", "this", "are", "or",
]


def token_count(col: Column) -> Column:
    """Whitespace token count (simple) — ``size(split(trim, '\\s+'))``."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count: matches of ``TOKEN_REGEX`` (words / numbers /
    single symbols) — a deterministic proxy for subword tokenizers."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_REGEX), F.lit(0))).cast(
        "long"
    )


def quality_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality features: lengths, token stats, punctuation /
    digit / uppercase ratios, stopword ratio, mean word length — the
    standard C4/Gopher-style filters' inputs."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    toks = token_count(t)
    alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    digits = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()\[\]-]", ""))
    upper = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    words = F.split(F.trim(F.lower(t)), r"\s+")
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(STOPWORDS))
    )
    denom = F.greatest(n_chars, F.lit(1)).cast("double")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        toks.alias("n_tokens"),
        F.round(alpha / denom, 6).alias("alpha_ratio"),
        F.round(digits / denom, 6).alias("digit_ratio"),
        F.round(punct / denom, 6).alias("punct_ratio"),
        F.round(upper / denom, 6).alias("upper_ratio"),
        F.round(
            stop_hits / F.greatest(toks, F.lit(1)).cast("double"), 6
        ).alias("stopword_ratio"),
        F.round(
            alpha / F.greatest(toks, F.lit(1)).cast("double"), 6
        ).alias("mean_word_len"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_alpha_ratio: float = 0.6,
    max_digit_ratio: float = 0.3,
    min_stopword_ratio: float = 0.05,
) -> DataFrame:
    """Gopher/C4-style hard quality gate over :func:`quality_features`:
    per document, whether it passes every rule plus how many rules it
    fails — the filtering stage of a training-data pipeline. Returns
    ``(doc_id, n_fail, passed)``. Expression-only; at scale this is one
    map-side pass fused with the scan (no shuffle at all)."""
    f = quality_features(df, text_col, id_col)
    rules = [
        F.col("n_tokens") >= min_tokens,
        F.col("n_tokens") <= max_tokens,
        F.col("alpha_ratio") >= min_alpha_ratio,
        F.col("digit_ratio") <= max_digit_ratio,
        F.col("stopword_ratio") >= min_stopword_ratio,
    ]
    # NULL features (e.g. NULL text) must FAIL the gate, not slip through
    # three-valued logic: a NULL rule counts as a failure, matching the
    # oracle's CASE ... ELSE 1 semantics.
    n_fail = sum(
        F.when(F.coalesce(r, F.lit(False)), 0).otherwise(1) for r in rules
    ).cast("long")
    return f.select(
        F.col(id_col),
        n_fail.alias("n_fail"),
        (n_fail == 0).alias("passed"),
    )


def token_histogram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket: int = 50,
) -> DataFrame:
    """Corpus token-length histogram: documents bucketed by whitespace
    token count (``bucket``-wide bins). The canonical corpus-shape stat a
    training-data pipeline reports per snapshot; two partial-aggregated
    groupBys — scales like a count(*)."""
    b = (F.floor(token_count(F.col(text_col)) / bucket) * bucket).cast("long")
    return (
        df.select(b.alias("bucket_start"))
        .groupBy("bucket_start")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# character-frequency profiles (top letters) for a tiny trigram-free
# language ID heuristic — deterministic, expression-only
_LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " les ", " des "],
    "es": [" el ", " los ", " que "],
    "it": [" il ", " che ", " di "],
}


def lang_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Marker-n-gram language ID: count language-specific function-word
    hits, pick the argmax (ties → 'und' = undetermined, matching CLD-style
    abstention). A heuristic, not a model — the Spark pattern (scored
    struct-array argmax in one expression) is the point."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    scores = F.array(
        *[
            F.struct(
                sum(
                    (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit(""))))
                    / F.length(F.lit(m))
                    for m in markers
                ).cast("long").alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, markers in _LANG_MARKERS.items()
        ]
    )
    best = F.array_max(scores)
    return df.select(
        F.col(id_col),
        F.when(best.getField("hits") > 0, best.getField("lang"))
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
        best.getField("hits").alias("marker_hits"),
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Document fingerprint: md5 of the normalized text (stable content
    id usable as a join key across snapshots)."""
    return df.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Context-window packing: split each document into whitespace-token
    chunks of ``max_tokens`` with ``overlap`` tokens of stride overlap —
    the chunking stage that turns documents into training windows.
    Expression-only (split → sequence of starts → slice → explode): one
    scan, no Python, no shuffle; output grows ~n_tokens/stride per doc.
    Returns ``(doc_id, chunk_idx, n_chunk_tokens, chunk_text)``."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    step = max_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step)
    )
    chunks = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.explode(starts).alias("_st"),
    ).select(
        id_col,
        (F.col("_st") / step).cast("long").alias("chunk_idx"),
        F.slice(F.col("_toks"), F.col("_st") + 1, max_tokens).alias("_ct"),
    )
    return chunks.select(
        id_col,
        "chunk_idx",
        F.size("_ct").cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", F.col("_ct")).alias("chunk_text"),
    ).where(F.length("chunk_text") > 0)


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition filters,
    word-granularity): ``word_rep_ratio`` = 1 − distinct/total words,
    ``dup_2gram_ratio`` = 1 − distinct/total word-2-grams, and
    ``top_word_ratio`` = occurrences of the most frequent word / total
    words. High values mark boilerplate/spam for the quality gate.

    Scale shape: the two ratio columns are pure projections (array ops on
    the token array, fused into the scan); ``top_word_ratio`` needs the
    per-(doc, word) counts — one explode + partial-aggregated groupBy +
    ``max_by``-style per-doc max, all JVM-side."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col), toks.alias("_t")).select(
        F.col(id_col),
        F.col("_t"),
        F.size("_t").cast("long").alias("_n"),
        F.expr(
            "transform(sequence(1, greatest(size(_t) - 1, 1)), "
            "i -> concat_ws(' ', slice(_t, i, 2)))"
        ).alias("_g2"),
    )
    ratios = base.select(
        F.col(id_col),
        F.col("_n"),
        F.round(
            1 - F.size(F.array_distinct("_t")) / F.col("_n"), 6
        ).alias("word_rep_ratio"),
        F.round(
            1 - F.size(F.array_distinct("_g2")) / F.size("_g2"), 6
        ).alias("dup_2gram_ratio"),
    )
    top = (
        base.select(F.col(id_col), F.explode("_t").alias("_w"))
        .groupBy(id_col, "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").cast("long").alias("_top"))
    )
    return ratios.join(top, id_col).select(
        F.col(id_col),
        "word_rep_ratio",
        "dup_2gram_ratio",
        F.round(F.col("_top") / F.col("_n"), 6).alias("top_word_ratio"),
    )


#: scrub patterns applied in order — kept to constructs whose semantics
#: are identical in Java regex (Spark) and RE2 (DuckDB/Go): no
#: backreferences, no lookaround.
SCRUB_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"[0-9][0-9 .-]{7,}[0-9]", "<NUM>"),
]


def scrub_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII/noise scrubbing: redact emails, URLs, and long digit runs
    (phone/account-number shaped) to typed placeholder tokens — the
    standard pre-training scrub pass. Pure projection, no shuffle, no
    Python; patterns restricted to the regex subset with identical
    semantics across engines (so the pass is SQL-oracle-replayable).
    Returns ``(id, scrubbed, n_redactions)`` where ``n_redactions``
    counts replaced spans — counted per pattern on the text as it
    stands at that replacement stage, so a document that already
    contains a literal ``<EMAIL>``/``<URL>``/``<NUM>`` string is not
    miscounted, and a span consumed by an earlier pattern (digits
    inside a URL) is not double-counted."""
    c = F.col(text_col)
    n_red = F.lit(0)
    for pat, repl in SCRUB_PATTERNS:
        n_red = n_red + F.regexp_count(c, F.lit(pat))
        c = F.regexp_replace(c, pat, repl)
    return df.select(
        F.col(id_col),
        c.alias("scrubbed"),
        n_red.cast("long").alias("n_redactions"),
    )


def quality_buckets(
    df: DataFrame,
    score_col: str = "logprob",
    thresholds: tuple[float, ...] = (),
    labels: tuple[str, ...] = ("tail", "middle", "head"),
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al., LREC 2020 §4.3:
    corpus split into head/middle/tail by LM perplexity): assign each
    row the bucket of its score against ascending ``thresholds``
    (``len(labels) == len(thresholds) + 1``; score < t₁ → labels[0], …,
    ≥ tₙ → labels[-1]; NULL score → NULL bucket). Appends a ``bucket``
    column — compose downstream with
    :func:`giraph_spark.functions.sampling.stratified_sample` on it to
    resample toward the head, CCNet's actual use.

    Scale note: the assignment is a zero-shuffle projection. The
    thresholds themselves are corpus statistics: in production compute
    them ONCE with ``df.approxQuantile`` (or an exact quantile job) and
    freeze them into config — exactly how CCNet ships fixed
    per-language cutoffs — rather than re-deriving per run; a frozen
    threshold set keeps the assignment deterministic, engine-portable,
    and stable as the corpus grows (a quantile recomputed on a grown
    corpus would silently re-bucket old documents)."""
    if len(labels) != len(thresholds) + 1:
        raise ValueError("need len(labels) == len(thresholds) + 1")
    c = F.col(score_col)
    expr = F.lit(labels[-1])
    for t, lab in zip(reversed(thresholds), reversed(labels[:-1])):
        expr = F.when(c < F.lit(t), F.lit(lab)).otherwise(expr)
    return df.withColumn(
        "bucket", F.when(c.isNull(), F.lit(None).cast("string")).otherwise(expr)
    )


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 10,
) -> DataFrame:
    """Cross-document repeated LINES — the C4/CCNet line-level dedup
    signal (Raffel et al., JMLR 2020 §2.2 "we discarded ... any line
    that occurred more than once in the dataset" — relaxed here to a
    ``min_docs`` distinct-document threshold, the CCNet form that
    tolerates legitimate common lines below it). Returns
    ``(line, n_docs)`` for every trimmed non-empty line occurring in
    ≥ ``min_docs`` DISTINCT documents: navigation chrome, cookie
    banners, license footers.

    Scale shape: explode to lines, two partial-aggregated groupBys —
    (line, doc) dedup then per-line doc count — and nothing pairwise;
    a line repeated on every page of a crawl collapses map-side
    exactly like :func:`giraph_spark.functions.sampling.duplicate_ngrams`'
    gram counts."""
    lines = (
        df.select(
            F.col(id_col).alias("_d"),
            F.explode(F.split(F.col(text_col), "\n")).alias("_raw"),
        )
        .select("_d", F.trim(F.col("_raw")).alias("line"))
        .where(F.length("line") >= 1)
        .distinct()
    )
    return (
        lines.groupBy("line")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 10,
) -> DataFrame:
    """Remove :func:`boilerplate_lines` from every document, preserving
    the order (and original whitespace) of the surviving lines. Returns
    ``(id, cleaned, n_removed_lines)`` — the line-level scrub stage that
    runs between HTML extraction and document-level dedup in a web
    pipeline.

    Shape: the flagged-line relation (aggregated, small — distinct
    boilerplate lines only) hash-joins against the exploded line
    relation on the line key; reassembly is one per-doc
    ``collect_list(struct(pos, …))`` + ``array_sort`` — bounded by
    single-document size, the :func:`chunk_documents` profile, no
    window over the corpus."""
    flagged = boilerplate_lines(df, text_col, id_col, min_docs).select(
        F.col("line").alias("_bpline"), F.lit(True).alias("_bp")
    )
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "_raw"),
    )
    tagged = (
        lines.withColumn("_t", F.trim(F.col("_raw")))
        .join(flagged, F.col("_t") == F.col("_bpline"), "left")
        .select(
            id_col,
            "pos",
            "_raw",
            F.coalesce(F.col("_bp"), F.lit(False)).alias("_is_bp"),
        )
    )
    return tagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "_raw", "_is_bp"))
                    ),
                    lambda x: ~x["_is_bp"],
                ),
                lambda x: x["_raw"],
            ),
            "\n",
        ).alias("cleaned"),
        F.sum(F.col("_is_bp").cast("long")).cast("long").alias("n_removed_lines"),
    )


def corpus_stats(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Corpus accounting per group (source × lang by default): document
    count, total whitespace tokens, total characters — the bookkeeping a
    mixture designer reads before setting :func:`giraph_spark.functions.
    sampling.mixture_repeats` weights. One partial-aggregated groupBy;
    group cardinality is tiny (sources × languages), so the shuffle
    moves one row per group per partition."""
    return (
        df.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(token_count(F.col(text_col))).cast("long").alias("total_tokens"),
            F.sum(F.length(text_col)).cast("long").alias("total_chars"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_df: int = 1,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms ``(id, term, tf, score, rnk)``
    — the classic salient-term / topic-signal projection of a corpus
    (score = tf · ln(N / df), raw counts, ties → lexicographically
    smaller term). ``min_df`` drops hapax noise from the IDF table when
    raised above 1.

    Scale shape: one explode + two hash aggregations — (doc, term) term
    frequencies, then term document frequencies — both partial-aggregated
    map-side; the corpus size N joins in as a broadcast single-row
    aggregate (no driver action), and the top-k window partitions by
    document, so no global sort. The IDF table is |vocabulary| rows —
    millions, not corpus-sized — and stays distributed (hash join on the
    term; at 100 TB do NOT collect it)."""
    from pyspark.sql.window import Window

    terms = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    ).where(F.col("term") != "")
    tf = terms.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("_df")
    ).where(F.col("_df") >= min_df)
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("tf"),
            F.round(F.col("tf") * F.log(F.col("_n") / F.col("_df")), 6).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).where(F.col("rnk") <= k)


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM: ``lp(d) = mean_{w ∈ d} ln(count(w) / total)`` — the
    simplest model-free fluency/outlier score (gibberish and
    vocabulary-atypical documents score far below the corpus mode; the
    poor man's perplexity filter run before any neural scorer exists).
    Returns ``(id, n_tokens, logprob)`` rounded to 6.

    Scale shape: one explode + a term-count groupBy (the LM), a
    broadcast single-row total, one join back on the term and a per-doc
    mean — all partial-aggregated, the LM table is |vocabulary| rows and
    stays distributed."""
    terms = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    ).where(F.col("term") != "")
    lm = terms.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("_cnt")
    )
    total = terms.agg(F.count(F.lit(1)).cast("double").alias("_tot"))
    scored = (
        terms.join(lm, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("_cnt") / F.col("_tot"))), 6).alias(
                "logprob"
            ),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.col("logprob"),
        )
    )


def word_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the word distribution:
    ``H(d) = ln(n) − (1/n) Σ_w c_w ln(c_w)`` over the normalized
    whitespace tokens (natural log, so the unit is nats). Low entropy
    marks repetitive/boilerplate text (a keyword-stuffed page scores
    near 0, varied prose near ln(n_distinct)); it complements
    :func:`repetition_features` with a single scale-free score and is
    the standard "information density" quality signal. Returns
    ``(id, n_tokens, n_distinct, entropy)`` with entropy rounded to 6
    (NULL for empty/whitespace-only/NULL text, 0.0 for a one-word
    document — never fabricated).

    Scale shape: one explode + per-(doc, word) count groupBy + per-doc
    partial-aggregated groupBy — both map-side combinable; no joins, no
    windows, nothing driver-side. The ``c·ln c`` identity avoids a
    per-doc total join (the n is recovered in the same aggregate)."""
    counts = (
        df.select(
            F.col(id_col),
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("_c"))
    )
    scored = counts.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(
            F.log(F.sum("_c"))
            - F.sum(F.col("_c") * F.log("_c")) / F.sum("_c"),
            6,
        ).alias("entropy"),
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0)).cast("long").alias(
                "n_distinct"
            ),
            # fold IEEE -0.0 (ln(1) - 0/1 can produce it) to +0.0 so the
            # rounded value hashes identically across engines
            (F.col("entropy") + F.lit(0.0)).alias("entropy"),
        )
    )


#: the Gopher "required words" (Rae et al. 2021, Table A1): a document
#: must contain at least two of these to pass the battery
GOPHER_REQUIRED = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_required_words: int = 2,
) -> DataFrame:
    """The full Gopher quality-rule battery (Rae et al., "Scaling
    Language Models: ... Gopher", 2021, Table A1) as per-rule flags:
    word-count bounds, mean-word-length bounds, symbol-to-word ratio
    (``#`` and ``...``), bullet-started and ellipsis-ended line
    fractions, fraction of words containing an alphabetic character,
    and the required-stop-words presence test. Returns one row per doc:
    ``(id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
    ellipsis_ratio, alpha_word_ratio, n_required, n_fail, passed)``.

    Complements :func:`quality_filter` (the compact C4-style gate) with
    the named, published rule set — the two together are the rule tier
    of a curation pipeline, ahead of model-based scoring.

    Scale shape: pure expressions fused into the scan — zero shuffles,
    zero joins, NULL text fails every rule (never slips through
    three-valued logic)."""
    t = F.col(text_col)
    words = F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words).cast("long")
    wd = F.greatest(n_words, F.lit(1)).cast("double")
    mean_wl = F.round(
        F.aggregate(
            words, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double")
        )
        / wd,
        6,
    )
    n_hash = F.size(F.split(t, r"#", -1)) - 1
    n_ellipsis = F.size(F.split(t, r"\.\.\.", -1)) - 1
    symbol_ratio = F.round((n_hash + n_ellipsis) / wd, 6)
    lines = F.filter(
        F.split(t, r"\n", -1), lambda l: F.length(F.trim(l)) > 0
    )
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_ratio = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: F.trim(l).rlike(r"^([*•‣▪-])"),
            )
        )
        / n_lines,
        6,
    )
    ellipsis_ratio = F.round(
        F.size(F.filter(lines, lambda l: F.trim(l).rlike(r"\.\.\.$")))
        / n_lines,
        6,
    )
    alpha_word_ratio = F.round(
        F.size(F.filter(words, lambda w: w.rlike(r"[A-Za-z]"))) / wd, 6
    )
    lower_words = F.transform(words, lambda w: F.lower(w))
    n_required = (
        F.size(
            F.filter(
                F.array(*[F.lit(w) for w in GOPHER_REQUIRED]),
                lambda req: F.array_contains(lower_words, req),
            )
        )
        .cast("long")
    )
    feats = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_word_ratio.alias("alpha_word_ratio"),
        n_required.alias("n_required"),
    )
    rules = [
        F.col("n_words") >= min_words,
        F.col("n_words") <= max_words,
        F.col("mean_word_len") >= min_mean_word_len,
        F.col("mean_word_len") <= max_mean_word_len,
        F.col("symbol_ratio") <= max_symbol_ratio,
        F.col("bullet_ratio") <= max_bullet_ratio,
        F.col("ellipsis_ratio") <= max_ellipsis_ratio,
        F.col("alpha_word_ratio") >= min_alpha_word_ratio,
        F.col("n_required") >= min_required_words,
    ]
    n_fail = sum(
        F.when(F.coalesce(r, F.lit(False)), 0).otherwise(1) for r in rules
    ).cast("long")
    return feats.select(
        "*",
        n_fail.alias("n_fail"),
        (n_fail == 0).alias("passed"),
    )


def decompress_text(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    encoding: str = "utf-8",
    max_ratio: int = 1000,
) -> DataFrame:
    """Per-row decompression of a compressed-text ``binary`` column —
    the ingest step real web-scale corpora need before any text
    operator runs (WET/WARC-style shards store one gzip member per
    record). Returns ``(id, text, codec, n_bytes)``: the codec is
    sniffed per row from magic bytes — gzip (``1f 8b``), zlib
    (``0x78`` family), raw deflate (tried last), or ``'plain'``
    passthrough when the payload already decodes as text. A corrupt
    or undecodable payload yields a NULL text row with the codec it
    sniffed and ``n_bytes`` still recorded (the pixel-stats no-fake
    contract: null means undecodable, never fabricated).

    Scale shape: one Arrow-batched ``mapInPandas`` pass (zlib is
    per-blob by nature); payload bytes cross no shuffle, and column
    pruning drops them for every downstream query that reads only the
    text. Decompression bombs are bounded per row by
    ``max_ratio`` × payload size via zlib's incremental API."""
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    out_schema = (
        f"{id_col} long, text string, codec string, n_bytes long"
    )

    def inflate(b: bytes, wbits: int) -> str:
        # incremental decompress with a hard output cap: a hostile
        # 1 KB -> 10 GB bomb must yield a null row, not an executor OOM
        cap = max(1 << 20, max_ratio * len(b))
        parts = []
        total = 0
        data = b
        while True:
            if total >= cap:
                # zlib treats max_length=0 as UNLIMITED — reaching the
                # cap exactly must fail here, or a bomb second member
                # would decompress uncapped
                raise ValueError("decompression ratio cap exceeded")
            d = zlib.decompressobj(wbits=wbits)
            out = d.decompress(data, cap - total)
            if d.unconsumed_tail:
                raise ValueError("decompression ratio cap exceeded")
            if not d.eof:
                # all input consumed but the stream never reached its
                # end marker: a TRUNCATED payload. Without this check
                # zlib happily returns the partial prefix, violating
                # the null-on-corrupt contract above (ADVICE r7).
                raise ValueError("truncated compressed stream")
            parts.append(out)
            total += len(out)
            if not d.unused_data:
                break
            # concatenated members (a whole .gz shard as one payload)
            # decode to the concatenation, per the gzip spec — bytes
            # after the first member must never be silently dropped;
            # non-member trailing garbage fails the row instead
            data = d.unused_data
        return b"".join(parts).decode(encoding)

    def one(payload):
        if payload is None:
            return None, None, 0
        b = bytes(payload)
        n = len(b)
        if n >= 2 and b[0] == 0x1F and b[1] == 0x8B:
            codec = "gzip"
            try:
                return inflate(b, 16 + zlib.MAX_WBITS), codec, n
            except Exception:
                return None, codec, n
        if n >= 2 and b[0] == 0x78 and b[1] in (0x01, 0x5E, 0x9C, 0xDA):
            codec = "zlib"
            try:
                return inflate(b, zlib.MAX_WBITS), codec, n
            except Exception:
                return None, codec, n
        try:
            return b.decode(encoding), "plain", n
        except Exception:
            pass
        try:  # raw deflate, last resort
            return inflate(b, -zlib.MAX_WBITS), "deflate", n
        except Exception:
            return None, "unknown", n

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [one(p) for p in pdf[payload_col].to_numpy()]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "text": [r[0] for r in rows],
                    "codec": [r[1] for r in rows],
                    "n_bytes": [r[2] for r in rows],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=out_schema)
