"""Text analysis operators: tokenization, language ID, quality scoring,
fingerprinting.

Everything here is built-in ``pyspark.sql.functions`` expressions — they run
inside whole-stage codegen with zero Python in the row path, which is what
makes them viable over 100 TB of documents. Higher-order array functions
(``transform``/``filter``/``aggregate``) replace what would otherwise be
UDFs.
"""

from __future__ import annotations

# Module-level on purpose: pandas is a declared HARD dependency of this
# package (pyproject.toml [project].dependencies, "pandas>=2.0" — PySpark
# itself requires it for every Arrow/pandas-UDF path), so deferring the
# import would only hide a broken environment until first UDF call.
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: minimal stopword marker sets for the n-gram/stopword language heuristic.
#: Tiny on purpose: the operator contract is "score by marker-token overlap",
#: not linguistic completeness — swap in real lists at deployment.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with", "for", "on"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "que", "pour"),
    "de": ("der", "die", "das", "und", "von", "zu", "mit", "den", "ein", "für"),
}

PUNCT_PATTERN = r"[.,!?;:]"


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.split(c, r"\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count — the cheap size estimate used for budget
    accounting in data pipelines."""
    return F.size(tokens(col, lowercase=False))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: word-piece-like segments = alphanumeric runs
    plus standalone punctuation (a regex proxy for subword tokenizers)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, PUNCT_PATTERN, ""))
    return (n_punct.cast("double") / F.length(c)).cast("double")


def stopword_hits(col: Column | str, lang: str = "en") -> Column:
    """Number of tokens (with duplicates) present in the language's marker
    set — counted via ``filter`` over the token array, JVM-side."""
    marker = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(marker, t)))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    return (stopword_hits(col, lang).cast("double") / token_count(col)).cast(
        "double"
    )


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language stopword-overlap scores (the n-gram heuristic's
    vocabulary form): fraction of tokens in each language's marker set."""
    return {lang: stopword_ratio(col, lang) for lang in STOPWORDS}


def lang_id(col: Column | str, default: str = "und") -> Column:
    """Argmax language with deterministic tie-break (first in STOPWORDS
    order wins); ``default`` when no marker matched at all."""
    scores = lang_scores(col)
    langs = list(STOPWORDS)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit(default)
    for lang in reversed(langs):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best <= 0, F.lit(default)).otherwise(expr)


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + punctuation sanity +
    stopword presence. The standard cheap pre-filter before expensive
    dedup/classification stages."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    len_ok = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(
        F.when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    p = punct_ratio(c)
    punct_ok = F.when(p <= 0.2, F.lit(1.0)).otherwise(F.lit(0.3))
    any_stop = F.greatest(
        *[stopword_ratio(c, lang) for lang in STOPWORDS]
    )
    stop_ok = F.when(any_stop > 0, F.lit(1.0)).otherwise(F.lit(0.2))
    return ((len_ok + punct_ok + stop_ok) / F.lit(3.0)).cast("double")


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def normalize_unicode_nfc(df: DataFrame, text_col: str, out_col: str | None = None) -> DataFrame:
    """Unicode NFC normalization — the multilingual precursor the ASCII
    ``normalize_text`` chain deliberately omits: web text writes the
    same grapheme in different codepoint sequences ("é" as U+00E9 or as
    "e"+U+0301), and byte-level dedup/fingerprinting treats them as
    different documents until they are canonically composed. NFC (not
    NFKC) because it is the lossless canonical form — compatibility
    folding (ligatures, width) changes content and belongs in an
    explicit cleaning policy, not a normalization default.

    Spark has no built-in normalizer, so this is the documented slow
    path done right: an Arrow-batched ``pandas_udf`` over
    ``unicodedata.normalize`` (C-implemented, per-batch Python overhead
    only) — map-only, streams at scan speed, no shuffle. Cross-engine
    parity with DuckDB's ``nfc_normalize`` is pinned by test (the
    testdata corpus is ASCII, where NFC is the identity, so the parity
    evidence lives in planted-Unicode unit tests rather than a
    trivially-passing catalog oracle). NULL passes through."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )

    return df.withColumn(out_col or text_col, _nfc(F.col(text_col)))


def content_fingerprint(col: Column | str) -> Column:
    """MD5 of normalized content — the exact-dup fingerprint. MD5 (not
    xxhash64) so external systems/oracles reproduce it byte-for-byte."""
    return F.md5(normalize_text(col).cast("binary"))


def shingles(col: Column | str, k: int = 3) -> Column:
    """k-token shingles of the normalized token stream (the unit for
    MinHash/Jaccard near-dup detection). Pure array expressions.

    The text is TRIMMED before splitting: without it, leading/trailing
    whitespace yields empty-string tokens, while every shingle-family
    oracle normalizes via ``trim(regexp_replace(lower(text), '\\s+',
    ' '))`` first — a latent cross-engine mismatch for padded documents
    (current testdata never pads).

    Construction shape: the token array is LET-BOUND once per row by a
    single-element ``transform`` wrapper (SQL expressions have no let;
    referencing the split inline from every lambda re-evaluates the
    regex split per reference in interpreted HOF evaluation), and each
    shingle reads its k tokens via ``element_at`` instead of
    slice-allocate-concat. Same strings out, measured ~8x faster on the
    sf0.1 documents explode (3.9s -> 0.5s) — this expression is under
    every member of the dedup family."""
    c = F.col(col) if isinstance(col, str) else col
    # collapse-then-trim, exactly the oracle's normalization: trim()
    # alone strips only ' ' (not \n/\t) in both engines, so whitespace
    # runs are first collapsed to single spaces
    toks = tokens(F.trim(F.regexp_replace(c, r"\s+", " ")))

    def _per_tokens(t: Column) -> Column:
        return F.when(F.size(t) < k, F.array(F.concat_ws(" ", t))).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - k),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(1, k + 1)]
                ),
            )
        )

    return F.flatten(F.transform(F.array(toks), _per_tokens))


URL_PATTERN = r"https?://\S+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def clean_text(col: Column | str, redact_pii: bool = True) -> Column:
    """Curation-time cleanup: strip URLs, optionally redact emails (PII),
    collapse whitespace. Pure regexp_replace chain — codegen, order
    documented (URLs first so an URL containing an @ doesn't leave a
    half-redacted token behind)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, URL_PATTERN, " ")
    if redact_pii:
        c = F.regexp_replace(c, EMAIL_PATTERN, "<email>")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def vocabulary(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus vocabulary: (token, term_count, doc_count). One explode + one
    groupBy; at 100 TB this is the classic Zipf-skewed aggregation — the
    hot head tokens are exactly what AQE skew handling (or a stopword
    pre-filter) absorbs."""
    toks = df.select(F.explode(tokens(text_col)).alias("token"))
    # term count from all occurrences; doc count from per-document distinct
    per_doc = df.select(
        F.explode(F.array_distinct(tokens(text_col))).alias("token")
    )
    tc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("term_count"))
    dc = per_doc.groupBy("token").agg(F.count(F.lit(1)).alias("doc_count"))
    return tc.join(dc, "token").filter(F.col("term_count") >= min_count)


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All per-document text-analysis columns, single-tokenization plan.

    The token array is materialized once in its own projection and every
    downstream expression references that column — without this, each of
    the ~10 token-derived expressions re-splits the text (Catalyst's
    CollapseProject declines to inline a column referenced this many
    times, so the staging is load-bearing; ~3x faster, measured)."""
    langs = list(STOPWORDS)
    staged = df.withColumn("__toks", tokens(text_col))
    toks = F.col("__toks")
    n_toks = F.size(toks)

    def in_marker(marker: Column):
        # closure factory — F.filter inspects lambda arity, no default args
        return lambda t: F.array_contains(marker, t)

    score_cols = {}
    for lang in langs:
        marker = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(toks, in_marker(marker)))
        score_cols[lang] = (hits.cast("double") / n_toks).cast("double")

    staged = staged.withColumns(
        {
            "n_tokens": F.size(F.split(F.col(text_col), r"\s+")),
            "n_tokens_bpe": bpe_ish_token_count(text_col),
            "punct_ratio": punct_ratio(text_col),
            **{f"score_{lang}": score_cols[lang] for lang in langs},
        }
    )

    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best <= 0, F.lit("und")).otherwise(pred)

    n = F.length(F.col(text_col))
    len_ok = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(
        F.when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    punct_ok = F.when(F.col("punct_ratio") <= 0.2, F.lit(1.0)).otherwise(F.lit(0.3))
    stop_ok = F.when(best > 0, F.lit(1.0)).otherwise(F.lit(0.2))

    return staged.withColumns(
        {
            "lang_pred": pred,
            "quality": ((len_ok + punct_ok + stop_ok) / F.lit(3.0)).cast("double"),
            "fingerprint": content_fingerprint(text_col),
        }
    ).drop("__toks")


def repetition_profile(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Intra-document repetition: per document, total vs distinct k-shingle
    counts and the hottest shingle's share — the cheap detector for looped
    boilerplate / degenerate generation (a high ``rep_ratio`` document is
    usually machine junk a curation pass drops).

    Output: (id, total_shingles, distinct_shingles, top_shingle_count,
    rep_ratio = top/total). One explode + two aggregations, all JVM-side;
    the (id, shingle) groupBy is map-side combinable so shuffle volume is
    bounded by the distinct-shingle count, not the token count."""
    from f1_data_engineering_machine_learning_spark.operators.partitioning import (
        ensure_min_parallelism,
    )

    sh = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("s")
    )
    per = sh.groupBy("id", "s").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("total_shingles"),
            F.count(F.lit(1)).cast("long").alias("distinct_shingles"),
            F.max("c").cast("long").alias("top_shingle_count"),
            (F.max("c").cast("double") / F.sum("c")).cast("double").alias("rep_ratio"),
        )
        .withColumnRenamed("id", id_col)
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Build a term -> posting-list inverted index over the corpus: one row
    per term with its document frequency and the sorted list of containing
    doc ids — the retrieval-side artifact of a text pipeline (BM25 lookup,
    dedup blocking, decontamination probes all read this layout).

    Scale design: tokens explode map-side, collapse to DISTINCT (term,
    doc) pairs (partial per partition first), then ONE shuffle on the term
    groups postings. ``min_df``/``max_df`` bound the output — dropping
    df=1 hapaxes and stop-term postings is the standard way to keep the
    hot terms' lists from dominating storage; at 100 TB you'd also shard
    giant postings, which stays a plain re-explode of this output."""
    pairs = (
        df.select(
            F.col(id_col).alias("__doc"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    idx = pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sort_array(F.collect_list("__doc")).alias("postings"),
    )
    idx = idx.filter(F.col("df") >= min_df)
    if max_df is not None:
        idx = idx.filter(F.col("df") <= max_df)
    return idx


def token_familiarity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document corpus-familiarity score — the unigram-LM quality
    signal without transcendentals: the average CORPUS FREQUENCY of the
    document's tokens, ``(sum of each token's corpus count) / n_tokens /
    total_tokens``. Rare-token-heavy documents (OCR noise, codes, exotic
    boilerplate) score low; documents of common words score high. The
    monotone information matches average unigram probability; avoiding
    ``ln`` keeps the result an exact rational of integer counts — all
    sums are BIGINT and the ONLY float ops are the two final divisions,
    so any engine reproduces the double bitwise (the repo-wide oracle
    discipline; a log-prob variant would hash-drift on libm ulps).

    Plan: explode to (doc, token) once; token vocabulary (one shuffle on
    token); re-join counts onto the token stream (token-keyed shuffle —
    Zipf-hot tokens skew this join, which is exactly what AQE skew-join
    splits, and the carried payload is one BIGINT); per-doc aggregation
    (one shuffle on doc id). The 1-row total joins in broadcast.

    Output: ``id_col``, ``n_tokens``, ``sum_freq``, ``familiarity``.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__t")
    )
    vocab = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    total = toks.agg(F.count(F.lit(1)).alias("__n"))
    per_doc = (
        toks.join(vocab, "__t")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("__c").cast("bigint").alias("sum_freq"),
        )
    )
    return per_doc.join(F.broadcast(total)).select(
        id_col,
        "n_tokens",
        "sum_freq",
        (
            F.col("sum_freq").cast("double") / F.col("n_tokens") / F.col("__n")
        ).alias("familiarity"),
    )


def strip_markup(col: Column | str) -> Column:
    """HTML/markup cleaning for scraped corpora: drop tags, unescape the
    five core entities, collapse whitespace — the boilerplate-removal
    step every web-scrape pipeline runs before tokenization.

    Deliberately conservative and ENGINE-PORTABLE: the tag pattern
    ``<[^>]+>`` and literal entity replacements behave identically under
    Java regex and RE2 (no backrefs, no lookaround), so a second engine
    replays the cleaning bit-for-bit (catalog ``doc_markup_cleaned``).
    Order matters twice: tags strip BEFORE entity unescape (entities that
    decode to angle brackets are content, not markup) and ``&amp;``
    decodes LAST (else ``&amp;lt;`` double-decodes). Map-only expression;
    no UDF, no shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, "<[^>]+>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&amp;", "&"),
    ):
        out = F.regexp_replace(out, ent, ch)
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def ngram_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's distinct
    k-shingles that occur NOWHERE else in the corpus —
    ``(id, n_shingles, n_unique, novelty)``. High novelty = genuinely
    new text; low = boilerplate/near-dup material the dedup family
    should have caught (the metric is the complement of the
    memorization-risk signal in the dedup literature: substring_dedup
    REMOVES repeated spans, this MEASURES how much of a doc is
    unrepeated).

    Plan: one distinct (id, shingle) explode, then the document
    frequency as a COUNT WINDOW partitioned by shingle — the same
    shingle-keyed exchange a separate aggregate+join formulation would
    shuffle TWICE (once for the counts, once to join them back) while
    also re-deriving the explode lineage per branch (measured: the
    join form ran the tokenize+explode twice and cost ~1.5x the wall
    time at sf0.1). Hot boilerplate shingles skew the window partition
    exactly as they'd skew the join — same mitigation (df-cap upstream
    or AQE). Then one per-doc aggregate; the ratio is a single exact
    integer division per doc."""
    from pyspark.sql import Window

    sh = (
        df.select(
            F.col(id_col).alias("__id"), F.explode(shingles(text_col, k)).alias("__s")
        )
        .distinct()
    )
    joined = sh.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("__s"))
    )
    return (
        joined.groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("__df") == 1).cast("long")).cast("long").alias("n_unique"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_shingles",
            "n_unique",
            (F.col("n_unique").cast("double") / F.col("n_shingles").cast("double"))
            .alias("novelty"),
        )
    )


def top_terms_tfidf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k characteristic terms by a transcendental-free
    TF-IDF: ``score = (tf * n_docs) / (doc_len * df)`` — term frequency
    normalized by document length, inverse document frequency as the
    plain ratio instead of its log. The log is monotone in ``df`` but
    NOT in the product, so this is a deliberate scoring variant (the
    sparse-retrieval literature's "raw idf"), chosen because the score
    stays ONE double division of two exact BIGINT products — bitwise
    reproducible in any engine (the repo-wide oracle discipline; ln()
    would hash-drift on libm ulps).

    Output: ``(id_col, term, tf, df, score, rank)`` with rank 1..k per
    document by (score desc, term asc) — fully deterministic.

    Plan: one explode to (doc, term) with per-doc positions counted map-
    side; term document frequency from the DISTINCT (doc, term) pairs
    (one token-keyed shuffle, Zipf skew handled by AQE exactly as in
    token_familiarity); a 1-row doc-count broadcast; top-k per doc is a
    partitioned window (never global)."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("__t"),
    ).filter(F.col("__t") != "")
    tf = toks.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("tf"))
    doclen = toks.groupBy("__id").agg(F.count(F.lit(1)).alias("__len"))
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("df"))
    ndocs = df.select(F.count_distinct(F.col(id_col)).alias("__n"))
    scored = (
        tf.join(doclen, "__id")
        .join(dfreq, "__t")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score",
            (
                (F.col("tf") * F.col("__n")).cast("double")
                / (F.col("__len") * F.col("df")).cast("double")
            ).cast("double"),
        )
    )
    w = Window.partitionBy("__id").orderBy(F.desc("score"), F.col("__t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__id").alias(id_col),
            F.col("__t").alias("term"),
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1 << 20,
) -> DataFrame:
    """Per-document language-model fit score from a corpus-trained
    add-one-smoothed bigram model — the KenLM/CCNet-style quality
    filter of LLM data pipelines (documents whose word transitions are
    atypical for the corpus score low), kept transcendental-free so the
    score is BITWISE reproducible in any engine.

    Model: ``p(w2 | w1) = (c2(w1,w2) + 1) / (c1(w1) + V)`` where ``c2``
    is the corpus bigram count, ``c1(w1) = sum_w2 c2(w1,w2)`` the
    context count, and ``V`` the corpus vocabulary size. Instead of the
    log-domain cross-entropy (libm ``ln`` ulps differ across engines and
    summation order — the repo-wide oracle discipline forbids it), each
    bigram contributes the FIXED-POINT integer
    ``q = (c2 + 1) * scale  DIV  (c1 + V)`` (exact BIGINT floor
    division), and the document score is the arithmetic mean
    probability ``sum(q) / (n_bigrams * scale)`` — one IEEE division of
    two exact integers at the very end. Mean-probability ranks "how
    typical are this document's transitions" exactly like
    mean-perplexity does in spirit (it is the L1 rather than geometric
    aggregate — the same deliberate-variant tradeoff as
    ``top_terms_tfidf``'s raw idf).

    Output: ``(id_col, n_bigrams, lm_q_sum, lm_mean_prob)``, one row per
    document with >= 2 tokens.

    Scale: the model is never collected — bigram counts live as a
    distributed frame keyed by (w1, w2); scoring is an equi-join of the
    document bigram stream against it (Zipf-hot contexts are the AQE
    skew-split case, payload one BIGINT). ``V`` broadcasts as a 1-row
    frame. Overflow headroom: ``(c2+1) * 2^20`` stays under 2^63 until
    a single bigram repeats ~8.8e12 times — beyond a 100 TB corpus's
    hottest pair; drop ``scale`` a few bits if that ceiling nears.
    ``lm_q_sum <= n_tokens * 2^20`` stays double-exact (< 2^53) for
    documents under ~8e9 tokens."""
    t = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    base = df.select(F.col(id_col).alias("__id"), t.alias("__t"))
    toks = base.select("__id", F.explode("__t").alias("__w")).filter(
        F.col("__w") != ""
    )
    vocab = toks.select(F.count_distinct("__w").alias("__v"))
    n = F.size("__t")
    big = (
        base.filter(n >= 2)
        .select(
            "__id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("__t"), 1, n - 1).alias("w1"),
                    F.slice(F.col("__t"), 2, n - 1).alias("w2"),
                )
            ).alias("__b"),
        )
        .select("__id", F.col("__b.w1").alias("__w1"), F.col("__b.w2").alias("__w2"))
    )
    c2 = big.groupBy("__w1", "__w2").agg(F.count(F.lit(1)).alias("__c2"))
    c1 = c2.groupBy("__w1").agg(F.sum("__c2").alias("__c1"))
    model = (
        c2.join(c1, "__w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "__w1",
            "__w2",
            F.expr(f"(__c2 + 1) * {scale} DIV (__c1 + __v)").alias("__q"),
        )
    )
    return (
        big.join(model, ["__w1", "__w2"])
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("__q").alias("lm_q_sum"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.col("lm_q_sum").cast("bigint").alias("lm_q_sum"),
            (
                F.col("lm_q_sum").cast("double")
                / (F.col("n_bigrams") * F.lit(scale)).cast("double")
            ).alias("lm_mean_prob"),
        )
    )
