"""Text analysis for large-scale training-data pipelines.

All operators are pure Column expressions (whole-stage codegen; no
Python in the hot path) over a string column:

- tokenization + token counting (whitespace; BPE-ish regex variant)
- quality scoring (length / punctuation / stopword / digit ratios)
- language ID (stopword-hit heuristic over a small per-language list)
- document fingerprinting (normalized md5; rolling-hash variant)

At 100 TB these run embarrassingly parallel per row; the only shuffle
any downstream use introduces is its own aggregation.  Regex work is
linear in document length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small, fixed stopword lists (public, common words) for the heuristic
# language scorer; deliberately tiny so the scorer is cheap and the
# semantics are SQL-portable for the oracle.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une"],
    "es": ["el", "los", "las", "y", "en", "que", "por", "una"],
    "de": ["der", "die", "das", "und", "nicht", "mit", "ein", "zu"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokens, empties dropped."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish count: splits on whitespace AND word/non-word
    boundaries — a cheap stand-in for a BPE tokenizer's granularity."""
    pieces = F.split(col, r"\s+|(?<=\w)(?=\W)|(?<=\W)(?=\w)")
    return F.size(F.filter(pieces, lambda t: t != ""))


def char_count(col: Column) -> Column:
    return F.length(col)


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars (NULL-safe, 0 for empty)."""
    total = F.length(col)
    no_punct = F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.when(total > 0, (total - no_punct) / total).otherwise(F.lit(0.0))


def digit_ratio(col: Column) -> Column:
    total = F.length(col)
    no_digit = F.length(F.regexp_replace(col, r"[0-9]", ""))
    return F.when(total > 0, (total - no_digit) / total).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = tokens(F.lower(col))
    sw = LANG_STOPWORDS[lang]
    hits = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    n = F.size(toks)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, not punctuation
    soup, not digit soup, some stopwords (prose-like)."""
    n_tok = token_count(col)
    len_ok = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    return F.round(
        0.4 * len_ok
        + 0.2 * (1.0 - F.least(punct_ratio(col) * 4, F.lit(1.0)))
        + 0.2 * (1.0 - F.least(digit_ratio(col) * 4, F.lit(1.0)))
        + 0.2 * F.least(stopword_ratio(col) * 5, F.lit(1.0)),
        4,
    )


def lang_hits(col: Column, lang: str) -> Column:
    """Stopword hits for one language (integer — oracle-exact)."""
    toks = tokens(F.lower(col))
    return F.size(F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS[lang])))


def lang_id(col: Column) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits with
    a fixed tie-break order (en > fr > es > de > zh), 'und' if no hits.
    Deterministic CASE chain — SQL-portable."""
    hits = {lang: lang_hits(col, lang) for lang in LANG_STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.when(best <= 0, F.lit("und"))
    for lang in ["en", "fr", "es", "de", "zh"]:
        expr = expr.when(hits[lang] == best, F.lit(lang))
    return expr


def strip_html(col: Column) -> Column:
    """Remove markup from web-crawled text: script/style blocks with
    their contents, then remaining tags, then the common entities,
    then whitespace collapse — the extraction step every web-corpus
    pipeline (C4, CCNet-style) runs before quality filtering.  Pure
    regexp_replace chain (codegen, SQL-portable, no lookbehind); a
    real pipeline may swap in a DOM extractor upstream, but the
    regex tier is the cheap always-on pass."""
    c = F.regexp_replace(col, r"(?is)<(script|style)[^>]*>.*?</\1>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    # &amp; LAST: replacing it first would fabricate new entities from
    # nested escapes ('&amp;lt;' must become the literal '&lt;', not
    # angle-bracket junk)
    for ent, rep in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")):
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return collapse_whitespace(c)


def collapse_whitespace(col: Column) -> Column:
    """Trim + collapse runs of whitespace to single spaces — the
    normalization fingerprint() applies, exposed for pipelines that
    want normalized text as a column."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Normalized-content fingerprint: md5 of lowercased,
    whitespace-collapsed, trimmed text.  Identical across engines
    (md5 is md5) → exact-dedup key and oracle-checkable."""
    norm = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.md5(norm.cast("binary"))


def rolling_fingerprint(col: Column, window: int = 8) -> Column:
    """Rolling-hash document sketch: min of md5-derived hashes over
    word n-grams — a locality-sensitive 'winnowing'-style fingerprint
    (robust to small edits, unlike md5-of-all)."""
    toks = tokens(F.lower(col))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - window, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, window)))
    return F.array_min(F.transform(grams, lambda g: F.xxhash64(g)))


# ---------------------------------------------------------------------
# PII scrubbing / URL analysis (parity-plus: corpus-cleaning staples)
# ---------------------------------------------------------------------

# deliberately conservative, SQL-portable regexes (no lookbehind): a
# corpus scrubber optimizes for recall on the common shapes and accepts
# some false positives — the replacement token keeps documents usable.
PII_PATTERNS: dict[str, str] = {
    # local-part@domain.tld
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # international-ish phone runs: optional +CC, separators, 7+ digits
    "phone": r"\+?\d[\d ().-]{6,}\d",
    # IPv4 dotted quad
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    # 13-19 digit card-shaped runs with optional space/dash groups
    "card": r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{1,7}\b",
}
# order matters: longer/more-specific shapes first so e.g. a card
# number is not half-eaten by the phone pattern
PII_ORDER = ("email", "card", "ip", "phone")

URL_PATTERN = r"https?://[^\s<>\"')\]]+"


def scrub_pii(col: Column, kinds: tuple[str, ...] = PII_ORDER) -> Column:
    """Replace PII-shaped spans with ``<KIND>`` tokens — one
    regexp_replace per kind, chained, whole-stage codegen, linear in
    document length (the 100 TB shape: embarrassingly parallel, no
    shuffle)."""
    out = col
    for kind in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def pii_counts(col: Column, kinds: tuple[str, ...] = PII_ORDER) -> Column:
    """Struct of per-kind match counts — the audit signal (how much got
    scrubbed) without materializing the matches."""
    return F.struct(*[
        F.size(F.regexp_extract_all(col, F.lit(PII_PATTERNS[k]), F.lit(0))).alias(k)
        for k in kinds
    ])


def extract_urls(col: Column) -> Column:
    """All http(s) URLs in the document (array<string>)."""
    return F.regexp_extract_all(col, F.lit(URL_PATTERN), F.lit(0))


def url_domain(url: Column) -> Column:
    """Registrable-ish domain of a URL: the host, lowercased, port and
    leading ``www.`` stripped.  parse_url is JVM-native."""
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    return F.regexp_replace(host, r"^www\.", "")


def domain_stats(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-domain corpus stats: how many docs cite a domain and how
    often (C4-style source accounting).  explode(extract_urls) →
    groupBy(domain): ONE shuffle keyed by domain; hot domains are a
    groupBy skew (bounded by agg partial-combine), never a join."""
    urls = df.select(F.col(id_col),
                     F.explode(extract_urls(F.col(text_col))).alias("url"))
    return (urls.withColumn("domain", url_domain(F.col("url")))
            .filter(F.col("domain").isNotNull())
            .groupBy("domain")
            .agg(F.countDistinct(id_col).alias("n_docs"),
                 F.count("*").alias("n_urls")))


def vocab_topk(df: DataFrame, k: int = 50, text_col: str = "text",
               id_col: str = "doc_id", min_count: int = 1) -> DataFrame:
    """Corpus vocabulary top-k: the k most frequent (lowercased,
    whitespace) tokens with total occurrence count and document
    frequency — the table every tokenizer-training / corpus-audit step
    starts from.

    Scale shape: explode → ONE groupBy keyed by token (partial
    map-side combine absorbs the zipf head — a token appearing 10⁹
    times arrives at the reducer as one partial count per map task,
    not 10⁹ rows), then a global TakeOrdered of k rows.  Deterministic
    order: count desc, then token asc."""
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    counts = (toks.groupBy("token")
              .agg(F.count("*").alias("n_occurrences"),
                   F.countDistinct(id_col).alias("n_docs"))
              .filter(F.col("n_occurrences") >= min_count))
    return (counts.orderBy(F.col("n_occurrences").desc(),
                           F.col("token").asc())
            .limit(k))


def unigram_logprob_score(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          train_df: DataFrame | None = None,
                          alpha: float = 1.0) -> DataFrame:
    """Corpus-trained unigram language-model quality proxy: each
    document's mean token log-probability under an add-alpha-smoothed
    unigram model — the cheap stand-in for the KenLM-perplexity
    filters of published pipelines (CCNet, Wenzek et al. 2020): docs
    whose tokens are globally unusual (gibberish, boilerplate soup,
    wrong language) score low and can be thresholded.

    Train counts come from ``train_df`` (default: score the corpus
    against itself).  Two passes, both scale-shaped: (1) ONE
    token-keyed groupBy for counts (+ a 2-scalar total fetch);
    (2) explode → join tokens to counts (AQE broadcasts the count
    table while it is small; at web-corpus vocabulary it degrades to
    a shuffle join, still O(tokens)) → per-doc aggregate.  Unseen
    tokens get the smoothed floor log(alpha / (N + alpha·V)).

    Determinism: per-token log-probs are quantized to integer
    ten-thousandths BEFORE the per-doc sum (the _isum trick), so the
    mean is partition-order-exact and oracle-replayable.
    """
    from fsharp_dataframe_spark.functions.util import spread

    train_src = train_df if train_df is not None else df
    train_toks = spread(train_src, text_col).select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    counts = train_toks.groupBy("token").agg(F.count("*").alias("_c"))
    tot = counts.agg(F.sum("_c"), F.count("*")).first()
    n_total, v_size = int(tot[0] or 0), int(tot[1] or 0)
    denom = float(n_total + alpha * v_size)
    floor_units = None
    if denom > 0:
        import math

        # HALF-UP like F.round / DuckDB round (Python round() is
        # banker's): log of a positive ratio < 1 is negative
        x = math.log(alpha / denom) * 10000
        floor_units = int(math.copysign(math.floor(abs(x) + 0.5), x))
    logp_units = F.round(F.log((F.col("_c") + F.lit(float(alpha))) / F.lit(denom))
                         * 10000).cast("long")
    doc_toks = spread(df, id_col, text_col).select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    scored = (doc_toks.join(counts.select("token", logp_units.alias("_lp")),
                            on="token", how="left")
              .select(id_col, F.coalesce(F.col("_lp"),
                                         F.lit(floor_units)).alias("_lp")))
    return (scored.groupBy(id_col).agg(
        F.count("*").alias("n_tok"),
        F.sum("_lp").alias("_units"))
        .select(id_col, "n_tok",
                F.round(F.col("_units") / F.col("n_tok") / 10000.0, 4)
                 .alias("mean_logprob")))


def perplexity_buckets(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       train_df: DataFrame | None = None,
                       alpha: float = 1.0) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek et al. 2020 §3.3): score
    every document with the unigram-LM quality proxy, then cut the
    corpus into perplexity terciles — "head" is the best-scoring third
    (lowest perplexity), the slice CCNet keeps outright; "tail" is the
    candidate-discard third.

    Thresholds are EXACT tercile boundaries computed from the
    score-distribution histogram: scores are already quantized to
    integer ten-thousandths, so the distinct-value distribution is
    bounded by score granularity (~10^5 values), NOT corpus size — one
    groupBy aggregate and a tiny driver collect, never a sort or
    TakeOrdered of n/3 rows.  Ties share a bucket (every doc with the
    threshold score goes to the better bucket), which keeps labels a
    pure function of the score — deterministic under repartition.

    Returns (id_col, n_tok, mean_logprob, bucket).
    """
    from fsharp_dataframe_spark.functions.util import track_persist

    scored = unigram_logprob_score(df, text_col, id_col, train_df, alpha)
    u = F.round(F.col("mean_logprob") * 10000).cast("long")
    # persisted: the histogram collect below AND the caller's
    # materialization both consume the scoring pipeline — without the
    # stage boundary the tokenize+count+join would run twice
    s = track_persist(scored.withColumn("_u", u))
    dist = sorted(((r["_u"], r["c"]) for r in
                   s.groupBy("_u").agg(F.count("*").alias("c")).collect()),
                  reverse=True)
    n = sum(c for _, c in dist)
    if n == 0:
        return s.withColumn("bucket", F.lit(None).cast("string")).drop("_u")
    k1, k2 = (n + 2) // 3, (2 * n + 2) // 3
    cum, t1, t2 = 0, None, None
    for val, c in dist:
        cum += c
        if t1 is None and cum >= k1:
            t1 = val
        if t2 is None and cum >= k2:
            t2 = val
            break
    bucket = (F.when(F.col("_u") >= F.lit(t1), "head")
              .when(F.col("_u") >= F.lit(t2), "middle")
              .otherwise("tail"))
    return s.withColumn("bucket", bucket).drop("_u")


def pmi_collocations(df: DataFrame, k: int = 50, text_col: str = "text",
                     min_count: int = 5) -> DataFrame:
    """Top-k collocations by pointwise mutual information: word pairs
    that co-occur as adjacent bigrams far more often than their
    unigram frequencies predict (Church & Hanks 1990) — the standard
    corpus-analysis pass for multi-word expressions ("new york",
    "machine learning") and for spotting templated boilerplate whose
    bigrams have pathological PMI.

    PMI(w1,w2) = ln( P(w1 w2) / (P(w1)·P(w2)) ) with P from bigram /
    unigram stream counts; pairs below ``min_count`` occurrences are
    dropped (rare-pair PMI is noise).

    Scale shape: the corpus is tokenized exactly TWICE (once into the
    unigram count groupBy, once into the bigram one — both persisted,
    vocabulary-sized relations); N and B are derived as sum(n_w) /
    sum(n_pair) over those cached count tables, NOT re-tokenizing
    scalar jobs.  The bigram relation is a narrow zip_with (no
    positional self-join); the rest is a broadcast-joined expression
    and a global TakeOrdered of k rows.  The PMI is quantized to
    integer MICRO-nats (round(pmi·1e6) as BIGINT) so ordering and
    oracle comparison are exact across engines.

    Returns (w1, w2, n_pair, pmi_micro), pmi desc / w1 / w2 order.
    """
    from fsharp_dataframe_spark.functions.util import track_persist

    t = tokens(F.lower(F.col(text_col)))
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    pairs = df.select(F.explode(
        F.zip_with(F.slice(t, 1, n1), F.slice(t, 2, n1),
                   lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
        .alias("p")).select("p.w1", "p.w2")
    uni = df.select(F.explode(t).alias("w"))
    cb = track_persist(pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair")))
    cu = track_persist(uni.groupBy("w").agg(F.count("*").alias("n_w")))
    n_total = int(cu.agg(F.sum("n_w")).first()[0] or 0)
    b_total = int(cb.agg(F.sum("n_pair")).first()[0] or 0)
    # double-domain products in a FIXED association so the oracle can
    # replay the identical IEEE value: ((n_pair*N)*N) / (((B*c1)*c2))
    nd, bd = float(n_total), float(b_total)
    c1, c2 = F.col("n_w1").cast("double"), F.col("n_w2").cast("double")
    ratio = ((F.col("n_pair").cast("double") * F.lit(nd)) * F.lit(nd)) / (
        (F.lit(bd) * c1) * c2)
    scored = (cb.filter(F.col("n_pair") >= min_count)
              .join(cu.withColumnRenamed("w", "w1")
                      .withColumnRenamed("n_w", "n_w1"), on="w1")
              .join(cu.withColumnRenamed("w", "w2")
                      .withColumnRenamed("n_w", "n_w2"), on="w2")
              .select("w1", "w2", "n_pair",
                      F.round(F.log(ratio) * 1e6).cast("long")
                      .alias("pmi_micro")))
    return (scored.orderBy(F.col("pmi_micro").desc(), "w1", "w2").limit(k))


def bigram_logprob_score(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         train_df: DataFrame | None = None,
                         alpha: float = 1.0) -> DataFrame:
    """Corpus-trained BIGRAM language-model quality proxy — one model
    order up from unigram_logprob_score, the same role as the KenLM
    n-gram perplexity filters of CCNet (Wenzek et al. 2020): each
    document's mean log P(w2|w1) under an add-alpha-smoothed
    conditional model.  Bigram surprisal separates fluent text from
    shuffled-token/boilerplate soup that a unigram model scores high
    (every token common, transitions nonsense).

    Model: P(w2|w1) = (C(w1 w2) + α) / (C(w1·) + α·V), with C(w1·)
    the count of w1 as a bigram CONTEXT (non-final positions) and V
    the distinct-successor vocabulary — both derived from ONE
    exploded-bigram relation, so training is a single scan + two
    token-keyed groupBys.  Unseen bigram/context fall out of the same
    expression via coalesce-to-0 counts (floor log(α/(α·V))).

    Scale shape: bigram extraction is a narrow zip_with over the token
    array (no positional self-join); scoring is explode → two
    count-table joins (AQE broadcasts them while small, shuffle join
    at web-corpus vocabulary — still O(tokens)) → per-doc aggregate.
    Per-bigram log-probs are quantized to integer ten-thousandths
    before the per-doc sum (the _isum trick), so the mean is
    partition-order-exact and oracle-replayable.

    Returns (id_col, n_bigrams, mean_logprob); documents with fewer
    than two tokens have no bigrams and no row.
    """
    from fsharp_dataframe_spark.functions.util import spread

    def bigram_rel(src: DataFrame, *cols: str) -> DataFrame:
        t = tokens(F.lower(F.col(text_col)))
        n1 = F.greatest(F.size(t) - 1, F.lit(0))
        bg = F.zip_with(F.slice(t, 1, n1), F.slice(t, 2, n1),
                        lambda a, b: F.concat(a, F.lit(" "), b))
        return spread(src, text_col, *cols).select(
            *cols, F.explode(bg).alias("bg"))

    if train_df is None:
        # self-scoring (the common case): ONE tokenize+explode pass
        # feeds both the count tables and the scoring join — persisted
        # through the tracked-cache registry rather than recomputed
        from fsharp_dataframe_spark.functions.util import track_persist

        doc_bi = track_persist(bigram_rel(df, id_col))
        train_bi = doc_bi
    else:
        train_bi = bigram_rel(train_df)
        doc_bi = bigram_rel(df, id_col)
    cb = train_bi.groupBy("bg").agg(F.count("*").alias("_cb"))
    cw = (train_bi.select(F.substring_index("bg", " ", 1).alias("w1"))
          .groupBy("w1").agg(F.count("*").alias("_cw")))
    v_size = (train_bi.select(F.substring_index("bg", " ", -1).alias("w2"))
              .agg(F.countDistinct("w2")).first()[0] or 0)

    joined = (doc_bi
              .join(cb, on="bg", how="left")
              .join(cw, on=F.substring_index(doc_bi["bg"], " ", 1) == cw["w1"],
                    how="left"))
    logp = F.log((F.coalesce(F.col("_cb"), F.lit(0)) + F.lit(float(alpha)))
                 / (F.coalesce(F.col("_cw"), F.lit(0))
                    + F.lit(float(alpha * v_size))))
    units = F.round(logp * 10000).cast("long")
    return (joined.select(id_col, units.alias("_lp"))
            .groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"), F.sum("_lp").alias("_units"))
            .select(id_col, "n_bigrams",
                    F.round(F.col("_units") / F.col("n_bigrams") / 10000.0, 4)
                     .alias("mean_logprob")))


# injected as a repr literal into BOTH the Spark plan and the SQL
# oracle so the bits-per-char conversion multiplies the same double
_INV_LN2 = 1.4426950408889634  # 1 / ln(2), shortest round-trip


def char_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) and
    top-character fraction — the classic gibberish/boilerplate signal:
    natural language sits ~3.5-4.5 bits/char, base64 blobs and random
    noise higher, repeated-template soup and aaaa-runs much lower,
    and a top-char fraction near 1 means one character dominates.

    Characters are enumerated positionally (explode a 1..len sequence
    + substring) rather than split-on-empty-regex, because the two
    engines disagree on empty-regex splitting but agree byte-for-byte
    on substring; per-(doc,char) count terms c·ln(c) are quantized to
    integer micro-nats BEFORE the per-doc sum (partition-order-exact),
    then H = (ln n − Σ/1e6 / n) · 1/ln2 in one fixed association —
    the DuckDB oracle replays every value exactly.

    Scale shape: the explode fans out to one row per character — big
    but narrow (two ints + one char) — into ONE (doc,char)-keyed
    groupBy with map-side combine, then a doc-keyed aggregate that
    rides the same partitioning.  Empty/NULL docs are excluded
    (entropy of zero symbols is undefined).

    Returns (id_col, n_chars, entropy_bits, top_char_frac), entropy
    to 4 decimals, fraction to 4 decimals.
    """
    t = F.col(text_col)
    chars = (df
             .filter(t.isNotNull() & (F.length(t) > 0))
             .select(F.col(id_col),
                     F.explode(F.sequence(F.lit(1), F.length(t))).alias("__i"),
                     t.alias("__t"))
             .select(id_col, F.substring(F.col("__t"), F.col("__i"), 1)
                     .alias("ch")))
    per_char = chars.groupBy(id_col, "ch").agg(F.count("*").alias("c"))
    cd = F.col("c").cast("double")
    term_units = F.round(cd * F.log(cd) * 1e6).cast("long")
    per_doc = per_char.groupBy(id_col).agg(
        F.sum("c").alias("n_chars"),
        F.sum(term_units).alias("__units"),
        F.max("c").alias("__top"),
    )
    n = F.col("n_chars").cast("double")
    h_bits = (F.log(n) - (F.col("__units") / 1e6) / n) * F.lit(_INV_LN2)
    return per_doc.select(
        id_col,
        F.col("n_chars"),
        F.round(h_bits, 4).alias("entropy_bits"),
        F.round(F.col("__top") / n, 4).alias("top_char_frac"),
    )


def clean_text(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Normalization pass every web-scraped corpus needs before dedup /
    tokenization: drop zero-width characters (ZWSP/ZWNJ/ZWJ/BOM — the
    classic dedup-defeaters: two visually identical documents differ
    by invisible codepoints), replace C0/DEL control characters with a
    space, collapse space runs, trim.

    The pipeline deliberately avoids ``\\s`` (Java regex includes
    \\x0B in it, RE2 does not): control characters — including every
    whitespace control — are first mapped to plain spaces, so the
    collapse pass only ever sees ' ' runs and the two engines agree on
    every byte.  Zero-widths use ``\\x{...}`` escapes, the syntax both
    dialects share.  Pure narrow Column work — no shuffle, no UDF.

    Returns (id_col, text_clean, n_removed) where n_removed =
    original length − cleaned length.
    """
    t = F.col(text_col)
    no_zw = F.regexp_replace(t, "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]", "")
    no_ctrl = F.regexp_replace(no_zw, "[\\x00-\\x1F\\x7F]", " ")
    cleaned = F.trim(F.regexp_replace(no_ctrl, " +", " "))
    return df.select(
        F.col(id_col),
        cleaned.alias("text_clean"),
        # coalesce the whole difference: for NULL text both lengths are
        # NULL, so coalescing only the minuend still yielded NULL
        F.coalesce(F.length(t) - F.length(cleaned), F.lit(0))
        .cast("long").alias("n_removed"),
    )
