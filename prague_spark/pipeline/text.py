"""Text-analysis operators for large-scale training-data pipelines.

Greenfield additions beyond the reference surface (SURVEY.md §2.8 / §7.9):
language ID (marker-token heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting. Everything is
built from JVM-side ``pyspark.sql.functions`` expressions — no Python UDFs
— so the operators stay inside whole-stage codegen and scale linearly:
per-row projections with no shuffle (the only aggregations are the ones a
caller adds on top).

Portability note: fingerprints use md5 (identical across Spark / DuckDB /
every engine) rather than engine-private hash functions, so results are
verifiable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# A tiny per-language marker lexicon for the n-gram/stopword language-ID
# heuristic. Markers chosen to be language-distinctive function words.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "que"],
    "es": ["el", "la", "los", "las", "es", "una", "que", "por"],
    "it": ["il", "la", "che", "di", "e", "per", "una", "sono"],
}

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "this", "be", "are",
]

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_expr(text: Column) -> Column:
    """Whitespace tokens of the lowercased text (empty strings removed)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def ngrams_expr(toks: Column, n: int) -> Column:
    """Sliding word n-grams of a token array (WITH duplicates — callers
    wanting shingle sets wrap in array_distinct). One window per start
    index 0..max(len-n, 0); documents shorter than n tokens emit a
    single partial gram. DuckDB mirror:
    list_transform(range(1, greatest(len(toks)-n, 0)+2),
                   i -> array_to_string(toks[i:i+n-1], ' ')).

    ``toks`` is let-bound through a single-element ``transform`` before
    the per-window lambda sees it: a lambda body embeds its free
    expressions VERBATIM, so the naive form re-evaluates the whole
    token tree (regexp split + filter of the raw text, when the caller
    passes ``tokens_expr(...)``) once per window — ~n_tokens× redundant
    work per row that whole-stage codegen cannot CSE away, and a
    measured 20-60s/task interpreter-mode cliff before the JIT
    compiles the generated code (round-13 dedup_spans regression). The
    wrapper costs one 1-element array per row; inside the lambda the
    tokens are a bound variable, evaluated once. No optimizer rule
    inlines through a lambda application, so the binding is durable."""
    def grams(t: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
        )

    return F.get(F.transform(F.array(toks), grams), 0)


def token_count(df: DataFrame, text_col: str, out: str = "n_tokens") -> DataFrame:
    """Whitespace token count plus a BPE-ish regex token count."""
    toks = tokens_expr(F.col(text_col))
    # regexp-extract-all is the robust way to count regex tokens
    bpe_count = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0))
    return df.withColumn(out, F.size(toks)).withColumn(out + "_bpe", bpe_count)


def quality_score(df: DataFrame, text_col: str, prefix: str = "q_") -> DataFrame:
    """Heuristic quality features: length, word stats, punctuation /
    digit / uppercase / stopword ratios, and a composite [0, 1] score.

    The token array is staged as a (dropped) temp column
    ``{prefix}_toks`` so the six derived features reference ONE
    tokenization per row instead of each re-embedding the regexp-split
    tree (the lambda/expression-hygiene rule — see ngrams_expr); the
    name is reserved while the projection builds."""
    t = F.col(text_col)
    n_chars = F.length(t)
    tmp_toks = prefix + "_toks"
    df = df.withColumn(tmp_toks, tokens_expr(t))
    toks = F.col(tmp_toks)
    n_words = F.size(toks)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_digit = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_upper = F.length(t) - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_stop = F.size(
        F.filter(toks, lambda w: w.isin([F.lit(s) for s in EN_STOPWORDS]))
    )

    df = (
        df.withColumn(prefix + "n_chars", n_chars.cast("long"))
        .withColumn(prefix + "n_words", n_words.cast("long"))
        .withColumn(
            prefix + "avg_word_len",
            F.when(n_words > 0, n_chars.cast("double") / n_words).otherwise(0.0),
        )
        .withColumn(
            prefix + "punct_ratio",
            F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0),
        )
        .withColumn(
            prefix + "digit_ratio",
            F.when(n_chars > 0, n_digit.cast("double") / n_chars).otherwise(0.0),
        )
        .withColumn(
            prefix + "upper_ratio",
            F.when(n_chars > 0, n_upper.cast("double") / n_chars).otherwise(0.0),
        )
        .withColumn(
            prefix + "stopword_ratio",
            F.when(n_words > 0, n_stop.cast("double") / n_words).otherwise(0.0),
        )
    )
    # composite: long enough, not punctuation/digit soup, some stopwords
    score = (
        F.least(F.col(prefix + "n_words").cast("double") / 100.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(F.col(prefix + "punct_ratio") * 4.0, F.lit(1.0))) * 0.3
        + (1.0 - F.least(F.col(prefix + "digit_ratio") * 4.0, F.lit(1.0))) * 0.2
        + F.least(F.col(prefix + "stopword_ratio") * 5.0, F.lit(1.0)) * 0.1
    )
    return df.withColumn(prefix + "score", score).drop(tmp_toks)


def lang_id(df: DataFrame, text_col: str, out: str = "lang_pred") -> DataFrame:
    """Marker-word language ID: count per-language marker hits in the
    token bag; argmax wins, 'und' (undetermined) when no marker hits.

    Deterministic tie-break: language list order (en first) — the
    1-based first-match of array_position, exactly the when-chain it
    replaces (which re-inlined every hit count ~(n_langs+1) times into
    greatest + each branch; the assign_ivf_cells expression-blowup
    lesson, applied to the text projection)."""
    langs = list(LANG_MARKERS)
    names = F.array(*[F.lit(lg) for lg in langs])

    def _hit(tk, markers):
        # a dedicated closure per language: a default-arg lambda would
        # have two parameters and F.filter would take it for the
        # (element, index) form
        lits = [F.lit(m) for m in markers]
        return F.size(F.filter(tk, lambda w: w.isin(lits)))

    # two let-bindings (the ngrams_expr convention): the tokenization is
    # bound before the per-language hit counts (else each of the
    # n_langs counts re-splits the text), and the hit ARRAY is bound
    # before the argmax (else the n_langs-filter tree is embedded once
    # in array_max and again in array_position)
    def _pick(tk):
        hits = F.array(*[_hit(tk, LANG_MARKERS[lg]) for lg in langs])

        def _choose(h):
            best = F.array_max(h)
            return F.when(best <= 0, F.lit("und")).otherwise(
                F.element_at(names, F.array_position(h, best).cast("int"))
            )

        return F.get(F.transform(F.array(hits), _choose), 0)

    return df.withColumn(
        out,
        F.get(F.transform(F.array(tokens_expr(F.col(text_col))), _pick), 0),
    )


def fingerprint(df: DataFrame, text_col: str, out: str = "fingerprint") -> DataFrame:
    """OpenRefine-style collision fingerprint: md5 of the space-joined,
    sorted, distinct, lowercased tokens. Identical content up to token
    order/multiplicity collides — the standard near-canonicalization key."""
    toks = F.array_sort(F.array_distinct(tokens_expr(F.col(text_col))))
    return df.withColumn(out, F.md5(F.concat_ws(" ", toks)))


def _winnow_stage(df: DataFrame, text_col: str, k: int, w: int) -> DataFrame:
    """Shared winnowing pipeline: adds ``_wset`` (sorted distinct window
    minima) to ``df``. Each stage is materialized as a real column before
    the next refers to it: Catalyst does NOT common-subexpression-
    eliminate inside higher-order-function lambdas, so inlining the
    k-gram hashes into the window-minimum transform would recompute the
    whole hash array once per window — O(len^2) md5 calls per row. The
    lowered text itself is staged as ``_wtxt`` for the same reason:
    inlined, every gram element would re-run lower() over the whole
    string (O(len^2) character copies per row)."""
    stage = df.withColumn("_wtxt", F.lower(F.col(text_col)))
    txt = F.col("_wtxt")
    n_grams = F.greatest(F.length(txt) - k + 1, F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.conv(
            F.substring(F.md5(txt.substr(i, F.lit(k))), 1, 8), 16, 10
        ).cast("long"),
    )
    stage = stage.withColumn("_wgrams", grams)
    minima = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(F.col("_wgrams")) - w + 1, F.lit(1))
        ),
        lambda j: F.array_min(F.slice(F.col("_wgrams"), j, w)),
    )
    return stage.withColumn("_wmin", minima).withColumn(
        "_wset", F.sort_array(F.array_distinct(F.col("_wmin")))
    )


def winnow_minima(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Exploded winnowing minima: one row per (doc, distinct window-minimum
    hash). This is the inverted-index form of :func:`winnow_fingerprint` —
    the join key for cross-corpus contamination checks (see
    ``prague_spark.pipeline.dedup.contamination``).

    ``explode_outer`` + null-filter instead of plain ``explode``: explode
    emits an implicit ``size(arr) > 0`` predicate that Catalyst pushes
    below the staged projections with the ENTIRE winnowing expression
    re-inlined — evaluated interpretively per row, it made this path
    ~130x slower (83s -> 0.6s at sf0.1). explode_outer emits no such
    predicate, so the staged columns stay staged."""
    stage = _winnow_stage(df, text_col, k, w)
    return stage.select(
        F.col(id_col), F.explode_outer(F.col("_wset")).alias("wmin")
    ).filter(F.col("wmin").isNotNull())


def winnow_fingerprint(
    df: DataFrame,
    text_col: str,
    k: int = 8,
    w: int = 4,
    out: str = "winnow_fp",
) -> DataFrame:
    """Winnowing document fingerprint (Schleimer-Wilkerson-Aiken): hash
    every character k-gram of the lowercased text, take the minimum hash
    of each sliding window of ``w`` consecutive k-grams, and digest the
    sorted distinct minima. Near-identical documents share most selected
    minima, and the fingerprint is position-robust (the rolling-window
    selection is what "rolling hash fingerprinting" buys over a plain
    content hash).

    Pure JVM expressions (no UDF): one transform per k-gram, one per
    window — O(len * w) per row, no shuffle. md5-derived hashes keep it
    engine-portable (DuckDB-SQL oracle in the query registry)."""
    stage = _winnow_stage(df, text_col, k, w)
    return (
        stage.withColumn(
            out,
            F.md5(
                F.concat_ws(
                    ",", F.transform(F.col("_wset"), lambda x: x.cast("string"))
                )
            ),
        )
        .withColumn(out + "_size", F.size(F.col("_wset")).cast("bigint"))
        .drop("_wtxt", "_wgrams", "_wmin", "_wset")
    )


# PII-ish surface patterns for training-data scrubbing triage. Kept to a
# regex subset (explicit character classes, +, {m,}, alternation-free)
# that Java regex (Spark) and RE2 (DuckDB) interpret identically, so the
# counts are cross-engine hash-verifiable. Whitespace is spelled as an
# explicit class — \s itself differs between the engines (Java includes
# vertical tab \x0B, RE2 does not).
_WS = r" \t\n\f\r"
PII_PATTERNS = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "n_urls": rf"https?://[^{_WS}]+",
    "n_phones": rf"\+?[0-9][0-9().{_WS}-]{{7,}}[0-9]",
}


def pii_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Per-document counts of email / URL / phone-shaped spans — the
    cheap first-pass PII triage a training-data pipeline runs before an
    expensive NER scrub. Pure codegen projections (regexp_count), no
    shuffle."""
    return df.withColumns(
        {
            name: F.regexp_count(F.col(text_col), F.lit(pat))
            for name, pat in PII_PATTERNS.items()
        }
    )


def repetition_ratio(
    df: DataFrame, text_col: str, n: int = 3, out: str = "rep_ratio"
) -> DataFrame:
    """Internal-repetition quality signal: the duplicated word-n-gram
    fraction (1 - distinct/total n-grams) — the Gopher-style repetition
    filter used to drop boilerplate/spam documents from training data.
    Pure array expressions over one tokenization, no shuffle. The gram
    array is let-bound before the ratio arithmetic (the ngrams_expr
    convention) — inlined, the three references would each rebuild the
    full n-gram window."""

    def _ratio(g):
        total = F.size(g)
        return F.when(
            total > 0, F.lit(1.0) - F.size(F.array_distinct(g)) / total
        ).otherwise(F.lit(0.0))

    grams = ngrams_expr(tokens_expr(F.col(text_col)), n)
    return df.withColumn(
        out, F.get(F.transform(F.array(grams), _ratio), 0)
    )


#: the Gopher-rule "must contain 2 of these" stop list (function words a
#: natural-language document can hardly avoid)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    df: DataFrame,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_avg_word_len: float = 3.0,
    max_avg_word_len: float = 10.0,
    min_alpha_word_ratio: float = 0.8,
    max_rep_2gram: float = 0.2,
    min_stop_hits: int = 2,
    prefix: str = "gq_",
) -> DataFrame:
    """Gopher-style rule-based document quality filter (the Rae et al.
    heuristic battery every large text-curation pipeline runs first):
    word-count bounds, mean word length bounds, fraction of words with
    at least one alphabetic character, duplicate-2-gram fraction, and a
    minimum count of DISTINCT common stopwords. Emits one boolean column
    per rule plus the conjunction ``{prefix}keep``.

    Pure codegen projection over ONE tokenization — no shuffle, no UDF;
    composes with :func:`repetition_ratio` / :func:`quality_score` in
    the same scan. Thresholds are the published defaults; pass corpus-
    appropriate ones for short-document fixtures."""
    # the token array and the 2-gram window are staged as (dropped) temp
    # columns: the five rules reference them ~12x / 3x respectively, and
    # a lambda/when tree embeds its free expressions verbatim (the
    # expression-hygiene rule — see ngrams_expr), so inlining would
    # re-tokenize per reference and rebuild the full 2-gram window three
    # times per row
    tmp_toks, tmp_g2 = prefix + "_toks", prefix + "_g2"
    df = df.withColumn(tmp_toks, tokens_expr(F.col(text_col)))
    toks = F.col(tmp_toks)
    df = df.withColumn(tmp_g2, ngrams_expr(toks, 2))
    n_words = F.size(toks)
    # mean length of the words themselves (not chars/words of the raw
    # text - whitespace and punctuation-only tokens are already gone)
    total_wlen = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    avg_wlen = F.when(
        n_words > 0, total_wlen.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    alpha_ratio = F.when(
        n_words > 0, n_alpha_words.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    g2 = F.col(tmp_g2)
    rep2 = F.when(
        F.size(g2) > 0,
        F.lit(1.0) - F.size(F.array_distinct(g2)) / F.size(g2),
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    )

    p = prefix
    df = (
        df.withColumn(p + "words_ok",
                      (n_words >= min_words) & (n_words <= max_words))
        .withColumn(p + "word_len_ok",
                    (avg_wlen >= min_avg_word_len)
                    & (avg_wlen <= max_avg_word_len))
        .withColumn(p + "alpha_ok", alpha_ratio >= min_alpha_word_ratio)
        .withColumn(p + "rep_ok", rep2 <= max_rep_2gram)
        .withColumn(p + "stop_ok", stop_hits >= min_stop_hits)
    )
    keep = (
        F.col(p + "words_ok")
        & F.col(p + "word_len_ok")
        & F.col(p + "alpha_ok")
        & F.col(p + "rep_ok")
        & F.col(p + "stop_ok")
    )
    return df.withColumn(p + "keep", keep).drop(tmp_toks, tmp_g2)


#: host part of a URL: optional scheme, then everything up to the first
#: /, :, ?, or # — one shared regex so Spark and the SQL oracles extract
#: identically
URL_HOST_RE = r"^(?:[a-z][a-z0-9+.-]*://)?([^/:?#]+)"


def badword_flags(
    df: DataFrame,
    text_col: str,
    badwords: list[str],
    prefix: str = "c4_",
) -> DataFrame:
    """C4-style blocked-word filter: count the DISTINCT blocked words a
    document contains (token-level, after the standard lowercase
    tokenization — substring hits inside other words do NOT count, which
    is the C4 word-boundary behavior) and flag documents with zero hits.
    One array_intersect over the shared tokenization — pure codegen, no
    shuffle. Callers supply their own list; C4's actual list is a large
    external artifact."""
    if not badwords:
        raise ValueError("badword_flags: badwords must be non-empty")
    toks = tokens_expr(F.col(text_col))
    hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w.lower()) for w in badwords]))
    )
    return df.withColumn(
        prefix + "n_badwords", hits.cast("long")
    ).withColumn(prefix + "badword_ok", hits == 0)


def domain_flags(
    df: DataFrame,
    url_col: str,
    blocked_domains: list[str],
    prefix: str = "c4_",
) -> DataFrame:
    """URL blocklist filter: extract the host (scheme optional), flag
    URLs whose host IS a blocked domain or is a SUBDOMAIN of one
    (host == d or host endswith '.d' — the standard registrable-domain
    suffix rule). Pure codegen projection; the blocklist is a literal
    (broadcast-sized by nature)."""
    if not blocked_domains:
        raise ValueError("domain_flags: blocked_domains must be non-empty")
    host = F.regexp_extract(F.lower(F.col(url_col)), URL_HOST_RE, 1)
    blocked = F.lit(False)
    for d in blocked_domains:
        d = d.lower()
        blocked = blocked | (host == d) | host.endswith("." + d)
    return df.withColumn(prefix + "domain", host).withColumn(
        prefix + "domain_ok", ~blocked
    )


def boilerplate_lines(
    df: DataFrame,
    text_col: str,
    min_docs: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """The corpus boilerplate index: normalized (lowercased, trimmed)
    lines occurring in at least ``min_docs`` DISTINCT documents — nav
    menus, cookie banners, license headers (the C4-style line-frequency
    cleaner's index). Returns (line_hash, line, n_docs) where line_hash
    = md5(normalized line): downstream joins ship the 32-char hash, not
    the line text.

    Scale: one explode + distinct + groupBy — the index is bounded by
    the number of DISTINCT repeated lines, typically broadcast-sized
    after the min_docs filter (boilerplate is by definition few distinct
    strings repeated many times)."""
    return (
        df.select(
            F.monotonically_increasing_id().alias("_did"), F.col(text_col)
        )
        .select(
            "_did", F.explode(F.split(F.col(text_col), sep)).alias("_raw")
        )
        .select("_did", F.lower(F.trim(F.col("_raw"))).alias("line"))
        .filter(F.col("line") != "")
        .distinct()
        .groupBy("line")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select(F.md5(F.col("line")).alias("line_hash"), "line", "n_docs")
    )


def strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index: DataFrame,
    out: str = "clean_text",
    sep: str = "\n",
) -> DataFrame:
    """Rebuild each document with the boilerplate index's lines removed
    (match on the NORMALIZED line, preserve the original casing and
    order of what remains). ``index`` is :func:`boilerplate_lines`
    output — or any (line_hash) frame.

    Plan: posexplode -> broadcast anti-join on the md5 line hash (32
    chars shuffled, never the text) -> groupBy(doc) re-assembly via
    sort_array over (pos, line) structs. One shuffle (the re-assembly);
    documents whose every line is boilerplate come back as ''."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_raw"),
    ).withColumn("_h", F.md5(F.lower(F.trim(F.col("_raw")))))
    kept = lines.join(
        F.broadcast(index.select("line_hash")),
        lines["_h"] == index["line_hash"],
        "left_anti",
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", F.col("_raw")))
                    ),
                    lambda s: s["_raw"],
                ),
                sep,
            ).alias(out)
        )
    )
    # left join keeps all-boilerplate docs (empty output), same row count
    return df.join(rebuilt, id_col, "left").withColumn(
        out, F.coalesce(F.col(out), F.lit(""))
    )


def strip_boilerplate_projection(
    df: DataFrame,
    text_col: str,
    line_hashes: list[str],
    out: str = "clean_text",
    sep: str = "\n",
) -> DataFrame:
    """Zero-shuffle, STREAMING-SAFE boilerplate strip: the whole operation
    is one higher-order-function projection — split, filter lines whose
    normalized md5 is in the (literal) index, re-join. No explode, no
    groupBy re-assembly, so it runs identically on batch frames and
    under ``readStream`` (the streaming twin of :func:`strip_boilerplate`;
    parity pinned in tests/test_streaming.py).

    ``line_hashes``: the collected ``line_hash`` column of a
    :func:`boilerplate_lines` index. Literal-array capacity bounds it to
    ~10^4 hashes — boilerplate indexes are small by nature (few distinct
    strings repeated many times); past that use the join-based
    :func:`strip_boilerplate` in batch / foreachBatch."""
    if not line_hashes:
        return df.withColumn(out, F.col(text_col))
    idx = F.array(*[F.lit(h) for h in line_hashes])
    cleaned = F.array_join(
        F.filter(
            F.split(F.col(text_col), sep),
            lambda ln: ~F.array_contains(idx, F.md5(F.lower(F.trim(ln)))),
        ),
        sep,
    )
    return df.withColumn(out, cleaned)


def bigram_lm_index(
    df: DataFrame, text_col: str, min_count: int = 1
) -> tuple[DataFrame, DataFrame, int]:
    """Train a count-based bigram language model over the corpus: returns
    (unigrams (term, c1), bigrams (w1, w2, c12, c1), total unigram count)
    — the index :func:`lm_logprob` scores against (the CCNet-style
    perplexity quality filter trains exactly this on a reference corpus).

    The bigram table carries w1's unigram count DENORMALIZED (one
    vocabulary-bounded join here, at train time) so every scoring run
    saves a third join: stupid backoff only needs c1 alongside a seen
    bigram, never on the backoff branch.

    ``min_count`` prunes rare bigrams (noise + index size control). Two
    groupBys over one tokenize/explode each — both map-side-combinable;
    index size is bounded by vocabulary, not corpus."""
    toks = tokens_expr(F.col(text_col))
    uni = (
        df.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c1"))
    )
    big = (
        df.select(ngrams_expr(toks, 2).alias("_g"), F.size(toks).alias("_n"))
        # documents with < 2 tokens emit one partial gram — not a bigram
        .filter(F.col("_n") >= 2)
        .select(F.explode("_g").alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").cast("long").alias("c12"))
        .filter(F.col("c12") >= min_count)
        .select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
            "c12",
        )
        .join(uni.select(F.col("term").alias("w1"), "c1"), "w1")
    )
    total = int(uni.agg(F.sum("c1")).collect()[0][0] or 0)
    return uni, big, total


def lm_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    unigrams: DataFrame,
    bigrams: DataFrame,
    total: int,
    alpha: float = 0.4,
    out: str = "lm_logprob",
) -> DataFrame:
    """Per-document mean log-probability under a stupid-backoff bigram
    LM (Brants et al.): score(w2|w1) = c12/c1 when the bigram was seen,
    else ``alpha`` x c2/total (unseen w2 floors at alpha/total). The
    negated mean is the log-perplexity quality signal — CCNet keeps the
    low-perplexity (high ``lm_logprob``) head of the distribution.

    Plan: one bigram explode, one left join on the (w1, w2) bigram index
    (which carries w1's count denormalized from train time), one left
    join for w2's backoff count, one groupBy(doc) mean. Documents with
    < 2 tokens score NULL (no bigrams — callers decide their fate)."""
    toks = tokens_expr(F.col(text_col))
    pairs = (
        df.select(
            F.col(id_col),
            ngrams_expr(toks, 2).alias("_g"),
            F.size(toks).alias("_n"),
        )
        .filter(F.col("_n") >= 2)
        .select(F.col(id_col), F.explode("_g").alias("bg"))
        .select(
            id_col,
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
        )
    )
    u2 = unigrams.select(F.col("term").alias("w2"), F.col("c1").alias("_c2"))
    bidx = bigrams.withColumnRenamed("c12", "_c12").withColumnRenamed(
        "c1", "_c1"
    )
    scored = (
        pairs.join(u2, "w2", "left")
        .join(bidx, ["w1", "w2"], "left")
        .withColumn(
            "_lp",
            F.when(
                F.col("_c12").isNotNull() & F.col("_c1").isNotNull(),
                F.log(F.col("_c12") / F.col("_c1")),
            ).otherwise(
                F.log(
                    F.lit(alpha)
                    * F.coalesce(F.col("_c2"), F.lit(1)).cast("double")
                    / F.lit(float(total))
                )
            ),
        )
    )
    means = scored.groupBy(id_col).agg(F.avg("_lp").alias(out))
    return df.join(means, id_col, "left")


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Sliding-window token chunking — the retrieval/RAG layout (one
    embedding-sized chunk per window, overlapping so no span falls on a
    boundary), complementing :func:`pack_chunks`' training layout.

    One row per (document, chunk): ``(id, chunk_id, chunk, chunk_len)``
    where ``chunk`` is the space-rejoined token window starting at
    ``chunk_id x (size - overlap)``, the last chunk may be short, and
    token-less documents emit nothing. Pure projection + explode — zero
    shuffle, streaming-safe."""
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got {overlap}/{size}")
    stride = size - overlap
    toks = tokens_expr(F.col(text_col))
    n = F.size(toks)

    # token array let-bound before the per-chunk lambda (the ngrams_expr
    # convention): the naive form re-tokenizes the raw text once per
    # chunk — ~n_tokens/stride x redundant splits per row, which bites
    # exactly on the long documents chunking exists for
    def chunks_of(t: Column) -> Column:
        n_chunks = F.floor((F.size(t) - 1) / stride) + 1
        return F.transform(
            F.sequence(F.lit(0), n_chunks.cast("int") - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_id"),
                F.slice(t, i * stride + 1, size).alias("_w"),
            ),
        )

    chunks = F.get(F.transform(F.array(toks), chunks_of), 0)
    return (
        df.select(F.col(id_col), chunks.alias("_c"), n.alias("_n"))
        .filter(F.col("_n") > 0)
        .select(id_col, F.explode("_c").alias("c"))
        .select(
            id_col,
            F.col("c.chunk_id").alias("chunk_id"),
            F.array_join(F.col("c._w"), " ").alias("chunk"),
            F.size(F.col("c._w")).cast("int").alias("chunk_len"),
        )
    )


def pack_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    capacity: int = 64,
    n_shards: int = 16,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    batch layout: documents are (logically) concatenated in a
    deterministic order and the token stream is cut into fixed
    ``capacity``-token packs; a document may span pack boundaries.

    Returns one row per (document, pack) span:
    ``(id, shard, pack_id, n_tokens, tok_start, tok_len)`` where
    ``tok_start``/``tok_len`` address the document's own token array.

    Scale design: packing is a prefix-sum, which would serialize on a
    single task under a global window. Instead documents are first
    assigned to ``n_shards`` deterministic shards (``id % n_shards``) and
    each shard packs independently — the pack key is (shard, pack_id).
    That is how a 1000-executor run packs 100 TB: one window per shard
    (shuffle by shard, sort within), then a pure map-side explode of each
    document into the packs it straddles. Zero-token documents are
    dropped (they occupy no span)."""
    d = df.select(
        F.col(id_col),
        F.size(tokens_expr(F.col(text_col))).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    d = d.withColumn("shard", F.pmod(F.col(id_col), F.lit(n_shards)).cast("int"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    cap = F.lit(int(capacity)).cast("long")
    d = d.withColumn(
        "pack_id",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / cap),
                F.floor((F.col("start") + F.col("n_tokens") - 1) / cap),
            )
        ),
    )
    span_s = F.greatest(F.col("start"), F.col("pack_id") * cap)
    span_e = F.least(
        F.col("start") + F.col("n_tokens"), (F.col("pack_id") + 1) * cap
    )
    return d.select(
        F.col(id_col),
        "shard",
        F.col("pack_id").cast("long").alias("pack_id"),
        "n_tokens",
        (span_s - F.col("start")).alias("tok_start"),
        (span_e - span_s).alias("tok_len"),
    )


def score_buckets(
    df: DataFrame,
    score_col: str,
    *,
    by: list[str] | None = None,
    n_buckets: int = 3,
    out: str = "bucket",
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """CCNet-style quantile bucketing of a per-document quality score:
    assign each row the 1-based bucket of its ``score_col`` quantile
    (ascending — with :func:`lm_logprob` as the score, bucket
    ``n_buckets`` is CCNet's low-perplexity "head", bucket 1 the tail),
    optionally within ``by`` groups (CCNet buckets per language).
    NULL scores stay NULL (documents too short to score — callers
    decide their fate, as in ``lm_logprob``).

    Plan: ONE aggregation computes the n-1 cutoffs
    (``percentile_approx`` by default — the sketch is what survives
    100 TB; ``exact=True`` switches to exact interpolated percentiles
    for cross-engine verification), then bucketing is a pure
    projection: global cutoffs are collected driver-side (n-1 doubles)
    and inlined as literals; per-group cutoffs come back through ONE
    broadcast equi-join (the cutoff frame is group-count-sized). Never
    a global sort, never a window over an unpartitioned table."""
    return apply_cutoffs(
        df, score_col,
        compute_cutoffs(df, score_col, by=by, n_buckets=n_buckets,
                        exact=exact, accuracy=accuracy),
        by=by, out=out,
    )


def compute_cutoffs(
    df: DataFrame,
    score_col: str,
    *,
    by: list[str] | None = None,
    n_buckets: int = 3,
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """The cutoff half of :func:`score_buckets`, separable so cutoffs
    can be FROZEN: compute them once on a reference corpus (the CCNet
    deployment shape — per-language perplexity cutoffs from the
    reference LM corpus, then applied to every crawl snapshot), persist
    the group-count-sized frame, and :func:`apply_cutoffs` any later
    data — including a STREAM — against it. Returns (by..., cutoffs)
    with n-1 ascending cutoffs per group (one global row when ``by`` is
    None)."""
    if n_buckets < 2:
        raise ValueError("compute_cutoffs: n_buckets must be >= 2")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    pct = (
        F.percentile(F.col(score_col), F.lit(qs))
        if exact
        else F.percentile_approx(F.col(score_col), F.lit(qs), F.lit(accuracy))
    )
    if not by:
        return df.agg(pct.alias("cutoffs"))
    return df.groupBy(*by).agg(pct.alias("cutoffs"))


def apply_cutoffs(
    df: DataFrame,
    score_col: str,
    cutoffs: DataFrame,
    *,
    by: list[str] | None = None,
    out: str = "bucket",
) -> DataFrame:
    """Bucket ``score_col`` against a PRE-COMPUTED
    :func:`compute_cutoffs` frame: bucket = 1 + (cutoffs strictly below
    the score), NULL scores stay NULL. A pure projection (global
    cutoffs collected driver-side — one tiny row — and inlined) or one
    broadcast join (per-group), so it runs unchanged on a STREAMING
    DataFrame against static cutoffs; rows of a group absent from the
    cutoff frame get a NULL bucket (score distribution never seen —
    callers route them explicitly)."""
    s = F.col(score_col)

    def _bucket(th_col):
        return F.when(
            s.isNotNull() & th_col.isNotNull(),
            F.lit(1)
            + F.size(F.filter(th_col, lambda t: (s > t) & t.isNotNull())),
        )

    if not by:
        row = cutoffs.select("cutoffs").collect()
        th = (row[0]["cutoffs"] if row else None) or []
        lits = F.array(*[F.lit(float(t)) for t in th]) if th else None
        if lits is None:  # empty reference corpus: nothing bucketable
            return df.withColumn(out, F.lit(None).cast("int"))
        return df.withColumn(out, _bucket(lits).cast("int"))
    # eqNullSafe join: cutoffs exist for the NULL group too, and a
    # plain equi-join would silently drop its rows from every bucket
    # (null-safe equality is still hash-joinable, so the broadcast plan
    # shape is unchanged)
    cond = None
    for c in by:
        e = F.col(f"_sb_d.{c}").eqNullSafe(F.col(f"_sb_c.{c}"))
        cond = e if cond is None else (cond & e)
    joined = df.alias("_sb_d").join(
        F.broadcast(cutoffs.alias("_sb_c")), cond, "left"
    ).select("_sb_d.*", F.col("_sb_c.cutoffs").alias("_th"))
    return (
        joined.withColumn(out, _bucket(F.col("_th")).cast("int"))
        .drop("_th")
    )


#: redaction placeholders, keyed like PII_PATTERNS
PII_PLACEHOLDERS = {
    "n_emails": "<EMAIL>",
    "n_urls": "<URL>",
    "n_phones": "<PHONE>",
}


def redact_pii(
    df: DataFrame,
    text_col: str,
    out: str = "redacted_text",
    kinds: tuple[str, ...] = ("n_emails", "n_urls", "n_phones"),
) -> DataFrame:
    """Replace email/URL/phone-shaped spans with typed placeholders —
    the scrub step :func:`pii_counts` triages for, using the SAME
    ``PII_PATTERNS`` so the two can never disagree on what a match is.
    A chained ``regexp_replace`` projection: pure codegen, zero
    shuffle, zero Python.

    Passes apply in ``kinds`` order and each consumes text: a span
    matching SEVERAL kinds (an email inside a URL, a phone-shaped
    number that is an email's local part) is redacted exactly ONCE, by
    the first matching pass — so placeholder tallies can be LOWER than
    ``pii_counts`` (which counts each kind independently on the
    original text) whenever kinds overlap. The defaults put emails
    before phones so 555-shaped local parts become <EMAIL>, not a
    <PHONE> splice inside an address; every PII span is still covered
    by some placeholder either way, which is the scrub contract."""
    col = F.col(text_col)
    for kind in kinds:
        col = F.regexp_replace(
            col, F.lit(PII_PATTERNS[kind]), F.lit(PII_PLACEHOLDERS[kind])
        )
    return df.withColumn(out, col)
