"""Text analysis operators: token counting, quality scoring, language-ID
heuristic, document fingerprinting.  Built-in Catalyst expressions only —
every column here compiles into whole-stage codegen; integer/boolean
outputs keep external-SQL oracles exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from kelos_on_kafka_spark.operators.dedup import _hash64, _nonempty_shingles


def n_tokens(text_col: str = "text") -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(F.col(text_col))
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def n_chars(text_col: str = "text") -> Column:
    return F.length(F.col(text_col)).cast("long")


def n_digit_chars(text_col: str = "text") -> Column:
    return F.length(
        F.regexp_replace(F.col(text_col), "[^0-9]", "")
    ).cast("long")


def doc_fingerprint(text_col: str = "text", prefix_tokens: int = 8) -> Column:
    """Prefix fingerprint: md5 of the first N whitespace tokens — a cheap
    near-dup blocking key (rolling-hash stand-in, engine-portable)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return F.md5(F.array_join(F.slice(toks, 1, prefix_tokens), " "))


def quality_flags(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality stats + low-quality verdict, integers and
    booleans only.  Thresholds follow common corpus-filtering heuristics
    (too short, digit-heavy, long-token garbage)."""
    nt = n_tokens(text_col)
    nc = n_chars(text_col)
    nd = n_digit_chars(text_col)
    # mean token length x100 as integer: (chars - (tokens-1)) / tokens
    # assumes single-space joins are close enough for a heuristic
    mean_tok_x100 = F.when(
        nt > 0, F.floor((100 * (nc - (nt - 1))) / nt)
    ).otherwise(F.lit(0)).cast("long")
    low = (
        (nt < F.lit(5))
        | (10 * nd > 3 * nc)  # >30% digits
        | (mean_tok_x100 > 1500)  # mean token length > 15 chars
    )
    from kelos_on_kafka_spark.plans.layout import fan_out

    # r07: the regex-heavy projection ran on the scan's 1-2 raw
    # partitions (guide §2.6 stragglers; measured 3.4s -> sub-second at
    # the sf1.0-scale corpus); fan_out is a no-op at real scale
    return fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        nt.alias("n_tokens"),
        nc.alias("n_chars"),
        nd.alias("n_digit_chars"),
        mean_tok_x100.alias("mean_token_len_x100"),
        low.alias("is_low_quality"),
    )


# Tiny stopword inventories for a deterministic n-gram/stopword language
# guess — a heuristic stand-in for fasttext-style LID, engine-portable.
LID_MARKERS = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "und", "die", "ist"],
    "fr": ["le", "et", "la", "est"],
    "es": ["el", "y", "la", "es"],
}


def lang_guess(text_col: str = "text") -> Column:
    """Pick the language whose marker words hit most often; ties and
    zero hits -> 'und' (undetermined).  Pure built-ins: the padded
    ' text ' LIKE ' marker ' trick counts word occurrences."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))

    def score(lang: str) -> Column:
        s = F.lit(0)
        for m in LID_MARKERS[lang]:
            # split-count word occurrences: size(split(padded, ' m ')) - 1
            s = s + F.size(F.split(padded, f" {m} ")) - 1
        return s

    scores = [(lang, score(lang)) for lang in LID_MARKERS]
    best = F.greatest(*[s for _, s in scores])
    guess = F.lit("und")
    for lang, s in reversed(scores):
        guess = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(guess)
    return guess


# GPT-2-style pre-tokenizer pattern restricted to ASCII classes so Java
# regex (Spark) and RE2 (DuckDB) agree byte-for-byte: a token is an
# optionally space-prefixed letter run, digit run, or punctuation run,
# or a whitespace run.  Counting these approximates BPE token counts
# (the pre-tokenization step is where the count structure comes from)
# without shipping a vocab.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def n_bpe_ish_tokens(text_col: str = "text") -> Column:
    """BPE-ish token count: matches of the GPT-2-style pre-tokenizer
    pattern (ASCII classes only, engine-portable)."""
    return F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
    ).cast("long")


# Compact English stopword inventory for the ratio heuristic (corpus
# quality filters typically threshold on stopword density; a fuller list
# is a one-line swap).
STOPWORDS_EN = (
    "the", "and", "of", "is", "a", "to", "in", "it", "that", "for",
)


def stopword_hits(text_col: str = "text", stopwords=STOPWORDS_EN) -> Column:
    """Total stopword occurrences (repeats counted) via the padded
    split-count trick — pure built-ins, engine-portable."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    s = F.lit(0)
    for m in stopwords:
        s = s + F.size(F.split(padded, f" {m} ")) - 1
    return s.cast("long")


def stopword_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document stopword density, integer-exact:
    (doc_id, n_tokens, sw_hits, sw_ratio_x100 = floor(100*hits/tokens)).
    Low stopword density on natural-language text is a standard
    machine-generated/garbage signal."""
    nt = n_tokens(text_col)
    hits = stopword_hits(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        nt.alias("n_tokens"),
        hits.alias("sw_hits"),
        F.when(nt > 0, F.floor((100 * hits) / nt))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("sw_ratio_x100"),
    )


def corpus_stats_by_lang(
    df: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-language corpus aggregates (all integer-exact)."""
    from kelos_on_kafka_spark.plans.layout import fan_out

    return (
        fan_out(df).select(
            F.col(lang_col).alias("lang"),
            n_tokens(text_col).alias("nt"),
            n_chars(text_col).alias("nc"),
            n_digit_chars(text_col).alias("nd"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("sum_tokens"),
            F.sum("nc").alias("sum_chars"),
            F.sum("nd").alias("sum_digit_chars"),
        )
    )


# --- PII scrubbing ---------------------------------------------------------

# Engine-portable patterns (same semantics under Java regex and RE2):
# no backreferences, no lookaround, explicit character classes.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\-\s]{6,}[0-9]"


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scrub emails/phone numbers from a document column — the standard
    pretraining-pipeline PII pass, pure Catalyst (regexp_replace is
    codegen'd; no Python).  Returns (id, redacted, n_emails, n_phones);
    the match counts feed the pipeline's audit metrics."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("redacted"),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0)).alias(
            "n_phones"
        ),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
) -> DataFrame:
    """Within-document repetition signals — the Gopher-style filters a
    pretraining pipeline runs before anything expensive (Rae et al.
    2021 §A1.1: duplicate-n-gram and top-token fractions): per doc the
    token count, distinct-token count, the most-frequent token's count,
    and the n-gram total/distinct counts.  All integers, so the oracle
    comparison is exact; callers derive fractions themselves.

    ``repetitive`` applies the common thresholds (top token > 20 % of
    tokens, or > 50 % duplicate n-grams) as a pure integer predicate.

    Scale shape: ONE projection, ZERO shuffles — totals and distincts
    from array built-ins (split / array_distinct / size), and the
    top-token mode as the longest run of the SORTED token array via a
    higher-order ``aggregate`` (JVM-side; no (doc_id, token) explode —
    an earlier version shuffled token strings twice and was 10× the
    cost of the other text stats at bench scale).  Embarrassingly
    parallel: partitions never exchange."""
    from kelos_on_kafka_spark.plans.layout import fan_out

    cols = _repetition_int_cols(text_col, ngram)
    out = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        *[cols[n].alias(n) for n in (
            "n_tok",
            "n_distinct_tok",
            "top_tok_n",
            "n_ngrams",
            "n_distinct_ngrams",
        )],
    )
    return out.select(
        "doc_id",
        "n_tok",
        "n_distinct_tok",
        "top_tok_n",
        "n_ngrams",
        "n_distinct_ngrams",
        (
            (5 * F.col("top_tok_n") > F.col("n_tok"))
            | (2 * F.col("n_distinct_ngrams") < F.col("n_ngrams"))
        ).alias("repetitive"),
    )


def _repetition_int_cols(text_col: str, ngram: int) -> dict[str, Column]:
    """The five integer repetition signals as Columns (shared by
    repetition_stats and the composed filter_verdicts — expression
    reuse composes for free; a join would cost a shuffle)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = _nonempty_shingles(text_col, ngram)
    # mode count = longest equal-run in the sorted token array
    sorted_toks = F.array_sort(F.filter(toks, lambda t: t != ""))
    run = F.aggregate(
        sorted_toks,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    empty = F.trim(F.col(text_col)) == ""
    return {
        "n_tok": F.when(empty, F.lit(0)).otherwise(F.size(toks)).cast("long"),
        "n_distinct_tok": F.when(empty, F.lit(0))
        .otherwise(F.size(F.array_distinct(toks)))
        .cast("long"),
        "top_tok_n": run.cast("long"),
        "n_ngrams": F.size(grams).cast("long"),
        "n_distinct_ngrams": F.size(F.array_distinct(grams)).cast("long"),
    }


def filter_verdicts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The composed Gopher-style filter stack — one row per document
    with every rule's boolean and the final ``keep``: too_short,
    digit_heavy, long_tokens (quality_flags' components), repetitive
    (repetition_stats' predicate), low_stopword (< 2% stopword tokens —
    the machine-generated/garbage signal).  This is the verdict table a
    pretraining pipeline materializes once and filters by (the
    quality-filter analogue of dedup_decisions).

    ONE projection pass, zero shuffles: every signal is an expression
    over the same row (composition by Column reuse, not joins)."""
    nt = n_tokens(text_col)
    nc = n_chars(text_col)
    nd = n_digit_chars(text_col)
    mean_tok_x100 = F.when(
        nt > 0, F.floor((100 * (nc - (nt - 1))) / nt)
    ).otherwise(F.lit(0)).cast("long")
    rep = _repetition_int_cols(text_col, 3)
    hits = stopword_hits(text_col)
    too_short = nt < F.lit(5)
    digit_heavy = 10 * nd > 3 * nc
    long_tokens = mean_tok_x100 > 1500
    repetitive = (5 * rep["top_tok_n"] > rep["n_tok"]) | (
        2 * rep["n_distinct_ngrams"] < rep["n_ngrams"]
    )
    low_stopword = 50 * hits < nt
    from kelos_on_kafka_spark.plans.layout import fan_out

    return fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        too_short.alias("too_short"),
        digit_heavy.alias("digit_heavy"),
        long_tokens.alias("long_tokens"),
        repetitive.alias("repetitive"),
        low_stopword.alias("low_stopword"),
        (
            ~too_short
            & ~digit_heavy
            & ~long_tokens
            & ~repetitive
            & ~low_stopword
        ).alias("keep"),
    )


def contamination(
    docs: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_text_col: str = "text",
    ngram: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per document, how many of its distinct
    word n-grams also occur in the probe (benchmark/eval) corpus — the
    overlap check every serious pretraining pipeline runs so eval data
    is not memorized (the n-gram-overlap method of GPT-3 appendix C /
    PaLM; 13-gram in production, smaller here so tests exercise hits).

    Returns (doc_id, n_shingles, n_contaminated, contaminated) — all
    integers/boolean; a doc is flagged when ANY probe shingle occurs.
    Counts are over distinct shingle HASHES (the same portable md5 on
    both engines, so hash collisions preserve parity by construction).

    Scale shape: the probe side (benchmarks: thousands of docs, not
    billions) reduces to a distinct md5-shingle-hash set that is
    BROADCAST; the corpus side is ONE pass — explode, hash (so only
    8-byte keys ever shuffle, never shingle strings), per-doc distinct,
    broadcast left join to mark hits, one aggregation producing both
    counts."""
    from kelos_on_kafka_spark.plans.layout import fan_out

    # (r07 A/B, rejected: hashing only DISTINCT shingles and joining
    # back — the in-row transform is a pure map with no exchange, and
    # the join form's extra shuffles cost more than the saved md5
    # chains; same measured outcome as minhash_signatures)
    doc_sh = (
        fan_out(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(
                F.array_distinct(
                    F.transform(
                        _nonempty_shingles(text_col, ngram),
                        lambda s: _hash64(s, 0),
                    )
                )
            ).alias("h"),
        )
    )
    probe_sh = (
        probes.select(
            F.explode(
                F.transform(
                    _nonempty_shingles(probe_text_col, ngram),
                    lambda s: _hash64(s, 0),
                )
            ).alias("h")
        )
        .distinct()
        .select("h", F.lit(1).alias("hit"))
    )
    return (
        doc_sh.join(F.broadcast(probe_sh), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("h")).alias("n_shingles"),
            F.count(F.col("hit")).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_contaminated").cast("long").alias("n_contaminated"),
            (F.col("n_contaminated") > 0).alias("contaminated"),
        )
    )


def top_terms_tfidf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document top-k distinctive terms — TF-IDF keyword extraction
    as a pure relational pipeline (token explode -> per-doc term counts
    -> corpus doc-frequencies -> per-doc ranking window).

    The RANK is decided by integer-only ordering (tf desc, doc_freq
    asc, term asc): within a document this prefers frequent-and-rare
    terms deterministically, engine-portably, with no float comparison
    in the contract.  The conventional double score
    ``tfidf = tf * ln(n_docs / doc_freq)`` is also emitted for
    consumers but deliberately EXCLUDED from the oracle hash: measured
    on this platform, JVM Math.log and DuckDB ln() disagree by one ulp
    on ~2 % of inputs, so a cross-engine float contract on ln is
    unsound (the same reason aggregate sums go through DECIMAL).

    Scale shape: two shuffles — (doc_id, term) counts with map-side
    partial aggregation, then term doc-frequencies (16-byte-ish keys);
    the per-doc top-k window partitions on doc_id.  No all-corpus
    vocabulary ever sits on one node."""
    from pyspark.sql.window import Window

    from kelos_on_kafka_spark.plans.layout import fan_out

    toks = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    # corpus size as a broadcast scalar, not a driver-side count(): the
    # whole op stays one lazy plan
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("doc_freq").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "doc_id",
            "rank",
            "term",
            "tf",
            "doc_freq",
            (
                F.col("tf")
                * F.log(
                    F.col("n_docs").cast("double") / F.col("doc_freq")
                )
            ).alias("tfidf"),
        )
    )


def corpus_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_cols: tuple = ("lang", "source"),
) -> DataFrame:
    """The data card: per (lang, source) cell — doc/token totals,
    low-quality and repetitive fractions (as exact counts), and the
    exact-duplicate rate (docs minus distinct md5 fingerprints) — the
    one table a pretraining run publishes about its corpus and the
    first thing reviewers ask for (composition + contamination
    surface).

    Everything is an integer count so the oracle comparison is exact;
    consumers derive the fractions.  Scale shape: per-doc stats are the
    zero-shuffle projections above, composed by COLUMN REUSE in one
    projection pass (r07: the r06 form joined three per-doc branches on
    doc_id — two extra shuffles plus three separate scans of the text,
    for signals that are all expressions over the same row); the rollup
    is a single map-side-combinable aggregation on the
    (low-cardinality) group key."""
    from kelos_on_kafka_spark.plans.layout import fan_out

    rep = _repetition_int_cols(text_col, 3)
    nt = n_tokens(text_col)
    nc = n_chars(text_col)
    nd = n_digit_chars(text_col)
    mean_tok_x100 = F.when(
        nt > 0, F.floor((100 * (nc - (nt - 1))) / nt)
    ).otherwise(F.lit(0)).cast("long")
    is_low = (
        (nt < F.lit(5))
        | (10 * nd > 3 * nc)
        | (mean_tok_x100 > 1500)
    )
    repetitive = (5 * rep["top_tok_n"] > rep["n_tok"]) | (
        2 * rep["n_distinct_ngrams"] < rep["n_ngrams"]
    )
    joined = fan_out(df).select(
        *[F.col(c) for c in group_cols],
        rep["n_tok"].alias("n_tok"),
        is_low.alias("is_low_quality"),
        repetitive.alias("repetitive"),
        F.md5(F.col(text_col)).alias("__fp"),
    )
    return (
        joined.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(F.col("is_low_quality").cast("long"))
            .cast("long")
            .alias("n_low_quality"),
            F.sum(F.col("repetitive").cast("long"))
            .cast("long")
            .alias("n_repetitive"),
            (
                F.count(F.lit(1)) - F.count_distinct(F.col("__fp"))
            )
            .cast("long")
            .alias("n_exact_dups"),
        )
    )


def normalize_text(text_col: str = "text") -> Column:
    """Canonical text form for near-exact dedup: lower-case, punctuation
    stripped, whitespace collapsed to single spaces, trimmed.
    Portable regex subset (identical semantics under Java regex and
    RE2/DuckDB), so the normalized form — and anything derived from it —
    is reproducible in an external SQL engine.  (Unicode NFC/NFKC
    folding needs ICU and is NOT applied; at deployment add it in front
    of this as a pre-pass if the corpus requires it.)"""
    t = F.regexp_replace(F.lower(F.col(text_col)), r"[.,;:!?'\"()\[\]{}]", "")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def normalized_dup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup MODULO normalization — catches the case/whitespace/
    punctuation variants byte-exact dedup misses, at exactly the same
    cost (one md5 per doc, one 16-byte-digest shuffle).  Returns one
    row per doc: (doc_id, norm_fp, keeper_id, n_variants); filter
    ``doc_id != keeper_id`` for the drop list."""
    from pyspark.sql.window import Window

    fp = df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(normalize_text(text_col)).alias("norm_fp"),
    )
    w = Window.partitionBy("norm_fp")
    return fp.select(
        "doc_id",
        "norm_fp",
        F.min("doc_id").over(w).alias("keeper_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_variants"),
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Corpus vocabulary with deterministic contiguous ids: whitespace
    tokens counted corpus-wide, tokens below ``min_count`` dropped,
    ids assigned by (count DESC, token ASC) — the frequency-ranked
    vocab a tokenizer-training / embedding pipeline consumes, byte-
    reproducible across runs and engines.  Returns
    (token, n, token_id) with token_id starting at 0.

    Scale shape: the explode + groupBy is the whole corpus pass (one
    shuffle on the token, map-side combined); the ranking window runs
    AFTER the aggregation on the vocab table itself — ~10^5-10^6 rows
    regardless of corpus size — so the single-task global sort it
    implies is a deliberate non-issue (same reasoning as a driver-side
    topK on an aggregated result, but it stays on executors)."""
    toks = (
        df.select(
            F.explode(
                F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
            ).alias("token")
        )
        .where(F.col("token") != "")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window as _W

    w = _W.orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.where(F.col("n") >= min_count)
        .withColumn(
            "token_id", (F.row_number().over(w) - 1).cast("long")
        )
    )


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    oov_id: int = -1,
) -> DataFrame:
    """Token-id ENCODING — the step after ``build_vocab`` in a
    tokenizer pipeline: each document's whitespace tokens, in
    position order, mapped to their vocab ids; out-of-vocabulary
    tokens get ``oov_id``.  Returns (id, pos, token, token_id) rows —
    the long-format encoded corpus that ``chunk_documents`` /
    ``pack_sequences`` consume downstream.

    Scale shape: the vocab is vocabulary-sized (~10^5-10^6 rows no
    matter the corpus), so the id lookup is a BROADCAST hash join —
    the exploded token stream never shuffles at all; the whole
    operator is one map stage over the corpus scan.  Documents whose
    text is NULL/empty produce no rows (they have no tokens to
    encode); posexplode positions are contiguous from 0 because the
    \\s+ split of a trimmed non-empty text never yields an empty
    token."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(
                F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"
            )
        ).alias("pos", "token"),
    ).where(F.col("token") != "")
    return toks.join(
        F.broadcast(vocab.select("token", "token_id")), "token", "left"
    ).select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        "token",
        F.coalesce(F.col("token_id"), F.lit(int(oov_id)).cast("long")).alias(
            "token_id"
        ),
    )


def adaptive_length_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    pct: float = 0.1,
) -> DataFrame:
    """Adaptive per-group quality gate: keep documents whose token
    count is >= their GROUP's ``pct`` percentile — thresholds adapt to
    each language/source instead of one global cutoff silently
    deleting whole low-resource languages (the CC-pipeline failure
    mode a fixed Gopher bound has).  Returns the kept rows as
    (doc_id, group, n_tokens, threshold).

    Scale shape: the threshold table is one tiny aggregation (rows =
    groups), broadcast back onto the corpus — the corpus itself is
    scanned once and never shuffled.  The exact percentile here is
    over the per-group token-count column (percentile() sorts counts
    inside the agg buffer, bounded by group cardinality after
    pre-aggregation is NOT possible — for unbounded groups swap in
    windowing.group_percentiles(exact=False), same join shape)."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("grp"),
        n_tokens(text_col).alias("n_tokens"),
    )
    thresholds = base.groupBy("grp").agg(
        F.expr(f"percentile(n_tokens, {pct})").alias("threshold")
    )
    return (
        base.join(F.broadcast(thresholds), "grp")
        .where(F.col("n_tokens") >= F.col("threshold"))
        .select("doc_id", F.col("grp"), "n_tokens", "threshold")
    )


def oov_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Per-document OUT-OF-VOCABULARY rate against the corpus vocab
    (``build_vocab``): (id, n_tokens, n_oov, oov_rate).  High OOV =
    gibberish/misencoded/foreign text the tokenizer will shred into
    bytes — a standard pretraining quality gate; docs with no tokens
    keep a row (n_tokens 0, rate NULL).

    Scale shape: one token-keyed shuffle join of (doc_id, token)
    pairs against the vocab (broadcast when the vocab fits — AQE
    decides from its actual size), then a doc-keyed count — text
    never shuffles.  The join is on the natural fine-grained token
    key; hot tokens (stopwords) are exactly the ones IN vocab, so
    the skew side carries no per-row state."""
    from kelos_on_kafka_spark.plans.layout import fan_out

    vocab = build_vocab(df, text_col=text_col, min_count=min_count)
    toks = fan_out(df).select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        ).alias("token"),
    ).where(F.col("token") != "")
    hit = toks.join(
        vocab.select("token", F.lit(1).alias("in_v")), "token", "left"
    )
    per_doc = hit.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0)).alias(
            "n_oov"
        ),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.coalesce("n_oov", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
            ).alias("oov_rate"),
        )
    )
