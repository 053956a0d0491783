"""Text analysis over the documents table (north-star extension,
BASELINE.json: language-ID, quality scoring, token counting, document
fingerprinting for LLM-data pipelines).

Everything is built-in pyspark.sql.functions — regex, md5, array ops —
so the hot path stays JVM-side and whole-stage-codegen'd; no Python UDFs.
Each expression has an exact DuckDB SQL twin (plans/text_queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword set for the language-ID heuristic. Word-boundary
# alternation keeps the regex identical in Spark (Java regex) and DuckDB (RE2).
EN_STOPWORDS = (
    "the|and|of|to|a|in|is|it|that|for|on|with|as|was|at|by|an|be|this|are"
)


def tokens_expr(text: Column | str) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array (both
    engines' split would otherwise return [''])."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count_expr(text: Column | str) -> Column:
    """NULL text -> NULL count (matching DuckDB's len(NULL)): a bare
    size() would return -1 under non-ANSI Spark and diverge from every
    oracle twin (same guard as repetition_signals' guarded_size)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(c.isNotNull(), F.size(tokens_expr(c))).cast("bigint")


# BPE-style pre-tokenizer regex (GPT-2 family shape): contractions,
# space-prefixed letter runs, digit runs, punctuation runs, whitespace.
# Restricted to ASCII classes + non-capturing groups so Java regex
# (Spark) and RE2 (DuckDB) match identically.
BPE_TOKEN_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_count_expr(text: Column | str) -> Column:
    """BPE-ish token count: number of pre-tokenizer matches — the cheap
    JVM-side proxy for 'how many tokens will the tokenizer emit', the
    budgeting metric of every LLM-data pipeline. (A real byte-pair
    merge table would multiply each match by its merge count; the match
    segmentation is the expensive, regex-able part.)"""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_REGEX)).cast("bigint")


def lower_terms(docs, *extra_cols: str):
    """doc_id (+extra cols) with one lowercased whitespace token per
    row — THE shared explode stage of every corpus term-statistics
    query (text_top_tokens, TF-IDF, BPE pairs, slice contrast): a
    single definition so the blank-text guard and the cluster-width
    repartition can never diverge between consumers.

    Repartitions to cluster width first (corpora arrive as few files;
    tokenization should run at cluster parallelism, not input-file
    granularity — see operators/partitioning.to_cluster_width)."""
    from .partitioning import to_cluster_width

    wide = to_cluster_width(docs, "doc_id")
    return wide.select(
        "doc_id", *extra_cols, F.explode(tokens_expr("text")).alias("tok")
    ).select("doc_id", *extra_cols, F.lower("tok").alias("term"))


def stopword_count_expr(text: Column | str) -> Column:
    """Count of English stopword occurrences (word-bounded)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(F.lower(c), F.lit(rf"\b({EN_STOPWORDS})\b")).cast("bigint")


def punct_count_expr(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"[.,!?;:]")).cast("bigint")


def quality_score_expr(text: Column | str) -> Column:
    """Heuristic quality score in [0,1]: rewards stopword presence and a
    sane mean word length, penalizes heavy punctuation. Deterministic
    double arithmetic (per-row, no aggregation order issues)."""
    n_tok = token_count_expr(text).cast("double")
    n_stop = stopword_count_expr(text).cast("double")
    n_punct = punct_count_expr(text).cast("double")
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c).cast("double")
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    mean_wlen = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    wlen_ok = F.when((mean_wlen >= 3.0) & (mean_wlen <= 12.0), 1.0).otherwise(0.0)
    score = (
        F.least(stop_ratio * 2.0, F.lit(1.0)) * 0.5
        + wlen_ok * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.2
    )
    return score


def predicted_lang_expr(text: Column | str, threshold: float = 0.12) -> Column:
    """N-gram-free language-ID heuristic: English if the stopword-to-token
    ratio clears the threshold. (A production system would use character
    n-gram profiles; the driver documents carry a ``lang`` column to
    compare against.)"""
    n_tok = token_count_expr(text).cast("double")
    n_stop = stopword_count_expr(text).cast("double")
    ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    return F.when(ratio >= threshold, "en").otherwise("other")


def normalized_text_expr(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, non-alphanumerics
    collapsed to single spaces, trimmed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def fingerprint_expr(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (md5 hex is identical across Spark, DuckDB, and Python hashlib.)"""
    return F.md5(normalized_text_expr(text))


def ngram_array_expr(tokens: Column, n: int) -> Column:
    """Word n-gram array from a token array, as a PURE expression:
    n-1 chained zip_with over shifted slices (no explode, no shuffle —
    the array never leaves the row). Fewer than n tokens -> empty array
    (greatest(len-n+1, 0) guards the ANSI negative-length slice)."""
    length = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(0))
    g = F.slice(tokens, 1, length)
    for i in range(1, n):
        g = F.zip_with(
            g,
            F.slice(tokens, i + 1, length),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return g


def repetition_signals(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 §A1.1 adapted to single-line docs): token repetition fraction
    (1 - distinct/total, expression-only via array_distinct) and the
    fraction of all {2,3}-grams taken by the single most frequent one —
    the standard boilerplate/loop detector in LLM data curation (a page
    of repeated nav text scores near 1, prose near 1/n_grams).

    Scale shape: token stats are per-row expressions (no shuffle); the
    top-n-gram counts are one explode -> groupBy(doc, n, gram) ->
    groupBy(doc) — both aggregations keyed by doc_id, so the shuffle is
    uniform in documents (never in gram frequency: the per-doc count
    map is at most the doc's own gram count, no global hot key). The
    two gram widths ride ONE explode pipeline (a struct array of
    (n, grams)), so the text is tokenized and shuffled once.

    Contract for degenerate docs: EVERY input doc appears in the output
    (explode_outer keeps docs whose gram arrays are empty). A doc with
    <2 tokens has no 2-grams: its top_2gram_frac is NULL (not 0, not a
    dropped row); likewise top_3gram_frac for <3 tokens, and
    repeat_token_frac is NULL for an empty doc (0/0). NULL means 'no
    signal', which downstream quality filters must treat as pass-through
    rather than silently losing the doc from the corpus.

    NULL text is a distinct degenerate case from blank text: the token
    array is NULL (not empty), so n_tokens/distinct_tokens/all fracs
    are NULL — matching the DuckDB twin, where len(NULL list) is NULL.
    The isNotNull guard below keeps that true even under non-ANSI
    Spark, where a bare size(NULL) would return -1."""
    # tokenize + n-gram construction is the compute-heavy phase; run it
    # at cluster width, not input-file granularity. Tokens are
    # MATERIALIZED into a projected column first: the expression below
    # references them ~9 times (two sizes + the slices inside both
    # ngram_array_expr widths), and an inline tokenize would re-run the
    # split for every reference (the shingles_from_tokens discipline).
    from .partitioning import to_cluster_width

    t = F.col("_toks")
    docs = to_cluster_width(docs, id_col).select(
        id_col, tokens_expr(text_col).alias("_toks")
    )
    guarded_size = lambda c: F.when(  # noqa: E731
        c.isNotNull(), F.size(c)
    ).cast("bigint")
    base = docs.select(
        id_col,
        guarded_size(t).alias("n_tokens"),
        guarded_size(F.array_distinct(t)).alias("distinct_tokens"),
        F.array(
            *[
                F.struct(
                    F.lit(n).alias("n"), ngram_array_expr(t, n).alias("grams")
                )
                for n in (2, 3)
            ]
        ).alias("_gs"),
    )
    grams = (
        base.select(
            id_col, "n_tokens", "distinct_tokens", F.explode("_gs").alias("_s")
        )
        .select(
            id_col,
            "n_tokens",
            "distinct_tokens",
            F.col("_s.n").alias("gram_n"),
            F.explode_outer("_s.grams").alias("gram"),
        )
    )
    counts = grams.groupBy(
        id_col, "n_tokens", "distinct_tokens", "gram_n", "gram"
    ).agg(F.count(F.lit(1)).alias("c"))
    has_gram = F.col("gram").isNotNull()  # explode_outer placeholder rows
    two = (F.col("gram_n") == 2) & has_gram
    three = (F.col("gram_n") == 3) & has_gram
    per_doc = counts.groupBy(id_col, "n_tokens", "distinct_tokens").agg(
        F.max(F.when(two, F.col("c"))).alias("top_2gram"),
        F.sum(F.when(two, F.col("c"))).alias("n_2grams"),
        F.max(F.when(three, F.col("c"))).alias("top_3gram"),
        F.sum(F.when(three, F.col("c"))).alias("n_3grams"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return per_doc.select(
        id_col,
        "n_tokens",
        "distinct_tokens",
        (F.lit(1.0) - dbl("distinct_tokens") / dbl("n_tokens")).alias(
            "repeat_token_frac"
        ),
        (dbl("top_2gram") / dbl("n_2grams")).alias("top_2gram_frac"),
        (dbl("top_3gram") / dbl("n_3grams")).alias("top_3gram_frac"),
    )


# PII scrubbing patterns. Restricted to constructs Java regex (Spark)
# and RE2 (DuckDB) match identically: ASCII classes, bounded repeats,
# \b word boundaries — no lookarounds, no backrefs (RE2 has neither).
PII_EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_REGEX = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_REGEX = r"\+[0-9]{7,15}\b"


def pii_scrub(
    docs: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """PII detection + redaction — the compliance pass every
    training-data pipeline runs before text leaves the curation zone:
    count and replace emails, dotted-quad IPv4 addresses, and
    +international phone numbers with typed placeholder tags. Emits
    (doc_id, n_emails, n_ipv4, n_phones, n_chars_before, n_chars_after,
    redacted_hash) — the hash (md5 of the redacted text) lets audits
    verify the scrub deterministically without persisting the text
    twice. NULL text flows through as NULL counts/hash (the engine-
    agnostic 'no signal' contract of repetition_signals).

    Redaction ORDER is part of the contract: emails first (an address
    would otherwise have its host's dotted runs half-eaten if a broad
    pattern ran first), then IPv4, then phones — and each COUNT runs on
    the same intermediate its replacement runs on (emails on the raw
    text, IPs on the email-redacted text, phones on the IP-redacted
    text), so every count equals the number of tags actually inserted.
    Counting everything on the raw text would disagree with the
    redactions when patterns overlap — 'a+12345678@x.com' is one email
    and zero phones, but the raw text also matches the phone pattern
    (r6 review finding). Scale shape: pure per-row regexp_count/
    regexp_replace fused into the scan — no shuffle, JVM-side,
    whole-stage-codegen'd.
    """
    c = F.col(text_col)
    after_email = F.regexp_replace(c, PII_EMAIL_REGEX, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IPV4_REGEX, "<IP>")
    redacted = F.regexp_replace(after_ip, PII_PHONE_REGEX, "<PHONE>")
    staged = docs.select(
        F.col(id_col),
        c.alias("_t0"),
        after_email.alias("_t1"),
        after_ip.alias("_t2"),
        redacted.alias("_t3"),
    )
    return staged.select(
        id_col,
        F.regexp_count(F.col("_t0"), F.lit(PII_EMAIL_REGEX))
        .cast("bigint")
        .alias("n_emails"),
        F.regexp_count(F.col("_t1"), F.lit(PII_IPV4_REGEX))
        .cast("bigint")
        .alias("n_ipv4"),
        F.regexp_count(F.col("_t2"), F.lit(PII_PHONE_REGEX))
        .cast("bigint")
        .alias("n_phones"),
        F.length(F.col("_t0")).cast("bigint").alias("n_chars_before"),
        F.length(F.col("_t3")).cast("bigint").alias("n_chars_after"),
        F.md5(F.col("_t3")).alias("redacted_hash"),
    )


# Deployed-artifact weights for the linear quality classifier. In a real
# pipeline these come from a trained fastText/logreg model; the VALUES
# are a fixed artifact either way — scoring cost and plan shape are
# identical, which is what this operator demonstrates.
QUALITY_CLF_WEIGHTS = {
    "bias": -1.0,
    "stop_ratio": 4.0,      # stopword presence: strongest prose signal
    "punct_ratio": -8.0,    # punctuation walls -> boilerplate/code
    "digit_ratio": -2.0,    # digit-heavy -> tables/ids
    "wlen_dev": -0.15,      # |mean word len - 5| deviation penalty
}


def digit_count_expr(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"[0-9]")).cast("bigint")


def quality_classifier(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> "DataFrame":
    """Model-based quality filtering — the classifier pass of a
    training-data pipeline (CCNet/fastText discipline): a linear model
    over cheap per-row features, squashed to (0,1), thresholded into a
    keep decision. Differs from quality_score_expr (a hand-tuned
    heuristic) in shape: weights are a deployed ARTIFACT (literals in
    the plan, swappable without code changes) and the output carries
    the score + decision for audit.

    The squash is the ALGEBRAIC sigmoid z/(1+|z|) rescaled to (0,1) —
    exp() is a transcendental whose last-ulp behavior differs across
    libm implementations, while divide/abs are IEEE-exact in every
    engine, so the score is hash-verifiable cross-engine at full
    precision. Monotone in z, so thresholding is equivalent up to
    re-calibration. Scale shape: pure per-row expressions fused into
    the scan; no shuffle, no UDF."""
    c = F.col(text_col)
    n_tok = token_count_expr(c).cast("double")
    n_chars = F.length(c).cast("double")
    stop_ratio = F.when(n_tok > 0, stopword_count_expr(c).cast("double") / n_tok).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, punct_count_expr(c).cast("double") / n_chars).otherwise(0.0)
    digit_ratio = F.when(n_chars > 0, digit_count_expr(c).cast("double") / n_chars).otherwise(0.0)
    mean_wlen = F.when(n_tok > 0, n_chars / n_tok).otherwise(0.0)
    w = QUALITY_CLF_WEIGHTS
    z = (
        F.lit(w["bias"])
        + F.lit(w["stop_ratio"]) * stop_ratio
        + F.lit(w["punct_ratio"]) * punct_ratio
        + F.lit(w["digit_ratio"]) * digit_ratio
        + F.lit(w["wlen_dev"]) * F.abs(mean_wlen - F.lit(5.0))
    )
    score = (z / (F.lit(1.0) + F.abs(z)) + F.lit(1.0)) * F.lit(0.5)
    return docs.select(
        F.col(id_col),
        F.round(score, 9).alias("quality_score"),
        (score >= F.lit(float(threshold))).alias("kept"),
    )


def merge_fold_expr(syms, pa: str, pb: str):
    """Greedy left-to-right non-overlapping application of ONE BPE
    merge rule (pa, pb) to a symbol-array column, as a pure aggregate
    fold: append each symbol, or replace the accumulator's tail with
    the merged symbol when it completes the pair. A freshly merged
    symbol never re-matches pa (it is strictly longer), which is
    exactly the non-overlap guarantee. Shared by the trainer loop and
    the encode query so the two can never disagree on merge
    semantics."""
    from pyspark.sql import functions as F

    c = F.col(syms) if isinstance(syms, str) else syms
    return F.aggregate(
        c,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(pa))
            & (s == F.lit(pb)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(pa + pb))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def char_syms_expr(word):
    """Initial BPE symbol array: one single-character symbol per
    position (shared by the trainer's round-0 table and the encode
    query's vocabulary segmentation)."""
    from pyspark.sql import functions as F

    c = F.col(word) if isinstance(word, str) else word
    return F.transform(
        F.sequence(F.lit(1), F.length(c)), lambda i: c.substr(i, F.lit(1))
    )


def bpe_train_merges(
    docs, rounds: int = 4, text_col: str = "text"
):
    """Multi-round byte-pair-encoding MERGE TRAINING (Sennrich et al.
    2016): the iterative loop a BPE tokenizer trainer runs — count
    adjacent symbol pairs over the word-frequency table, pick the most
    frequent pair (ties: lexicographic), merge every occurrence
    greedily left-to-right, repeat. Returns one row per learned merge:
    (merge_rank, left_sym, right_sym, merged, pair_count).

    text_bpe_pair_merge is round 1's counting stage; this operator is
    the full trainer kernel for ``rounds`` merges. Scale shape: every
    round runs over the VOCABULARY (distinct words + frequencies, the
    map-side-combined heavy-hitter shuffle), never the corpus; the
    per-round argmax is ONE collected row (the connected-components /
    codebook eager-build precedent — KB-scale driver artifacts), and
    merge application is a JVM-side aggregate fold over each word's
    symbol array (exact greedy non-overlapping semantics: a freshly
    merged symbol never re-matches the rule's left side because it is
    strictly longer). Integer counts and strings only — nothing
    float-hash-fragile; the DuckDB oracle replays the fold with
    list_reduce over the same sentinel-initialized struct stream.

    Early exit: a round with no pair (all words collapsed to single
    symbols) stops the loop — callers at tiny ``rounds`` on natural
    text never hit it."""
    from pyspark.sql import functions as F

    spark = docs.sparkSession
    words = (
        lower_terms(docs)
        .groupBy(F.col("term").alias("word"))
        .agg(F.count(F.lit(1)).alias("word_freq"))
    )
    cur = words.select("word_freq", char_syms_expr("word").alias("syms"))
    merges: list[tuple] = []
    # Function-scoped persists: round r's argmax would otherwise
    # re-execute every earlier round's merge fold (lazy chain — the
    # trainer cost grows quadratically in rounds). Each round's symbol
    # table is persisted; a generation is unpersisted only after its
    # SUCCESSOR has been materialized by the next argmax job (dropping
    # it earlier would force that argmax to recompute the whole
    # chain). Nothing outlives the builder, so the no-unmanaged-cache
    # contract for registered queries holds.
    live_persist = None  # backs `cur`
    prev_persist = None  # one generation older, still referenced by cur's plan
    for r in range(1, rounds + 1):
        pair_structs = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at("syms", i).alias("pa"),
                    F.element_at("syms", i + 1).alias("pb"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pa:string,pb:string>>"))
        top = (
            cur.select("word_freq", F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
            .agg(F.sum("word_freq").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pa"), F.asc("pb"))
            .limit(1)
            .collect()
        )
        # the argmax above materialized live_persist (if any), so the
        # generation BEHIND it is no longer needed for recompute
        if prev_persist is not None:
            prev_persist.unpersist(blocking=False)
            prev_persist = None
        if not top:
            break
        pa, pb, cnt = top[0].pa, top[0].pb, top[0].cnt
        merges.append((r, pa, pb, pa + pb, cnt))
        # the final round's merge fold would never be consumed (its
        # argmax was already collected) — skip building/persisting that
        # generation entirely (ADVICE r11)
        if r < rounds:
            cur = cur.select(
                "word_freq", merge_fold_expr("syms", pa, pb).alias("syms")
            ).persist()
            prev_persist, live_persist = live_persist, cur
    for h in (live_persist, prev_persist):
        if h is not None:
            h.unpersist(blocking=False)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    ).orderBy("merge_rank")


# ---------------------------------------------------------------- r12f
# Count-Min sketch primitives, shared between the batch audit query
# (plans/eval_queries.text_countmin_heavyhitters) and the streaming
# maintenance sink (streaming/sketch.py) so the two can never diverge:
# the sketch is a mergeable summary (cells ADD), which is exactly what
# makes it maintainable under foreachBatch at delta cost.
CMS_D = 4
CMS_W = 1024


def term_counts(docs) -> "DataFrame":
    """(term, tf) corpus term frequencies over the shared lower_terms
    tokenization — one map-side-combined groupBy."""
    return lower_terms(docs).groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )


def countmin_entries(tc) -> "DataFrame":
    """(term, tf, r, c) sketch coordinates for a (term, tf) relation:
    row r hashes the term with the shared hash60 universal family
    ((a_r·hb + b_r) mod P31) mod CMS_W — pure per-row expressions, a
    CMS_D-fold fanout of the term-grain relation."""
    from .dedup import P31, hash60_expr, minhash_params

    hb = (hash60_expr("term") % P31).alias("hb")
    return (
        tc.select("term", "tf", hb)
        .select(
            "term",
            "tf",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("r"),
                            (
                                (F.lit(a).cast("bigint") * F.col("hb") + F.lit(b))
                                % P31
                                % CMS_W
                            ).alias("c"),
                        )
                        for j, (a, b) in enumerate(minhash_params(CMS_D))
                    ]
                )
            ).alias("rc"),
        )
        .select("term", "tf", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    )


def countmin_cells(tc) -> "DataFrame":
    """(r, c, n) sketch cells for a (term, tf) relation — at most
    CMS_D × CMS_W rows regardless of corpus size. Cells are ADDITIVE:
    countmin_cells(a ∪ b) == cellwise-sum(countmin_cells(a),
    countmin_cells(b)), the mergeable-summary property the streaming
    sink relies on (pinned in tests/test_streaming_sketch.py)."""
    return countmin_entries(tc).groupBy("r", "c").agg(
        F.sum("tf").cast("bigint").alias("n")
    )
