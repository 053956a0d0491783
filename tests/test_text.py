"""Repetition-signal tests on hand-computed fixtures (the driver query
text_repetition_signals hash-verifies the same pipeline against DuckDB
on the documents table; these pin the arithmetic to known answers)."""

import pytest

from retail_sales_analysis_etl_bi_project_spark.operators.text import (
    ngram_array_expr,
    repetition_signals,
    tokens_expr,
)

from pyspark.sql import functions as F


def test_ngram_array_expr_known(spark):
    df = spark.createDataFrame([("a b c d",), ("x",)], "text string")
    out = df.select(
        ngram_array_expr(tokens_expr("text"), 2).alias("g2"),
        ngram_array_expr(tokens_expr("text"), 3).alias("g3"),
    ).collect()
    assert out[0].g2 == ["a b", "b c", "c d"]
    assert out[0].g3 == ["a b c", "b c d"]
    assert out[1].g2 == []  # shorter than n -> empty, no ANSI slice error
    assert out[1].g3 == []


@pytest.mark.parametrize(
    "text,n_tokens,distinct,rep,top2,top3",
    [
        ("a a a a", 4, 1, 0.75, 3 / 3, 2 / 2),
        ("a b c d", 4, 4, 0.0, 1 / 3, 1 / 2),
        ("x y x y x", 5, 2, 0.6, 2 / 4, 2 / 3),
    ],
)
def test_repetition_signals_known(spark, text, n_tokens, distinct, rep, top2, top3):
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    r = repetition_signals(docs).collect()[0]
    assert r.n_tokens == n_tokens
    assert r.distinct_tokens == distinct
    assert abs(r.repeat_token_frac - rep) < 1e-12
    assert abs(r.top_2gram_frac - top2) < 1e-12
    assert abs(r.top_3gram_frac - top3) < 1e-12


def test_repetition_signals_boilerplate_scores_high(spark, sf_dir):
    """A heavily templated doc must out-score natural prose on the
    repetition fractions — the curation filter's discriminating
    direction."""
    docs = spark.createDataFrame(
        [
            (0, "click here to subscribe " * 20),
            (1, "the quick brown fox jumps over a lazy dog near the river bank"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_signals(docs).collect()}
    assert rows[0].top_2gram_frac > rows[1].top_2gram_frac
    assert rows[0].top_3gram_frac > rows[1].top_3gram_frac
    assert rows[0].repeat_token_frac > rows[1].repeat_token_frac


def test_repetition_signals_match_python_reference_on_random_docs(spark):
    """One batched run over ~120 random docs (multi-space, tabs, edge
    whitespace, heavy repetition) must equal a pure-Python reference —
    guards the tokenizer/n-gram/agg pipeline off the clean-corpus happy
    path the driver oracle exercises."""
    import random
    from collections import Counter

    rng = random.Random(31337)
    vocab = ["a", "bb", "ccc", "the", "of", "x1", "€", "a-b"]
    docs = []
    for i in range(120):
        n = rng.randint(2, 40)
        words = [rng.choice(vocab) for _ in range(n)]
        sep = rng.choice([" ", "  ", "\t", " \t "])
        text = sep.join(words)
        if rng.random() < 0.3:
            text = " " + text + "  "
        docs.append((i, text))
    got = {
        r.doc_id: r
        for r in __import__(
            "retail_sales_analysis_etl_bi_project_spark.operators.text",
            fromlist=["repetition_signals"],
        )
        .repetition_signals(
            spark.createDataFrame(docs, "doc_id long, text string")
        )
        .collect()
    }
    for i, text in docs:
        toks = text.strip().split()
        g2 = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        g3 = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        r = got[i]
        assert r.n_tokens == len(toks)
        assert r.distinct_tokens == len(set(toks))
        assert abs(r.repeat_token_frac - (1.0 - len(set(toks)) / len(toks))) < 1e-12
        if g2:
            top2 = Counter(g2).most_common(1)[0][1]
            assert abs(r.top_2gram_frac - top2 / len(g2)) < 1e-12
        if g3:
            top3 = Counter(g3).most_common(1)[0][1]
            assert abs(r.top_3gram_frac - top3 / len(g3)) < 1e-12


def test_repetition_signals_keeps_short_docs(spark):
    """Contract: EVERY doc appears in the output. Docs with <2 tokens
    have no 2-grams -> NULL fractions, never a dropped row (r3 ADVICE:
    the old explode() silently lost them from the corpus)."""
    docs = spark.createDataFrame(
        [(0, "solo"), (1, "two words"), (2, ""), (3, "a b c"), (4, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_signals(docs).collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    # 1 token: no grams at all
    assert rows[0].n_tokens == 1
    assert rows[0].top_2gram_frac is None and rows[0].top_3gram_frac is None
    assert rows[0].repeat_token_frac == 0.0
    # 2 tokens: one 2-gram, no 3-grams
    assert rows[1].top_2gram_frac == 1.0 and rows[1].top_3gram_frac is None
    # empty doc: zero tokens, every signal NULL (0/0)
    assert rows[2].n_tokens == 0
    assert rows[2].repeat_token_frac is None
    assert rows[2].top_2gram_frac is None and rows[2].top_3gram_frac is None
    # normal doc unaffected
    assert rows[3].top_2gram_frac == 0.5 and rows[3].top_3gram_frac == 1.0
    # NULL text: NULL token array, so n_tokens/distinct/fracs are all
    # NULL (the DuckDB twin's len(NULL)=NULL), NOT -1 (r5 ADVICE: a
    # bare size(NULL) under non-ANSI Spark would give n_tokens=-1)
    assert rows[4].n_tokens is None and rows[4].distinct_tokens is None
    assert rows[4].repeat_token_frac is None
    assert rows[4].top_2gram_frac is None and rows[4].top_3gram_frac is None


def test_bpe_train_merges_greedy_semantics(spark):
    """Hand-computed 2-round BPE trainer run. Word freqs: aaab x3,
    ab x1. Round 1: raw adjacent pair counts are (a,a)=2 per 'aaab'
    (positions 1-2 and 2-3) so 6 total, (a,b)=4 -> merge ('a','a');
    greedy left-to-right application turns [a,a,a,b] into [aa,a,b]
    (non-overlapping: the second 'aa' window shares its first 'a').
    Round 2 over merged symbols: (aa,a)=3, (a,b)=4 -> merge
    ('a','b')."""
    from retail_sales_analysis_etl_bi_project_spark.operators.text import (
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(1, "aaab aaab ab"), (2, "aaab")], "doc_id long, text string"
    )
    rows = bpe_train_merges(docs, rounds=2).collect()
    # word freqs: aaab=3, ab=1
    # round 1 raw pair counts: (a,a): 2 per aaab * 3 = 6; (a,b): 3+1 = 4
    r1 = rows[0]
    assert (r1.left_sym, r1.right_sym, r1.merged, r1.pair_count) == (
        "a", "a", "aa", 6
    )
    # greedy merge: [a,a,a,b] -> [aa,a,b]; ab -> [a,b]
    # round 2 counts: (aa,a): 3, (a,b): 3+1=4 -> top is (a,b)
    r2 = rows[1]
    assert (r2.left_sym, r2.right_sym, r2.merged, r2.pair_count) == (
        "a", "b", "ab", 4
    )


def test_bpe_train_merges_early_exit_on_single_symbols(spark):
    """A corpus whose words collapse to single symbols stops the loop
    instead of erroring — fewer merge rows than requested rounds."""
    from retail_sales_analysis_etl_bi_project_spark.operators.text import (
        bpe_train_merges,
    )

    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    rows = bpe_train_merges(docs, rounds=4).collect()
    # round 1 merges (a,b) -> every word becomes the single symbol 'ab';
    # round 2 has no pairs -> loop stops with exactly one merge row
    assert len(rows) == 1
    assert rows[0].merged == "ab"


def test_bpe_encode_matches_hand_segmentation(spark):
    """Train 2 merges on 'aaab aaab ab' + 'aaab', then encode: merges
    are (a,a) then (a,b); 'aaab' segments [a,a,a,b]->[aa,a,b]->[aa,ab]
    (2 tokens), 'ab' -> [ab] (1 token)."""
    from pyspark.sql import functions as F

    from retail_sales_analysis_etl_bi_project_spark.operators.text import (
        bpe_train_merges,
        char_syms_expr,
        lower_terms,
        merge_fold_expr,
    )

    docs = spark.createDataFrame(
        [(1, "aaab aaab ab"), (2, "aaab")], "doc_id long, text string"
    )
    merges = [
        (r.left_sym, r.right_sym) for r in bpe_train_merges(docs, 2).collect()
    ]
    assert merges == [("a", "a"), ("a", "b")]
    pertf = (
        lower_terms(docs)
        .groupBy("doc_id", F.col("term").alias("word"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    syms = char_syms_expr("word")
    for pa, pb in merges:
        syms = merge_fold_expr(syms, pa, pb)
    vlen = pertf.select("word").distinct().select(
        "word", F.size(syms).alias("n_bpe")
    )
    got = {
        r.doc_id: r.n_tokens
        for r in pertf.join(vlen, "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("n_bpe")).alias("n_tokens"))
        .collect()
    }
    assert got == {1: 5, 2: 2}  # doc1: 2+2+1; doc2: 2
