from __future__ import annotations

from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import text


def one(spark, t, col):
    df = spark.createDataFrame([(t,)], "text string")
    return df.select(col(F.col("text")).alias("v")).collect()[0]["v"]


def on_tokens(spark, texts, col):
    """``col`` of each text's token column, projected first the way the
    engine's text paths do; one value per text, in order."""
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    toks = df.select("i", text.tokens(F.col("text")).alias("_toks"))
    rows = toks.select("i", col(F.col("_toks")).alias("v")).collect()
    return [r["v"] for r in sorted(rows)]


def bigrams(toks):
    return text.ngrams_from_tokens(toks, 2)


def test_token_count(spark):
    assert one(spark, "a b  c", text.token_count) == 3
    assert one(spark, "", text.token_count) == 0
    assert one(spark, "   ", text.token_count) == 0
    assert one(spark, "word", text.token_count) == 1


def test_bpe_ish_token_count(spark):
    # "hello, world42" -> hello , world 42
    assert one(spark, "hello, world42", text.bpe_ish_token_count) == 4


def test_punct_ratio(spark):
    assert one(spark, "abcd", text.punct_ratio) == 0.0
    assert one(spark, "a!b!", text.punct_ratio) == 0.5


def test_lang_id_markers(spark):
    assert one(spark, "the cat and the dog of the house", text.lang_id) == "en"
    assert one(spark, "der hund und die katze ist hier", text.lang_id) == "de"
    assert one(spark, "xyz qqq zzz", text.lang_id) == "und"


def test_lang_id_first_wins_on_tie(spark):
    # 'la' is in both es and fr lexicons; es checked first in LANG_MARKERS order
    assert one(spark, "la la", text.lang_id) == "es"


def test_fingerprint_normalization(spark):
    a = one(spark, "Hello   World", text.fingerprint)
    b = one(spark, "  hello world ", text.fingerprint)
    c = one(spark, "hello worlds", text.fingerprint)
    assert a == b
    assert a != c


def test_quality_score_bounds(spark):
    df = spark.createDataFrame([("x" * 600,), ("!!!???!!!",)], "text string")
    vals = [r["q"] for r in df.select(text.quality_score(F.col("text")).alias("q")).collect()]
    assert vals[0] == 1.0  # long clean text maxes out
    assert 0.0 <= vals[1] < 0.5  # punctuation soup penalized


def test_gopher_flags_each_rule(spark):
    good = "the cat and the dog have been to all of the parks with many friends " * 3
    rows = [
        (1, good),                      # passes everything
        (2, "the of and that"),         # too few words
        (3, "a b c " * 20 + "the of"),  # mean word length < 3
        (4, ("123 456 " * 20) + "the of and that more words here to pass count "
            "plus extra padding words making thirty total one two three four"),
        (5, "zebra quartz jumps over rocks near rivers while birds circle "
            "above mountains and valleys echo softly during twilight hours "
            "beyond distant horizons where travelers wander freely onward "
            "snow glimmers quietly under starlit skies tonight"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in text.gopher_quality_flags(df, "doc_id", "text").collect()}
    assert out[1]["passes"]
    assert not out[2]["ok_words"] and not out[2]["passes"]
    assert not out[3]["ok_mean_wl"] and not out[3]["passes"]
    assert not out[4]["ok_alpha"] and not out[4]["passes"]
    assert out[5]["ok_words"] and out[5]["ok_stopwords"] is False


def test_duplicate_bigram_fraction(spark):
    # "x y x y x y": bigrams = [x y, y x, x y, y x, x y] -> 5 total, 2 distinct
    def frac(toks):
        return text.duplicate_bigram_fraction_from_bigrams(bigrams(toks))

    v, unique, single, empty = on_tokens(
        spark, ["x y x y x y", "unique words only here", "single", ""], frac
    )
    assert abs(v - (1.0 - 2.0 / 5.0)) < 1e-9
    assert unique == 0.0
    assert single == 0.0
    assert empty == 0.0


def test_bigrams_guard_short_docs(spark):
    assert on_tokens(spark, ["", "one", "one two"], bigrams) == [
        [],
        [],
        ["one two"],
    ]


def test_ngrams_from_tokens_edge_rows(spark):
    """NULL text and documents shorter than n tokens give no n-grams;
    blank text is one empty token, and a leading non-space whitespace
    char tokenizes to a leading empty token (trim strips spaces only)."""
    texts = [None, "   ", "", "a b", "a b c d", "\ta b", "x y x y"]
    assert on_tokens(spark, texts, lambda t: text.ngrams_from_tokens(t, 1)) == [
        [], [""], [""], ["a", "b"], ["a", "b", "c", "d"], ["", "a", "b"],
        ["x", "y", "x", "y"],
    ]
    assert on_tokens(spark, texts, bigrams) == [
        [], [], [], ["a b"], ["a b", "b c", "c d"], [" a", "a b"],
        ["x y", "y x", "x y"],
    ]
    assert on_tokens(spark, texts, lambda t: text.ngrams_from_tokens(t, 3)) == [
        [], [], [], [], ["a b c", "b c d"], [" a b"], ["x y x", "y x y"],
    ]
    assert on_tokens(spark, texts, lambda t: text.ngrams_from_tokens(t, 8)) == [[]] * 7


def test_doc_perplexity_ranks_formulaic_below_novel(spark):
    """The corpus LM must assign lower perplexity to documents made of
    corpus-frequent bigrams than to one-off word salad — the property
    the keep/filter decision rides on."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import lm

    common = "the quick brown fox jumps over the lazy dog"
    rows = [(i, common) for i in range(20)] + [
        (100, "zebra quantum paradox nimbus vortex kettle"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.ppl for r in lm.doc_perplexity(docs, "doc_id", "text").collect()}
    assert out[0] == out[19]  # identical docs, identical score
    assert out[100] > out[0] * 3  # novel text is much more surprising


def test_doc_perplexity_short_docs_excluded(spark):
    """Docs with fewer than two tokens have no bigrams and no score —
    and must NOT fabricate a pair via descending sequence()."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "one"), (2, ""), (3, "two tokens")], "doc_id long, text string"
    )
    got = {r.doc_id for r in lm.doc_perplexity(docs, "doc_id", "text").collect()}
    assert got == {3}
