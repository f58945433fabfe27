"""Text-analysis function tests with hand-computed expectations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frames_map_reduce_spark.functions import text as TX


def _one(spark, s: str, col):
    return spark.createDataFrame([(s,)], "t string").select(col.alias("v")).first()["v"]


def test_token_count(spark):
    assert _one(spark, "a b  c", TX.token_count(F.col("t"))) == 3
    assert _one(spark, "  leading and trailing  ", TX.token_count(F.col("t"))) == 3
    assert _one(spark, "", TX.token_count(F.col("t"))) == 0
    assert _one(spark, "one", TX.token_count(F.col("t"))) == 1


def test_wordish_tokens(spark):
    got = _one(spark, "Hello, world! x2", TX.wordish_tokens(F.col("t")))
    assert got == ["hello", ",", "world", "!", "x2"]


def test_punct_and_digit_ratio(spark):
    # "ab.!12" → 6 chars, 2 punct, 2 digits
    assert _one(spark, "ab.!12", TX.punct_ratio(F.col("t"))) == pytest.approx(2 / 6)
    assert _one(spark, "ab.!12", TX.digit_ratio(F.col("t"))) == pytest.approx(2 / 6)
    assert _one(spark, "", TX.punct_ratio(F.col("t"))) is None  # 0/0 → NULL


def test_stopword_ratio(spark):
    assert _one(spark, "the cat sat on the mat",
                TX.stopword_ratio(F.col("t"))) == pytest.approx(3 / 6)


def test_lang_id(spark):
    cases = {
        "the cat and the dog of the house": "en",
        "der hund und die katze ist nicht da": "de",
        "le chat est dans la maison pour toujours": "fr",
        "el gato es para los amigos con una casa": "es",
        "il gatto di casa che corre per la strada con una scusa": "it",
        "zzz qqq xxx": "unknown",
        "": "unknown",
    }
    for text, want in cases.items():
        assert _one(spark, text, TX.lang_id(F.col("t"))) == want, text


def test_fingerprint_normalization(spark):
    a = _one(spark, "Hello   World", TX.fingerprint(F.col("t")))
    b = _one(spark, "  hello world ", TX.fingerprint(F.col("t")))
    c = _one(spark, "hello worlds", TX.fingerprint(F.col("t")))
    assert a == b and a != c


def test_char_shingles(spark):
    got = _one(spark, "abcdef", TX.char_shingles(F.col("t"), 3))
    assert sorted(got) == ["abc", "bcd", "cde", "def"]
    # shorter than k: one shingle = the whole (normalized) string
    assert _one(spark, "ab", TX.char_shingles(F.col("t"), 3)) == ["ab"]


def test_quality_score_ranges(spark):
    good = _one(spark, "the quick brown fox jumps over the lazy dog " * 12,
                TX.quality_score(F.col("t")))
    noisy = _one(spark, "!!! 111 ??? 222 !!! 333 " * 10, TX.quality_score(F.col("t")))
    assert 0.0 <= noisy < good <= 1.0


def test_sql_twins_match_spark(spark):
    """The DuckDB twins must agree with the Spark expressions on a corpus
    of edge-case strings — this is what keeps the oracle honest."""
    import duckdb
    samples = [
        "the quick brown fox", "", "  ", "UPPER lower MiXeD",
        "numbers 123 and punct !?", "der hund und die katze ist gut",
        "a" * 3, "multi   space\ttab", "le chat est la",
        # \x0b (vertical tab): Java/Python \s includes it, RE2's does not
        # — the explicit WS_CHARS class keeps both engines identical
        "vertical\x0btab", "mixed \x0b\f\r ws\x0brun",
    ]
    sdf = spark.createDataFrame([(s,) for s in samples], "text string")
    srows = sdf.select(
        F.col("text"),
        TX.token_count(F.col("text")).cast("bigint").alias("tc"),
        TX.wordish_count(F.col("text")).cast("bigint").alias("wc"),
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.lang_id(F.col("text")).alias("lang"),
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in samples])
    drows = con.sql(f"""
        SELECT text,
               CAST({TX.token_count_sql('text')} AS BIGINT) AS tc,
               CAST({TX.wordish_count_sql('text')} AS BIGINT) AS wc,
               {TX.fingerprint_sql('text')} AS fp,
               {TX.lang_id_sql('text')} AS lang
        FROM t""").fetchall()
    smap = {r["text"]: (r["tc"], r["wc"], r["fp"], r["lang"]) for r in srows}
    for text, tc, wc, fp, lang in drows:
        assert smap[text] == (tc, wc, fp, lang), f"mismatch for {text!r}"


def test_unicode_lower_product_path_consistency(spark):
    """The PRODUCT path (Spark expressions + the numpy replicas in
    operators/dedup.py) must agree on full-Unicode lowercasing.  DuckDB's
    lower() is known to diverge on two clusters (dotted-İ keeps no
    combining dot; no final-sigma rule) — that is an ORACLE boundary, not
    a product bug: oracles are exact wherever lower() agrees (all of
    ASCII, hence all driver testdata).  This test pins BOTH facts so a
    DuckDB upgrade that changes behavior surfaces loudly."""
    import duckdb
    samples = ["İstanbul", "ΣΙΣΥΦΟΣ ΤΕΛΟΣ", "Straße", "ǅungla"]
    rows = (spark.createDataFrame([(s,) for s in samples], "t string")
                 .select("t", F.lower("t").alias("l")).collect())
    for r in rows:
        assert r["l"] == r["t"].lower(), r["t"]  # Spark == Python
    con = duckdb.connect()
    duck = {s: con.sql("SELECT lower(?)", params=[s]).fetchone()[0]
            for s in samples}
    assert duck["Straße"] == "Straße".lower()
    assert duck["ǅungla"] == "ǅungla".lower()
    # the two documented divergences — if these start MATCHING, the
    # oracle boundary note in simhash_oracle_sql can be retired
    assert duck["İstanbul"] != "İstanbul".lower()
    assert duck["ΣΙΣΥΦΟΣ ΤΕΛΟΣ"] != "ΣΙΣΥΦΟΣ ΤΕΛΟΣ".lower()


def test_word_ngrams(spark):
    assert _one(spark, "A b c d", TX.word_ngrams(F.col("t"), 2)) == \
        ["a b", "b c", "c d"]
    assert _one(spark, "a b c d", TX.word_ngrams(F.col("t"), 3)) == \
        ["a b c", "b c d"]
    assert _one(spark, "a b", TX.word_ngrams(F.col("t"), 1)) == ["a", "b"]
    # fewer tokens than n → empty, not null
    assert _one(spark, "solo", TX.word_ngrams(F.col("t"), 2)) == []
    assert _one(spark, "", TX.word_ngrams(F.col("t"), 2)) == []
    with pytest.raises(ValueError):
        TX.word_ngrams(F.col("t"), 0)


def test_word_ngrams_sql_twin(spark):
    import duckdb
    for s in ["a b c d e", "x", "", "one two", "  padded   tokens  here "]:
        spark_v = _one(spark, s, TX.word_ngrams(F.col("t"), 3))
        duck_v = duckdb.sql(
            f"SELECT {TX.word_ngrams_sql(f'''{s!r}''', 3)} AS g").fetchone()[0]
        assert spark_v == duck_v, s


def test_pii_count_and_redact(spark):
    s = "mail a@b.co or x.y+z@corp.example.net, call 555-123-4567 / (555) 123-4567"
    assert _one(spark, s, TX.pii_count(F.col("t"), "email")) == 2
    assert _one(spark, s, TX.pii_count(F.col("t"), "phone")) == 2
    red = _one(spark, s, TX.redact_pii(F.col("t")))
    assert red == "mail <EMAIL> or <EMAIL>, call <PHONE> / <PHONE>"
    # no PII → text unchanged
    assert _one(spark, "plain words only", TX.redact_pii(F.col("t"))) == \
        "plain words only"


def test_pii_sql_twin(spark):
    import duckdb
    s = "a@b.co and 555-123-4567 and (999) 888-7777 and not.a@pii"
    spark_row = (spark.createDataFrame([(s,)], "t string")
                 .select(TX.pii_count(F.col("t"), "email").alias("e"),
                         TX.pii_count(F.col("t"), "phone").alias("p"),
                         TX.redact_pii(F.col("t")).alias("r")).first())
    duck_row = duckdb.sql(
        f"SELECT {TX.pii_count_sql(f'{s!r}', 'email')} AS e, "
        f"{TX.pii_count_sql(f'{s!r}', 'phone')} AS p, "
        f"{TX.redact_pii_sql(f'{s!r}')} AS r").fetchone()
    assert (spark_row["e"], spark_row["p"], spark_row["r"]) == duck_row


def test_ngram_repetition_stats(spark):
    from frames_map_reduce_spark.operators.quality import ngram_repetition_stats
    df = spark.createDataFrame(
        [(1, "a a a a", "s1"),       # bigrams: "a a"×3 → dup 2/3, top 3/3
         (2, "a b c d", "s1"),       # 3 distinct bigrams → dup 0, top 1/3
         (3, "x", "s2")],            # <2 tokens → absent from output
        "doc_id long, text string, src string")
    rows = {r["doc_id"]: r for r in
            ngram_repetition_stats(df, "text", "doc_id", carry=["src"]).collect()}
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert (r1["total_ngrams"], r1["distinct_ngrams"], r1["max_ngram_count"]) == (3, 1, 3)
    assert r1["dup_ngram_frac"] == pytest.approx(2 / 3)
    assert r1["top_ngram_frac"] == pytest.approx(1.0)
    r2 = rows[2]
    assert (r2["total_ngrams"], r2["distinct_ngrams"], r2["max_ngram_count"]) == (3, 3, 1)
    assert r2["dup_ngram_frac"] == pytest.approx(0.0)
    assert r2["top_ngram_frac"] == pytest.approx(1 / 3)
    assert r1["src"] == "s1" and r2["src"] == "s1"


def test_sketch_distinct_rel_err(spark):
    """HLL++ estimate stays within the configured rsd envelope on real
    cardinalities.  The raw estimate + rel_err live in the _full helper
    (implementation-specific, so not driver-hashed); the driver-facing
    query reduces them to the deterministic within_tol bit that the
    DuckDB oracle asserts as constant 1."""
    import __spark_entry__ as entry_mod
    import query_rigs
    from tests.conftest import SF_DIR
    rows = query_rigs._sketch_distinct_full(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # contract bound is 3*rsd = 0.06; observed is comfortably tighter
        assert (r["rel_err"] is not None
                and r["rel_err"] <= 3 * query_rigs._SKETCH_RSD), \
            dict(r.asDict())
    pub = entry_mod.queries()["sketch_distinct"](spark, SF_DIR).collect()
    assert {r["within_tol"] for r in pub} == {1}
    assert set(pub[0].asDict()) == {"event_type", "exact_users", "within_tol"}


def test_unigram_lm_score_self_corpus(spark):
    """Hand-checked self-corpus scoring: a doc of common tokens scores
    lower perplexity than a doc of hapaxes; tokenless docs are absent."""
    import math

    from frames_map_reduce_spark.operators.quality import unigram_lm_score

    df = spark.createDataFrame(
        [(1, "the the the cat"), (2, "zyx qwv"), (3, "   ")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           unigram_lm_score(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2}          # tokenless doc absent
    assert out[1]["n_tokens"] == 4 and out[2]["n_tokens"] == 2
    assert out[1]["perplexity"] < out[2]["perplexity"]
    # exact arithmetic: N=6 occurrences, V=4 distinct, k=0.5
    n, v, k = 6, 4, 0.5
    lp = lambda c: math.log((c + k) / (n + k * (v + 1)))
    want1 = round((3 * lp(3) + lp(1)) / 4, 6)
    assert out[1]["avg_logprob"] == want1
    assert out[1]["perplexity"] == round(math.exp(-want1), 3)


def test_unigram_lm_score_reference_model_oov(spark):
    """Reference-LM mode: unseen tokens take the smoothed-unseen mass
    (left-join null path), so an all-OOV doc is the most surprising."""
    from frames_map_reduce_spark.operators.quality import unigram_lm_score

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "omega omega")],
        "doc_id long, text string")
    lm = spark.createDataFrame(
        [("alpha", 50), ("beta", 30), ("gamma", 20)], "token string, cnt long")
    out = {r["doc_id"]: r for r in
           unigram_lm_score(docs, "text", "doc_id", lm=lm).collect()}
    assert out[2]["perplexity"] > out[1]["perplexity"]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="k_smooth"):
        unigram_lm_score(docs, "text", "doc_id", k_smooth=0.0)


def test_bigram_lm_score_conditional(spark):
    """Hand-checked bigram scoring: a doc made of the corpus's dominant
    transitions scores lower perplexity than one of novel transitions,
    even when both use in-vocabulary tokens."""
    from frames_map_reduce_spark.operators.quality import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "a b a b a b a b"),
         (2, "b b a a b a b b"),   # same unigrams, rare transitions
         (3, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           bigram_lm_score(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_tokens"] == out[2]["n_tokens"] == 8
    assert out[1]["perplexity"] < out[2]["perplexity"]


def test_strip_markup_semantics(spark):
    """Tag removal, one-level entity unescape (&amp; last — a double-
    escaped entity resolves one level per pass), whitespace collapse."""
    from frames_map_reduce_spark.functions.text import (
        markup_tag_count,
        strip_markup,
    )

    rows = [(1, "<p>a &amp;amp; b &lt;tag&gt; &#39;q&#39;</p>"),
            (2, "plain words"),
            (3, "<div><b>x</b></div>")]
    df = spark.createDataFrame(rows, "row_id long, text string")
    out = {r["row_id"]: (r["s"], r["n"]) for r in df.select(
        "row_id", strip_markup(F.col("text")).alias("s"),
        markup_tag_count(F.col("text")).alias("n")).collect()}
    assert out[1] == ("a &amp; b <tag> 'q'", 2)
    assert out[2] == ("plain words", 0)
    assert out[3] == ("x", 4)


def test_bigram_lm_score_broadcast_gate_identical(spark, documents):
    """r6 ADVICE: broadcast_ctx=False (web-scale vocab: let AQE pick the
    ctx join) must produce identical scores to the default hint — the
    option changes the physical join only."""
    from frames_map_reduce_spark.operators.quality import bigram_lm_score
    a = sorted(map(tuple,
                   bigram_lm_score(documents, "text", "doc_id").collect()))
    b = sorted(map(tuple,
                   bigram_lm_score(documents, "text", "doc_id",
                                   broadcast_ctx=False).collect()))
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# subword tokenizer (greedy longest-prefix over a frozen inventory)
# ---------------------------------------------------------------------------


def test_subword_encode_spec():
    from frames_map_reduce_spark.functions.tokenizer import (
        SUBWORD_VOCAB, encode_word_len)
    # greedy longest-match: whole-word hit is 1 token
    assert encode_word_len("the") == 1
    assert encode_word_len("ation") == 1
    # fallback: unknown single chars cost 1 each
    assert encode_word_len("x") == 1
    assert encode_word_len("qqq") <= 3
    # longest wins over shorter prefixes ("that" ≻ "th" + "at")
    assert encode_word_len("that") == 1
    # inventory hygiene the SQL generator relies on
    assert all(len(w) >= 2 for w in SUBWORD_VOCAB)
    assert len(set(SUBWORD_VOCAB)) == len(SUBWORD_VOCAB)
    # compression sanity: real text beats the character count
    word = "internationalization"
    assert encode_word_len(word) < len(word) / 2


def test_subword_counts_matches_python_replay(spark, documents):
    """The mapInPandas encode must equal a driver-side replay of the
    same spec (wordish pre-tokenization + greedy scan) row for row."""
    import re
    from frames_map_reduce_spark.functions.text import WORDISH
    from frames_map_reduce_spark.functions.tokenizer import (
        encode_word_len, subword_counts)
    got = {r["doc_id"]: (r["n_words"], r["n_subwords"])
           for r in subword_counts(documents, "text", "doc_id").collect()}
    for r in documents.select("doc_id", "text").collect():
        ws = re.findall(WORDISH, (r["text"] or "").lower())
        if ws:
            want = (len(ws), sum(encode_word_len(w) for w in ws))
            assert got[r["doc_id"]] == want, r["doc_id"]
        else:
            assert r["doc_id"] not in got


def test_encode_ids_matches_python_replay(spark, documents):
    """Token-ID emission (r9 verdict #3) vs a driver-side replay of the
    same spec — every ID in every document, order included — and the
    structural laws: len(ids) == n_subwords, IDs < len(inventory) are
    inventory indices, IDs >= len(inventory) decode to codepoints."""
    import re
    from frames_map_reduce_spark.functions.text import WORDISH
    from frames_map_reduce_spark.functions.tokenizer import (
        SUBWORD_VOCAB, encode_ids, encode_word_ids, subword_counts)
    got = {r["doc_id"]: list(r["token_ids"])
           for r in encode_ids(documents, "text", "doc_id").collect()}
    counts = {r["doc_id"]: r["n_subwords"]
              for r in subword_counts(documents, "text", "doc_id").collect()}
    n_inv = len(SUBWORD_VOCAB)
    for r in documents.select("doc_id", "text").collect():
        ws = re.findall(WORDISH, (r["text"] or "").lower())
        if not ws:
            assert r["doc_id"] not in got
            continue
        want = [t for w in ws for t in encode_word_ids(w)]
        assert got[r["doc_id"]] == want, r["doc_id"]
        assert len(want) == counts[r["doc_id"]]
        for w in ws:
            for tid in encode_word_ids(w):
                if tid < n_inv:
                    assert SUBWORD_VOCAB[tid] in w
                else:
                    assert chr(tid - n_inv) in w


def test_encode_word_ids_id_space():
    """The frozen ID space: inventory tuple order, then
    len(inventory) + codepoint for single-char fallbacks."""
    from frames_map_reduce_spark.functions.tokenizer import (
        SUBWORD_VOCAB, encode_word_ids)
    n = len(SUBWORD_VOCAB)
    assert encode_word_ids("the") == [SUBWORD_VOCAB.index("the")]
    assert encode_word_ids("q") == [n + ord("q")]
    # learned inventory: IDs index the LEARNED tuple
    inv = ("ab", "abc")
    assert encode_word_ids("abcq", inventory=inv) == [1, len(inv) + ord("q")]
    assert encode_word_ids("abq", inventory=inv) == [0, len(inv) + ord("q")]


def test_gopher_rules_per_rule_verdicts(spark):
    from frames_map_reduce_spark.functions.text import gopher_rules

    good = ("the quick brown fox jumps over the lazy dog and then have "
            "to be going onward with many more plain words of text that "
            "keep flowing so the word count clears fifty without any "
            "noise at all in it today for sure really truly and calmly "
            "we note that it ends here nicely done")
    rows = [
        ("good", good),
        ("short", "too few words"),                          # r_word_count
        ("longwords", " ".join(["pneumonoultramicroscopic"] * 60)),  # mean len
        ("symbols", " ".join(["word #"] * 60)),              # symbol ratio
        ("bullets", "\n".join(["- item the be to of and that have with"] * 10)),
        ("ellipsis", "\n".join([f"{w} trail..." for w in ["the"] * 10])),
        ("numeric", " ".join(["12345"] * 60)),               # alpha words
        ("nostop", " ".join(["zork"] * 60)),                 # stopwords
        ("nulltext", None),
    ]
    df = spark.createDataFrame(rows, "tag string, text string")
    out = df.select("tag", *(c.alias(n)
                             for n, c in gopher_rules(F.col("text")).items()))
    got = {r["tag"]: r.asDict() for r in out.collect()}
    assert got["good"]["pass_gopher"] is True
    assert got["short"]["r_word_count"] is False
    assert got["longwords"]["r_mean_word_len"] is False
    assert got["symbols"]["r_symbol_ratio"] is False
    assert got["bullets"]["r_bullet_lines"] is False
    assert got["ellipsis"]["r_ellipsis_lines"] is False
    assert got["numeric"]["r_alpha_words"] is False
    assert got["nostop"]["r_stopwords"] is False
    assert got["nulltext"]["pass_gopher"] is None  # unknown, not pass


def test_c4_rules_and_clean(spark):
    """C4 line filter + page verdicts: terminal punctuation, 3-word
    minimum, javascript lines dropped; pages fail on too few surviving
    sentences, braces, lorem ipsum; NULL text -> NULL verdicts."""
    from frames_map_reduce_spark.functions.text import c4_clean, c4_rules

    good = "\n".join(["This sentence is long enough to keep."] * 6)
    rows = [
        ("good", good),
        # every line lacks terminal punctuation -> 0 sentences survive
        ("nopunct", "\n".join(["no terminal punctuation here"] * 6)),
        # enough sentences but a brace on the page
        ("brace", good + "\nfunction f() { return 1; }"),
        ("lorem", good + "\nLorem Ipsum dolor sit amet."),
        # the javascript line is cut but the page still passes
        ("jsline", good + "\nPlease enable JavaScript to continue."),
        ("short", "Tiny.\nAlso tiny.\nThree words here."),
        ("nulltext", None),
    ]
    df = spark.createDataFrame(rows, "tag string, text string")
    out = df.select("tag", c4_clean(F.col("text")).alias("clean"),
                    *(c.alias(n)
                      for n, c in c4_rules(F.col("text")).items()))
    got = {r["tag"]: r.asDict() for r in out.collect()}
    assert got["good"]["pass_c4"] is True
    assert got["nopunct"]["r_min_sentences"] is False
    assert got["nopunct"]["clean"] == ""
    assert got["brace"]["r_no_brace"] is False
    assert got["brace"]["r_min_sentences"] is True  # the filter kept 6
    assert got["lorem"]["r_no_lorem"] is False
    assert got["jsline"]["pass_c4"] is True
    assert "JavaScript" not in got["jsline"]["clean"]
    assert got["short"]["r_min_sentences"] is False  # 3-word rule cuts 2
    assert got["nulltext"]["pass_c4"] is None
    assert got["nulltext"]["clean"] is None


def test_normalize_punct(spark):
    """Unicode canonicalizer: every mapped character rewrites, plain
    ASCII is a fixed point, NULL stays NULL, and the result matches the
    generated DuckDB twin character for character."""
    import duckdb

    from frames_map_reduce_spark.functions.text import (
        PUNCT_MULTI, PUNCT_SINGLE, normalize_punct, normalize_punct_sql)

    texts = ["don’t “quote” me — it’s 10–20…",
             "the ﬁrst ﬂight", "zero​width", "plain ascii!", "", None,
             # every single-char mapping at least once
             "".join(PUNCT_SINGLE), "".join(PUNCT_MULTI)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {r["i"]: r["n"] for r in
           df.select("i", normalize_punct(F.col("text")).alias("n"))
             .collect()}
    assert got[0] == "don't \"quote\" me - it's 10-20..."
    assert got[1] == "the first flight"
    assert got[2] == "zerowidth"
    assert got[3] == "plain ascii!"
    assert got[4] == "" and got[5] is None
    assert got[6] == "".join(PUNCT_SINGLE.values())
    assert got[7] == "..." + "fi" + "fl"

    con = duckdb.connect()
    import pandas as pd
    con.register("t", pd.DataFrame({
        "i": range(len(texts)), "text": pd.array(texts, dtype="string")}))
    want = dict(con.execute(
        f"SELECT i, {normalize_punct_sql('text')} FROM t").fetchall())
    assert got == want


def test_bpe_merge_spec_classic_example():
    """The Sennrich (arXiv:1508.07909 §3.2) worked example: over
    {low:5, lower:2, newest:6, widest:3} the first merges are
    (e,s) -> (es,t) [9 = newest+widest each] then the 'low' stem [7],
    with the documented (count DESC, pair ASC) tie-break and the
    <2-count early stop."""
    from frames_map_reduce_spark.functions.tokenizer import bpe_merge_spec
    m = bpe_merge_spec([("low", 5), ("lower", 2),
                        ("newest", 6), ("widest", 3)], 6)
    assert m[0] == (0, "e", "s", 9)
    assert m[1] == (1, "es", "t", 9)
    assert m[2] == (2, "l", "o", 7)
    assert m[3] == (3, "lo", "w", 7)
    # determinism: identical input -> identical sequence (dict-order
    # independence is the point of the explicit tie-break)
    assert m == bpe_merge_spec([("newest", 6), ("widest", 3),
                                ("lower", 2), ("low", 5)], 6)
    # early stop: a dictionary where every pair is unique stops cold
    assert bpe_merge_spec([("ab", 1), ("cd", 1)], 10) == []
    # empty words are ignored, single-char words contribute no pairs
    assert bpe_merge_spec([("", 9), ("x", 9)], 3) == []
    with pytest.raises(ValueError, match="n_merges"):
        bpe_merge_spec([("ab", 2)], 0)


def test_learn_bpe_merges_matches_replay(spark, documents):
    """learn_bpe_merges ≡ bpe_merge_spec over the DuckDB-computed
    dictionary (the oracle convention, pinned here end-to-end), the cap
    order is deterministic, and the output carries the merged form."""
    from frames_map_reduce_spark.functions.tokenizer import (
        bpe_merge_spec, bpe_merges_values_sql, bpe_word_counts_sql,
        learn_bpe_merges)
    from tests.conftest import SF_DIR

    out = learn_bpe_merges(documents, "text", n_merges=12,
                           max_words=5_000)
    got = sorted(tuple(r) for r in out.collect())
    assert len(got) == 12
    assert all(r[3] == r[1] + r[2] for r in got)  # merged = left+right

    import duckdb
    con = duckdb.connect()
    rows = con.sql(bpe_word_counts_sql(
        f"'{SF_DIR}/documents.parquet'", "text", max_words=5_000)).fetchall()
    merges = bpe_merge_spec(rows, 12)
    want = sorted(con.sql(bpe_merges_values_sql(merges)).fetchall())
    assert got == want
    # the quoting path: tokens can BE a single quote
    quoted = bpe_merges_values_sql([(0, "'", "s", 7)])
    assert con.sql(quoted).fetchall() == [(0, "'", "s", "'s", 7)]
    # empty merges render a typed empty relation
    assert con.sql(bpe_merges_values_sql([])).fetchall() == []


def test_merges_to_inventory_and_learned_encode(spark, documents):
    """The train→apply arc (r8 verdict #7): merges reduce to a greedy
    inventory (deduped — the same merged string can arise from two
    different pairs — and order-free), the inventory-parameterized
    encode agrees with its DuckDB twin on the fixture corpus, and the
    inventory contract (no single chars, no duplicates) is enforced."""
    import duckdb

    from frames_map_reduce_spark.functions.tokenizer import (
        encode_word_len, learn_bpe_inventory, merges_to_inventory,
        subword_counts, subword_counts_sql, subword_step_case_sql)
    from tests.conftest import SF_DIR

    # reduction: dedup + sort; counts/ranks are irrelevant to the set
    inv = merges_to_inventory([(0, "a", "bc", 9), (1, "ab", "c", 8),
                               (2, "t", "h", 7)])
    assert inv == ("abc", "th")
    # greedy encode against a learned inventory, Python spec level
    assert encode_word_len("abcth", inventory=inv) == 2
    assert encode_word_len("abcth") != 2  # frozen vocab differs ('th'+1?)
    # contract enforcement
    with pytest.raises(ValueError, match="single character"):
        subword_counts(documents, "text", "doc_id", inventory=("a",))
    with pytest.raises(ValueError, match="duplicate"):
        encode_word_len("x", inventory=("ab", "ab"))
    # quote-escaping in the learned CASE + empty-inventory degenerate
    assert "''s'" in subword_step_case_sql("_w", "_pos", inventory=("'s",))
    assert subword_step_case_sql("_w", "_pos", inventory=()) == "1"

    # the full arc on the fixture corpus vs the DuckDB twin
    learned = learn_bpe_inventory(documents, "text", n_merges=12,
                                  max_words=5_000)
    assert learned and all(len(w) >= 2 for w in learned)
    got = sorted(map(tuple, subword_counts(documents, "text", "doc_id",
                                           inventory=learned).collect()))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW docs AS SELECT * FROM "
            f"'{SF_DIR}/documents.parquet'")
    want = sorted(map(tuple, con.sql(subword_counts_sql(
        "docs", "text", "doc_id", inventory=learned)).fetchall()))
    assert got == want


def test_decode_word_ids_roundtrip():
    """The losslessness law of the ID space: decode(encode(w)) == w for
    every wordish token — frozen and learned inventories, unicode
    fallbacks included — and the DuckDB per-ID decode CASE agrees with
    the Python inverse on every ID the encoder can emit."""
    import duckdb

    from frames_map_reduce_spark.functions.tokenizer import (
        SUBWORD_VOCAB, decode_word_ids, encode_word_ids,
        token_id_decode_sql)

    words = ["the", "nation", "quick", "x", "ß", "≈", "10000",
             "pneumonoultramicroscopic", "q'q"]
    for w in words:
        assert decode_word_ids(encode_word_ids(w)) == w, w
    inv = ("ab", "abc", "o'k")  # quote in a learned entry
    for w in ("abcab", "o'kx", "zz"):
        assert decode_word_ids(encode_word_ids(w, inventory=inv),
                               inventory=inv) == w, w

    con = duckdb.connect()
    n = len(SUBWORD_VOCAB)
    ids = list(range(n)) + [n + ord(c) for c in "aß≈'9"]
    case = token_id_decode_sql("_id")
    got = dict(con.execute(
        f"SELECT _id, {case} FROM (SELECT unnest(?) AS _id)",
        [ids]).fetchall())
    for tid in ids:
        assert got[tid] == decode_word_ids([tid]), tid
    # learned-inventory twin, quote-escaped
    case2 = token_id_decode_sql("_id", inventory=inv)
    got2 = dict(con.execute(
        f"SELECT _id, {case2} FROM (SELECT unnest([0, 1, 2, ?]) AS _id)",
        [len(inv) + ord("'")]).fetchall())
    assert got2[2] == "o'k" and got2[len(inv) + ord("'")] == "'"

    import pytest as _pt
    with _pt.raises(ValueError, match="outside"):
        decode_word_ids([-1])
    with _pt.raises(ValueError, match="outside"):
        decode_word_ids([n + 0x110000])


def test_decode_ids_distributed_roundtrip(spark, documents):
    """decode_ids (the distributed inverse of encode_ids) must
    reproduce every document's wordish-token stream exactly — the
    per-word losslessness law lifted to corpus scale: decoded text ==
    concat(wordish_tokens(text)) row for row, and IDs outside the
    space raise."""
    import pytest as _pt

    from frames_map_reduce_spark.functions.text import wordish_tokens
    from frames_map_reduce_spark.functions.tokenizer import (
        decode_ids, encode_ids)

    docs = documents.select("doc_id", "text")
    dec = decode_ids(encode_ids(docs, "text", "doc_id"),
                     "token_ids", "doc_id")
    want = (docs.select("doc_id",
                        F.array_join(wordish_tokens(F.col("text")), "")
                         .alias("expect"))
                .filter(F.length("expect") > 0))
    joined = dec.join(want, "doc_id", "full")
    n_bad = joined.filter(
        F.col("decoded").isNull() | F.col("expect").isNull()
        | (F.col("decoded") != F.col("expect"))).count()
    assert n_bad == 0
    assert dec.count() == want.count() > 0

    bad = spark.createDataFrame([(1, [2**31 - 1])],
                                "doc_id long, token_ids array<int>")
    with _pt.raises(Exception, match="outside the ID space"):
        decode_ids(bad, "token_ids", "doc_id").collect()

    # a NULL token_ids cell gets a NAMED error (r11 ADVICE), not the
    # opaque "'NoneType' object is not iterable" from inside the worker
    # — decode_ids accepts arbitrary frames, not just encode_ids output
    nulled = spark.createDataFrame([(1, [0, 1]), (2, None)],
                                   "doc_id long, token_ids array<int>")
    with _pt.raises(Exception, match="NULL token_ids"):
        decode_ids(nulled, "token_ids", "doc_id").collect()


# ---------------------------------------------------------------------------
# Tokenizer OOV / drift monitor (r12 verdict #6)
# ---------------------------------------------------------------------------

class TestTokenizerOovStats:
    def test_closed_form_laws(self, spark):
        from frames_map_reduce_spark.functions.tokenizer import (
            tokenizer_oov_stats)
        df = spark.createDataFrame([(1, "abc ab")], "doc_id long, t string")
        # 'abc' -> ab|c (c falls back), 'ab' -> ab: 3 subwords, 1 fb
        r = tokenizer_oov_stats(df, "t", inventory=("ab",),
                                max_fallback_milli=400).head()
        assert (r.n_docs, r.n_words, r.n_subwords, r.n_fallback,
                r.n_chars) == (1, 2, 3, 1, 5)
        assert r.fallback_per_milli == 333     # 1000 div 3
        assert r.covered_char_per_milli == 800  # (5-1)*1000 div 5
        assert not r.needs_retrain              # 333 <= 400
        # empty inventory: EVERY char is a fallback
        r = tokenizer_oov_stats(df, "t", inventory=(),
                                max_fallback_milli=100).head()
        assert r.n_subwords == r.n_fallback == r.n_chars == 5
        assert r.fallback_per_milli == 1000
        assert r.covered_char_per_milli == 0
        assert r.needs_retrain

    def test_empty_and_tokenless_corpus(self, spark):
        from frames_map_reduce_spark.functions.tokenizer import (
            tokenizer_oov_stats)
        df = spark.createDataFrame([(1, None), (2, "???")],
                                   "doc_id long, t string")
        r = tokenizer_oov_stats(df, "t").head()
        # '?' is wordish (single symbol) so doc 2 counts; NULL doc absent
        assert r.n_docs == 1
        empty = spark.createDataFrame([], "doc_id long, t string")
        r = tokenizer_oov_stats(empty, "t").head()
        assert (r.n_docs, r.n_subwords) == (0, 0)
        assert r.fallback_per_milli is None
        assert r.needs_retrain is False
        with pytest.raises(ValueError, match="max_fallback_milli"):
            tokenizer_oov_stats(empty, "t", max_fallback_milli=-1)

    def test_matches_duckdb_twin(self, spark):
        import duckdb

        from frames_map_reduce_spark.functions.tokenizer import (
            tokenizer_oov_stats, tokenizer_oov_stats_sql)
        rows = [(i, t) for i, t in enumerate(
            ["the cat ate the hat", "zzyzx qwfp!", "o'brien & co",
             None, "", "ing ion ingion", "日本語 text"])]
        df = spark.createDataFrame(rows, "doc_id long, t string")
        con = duckdb.connect()
        con.execute("CREATE TABLE tt AS SELECT * FROM (VALUES "
                    + ", ".join(
                        f"({i}, {'NULL' if t is None else chr(39) + t.replace(chr(39), chr(39)*2) + chr(39)})"
                        for i, t in rows)
                    + ") v(doc_id, t)")
        for inv in (None, ("the", "ing", "at"), ()):
            want = con.execute(tokenizer_oov_stats_sql(
                "tt", "t", "doc_id", inventory=inv)).fetchone()
            got = tuple(tokenizer_oov_stats(df, "t", inventory=inv)
                        .head())
            assert got == want, (inv, got, want)
