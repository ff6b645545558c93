"""Text QC tests: langid heuristic, quality features, token counts,
fingerprints."""

import pytest
from pyspark.sql import functions as F

from wimbd_spark.operators.textqc import (
    doc_fingerprint,
    langid_heuristic,
    quality_scores,
    token_count,
    token_count_bpe_ish,
)


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_langid(spark):
    assert one(spark, langid_heuristic(F.lit("the cat sat on the mat and slept"))) == "en"
    assert one(spark, langid_heuristic(F.lit("der Hund und die Katze ist da"))) == "de"
    assert one(spark, langid_heuristic(F.lit("el perro y la casa es grande"))) == "es"
    assert one(spark, langid_heuristic(F.lit("le chien et les chats dans une maison"))) == "fr"
    assert one(spark, langid_heuristic(F.lit("xyzzy plugh"))) == "un"
    assert one(spark, langid_heuristic(F.lit(""))) == "un"


def test_token_counts(spark):
    assert one(spark, token_count(F.lit("a b  c"))) == 3
    assert one(spark, token_count_bpe_ish(F.lit("don't stop, world!"))) == 7
    assert one(spark, token_count_bpe_ish(F.lit(""))) == 0


def test_quality_features(spark):
    df = spark.createDataFrame(
        [(1, "the cat, the cat! 42")], ["doc_id", "text"]
    )
    r = quality_scores(df).collect()[0]
    assert r["n_tokens"] == 5
    assert r["n_chars"] == 20
    # tokens: the cat, the cat! 42 → "the","cat,","the","cat!","42"
    assert r["repetition_ratio"] == pytest.approx(1 - 4 / 5)
    assert r["digit_ratio"] == pytest.approx(2 / 20)
    assert r["punct_ratio"] == pytest.approx(2 / 20)
    assert r["stopword_ratio"] == pytest.approx(2 / 5)


def test_fingerprint_deterministic_and_order_free(spark):
    a = one(spark, doc_fingerprint(F.lit("one two three four")))
    b = one(spark, doc_fingerprint(F.lit("one two three four")))
    assert a == b and a != 0
    assert one(spark, doc_fingerprint(F.lit("xx"))) == 0  # no shingles


def test_lexicon_polarity(spark):
    from wimbd_spark.operators.textqc import lexicon_polarity

    df = spark.createDataFrame(
        [
            ("good good bad here",),   # (2-1)/4
            ("all neutral words",),    # 0
            ("Slow day",),             # case-folded neg → -1/2
        ],
        ["t"],
    )
    got = [
        r["p"] for r in df.select(lexicon_polarity("t").alias("p")).collect()
    ]
    assert got == [0.25, 0.0, -0.5]
    # custom lexicon overrides defaults
    got2 = df.select(
        lexicon_polarity("t", pos=["neutral"], neg=["words"]).alias("p")
    ).collect()[1]["p"]
    assert got2 == 0.0  # 1 pos, 1 neg → net zero


def test_sentiment_polarity_fallback_is_lexicon(spark):
    """P19 model slot degrades to the real lexicon twin, not 0.0."""
    from wimbd_spark.operators.models import sentiment_polarity

    df = spark.createDataFrame([("good stuff",)], ["t"])
    v = df.select(sentiment_polarity(F.col("t")).alias("p")).collect()[0]["p"]
    assert v == 0.5


def test_repetition_signals(spark):
    from wimbd_spark.functions.text import tokenize
    from wimbd_spark.operators.textqc import (
        dupe_ngram_char_fraction,
        top_ngram_char_fraction,
    )

    df = spark.createDataFrame(
        [
            ("a b a b a b",),   # 2-grams: "a b"×3, "b a"×2 — all duplicated
            ("x y z w v u",),   # all distinct
            ("spam spam spam spam",),
        ],
        ["t"],
    )
    toks = tokenize(F.col("t"))
    rows = df.select(
        F.round(dupe_ngram_char_fraction(toks, 2), 4).alias("d2"),
        F.round(top_ngram_char_fraction(toks, 2), 4).alias("t2"),
    ).collect()
    assert [r["d2"] for r in rows] == [1.0, 0.0, 1.0]
    # "a b"×3 covers 9 of 15 chars; "spam spam"×3 covers all
    assert [r["t2"] for r in rows] == [0.6, 0.2, 1.0]


def test_repetition_signals_operator_matches_naive_forms(spark):
    # the staged shared-gram-array plan (repetition_signals) must give
    # bit-identical values to the per-signal expressions, and must stay
    # map-only (no shuffle)
    from wimbd_spark.functions.text import tokenize
    from wimbd_spark.operators.textqc import (
        dupe_ngram_char_fraction,
        repetition_signals,
        top_ngram_char_fraction,
    )
    from wimbd_spark.plans import shuffle_count

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),
            (2, "x y z w v u"),
            (3, "spam spam spam spam"),
            (4, "one two one two three one two"),
        ],
        ["doc_id", "text"],
    )
    fast = repetition_signals(df)
    assert shuffle_count(fast) == 0
    got = {r["doc_id"]: (r["dupe2"], r["top2"], r["dupe3"]) for r in fast.collect()}
    toks = tokenize(F.col("text"))
    naive = df.filter(F.size(tokenize(F.col("text"))) >= 3).select(
        "doc_id",
        F.round(dupe_ngram_char_fraction(toks, 2), 6).alias("dupe2"),
        F.round(top_ngram_char_fraction(toks, 2), 6).alias("top2"),
        F.round(dupe_ngram_char_fraction(toks, 3), 6).alias("dupe3"),
    )
    expect = {
        r["doc_id"]: (r["dupe2"], r["top2"], r["dupe3"]) for r in naive.collect()
    }
    assert got == expect


def test_gopher_quality_filter_rules(spark):
    from wimbd_spark.operators.textqc import gopher_quality_filter

    normal_words = (
        "research on data systems shows that careful engineering of the "
        "storage layer and query planner is essential to good results "
    )
    # ≥50 tokens with NO repeated 2-grams (each i makes unique pairs)
    keeper_text = " ".join(
        f"the item{i} of value{i}" for i in range(30)
    )
    docs = [
        ("keeper", keeper_text),
        ("short", "just a few words here"),
        ("symbols", " ".join(["the#tag"] * 40 + ["word..."] * 30)
                    + " " + normal_words * 3),
        ("bullets", "\n".join(
            f"- bullet item {w}" for w in (normal_words.split() * 3))),
        ("ellipsis", "\n".join(
            f"line of the text trails off {i}..." for i in range(60))),
        ("nonalpha", " ".join(["12345", "67890", "!!!", "%%%"] * 30)),
        ("nostop", " ".join(f"w{i}" for i in range(120))),
    ]
    df = spark.createDataFrame(docs, ["k", "text"])
    rows = {r["k"]: r for r in gopher_quality_filter(df).collect()}
    assert rows["keeper"]["keep"] is True
    assert rows["short"]["drop_reasons"][0] == "too_short"
    assert "symbol_ratio" in rows["symbols"]["drop_reasons"]
    assert "bullet_lines" in rows["bullets"]["drop_reasons"]
    assert "ellipsis_lines" in rows["ellipsis"]["drop_reasons"]
    assert "alpha_words" in rows["nonalpha"]["drop_reasons"]
    assert "few_stopwords" in rows["nostop"]["drop_reasons"]
    # thresholds are parameterizable
    loose = gopher_quality_filter(df, min_tokens=3, min_stopwords=0,
                                  max_dupe2=1.0, max_top2=1.0,
                                  min_mean_len=1.0)
    assert {r["k"]: r for r in loose.collect()}["short"]["keep"] is True


def test_dedup_lines_within_doc(spark):
    from wimbd_spark.operators.textqc import dedup_lines_within_doc

    df = spark.createDataFrame(
        [
            (0, "header\nbody one\nheader\nbody two\n\n\nheader"),
            (1, "only once"),
            (2, None),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["text"] for r in dedup_lines_within_doc(df).collect()}
    # repeated 'header' dropped at later positions; blank lines kept
    assert out[0] == "header\nbody one\nbody two\n\n"
    assert out[1] == "only once"
    assert out[2] is None
    # min_chars: short lines always kept
    df2 = spark.createDataFrame([(0, "a|xx|a|xx|b")], ["doc_id", "text"])
    from pyspark.sql import functions as F  # noqa: F401

    out2 = dedup_lines_within_doc(df2, sep="|", min_chars=2).collect()[0]["text"]
    assert out2 == "a|xx|a|b"


def test_tfidf_top_terms_hand_computed(spark):
    import math

    from wimbd_spark.operators.textqc import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, None)],
        ["doc_id", "text"],
    )
    rows = tfidf_top_terms(docs, k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["tfidf"])
           for r in rows}
    # N=2 docs with tokens; df: apple 1, banana 2, cherry 1
    idf_rare = math.log(3 / 2) + 1      # df=1
    idf_common = math.log(3 / 3) + 1    # df=2
    assert got[(1, 1)] == ("apple", 2, pytest.approx(2 * idf_rare))
    assert got[(1, 2)][0] == "banana"
    assert got[(2, 1)] == ("cherry", 1, pytest.approx(idf_rare))
    assert got[(2, 2)] == ("banana", 1, pytest.approx(idf_common))
    assert (3, 1) not in got  # null text: no terms
    with pytest.raises(ValueError):
        tfidf_top_terms(docs, k=0)


def test_tfidf_matches_duckdb(spark, documents):
    import duckdb

    from wimbd_spark.operators.textqc import tfidf_top_terms

    got = {
        (r["doc_id"], r["rank"]): (r["term"], round(r["tfidf"], 9))
        for r in tfidf_top_terms(documents, k=3).collect()
    }
    con = duckdb.connect()
    con.register("docs", documents.toPandas())
    expect = {
        (r[0], r[3]): (r[1], r[2])
        for r in con.sql(
            """
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                    x -> x <> '')) AS term
          FROM docs WHERE text IS NOT NULL
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        ), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 tf.tf * (ln((1 + n.n)::DOUBLE / (1 + d.df)) + 1) AS tfidf
          FROM tf JOIN dfreq d USING (term), n
        ),
        ranked AS (
          SELECT doc_id, term, round(tfidf, 9) AS tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term ASC) AS rank
          FROM scored
        )
        SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
        """
        ).fetchall()
    }
    assert got == expect


def test_gram_novelty_hand_computed(spark):
    from wimbd_spark.operators.textqc import gram_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),     # bigrams {ab, bc, cd}
            (2, "a b x y"),     # bigrams {ab, bx, xy} — shares ab
            (3, "p q"),         # {pq} unique
            (4, "z"),           # < n tokens: no grams
            (5, None),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in gram_novelty(docs, n=2).collect()}
    assert (got[1]["total_grams"], got[1]["shared_grams"]) == (3, 1)
    assert got[1]["novelty"] == pytest.approx(2 / 3)
    assert got[2]["novelty"] == pytest.approx(2 / 3)
    assert got[3] ["novelty"] == pytest.approx(1.0)
    assert got[4]["total_grams"] == 0 and got[4]["novelty"] is None
    assert got[5]["total_grams"] == 0 and got[5]["novelty"] is None
    with pytest.raises(ValueError):
        gram_novelty(docs, n=0)


def test_gram_novelty_matches_duckdb(spark, documents):
    import duckdb

    from wimbd_spark.operators.textqc import gram_novelty

    got = {
        r["doc_id"]: (r["total_grams"], r["shared_grams"])
        for r in gram_novelty(documents, n=4).collect()
    }
    con = duckdb.connect()
    con.register("docs", documents.toPandas())
    expect = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            """
        WITH toks AS (
          SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                     x -> x <> '') AS t
          FROM docs WHERE text IS NOT NULL
        ), grams AS (
          SELECT DISTINCT doc_id,
                 array_to_string(list_slice(t, i, i+3), ' ') AS g
          FROM toks, unnest(generate_series(1, len(t)-3)) AS u(i)
          WHERE len(t) >= 4
        ), dfreq AS (SELECT g, count(*) AS df FROM grams GROUP BY g)
        SELECT d.doc_id,
               coalesce(count(gr.g), 0) AS total_grams,
               coalesce(count(*) FILTER (f.df >= 2), 0) AS shared_grams
        FROM docs d
        LEFT JOIN grams gr USING (doc_id)
        LEFT JOIN dfreq f ON gr.g = f.g
        GROUP BY d.doc_id
        """
        ).fetchall()
    }
    assert got == expect


def test_script_profile_mixed_scripts(spark):
    from wimbd_spark.operators.textqc import script_profile

    docs = spark.createDataFrame(
        [
            (1, "hello world 42"),
            (2, "привет мир"),
            (3, "日本語のテキスト"),
            (4, "mixed привет text"),
            (5, ""),
            (6, None),
            (7, "!!! ???"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in script_profile(docs).collect()}
    assert got[1]["main_script"] == "latin"
    assert got[1]["latin_frac"] == pytest.approx(10 / 12)
    assert got[1]["digit_frac"] == pytest.approx(2 / 12)
    assert got[2]["main_script"] == "cyrillic"
    assert got[2]["cyrillic_frac"] == pytest.approx(1.0)
    assert got[3]["main_script"] == "cjk"
    assert got[3]["cjk_frac"] == pytest.approx(1.0)
    assert got[4]["main_script"] == "latin"  # 9 latin vs 6 cyrillic
    assert got[5]["main_script"] == "none" and got[5]["n_chars"] == 0
    assert got[6]["main_script"] == "none"
    assert got[7]["main_script"] == "other"
    assert got[7]["other_frac"] == pytest.approx(1.0)
    # fractions partition the non-whitespace chars
    r = got[4]
    total = sum(
        r[f] for f in r.asDict() if f.endswith("_frac")
    )
    assert total == pytest.approx(1.0)


def test_script_profile_unicode_whitespace(spark):
    """ADVICE r5: NBSP (U+00A0) and ideographic space (U+3000) are
    whitespace, not "other" characters — they must not inflate
    n_chars/other_frac for CJK/multilingual docs."""
    from wimbd_spark.operators.textqc import script_profile

    docs = spark.createDataFrame(
        [
            (1, "ab\u00a0c\u000bd"),  # NBSP + vertical tab
            (2, "\u4e00\u3000\u4e8c"),  # CJK + ideographic space
            (3, "\u00a0\u3000 "),  # only whitespace -> empty
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in script_profile(docs).collect()}
    assert got[1]["n_chars"] == 4
    assert got[1]["latin_frac"] == 1.0 and got[1]["other_frac"] == 0.0
    assert got[2]["n_chars"] == 2
    assert got[2]["cjk_frac"] == 1.0 and got[2]["main_script"] == "cjk"
    assert got[3]["n_chars"] == 0 and got[3]["main_script"] == "none"


def test_compression_ratio_signal(spark):
    from wimbd_spark.operators.textqc import compression_ratio
    from pyspark.sql import functions as F

    import random
    rng = random.Random(5)
    noise = "".join(chr(rng.randint(0x21, 0x7E)) for _ in range(2000))
    rows = [
        (1, "spam " * 400),          # heavy repetition -> very low
        (2, noise),                  # random printable -> high
        (3, "the quick brown fox jumps over the lazy dog. " * 20),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r.cr
        for r in df.select(
            "doc_id", compression_ratio(F.col("text")).alias("cr")
        ).collect()
    }
    assert got[1] < 0.05                 # boilerplate compresses away
    assert got[2] > 0.7                  # noise is incompressible
    assert got[1] < got[3] < got[2]      # prose sits between
    assert got[4] is None and got[5] is None
    # determinism across partitionings
    again = {
        r.doc_id: r.cr
        for r in df.repartition(7)
        .select("doc_id", compression_ratio(F.col("text")).alias("cr"))
        .collect()
    }
    assert got == again


def test_c4_quality_filter_rules(spark):
    from wimbd_spark.operators.textqc import c4_quality_filter

    good_line = "This sentence has more than five words in it."
    keeper = "\n".join([good_line] * 3)
    docs = [
        ("keeper", keeper),
        ("lorem", keeper + "\nSome Lorem Ipsum filler text here."),
        ("brace", keeper + "\nfunction f() { return 1; }"),
        ("bad", keeper + "\nWell shit, that is unfortunate today."),
        # substring must NOT fire the \b-bounded bad-word rule
        ("substr", keeper + "\nThe shiitake mushrooms were great to eat."),
        # only 2 retained lines: third lacks terminal punctuation
        ("fewlines", good_line + "\n" + good_line + "\nno punctuation here"),
        # javascript line is not retained
        ("js", keeper.replace(
            good_line, "Please enable javascript to view this page.", 1)),
        # exactly 5 words + closing quote after terminal punct → retained
        ("quote", '\n'.join(['He said "this is truly great!"'] * 3)),
        # policy boilerplate lines not retained
        ("policy", "\n".join(
            ["Read our privacy policy for details today."] * 3)),
    ]
    df = spark.createDataFrame(docs, ["k", "text"])
    rows = {r["k"]: r for r in c4_quality_filter(df).collect()}
    assert rows["keeper"]["keep"] is True
    assert rows["lorem"]["drop_reasons"] == ["lorem_ipsum"]
    assert rows["brace"]["drop_reasons"] == ["curly_brace"]
    assert rows["bad"]["drop_reasons"] == ["bad_word"]
    assert rows["substr"]["keep"] is True
    assert rows["fewlines"]["drop_reasons"] == ["few_kept_lines"]
    assert rows["js"]["drop_reasons"] == ["few_kept_lines"]
    assert rows["quote"]["keep"] is True
    assert rows["policy"]["drop_reasons"] == ["few_kept_lines"]


def test_c4_span_dedup(spark):
    from wimbd_spark.operators.textqc import c4_span_dedup

    s = [f"Sentence number {i} stands here." for i in range(8)]
    docs = [
        # doc 1: the canonical copy of spans over s0..s4
        (1, " ".join(s[0:5])),
        # doc 2: repeats s0-s2 (duplicate span) then unique tail
        (2, " ".join(s[0:3] + ["A fresh tail sentence appears.",
                               "Another fresh closer lands here."])),
        # doc 3: too few sentences for a span — untouched
        (3, s[6] + " " + s[7]),
        # doc 4: internal repetition of one span
        (4, " ".join(s[5:8] + s[5:8])),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r["text"] for r in c4_span_dedup(df).collect()}

    # doc 1 holds every first occurrence → byte-identical
    assert got[1] == " ".join(s[0:5])
    # doc 2 lost s0-s2 (span seen first in doc 1), kept its fresh tail
    assert got[2] == "A fresh tail sentence appears. Another fresh closer lands here."
    # doc 3 untouched
    assert got[3] == s[6] + " " + s[7]
    # doc 4: first (id,start) occurrence is start=0; the repeat at
    # start=3 dies, as do the bridging spans (starts 1-3 all duplicate
    # nothing — they're unique) → sentences 3..5 removed
    assert got[4] == " ".join(s[5:8])

    # idempotent: a second pass changes nothing
    again = {r["doc_id"]: r["text"] for r in c4_span_dedup(
        spark.createDataFrame(list(got.items()), ["doc_id", "text"])
    ).collect()}
    assert again == got


def test_c4_empty_bad_words_disables_rule(spark):
    from wimbd_spark.operators.textqc import c4_quality_filter

    good_line = "This sentence has more than five words in it."
    df = spark.createDataFrame(
        [(1, "\n".join([good_line] * 3))], ["k", "text"]
    )
    r = c4_quality_filter(df, bad_words=[]).collect()[0]
    assert r["keep"] is True  # \b()\b would have matched everything
