"""Unit tests for the tokenizer operators (SURVEY.md §2.2, one per P-row)."""

import pytest

from search_engine_spark.functions import textproc as tp


def toks(text):
    return tp.parse_sentence(text).tokens


class TestTokenizerOperators:
    def test_p5_url_removal(self):
        assert tp.clean_text_from_urls("go https://t.co/abc now") == "go  now"
        assert tp.clean_text_from_urls("see www.example.com/x end") == "see  end"

    def test_p6_non_latin_strip(self):
        assert tp.strip_non_latin("hello мир 世界 🙂 there") == "hello    there"
        # latin-extended kept
        assert tp.strip_non_latin("café naïve Ā ƀ Ḁ ’") == "café naïve Ā ƀ Ḁ ’"

    def test_p8_stopwords_and_quirks(self):
        assert toks("the of and a") == []
        assert toks("rt something") == ["something"]
        # the implicit-concat quirk: '}' itself is NOT a stopword
        assert "}'&'" in tp.STOP_WORDS and "}" not in tp.STOP_WORDS
        # raw-string quirk: plain 've survives, n't and 's are dropped
        assert toks("we've it's don't") == ["'ve"]

    def test_p8_high_ord_single_char(self):
        assert toks("x é z") == ["x", "z"]

    def test_p9_entity_chunking(self):
        r = tp.parse_sentence("the World Health Organization said")
        assert "World Health Organization" in r.entities
        assert "world health organization" in r.tokens
        # chunk still open at end-of-text is lost (parser_module.py:55-72)
        r2 = tp.parse_sentence("talks with World Health Organization")
        assert "World Health Organization" not in r2.entities

    def test_p10_hashtags(self):
        assert toks("go #StayHome soon") == ["go", "#stayhome", "stay", "home", "soon"]
        assert toks("see #COVID19 x") == ["see", "#covid19", "covid19", "x"]

    def test_p11_mentions(self):
        assert toks("per @WHO rules") == ["per", "@who", "rules"]

    def test_p12_fractions(self):
        assert toks("ate 3/4 cake") == ["ate", "3/4", "cake"]
        assert toks("ate 1 3/4 cakes") == ["ate", "1", "1 3/4", "cakes"]
        assert toks("ate 6\\8 cakes") == ["ate", "3/4", "6/8", "cakes"]

    def test_p13_percent(self):
        assert toks("dropped 50 % today") == ["dropped", "50%", "today"]
        assert toks("dropped 50% today") == ["dropped", "50%", "today"]
        assert toks("a 3.5 percent rise") == ["3.5", "3.5%", "rise"]
        assert toks("swing 10-20 % wide") == [
            "swing", "10-20", "10", "20", "10-20%", "wide"
        ]

    def test_p14_numbers(self):
        assert toks("paid 68,800 total") == ["paid", "68.8K", "total"]
        assert toks("saw 123,456,789 things") == ["saw", "123.456M", "things"]
        assert toks("year 2020 was") == ["year", "2.02K"]
        assert toks("worth 3 billion now") == ["worth", "3B"]
        # 3.5 is not isnumeric() and has no comma → NOT normalized
        assert toks("worth 3.5 billion now") == ["worth", "3.5", "billion"]

    def test_p15_dashes(self):
        assert toks("its state-of-the-art gear") == [
            "state-of-the-art", "state", "of-the-art", "gear"
        ]
        assert toks("got -start flag") == ["got", "start", "flag"]

    def test_p16_url_split(self):
        assert toks("link https://t.co/abc123 end") == ["link", "end"]
        # Treebank pads '?' (rule [?!]), so the https handler sees only the
        # path at idx+2 and the query string flows through the default
        # branch as one token — faithful NLTK+reference behavior
        # (parser_module.py:86-90 with word_tokenize's '?' split).
        got = toks("link https://www.instagram.com/p/XYZ/?igshid=o9k end")
        assert got == ["link", "www.instagram.com", "p", "xyz", "igshid=o9k", "end"]
        assert tp.split_url("https://www.instagram.com/p/CD7/?x=1") == [
            "instagram.com", "p", "cd7", "x", "1"
        ]

    def test_p17_kmb_shorts(self):
        assert toks("got 5k likes") == ["got", "5K", "likes"]
        assert toks("got 3.2M views") == ["got", "3.2M", "views"]
        # float-truthiness quirk: 0k is NOT rewritten
        assert "0K" not in toks("got 0k likes")

    def test_p19_capital_tracking(self):
        caps = tp.parse_sentence("Nasdaq rallied while Nasdaq gained").capitals
        assert caps["nasdaq"] is True
        caps2 = tp.parse_sentence("Nasdaq rallied while nasdaq gained").capitals
        assert caps2["nasdaq"] is False  # lowercase occurrence wins (last write)

    def test_p21_url_set_expansion(self):
        assert tp.split_url("https://site12.example/news/page-7") == [
            "site12.example", "news", "page-7"
        ]
        assert tp.split_url("https://t.co/abc") == []


class TestParseWebDoc:
    def test_basic(self):
        d = tp.parse_web_doc("https://site1.example/news/page-1",
                             "hello world hello term")
        assert d is not None
        assert d.term_tf["hello"] == 2
        # url tokens are appended and counted in doc_length
        assert "site1.example" in d.term_tf
        assert d.doc_length == sum(d.term_tf.values())
        assert d.max_tf == 2
        assert d.unique_terms == len(d.term_tf)

    def test_drop_rules(self):
        assert tp.parse_web_doc(None, "text") is None
        assert tp.parse_web_doc("u", None) is None
        # cleans to nothing → dropped
        assert tp.parse_web_doc("https://x.example/a/p-1",
                                "https://t.co/onlyurl 🙂🙂 世界") is None
        # cleans to whitespace/stopwords only → empty tokens → dropped...
        # but note url tokens are appended AFTER the emptiness check
        assert tp.parse_web_doc("https://x.example/a/p-1", "the of and") is None

    def test_clean_text_invariant(self):
        text = "visit https://t.co/zz now мир ok"
        d = tp.parse_web_doc("https://x.example/a/p-2", text)
        assert d.clean_text == tp.clean_web_text(text)
        assert d.clean_text == "visit  now  ok"


class TestCodecRoundTrip:
    def test_roundtrip_small(self):
        import numpy as np

        from search_engine_spark.operators.codec import (
            decode_blobs, encode_posting_list,
        )

        rng = np.random.default_rng(7)
        ids = np.sort(rng.choice(2**62, size=500, replace=False).astype(np.int64))
        ids[0] = -(2**62)  # negative first id (xxhash64 is signed)
        dls = rng.integers(1, 300, 500)
        tfs = rng.integers(1, 50, 500)
        blob = encode_posting_list(ids, dls, tfs, block_size=128)
        out_ids, out_dl, out_tf, counts = decode_blobs([blob])
        assert (out_ids == ids).all()
        assert (out_dl == dls).all()
        assert (out_tf == tfs).all()
        assert counts.tolist() == [500]

    @pytest.mark.parametrize("n", [1, 2, 127, 128, 129, 1000])
    def test_roundtrip_sizes(self, n):
        import numpy as np

        from search_engine_spark.operators.codec import (
            decode_blobs, encode_posting_list,
        )

        rng = np.random.default_rng(n)
        ids = np.sort(rng.choice(10**9, size=n, replace=False).astype(np.int64))
        dls = rng.integers(1, 200, n)
        tfs = rng.integers(1, 20, n)
        out = decode_blobs([encode_posting_list(ids, dls, tfs, 128)])
        assert (out[0] == ids).all() and (out[1] == dls).all() and (out[2] == tfs).all()


class TestTreebankTokenizer:
    """Faithful-port goldens: published NLTK/Treebank examples."""

    def test_nltk_canonical_example(self):
        from search_engine_spark.functions.treebank import word_tokenize

        s = ("Good muffins cost $3.88\nin New York.  Please buy me\n"
             "two of them.\n\nThanks.")
        assert word_tokenize(s) == [
            "Good", "muffins", "cost", "$", "3.88", "in", "New", "York",
            ".", "Please", "buy", "me", "two", "of", "them", ".",
            "Thanks", ".",
        ]

    def test_contractions_and_clitics(self):
        from search_engine_spark.functions.treebank import word_tokenize

        assert word_tokenize("They'll save and invest more.") == [
            "They", "'ll", "save", "and", "invest", "more", ".",
        ]
        assert word_tokenize("I cannot wanna gimme that") == [
            "I", "can", "not", "wan", "na", "gim", "me", "that",
        ]
        assert word_tokenize("it's the dog's bone, isn't it?") == [
            "it", "'s", "the", "dog", "'s", "bone", ",", "is", "n't",
            "it", "?",
        ]

    def test_quotes(self):
        from search_engine_spark.functions.treebank import word_tokenize

        assert word_tokenize('"We won," she said.') == [
            "``", "We", "won", ",", "''", "she", "said", ".",
        ]

    def test_parens_and_dashes(self):
        from search_engine_spark.functions.treebank import word_tokenize

        assert word_tokenize("a (small) test -- indeed") == [
            "a", "(", "small", ")", "test", "--", "indeed",
        ]

    def test_final_period_only_at_sentence_end(self):
        from search_engine_spark.functions.treebank import word_tokenize

        # mid-sentence abbreviation periods stay glued; sentence-final split
        assert word_tokenize("Mr. Smith met Dr. Jones.") == [
            "Mr.", "Smith", "met", "Dr.", "Jones", ".",
        ]
        assert word_tokenize("U.S. economy grew. Next item.") == [
            "U.S.", "economy", "grew", ".", "Next", "item", ".",
        ]

    def test_ellipsis_and_punct(self):
        from search_engine_spark.functions.treebank import word_tokenize

        assert word_tokenize("wait... what?! yes; ok: fine") == [
            "wait", "...", "what", "?", "!", "yes", ";", "ok", ":", "fine",
        ]

    def test_comma_digit_kept(self):
        from search_engine_spark.functions.treebank import word_tokenize

        assert word_tokenize("paid 68,800 total, then left") == [
            "paid", "68,800", "total", ",", "then", "left",
        ]


class TestParseSentenceFastPath:
    """Differential proof for the plain-token fast path in parse_sentence.

    Runs the same input with _FAST_PATH on and off; the two code paths must
    produce identical tokens, capitals, and entities on any input.
    """

    @staticmethod
    def _both(text):
        fast = tp.parse_sentence(text)
        old = tp._FAST_PATH
        tp._FAST_PATH = False
        try:
            slow = tp.parse_sentence(text)
        finally:
            tp._FAST_PATH = old
        return fast, slow

    def _assert_identical(self, text):
        fast, slow = self._both(text)
        assert fast.tokens == slow.tokens, text
        assert fast.capitals == slow.capitals, text
        assert fast.entities == slow.entities, text

    def test_special_snippets(self):
        from search_engine_spark.sources.fixtures import (
            ATLANTIS_SNIPPET, EMPTY_SNIPPET, SPECIAL_SNIPPETS,
        )

        for s in SPECIAL_SNIPPETS + [ATLANTIS_SNIPPET, EMPTY_SNIPPET]:
            self._assert_identical(s)
        self._assert_identical(" ".join(SPECIAL_SNIPPETS))

    def test_boundary_tokens(self):
        cases = [
            "k 5k 0k 3.2M b m q z percent percentage https",
            "https : //host/path?x=1 trailing",
            "# CamelCaseTag then @ user23 done",
            "3/4 1 3/4 6\\8 50 % 10-20 % state-of-the-art",
            "2020 68,800 3 billion 3.5 billion 123,456,789",
            "The Quick Brown fox; Nasdaq Rally ended",
            "a1 1a term0042 xyz9 9xyz",
        ]
        for c in cases:
            self._assert_identical(c)

    def test_property_token_soup(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        token = st.one_of(
            st.sampled_from(
                ["the", "percent", "percentage", "https", "#", "@", "%",
                 "5k", "0k", "k", "m", "b", "3/4", "6\\8", "2020", "1,234",
                 "state-of-the-art", "-start", "thousand", "million",
                 "Nasdaq", "World", "Health", "Organization", "...",
                 "term0042", "zzz", "a", "”", "🙂", "世"]
            ),
            st.from_regex(r"[a-z0-9]{1,8}", fullmatch=True),
            st.from_regex(r"[A-Za-z][a-z0-9]{0,6}", fullmatch=True),
        )

        @settings(max_examples=150, deadline=None)
        @given(st.lists(token, min_size=0, max_size=30))
        def run(tokens):
            self._assert_identical(" ".join(tokens))

        run()
