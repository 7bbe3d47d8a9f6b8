"""Tokenizer goldens — expectations from the reference tests
(/root/reference/src/tokenizer/mod.rs:51-89 and tests/all/test_why_found.rs)
as catalogued in FIXTURES.md §2.4."""

from veloci_spark.tokenizer import has_tokens, tokenize, tokenize_batch, word_tokens


def toks(text, seps=None):
    if seps is None:
        return [t for t, _ in tokenize(text)]
    return [t for t, _ in tokenize(text, seps)]


def test_grouped_control_sequences():
    assert toks("das \n ist ein txt, test") == [
        "das", " \n ", "ist", " ", "ein", " ", "txt", ", ", "test"]


def test_leading_separator():
    assert toks(" Taschenbuch (kartoniert)") == [
        " ", "Taschenbuch", " (", "kartoniert", ")"]


def test_single_char_token():
    assert toks("T oll") == ["T", " ", "oll"]


def test_grouped_dashes():
    assert toks("ok---nice") == ["ok", "---", "nice"]


def test_custom_separators_url():
    assert toks("https://github.com/PSeitz/veloci", "/:.") == [
        "https", "://", "github", ".", "com", "/", "PSeitz", "/", "veloci"]


def test_custom_separators_subset():
    assert toks("test§_ cool _", "§<") == ["test", "§", "_ cool _"]


def test_is_sep_flags():
    assert tokenize("ok---nice") == [("ok", False), ("---", True), ("nice", False)]


def test_has_tokens():
    assert not has_tokens("will")
    assert not has_tokens("")
    assert not has_tokens("   ")  # single separator run
    assert has_tokens("will testo")
    assert has_tokens(" x")


def test_word_tokens():
    assert word_tokens("die erbin, gut") == ["die", "erbin", "gut"]


def test_batch_positions_count_separators():
    [out] = tokenize_batch(["das \n ist"])
    assert out == [("das", False, 0), (" \n ", True, 1), ("ist", False, 2)]


def test_empty():
    assert tokenize("") == []
    assert tokenize_batch([""]) == [[]]


SEP = " "  # the default separator run of the edge inputs below

# edge inputs of the build's tokenize kernel: punctuation and unicode
# separators, empty/null/single-run texts (no entries, no pairs) and a long
# repetitive text
EDGE_DOCS = [
    (0, "Hello World, test… „quote“ (x)"),
    (1, "a a a b-b"),
    (2, ""),
    (3, None),
    (4, "singlerun"),
    (5, "ä Ö ü ß — dash…dots"),
    (6, "x " * 300),
]
# (doc_id, token, best_pos, n_tokens, cnt)
EDGE_ENTRIES = [
    (0, "Hello", 0, 10, 1), (0, SEP, 1, 10, 1), (0, "World", 2, 10, 1),
    (0, ", ", 3, 10, 1), (0, "test", 4, 10, 1), (0, "… ", 5, 10, 1),
    (0, "„quote", 6, 10, 1), (0, "“ (", 7, 10, 1), (0, "x", 8, 10, 1),
    (0, ")", 9, 10, 1),
    (1, "a", 0, 9, 3), (1, SEP, 1, 9, 3), (1, "b", 6, 9, 2),
    (1, "-", 7, 9, 1),
    (5, "ä", 0, 11, 1), (5, SEP, 1, 11, 3), (5, "Ö", 2, 11, 1),
    (5, "ü", 4, 11, 1), (5, "ß", 6, 11, 1), (5, " — ", 7, 11, 1),
    (5, "dash", 8, 11, 1), (5, "…", 9, 11, 1), (5, "dots", 10, 11, 1),
    (6, "x", 0, 600, 300), (6, SEP, 1, 600, 300),
]
# (doc_id, tok_a, tok_b): distinct adjacent non-separator pairs per text
EDGE_PAIRS = [
    (0, "Hello", "World"), (0, "World", "test"), (0, "test", "„quote"),
    (0, "„quote", "x"),
    (1, "a", "a"), (1, "a", "b"), (1, "b", "b"),
    (5, "ä", "Ö"), (5, "Ö", "ü"), (5, "ü", "ß"), (5, "ß", "dash"),
    (5, "dash", "dots"),
    (6, "x", "x"),
]


def _rows(pdf, cols):
    return sorted(map(tuple, pdf[cols].values.tolist()))


class TestBuildTokenizeKernel:
    """Expected rows of the build's tokenize kernel, on the Spark stages
    (``mapInPandas`` wrappers) and on the local tier's direct call."""

    def _docs(self, spark):
        return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")

    def test_token_entries(self, spark):
        from veloci_spark.build import _tokenize_texts, token_entry_rows
        from veloci_spark.config import DEFAULT_SEPARATORS

        cols = ["doc_id", "token", "best_pos", "n_tokens", "cnt"]
        got = token_entry_rows(self._docs(spark), "text",
                               DEFAULT_SEPARATORS).toPandas()
        assert _rows(got, cols) == sorted(EDGE_ENTRIES)
        ent, _ = _tokenize_texts([d for d, _ in EDGE_DOCS],
                                 [t for _, t in EDGE_DOCS], DEFAULT_SEPARATORS,
                                 pairs=False)
        assert _rows(ent, cols) == sorted(EDGE_ENTRIES)
        assert set(ent["pos"]) == {0}

    def test_pair_rows(self, spark):
        from veloci_spark.build import _tokenize_texts, pair_rows
        from veloci_spark.config import DEFAULT_SEPARATORS

        cols = ["doc_id", "tok_a", "tok_b"]
        got = pair_rows(self._docs(spark), "text", DEFAULT_SEPARATORS).toPandas()
        assert _rows(got, cols) == sorted(EDGE_PAIRS)
        _, prs = _tokenize_texts([d for d, _ in EDGE_DOCS],
                                 [t for _, t in EDGE_DOCS], DEFAULT_SEPARATORS,
                                 entries=False)
        assert _rows(prs, cols) == sorted(EDGE_PAIRS)

    def test_value_pair_rows(self, spark):
        # dedup is per VALUE: the same pair in N sibling values yields N
        # rows, a repeat within one value yields one
        from veloci_spark.build import value_pair_rows
        from veloci_spark.config import DEFAULT_SEPARATORS

        vals = spark.createDataFrame(
            [(0, 0, "alpha beta gamma"), (0, 1, "alpha beta delta"),
             (0, 2, "alpha beta"),  # pair (alpha,beta) in 3 sibling values
             (1, 0, "one two one two"),  # repeated within one value → 1 row
             (1, 1, "one two"),
             (2, 0, "solo")],
            "doc_id long, pos int, value string")
        got = value_pair_rows(vals, DEFAULT_SEPARATORS).toPandas()
        assert _rows(got, ["doc_id", "tok_a", "tok_b"]) == sorted(
            [(0, "alpha", "beta")] * 3
            + [(0, "beta", "gamma"), (0, "beta", "delta")]
            + [(1, "one", "two")] * 2 + [(1, "two", "one")])

    def test_value_entries(self, spark):
        from veloci_spark.build import value_token_entry_rows
        from veloci_spark.config import DEFAULT_SEPARATORS

        vals = spark.createDataFrame(
            [(0, 0, "alpha beta alpha"), (0, 1, "gamma (delta)"),
             (1, 0, "one"), (1, 1, "two three")],
            "doc_id long, pos int, value string")
        got = value_token_entry_rows(vals, DEFAULT_SEPARATORS).toPandas()
        # n_tokens and best_pos are per value; pos is the value's position
        assert _rows(got, ["doc_id", "pos", "token", "best_pos", "n_tokens",
                           "cnt"]) == sorted([
            (0, 0, "alpha", 0, 5, 2), (0, 0, SEP, 1, 5, 2),
            (0, 0, "beta", 2, 5, 1),
            (0, 1, "gamma", 0, 4, 1), (0, 1, " (", 1, 4, 1),
            (0, 1, "delta", 2, 4, 1), (0, 1, ")", 3, 4, 1),
            (1, 1, "two", 0, 3, 1), (1, 1, SEP, 1, 3, 1),
            (1, 1, "three", 2, 3, 1),
        ])
