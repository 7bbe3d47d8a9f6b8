"""Query-string parser + generator tests (semantics per SURVEY.md §2.5) and
highlight/why-found tests. Parser goldens are hand-derived from the
documented grammar (whitespace = OR, AND/OR right-assoc no precedence)."""

import pytest

from veloci_spark.query import (
    Term, auto_levenshtein, parse_query, query_to_request, _flatten,
)


def leaf(node):
    assert "term" in node
    return node["term"]


class TestParser:
    def test_single_term(self):
        t = leaf(parse_query("hello"))
        assert t.text == "hello" and t.field is None and t.levenshtein is None

    def test_whitespace_is_or(self):
        ast = parse_query("die erbin")
        assert "or" in ast
        assert [leaf(c).text for c in ast["or"]] == ["die", "erbin"]

    def test_explicit_and(self):
        ast = parse_query("a AND b")
        assert "and" in ast

    def test_right_assoc_no_precedence(self):
        # a OR b AND c ⇒ or(a, and(b, c)) (parser.rs:473)
        ast = parse_query("a OR b AND c")
        assert "or" in ast
        rhs = ast["or"][1]
        assert "and" in rhs
        assert [leaf(c).text for c in rhs["and"]] == ["b", "c"]

    def test_parens(self):
        ast = parse_query("(a OR b) AND c")
        assert "and" in ast
        assert "or" in ast["and"][0]

    def test_field_term(self):
        t = leaf(parse_query("lang:de"))
        assert t.field == "lang" and t.text == "de"

    def test_levenshtein_suffix(self):
        t = leaf(parse_query("erbin~1"))
        assert t.levenshtein == 1 and t.text == "erbin"

    def test_quoted_phrase(self):
        t = leaf(parse_query('"der die das"'))
        assert t.quoted and t.text == "der die das"

    def test_wildcard_prefix(self):
        t = leaf(parse_query("majes*"))
        assert t.starts_with and t.text == "majes"

    def test_flatten(self):
        ast = _flatten(parse_query("a b c d"))
        assert [leaf(c).text for c in ast["or"]] == ["a", "b", "c", "d"]


class TestAutoLevenshtein:
    @pytest.mark.parametrize("term,limit,want", [
        ("ab", 2, 0), ("abc", 2, 1), ("abcde", 2, 1), ("abcdef", 2, 2),
        ("abcdef", 1, 1),  # default limit caps at 1
    ])
    def test_table(self, term, limit, want):
        assert auto_levenshtein(term, limit) == want


class TestGenerator:
    def test_single_field(self):
        req = query_to_request("urge", search_fields=["text"])
        assert req["search_req"] == {
            "search": {"terms": ["urge"], "levenshtein_distance": 1, "path": "text"}}

    def test_multi_field_expansion(self):
        req = query_to_request("urge", search_fields=["text", "url"])
        legs = req["search_req"]["or"]
        assert [l["search"]["path"] for l in legs] == ["text", "url"]

    def test_adjacent_pairs_become_phrase_boosts(self):
        req = query_to_request("die erbin", search_fields=["text"],
                               remove_stopwords=False)
        pb = req["phrase_boosts"]
        assert len(pb) == 1
        assert pb[0]["search1"]["terms"] == ["die"]
        assert pb[0]["search2"]["terms"] == ["erbin"]

    def test_pairs_chain_through_attributes(self):
        # reference _get_phrase_pairs (ast.rs:127-147): last_term survives
        # entering an attribute, so attributed terms pair by TEXT
        req = query_to_request("greg text:tagebuch", search_fields=["text"],
                               remove_stopwords=False)
        pb = req["phrase_boosts"]
        assert [(p["search1"]["terms"][0], p["search2"]["terms"][0])
                for p in pb] == [("greg", "tagebuch")]

    def test_stopword_removal(self):
        req = query_to_request("die erbin", search_fields=["text"])
        # "die" is a DE stopword → single leaf remains
        assert req["search_req"]["search"]["terms"] == ["erbin"]

    def test_all_stopwords_keeps_query(self):
        req = query_to_request("die das", search_fields=["text"])
        assert "or" in req["search_req"] or "search" in req["search_req"]

    def test_explicit_lev_wins(self):
        req = query_to_request("zzzzzzzz~0", search_fields=["text"])
        assert req["search_req"]["search"]["levenshtein_distance"] == 0

    def test_field_term_not_expanded(self):
        req = query_to_request("lang:de", search_fields=["text", "url"],
                               remove_stopwords=False)
        assert req["search_req"]["search"]["path"] == "lang"


class TestEndToEnd:
    def test_search_query_phrase_ranking(self, spark_index, ref_index, corpus):
        from tests.test_search_engine import url_of
        from veloci_spark import pyref
        from veloci_spark.query import query_to_request, search_query

        res = search_query(spark_index, "greg tagebuch", search_fields=["text"], top=10)
        urls = [url_of(corpus, d["doc_id"]) for d in res["data"]]
        ranked = [u for u in urls if u.startswith("golden/scores/")]
        # phrase-containing docs outrank the doc with both terms apart
        assert set(ranked[:2]) == {"golden/scores/00", "golden/scores/02"}
        assert ranked[2] == "golden/scores/01"
        # and the generated request is rank-identical to the oracle
        req = query_to_request("greg tagebuch", search_fields=["text"], top=10)
        want = pyref.search_request(ref_index, req)
        assert [d["doc_id"] for d in res["data"]] == [d for d, _ in want]

    def test_search_query_matches_explicit_request(self, spark_index, ref_index):
        from veloci_spark import pyref
        from veloci_spark.query import query_to_request, search_query

        res = search_query(spark_index, "urge", search_fields=["text"], top=5)
        req = query_to_request("urge", search_fields=["text"], top=5)
        want = pyref.search_request(ref_index, req)
        assert [d["doc_id"] for d in res["data"]] == [d for d, _ in want]


def _snippets_in_search(index):
    from veloci_spark.search import search

    res = search(index, {
        "search": {"terms": ["story"], "path": "text"},
        "snippets": {"field": "text"}, "top": 3})
    assert any("<b>story</b>" in (d.get("snippet") or "") for d in res["data"])


class TestHighlight:
    def test_basic(self):
        from veloci_spark.highlight import highlight_text

        out = highlight_text("die erbin ist da", ["erbin"])
        assert "<b>erbin</b>" in out

    def test_no_match(self):
        from veloci_spark.highlight import highlight_text

        assert highlight_text("nothing here", ["zzz"]) is None

    def test_snippet_window_and_connector(self):
        from veloci_spark.highlight import highlight_text

        words = [f"w{i}" for i in range(60)]
        words[5] = "hit"
        words[50] = "hit"
        out = highlight_text(" ".join(words), ["hit"])
        assert out.count("<b>hit</b>") == 2
        assert " ... " in out  # two far-apart groups joined by connector
        assert "w30" not in out  # middle tokens elided

    def test_prolog_golden(self):
        # tests.rs:951-968 should_highlight_on_field — the reference's own
        # EXACT golden string (window, edge ellipsis, connector spacing)
        from veloci_spark.highlight import highlight_text

        text = ("Prolog:\nthis is a story of a guy who went out to rule the "
                "world, but then died. the end")
        out = highlight_text(text, ["story"])
        assert out == "Prolog:\nthis is a <b>story</b> of a guy who went ... "

    def test_why_found(self, spark_index, corpus):
        from tests.test_search_engine import url_of
        from veloci_spark.search import search

        res = search(spark_index, {
            "or": [{"search": {"terms": ["greg"], "path": "text"}},
                   {"search": {"terms": ["tagebuch"], "path": "text"}}],
            "why_found": True, "top": 3})
        for d in res["data"]:
            assert d["why_found"], d
            # reference shape: highlighted source texts, not bare terms
            snippets = d["why_found"]["text"]
            joined = " ".join(snippets).lower()
            assert "<b>greg</b>" in joined or "<b>tagebuch</b>" in joined
            text = corpus[d["doc_id"]]["text"].lower()
            for s in snippets:
                plain = s.replace("<b>", "").replace("</b>", "") \
                    .replace(" ... ", "")
                assert plain.strip(" .").split()[0] in text

    def test_snippets_in_search(self, spark_index):
        _snippets_in_search(spark_index)

    def test_snippets_in_search_spark_tier(self, spark_index, spark_tier):
        _snippets_in_search(spark_index)


class TestReferenceStopwords:
    """Exact behavioral parity with the reference's shipped lists
    (stopword_lists/{en,de}, loaded lowercased by stopwords.rs)."""

    def test_reference_list_membership(self):
        from veloci_spark.query import is_stopword

        # ported reference test (stopwords.rs test_stopword)
        for w in ("und", "der", "die", "das"):
            assert is_stopword("de", w)
        # words the round-1 generic list missed but the reference removes
        for w in ("will", "one", "time", "can", "must", "mr", "i", "first",
                  "know", "said", "upon", "two"):
            assert is_stopword("en", w)
        # words the generic list removed but the reference KEEPS
        for w in ("above", "again", "because", "being", "below", "between",
                  "both", "during", "each", "few", "how", "why", "too"):
            assert not is_stopword("en", w)

    def test_filter_stopwords_reference_case(self):
        # ported: filter_stopwords(parse("die erbin"), de) == "erbin"
        from veloci_spark.query import query_to_request

        req = query_to_request("die erbin", search_fields=["text"],
                               stopword_lists=["de"])
        assert req["search_req"] == {
            "search": {"terms": ["erbin"], "levenshtein_distance": 1,
                       "path": "text"}}

    def test_will_is_removed_by_default(self):
        from veloci_spark.query import query_to_request

        req = query_to_request("will urge", search_fields=["text"])
        assert req["search_req"]["search"]["terms"] == ["urge"]

    def test_language_scoping(self):
        from veloci_spark.query import query_to_request

        # "will" is only an EN stopword: with de-only lists it survives
        req = query_to_request("will urge", search_fields=["text"],
                               stopword_lists=["de"])
        terms = str(req["search_req"])
        assert "will" in terms and "urge" in terms


class TestMidWordWildcard:
    def test_midword_star_becomes_regex(self):
        from veloci_spark.query import _parse_word

        t = _parse_word("fo*ba")
        assert t.is_regex and t.text == "fo.*ba"
        assert not t.starts_with and t.levenshtein is None

    def test_trailing_star_stays_prefix(self):
        from veloci_spark.query import _parse_word

        t = _parse_word("fooba*")
        assert not t.is_regex and t.starts_with and t.text == "fooba"

    def test_combined_mid_and_trailing(self):
        # reference: starts_with popped first, remaining * → regex
        from veloci_spark.query import _parse_word

        t = _parse_word("fo*ba*")
        assert t.is_regex and t.starts_with and t.text == "fo.*ba"

    def test_regex_escapes_specials(self):
        from veloci_spark.query import _parse_word

        t = _parse_word("a.b*c")
        assert t.is_regex and t.text == r"a\.b.*c"

    def test_generator_emits_regex_leaf(self):
        from veloci_spark.query import query_to_request

        req = query_to_request("maj*tischer", search_fields=["text"],
                               remove_stopwords=False)
        leaf = req["search_req"]["search"]
        assert leaf["is_regex"] and leaf["terms"] == ["maj.*tischer"]
        assert leaf["levenshtein_distance"] == 0
        assert "phrase_boosts" not in req

    def test_wildcard_end_to_end(self, spark_index, ref_index):
        from veloci_spark import pyref
        from veloci_spark.query import query_to_request
        from veloci_spark.search import search

        req = query_to_request("maj*tischer", search_fields=["text"],
                               remove_stopwords=False)
        got = search(spark_index, req)
        want = pyref.search_request(ref_index, {
            "search": {"terms": ["maj.*tischer"], "path": "text",
                       "is_regex": True}, "top": 10})
        assert [d["doc_id"] for d in got["data"]] == [d for d, _s in want]


class TestNumHits:
    """num_hits is reference-exact on EVERY path (search_result.rs:8-26;
    count assertions in the spirit of tests_large.rs:41-113): the truncating
    WAND kernels report per-segment counts via ids-only decode of the rows
    they skip, so a plain top-k response carries the true total without a
    full materialization."""

    def test_plain_topk_is_exact(self, spark_index, ref_index):
        from veloci_spark import pyref
        from veloci_spark.search import search

        for req in (
            {"search": {"terms": ["will"], "path": "text"}, "top": 3},
            {"search": {"terms": ["majestätischer"], "path": "text"},
             "top": 2},
            {"or": [{"search": {"terms": ["will"], "path": "text"}},
                    {"search": {"terms": ["urge"], "path": "text"}}],
             "top": 3},
            {"and": [{"search": {"terms": ["die"], "path": "text"}},
                     {"search": {"terms": ["der"], "path": "text"}}],
             "top": 2},
        ):
            res = search(spark_index, req)
            want = pyref.search_request(ref_index, {**req, "top": 10**9})
            assert res["num_hits_exact"], req
            assert res["num_hits"] == len(want), req
            assert len(res["data"]) <= req["top"]

    def test_exact_count_matches_oracle(self, spark_index, ref_index):
        from veloci_spark import pyref
        from veloci_spark.search import search

        req = {"or": [{"search": {"terms": ["will"], "path": "text"}},
                      {"search": {"terms": ["urge"], "path": "text"}}], "top": 3}
        res = search(spark_index, {**req, "exact_count": True})
        fast = search(spark_index, req)
        want = pyref.search_request(ref_index, {**req, "top": 10**9})
        assert res["num_hits_exact"] and fast["num_hits_exact"]
        assert res["num_hits"] == fast["num_hits"] == len(want)
        assert len(res["data"]) == 3
        # and the truncated path returns the same ranked page
        assert res["data"] == fast["data"]


class TestSuggestMulti:
    def test_multi_field_merge(self, spark_index):
        from veloci_spark.search import suggest, suggest_multi

        single = suggest(spark_index, "text", "ma", top=50)
        multi = suggest_multi(spark_index, ["text", "lang"], "ma", top=50)
        assert set(t for t, _ in single) <= set(t for t, _ in multi)
        # scores sorted descending
        scores = [s for _, s in multi]
        assert scores == sorted(scores, reverse=True)


_EXPLAIN_REQS = [
    {"search": {"terms": ["urge"], "path": "text"}, "top": 5},
    {"or": [{"search": {"terms": ["will"], "path": "text"}},
            {"search": {"terms": ["urge"], "path": "text"}}], "top": 5},
    {"and": [{"search": {"terms": ["greg"], "path": "text"}},
             {"search": {"terms": ["tagebuch"], "path": "text"}}], "top": 5},
    {"search": {"terms": ["erbin"], "path": "text"},
     "phrase_boosts": [{"path": "text",
                        "search1": {"terms": ["die"], "path": "text"},
                        "search2": {"terms": ["erbin"], "path": "text"}}],
     "top": 5},
    {"or": [{"search": {"terms": ["text"], "path": "text"}},
            {"search": {"terms": ["localität"], "path": "text"}}],
     "text_locality": True, "top": 5},
    {"or": [{"search": {"terms": ["will"], "path": "text"}},
            {"search": {"terms": ["urge"], "path": "text"}}],
     "boost_term": [{"terms": ["testo"], "path": "text", "boost": 5.0}],
     "top": 5},
]


def _last_step_equals_hit_score(index, req):
    import numpy as np

    from veloci_spark.search import search

    res = search(index, {**req, "explain_hits": True})
    assert res["data"], "query must hit for the test to mean anything"
    for d in res["data"]:
        steps = d["explain"]
        assert steps, d
        assert np.float32(steps[-1]["score"]) == np.float32(d["score"]), (
            d["doc_id"], steps)


class TestExplainHits:
    @pytest.mark.parametrize("req", _EXPLAIN_REQS, ids=lambda r: str(r)[:45])
    def test_last_step_equals_hit_score(self, spark_index, req):
        _last_step_equals_hit_score(spark_index, req)

    @pytest.mark.parametrize("req", _EXPLAIN_REQS, ids=lambda r: str(r)[:45])
    def test_last_step_equals_hit_score_spark_tier(self, spark_index, req,
                                                   spark_tier):
        _last_step_equals_hit_score(spark_index, req)


class TestGeneratorOptions:
    """Reference SearchQueryGeneratorParameters: boost_fields, boost_terms,
    filter (query_generator.rs:85-132, 204-210, 225-233)."""

    def test_boost_fields(self):
        from veloci_spark.query import query_to_request

        req = query_to_request("urge", search_fields=["text", "url"],
                              remove_stopwords=False,
                              boost_fields={"text": 2.0})
        legs = req["search_req"]["or"]
        by_path = {l["search"]["path"]: l["search"] for l in legs}
        assert by_path["text"]["boost"] == 2.0
        assert "boost" not in by_path["url"]

    def test_boost_terms(self):
        from veloci_spark.query import query_to_request

        req = query_to_request("urge", search_fields=["text"],
                              remove_stopwords=False,
                              boost_terms={"testo": 5.0, "lang:en": 1.5})
        bt = req["boost_term"]
        assert {"path": "text", "terms": ["testo"], "boost": 5.0} in bt
        assert {"path": "lang", "terms": ["en"], "boost": 1.5} in bt

    def test_filter_query(self):
        from veloci_spark.query import query_to_request

        req = query_to_request("urge", search_fields=["text"],
                              remove_stopwords=False,
                              filter_query="lang:de")
        assert req["filter"] == {
            "search": {"terms": ["de"], "levenshtein_distance": 0,
                       "path": "lang"}}

    def test_filter_query_end_to_end(self, spark_index, ref_index):
        from veloci_spark import pyref
        from veloci_spark.query import query_to_request
        from veloci_spark.search import search

        req = query_to_request("greg text", search_fields=["text"],
                              remove_stopwords=False, filter_query="lang:de",
                              top=20)
        req.pop("phrase_boosts", None)
        got = search(spark_index, req)
        want = pyref.search_request(ref_index, {
            "or": [{"search": {"terms": ["greg"], "path": "text",
                               "levenshtein_distance": 1}},
                   {"search": {"terms": ["text"], "path": "text",
                               "levenshtein_distance": 1}}],
            "filter": {"search": {"terms": ["de"], "path": "lang"}},
            "top": 20})
        assert [d["doc_id"] for d in got["data"]] == [d for d, _s in want]


def _ast_str(n):
    """Render an AST the way the reference Debug-formats UserAST
    (ast.rs:44-56): quoted phrases, `attr:` prefixes, parenthesized
    right-leaning binary clauses."""
    if n is None:
        return "None"
    if "term" in n:
        t = n["term"]
        s = f'"{t.text}"' if not t.field else f'{t.field}:"{t.text}"'
        if t.levenshtein is not None:
            s += f"~{t.levenshtein}"
        return s
    op = "or" if "or" in n else "and"
    return "(" + f" {op.upper()} ".join(_ast_str(c) for c in n[op]) + ")"


class TestReferenceParserGoldens:
    """Token-exact port of the reference parser test battery
    (/root/reference/query_parser/src/parser.rs:199-500 + lexer.rs tests):
    grouping, associativity, attributes (inline / quoted / parenthesized
    block), levenshtein suffix, stray parens, unicode — and every input the
    reference rejects (Err or an unimplemented-arm panic) raises ParseError.
    """

    GOLDENS = [
        ("hallo", '"hallo"'),
        ('"cool")', '"cool"'),                       # test_phrases
        ('"cooles teil")', '"cooles teil"'),
        ("(cool)", '"cool"'),                        # test_parentheses
        ("((((((cool))))))", '"cool"'),
        ("((((((cool)))))) AND ((((((cool))))))", '("cool" AND "cool")'),
        ("(super AND cool) OR fancy", '(("super" AND "cool") OR "fancy")'),
        ("(super AND cool) OR (fancy)", '(("super" AND "cool") OR "fancy")'),
        ("((super AND cool)) OR (fancy)", '(("super" AND "cool") OR "fancy")'),
        ("super AND cool OR fancy",                   # test_and_or: no
         '("super" AND ("cool" OR "fancy"))'),        # precedence, right-assoc
        ("super OR cool AND fancy", '("super" OR ("cool" AND "fancy"))'),
        ("super cool OR fancy",                       # test_implicit_or
         '("super" OR ("cool" OR "fancy"))'),
        ("super cool", '("super" OR "cool")'),
        ("fancy~1", '"fancy"~1'),                     # test_levenshtein
        ("super cool OR fancy~1", '("super" OR ("cool" OR "fancy"~1))'),
        ("field:fancy~1", 'field:"fancy"~1'),         # attribute+levenshtein
        ('"field":fancy unlimited',                   # quoted attribute
         '(field:"fancy" OR "unlimited")'),
        ('"field""cool"', '("field" OR "cool")'),     # test_quote_on_quote
        ("field:fancy", 'field:"fancy"'),             # test_attribute_simple
        ("freestyle myattr:(super cool)",             # attribute_after_text
         '("freestyle" OR (myattr:"super" OR myattr:"cool"))'),
        ("field:(fancy unlimited)",                   # attributed block
         '(field:"fancy" OR field:"unlimited")'),
        ("a AND  b", '("a" AND "b")'),                # test_multi_spaces
        ("die drei ???", '("die" OR ("drei" OR "???"))'),  # special chars
        ("a+", '"a+"'),
        ("a AND b AND c", '("a" AND ("b" AND "c"))'),  # not flattened
        ("a OR b OR c", '("a" OR ("b" OR "c"))'),
        ("a:b OR c", '(a:"b" OR "c")'),
        ("食べる AND b", '("食べる" AND "b")'),
    ]

    @pytest.mark.parametrize("q,want", GOLDENS, ids=[q for q, _ in GOLDENS])
    def test_golden(self, q, want):
        from veloci_spark.query import parse_query

        assert _ast_str(parse_query(q)) == want

    @pytest.mark.parametrize("q", [
        "field:what:ok",   # test_invalid: attribute after attribute
        "fancy~",          # test_levenshtein: dangling tilde
        "fancy~x",         # ExpectedNumber
        "fancy:",          # test_attribute_errors: dangling attr
        "a (b)",           # parser.rs:127 unimplemented arm
    ])
    def test_reference_rejects(self, q):
        from veloci_spark.query import ParseError, parse_query

        with pytest.raises(ParseError):
            parse_query(q)

    def test_options_disable_features(self):
        # test_parentheses_disabled / test_levenshtein_disabled /
        # test_disabled_attribute_simple
        from veloci_spark.query import QueryParserOptions, parse_query

        def txt(q, **kw):
            return parse_query(q, QueryParserOptions(**kw))["term"].text

        assert txt("(cool)", no_parentheses=True) == "(cool)"
        assert txt("fancy~1", no_levensthein=True) == "fancy~1"
        assert txt("field:fancy", no_attributes=True) == "field:fancy"

    def test_and_requires_surrounding_whitespace(self):
        # lexer.rs:114-127: AND/OR need preceding whitespace and a trailing
        # space — `coolAND AND (` lexes as literal, operator, paren
        from veloci_spark.query import _lex, _Attr, _RawTerm

        toks = _lex("coolAND AND (")
        assert toks[0] == _RawTerm("coolAND")
        assert toks[1] == "AND"
        assert toks[2] == "("
        # trailing OR with no space after is a literal
        assert _lex("a OR")[-1] == _RawTerm("OR")

    def test_lexer_attribute_tokens(self):
        # lexer.rs:318-320
        from veloci_spark.query import _lex, _Attr, _RawTerm

        assert _lex("cool:nice") == [_Attr("cool"), _RawTerm("nice")]
        assert _lex('"cool":nice') == [_Attr("cool"), _RawTerm("nice")]


class TestParserRoundTrip:
    """Property test for the token-exact parser: render a random AST to a
    query string (fully parenthesized, explicit operators) and parse it
    back — the tree must reproduce exactly (text, field, levenshtein,
    quoted, operator shape). Derandomized for suite determinism."""

    @staticmethod
    def _strategies():
        from hypothesis import strategies as st

        word = st.text(alphabet="abcdefghijklmnopqrstuvwxyzäöü食",
                       min_size=1, max_size=8).filter(
            lambda w: w.upper() not in ("AND", "OR"))
        phrase = st.tuples(word, word).map(lambda p: f"{p[0]} {p[1]}")
        leaf = st.one_of(
            word.map(lambda w: ("term", w, None, None, False)),
            st.tuples(word, st.integers(0, 9)).map(
                lambda t: ("term", t[0], None, t[1], False)),
            st.tuples(word, word).map(
                lambda t: ("term", t[1], t[0], None, False)),
            st.tuples(word, word, st.integers(0, 9)).map(
                lambda t: ("term", t[1], t[0], t[2], False)),
            phrase.map(lambda p: ("term", p, None, None, True)),
        )
        tree = st.recursive(
            leaf,
            lambda children: st.tuples(
                st.sampled_from(["AND", "OR"]), children, children),
            max_leaves=6,
        )
        return tree

    @staticmethod
    def _render(node) -> str:
        if node[0] == "term":
            _tag, text, field, lev, quoted = node
            s = f'"{text}"' if quoted else text
            if field is not None:
                s = f"{field}:{s}"
            if lev is not None:
                s = f"{s}~{lev}"
            return s
        op, a, b = node
        return (f"({TestParserRoundTrip._render(a)} {op} "
                f"{TestParserRoundTrip._render(b)})")

    @staticmethod
    def _expect(node, field_ctx=None):
        if node[0] == "term":
            _tag, text, field, lev, quoted = node
            return {"t": text, "f": field if field is not None else field_ctx,
                    "l": lev, "q": quoted}
        op, a, b = node
        return {op.lower(): [TestParserRoundTrip._expect(a, field_ctx),
                             TestParserRoundTrip._expect(b, field_ctx)]}

    @staticmethod
    def _shape(ast):
        if "term" in ast:
            t = ast["term"]
            return {"t": t.text, "f": t.field, "l": t.levenshtein,
                    "q": t.quoted}
        op = "or" if "or" in ast else "and"
        return {op: [TestParserRoundTrip._shape(c) for c in ast[op]]}

    def test_round_trip(self):
        from hypothesis import HealthCheck, given, settings

        from veloci_spark.query import parse_query

        tree_st = self._strategies()

        @settings(max_examples=300, deadline=None, derandomize=True,
                  suppress_health_check=list(HealthCheck))
        @given(tree_st)
        def check(tree):
            q = self._render(tree)
            got = parse_query(q)
            assert self._shape(got) == self._expect(tree), q

        check()
