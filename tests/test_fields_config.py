"""Reference-format fields-config loader (veloci_spark/fields_config.py).

The reference's ``create_index`` accepts a JSON-or-TOML map of field path
→ options (/root/reference/src/create/fields_config.rs:96-111); a user
switching engines carries that file. These tests cover the format (both
syntaxes, the ``*GLOBAL*`` fallback, ``.textindex`` stripping, the
features/disabled_features exclusivity error of fields_config.rs:39-44),
the lowering onto FieldConfig, schema path discovery, and an end-to-end
config-driven build."""

import json

import pytest

from veloci_spark.fields_config import (
    discover_paths,
    field_from_config,
    index_config_from_string,
    parse_fields_config,
)


class TestParse:
    def test_toml_reference_shape(self):
        # the reference's TOML layout: per-field tables with .fulltext /
        # .boost subtables (fields_config.rs:146-172 test shape, own data)
        toml = """
["notes[].rank".boost]
    boost_type = "int"
["notes[].body"]
    ["notes[].body".fulltext]
        tokenize = true
["title"]
    [title.fulltext]
        tokenize = false
"""
        cfg = parse_fields_config(toml)
        assert cfg["notes[].rank"]["boost"]["boost_type"] == "int"
        assert cfg["notes[].body"]["fulltext"]["tokenize"] is True
        assert cfg["title"]["fulltext"]["tokenize"] is False

    def test_json_detected_by_brace(self):
        cfg = parse_fields_config('  {"text": {"facet": true}}')
        assert cfg["text"]["facet"] is True

    def test_non_map_rejected(self):
        with pytest.raises(ValueError):
            parse_fields_config("[1, 2]")

    def test_wrapper_shape_accepted(self):
        # CreateIndexConfig wrapper (fields_config.rs:6-12): the map under
        # fields_config, do_not_store_document tolerated (moot here — the
        # source table is the doc store)
        cfg = parse_fields_config(json.dumps({
            "fields_config": {"text": {"facet": True}},
            "do_not_store_document": True}))
        assert cfg == {"text": {"facet": True}}

    def test_field_named_fields_config_is_not_a_wrapper(self):
        # a flat map with more keys than the wrapper's is a flat config,
        # even with a field path literally named fields_config
        cfg = parse_fields_config(json.dumps({
            "fields_config": {"facet": True}, "text": {"facet": True}}))
        assert cfg == {"fields_config": {"facet": True},
                       "text": {"facet": True}}

    def test_scalar_field_entry_rejected(self):
        with pytest.raises(ValueError, match="option maps"):
            parse_fields_config('{"text": true}')


class TestLowering:
    def test_defaults_match_reference(self):
        # default features {Search, TokensToTextID} (features.rs:19-21):
        # searchable, term→text built, NO phrase pairs
        fc = field_from_config("text", {})
        assert fc.tokenize and fc.token_texts and not fc.phrase_pairs
        assert fc.max_text_store_bytes == 64
        assert not fc.boost_from_value

    def test_fulltext_options(self):
        fc = field_from_config("code", {"fulltext": {
            "tokenize": True, "tokenize_on_chars": [" ", "\n", "("],
            "do_not_store_text_longer_than": 128}})
        assert fc.separators == " \n("
        assert fc.max_text_store_bytes == 128

    def test_features_gate_relations(self):
        fc = field_from_config("t", {"features": ["Search", "PhraseBoost"]})
        assert fc.phrase_pairs and not fc.token_texts
        fc = field_from_config("t", {"features": ["All"]})
        assert fc.phrase_pairs and fc.token_texts

    def test_disabled_features_are_complement(self):
        # disabling everything except Search keeps a search-only field;
        # (documented intent — the reference's invert() quirk makes its own
        # disabled_features behave as features; we lower the intent)
        with pytest.warns(UserWarning, match="disabled_features"):
            fc = field_from_config("t", {"disabled_features": [
                "TokensToTextID", "BoostTextLocality", "Highlight",
                "WhyFound", "Select", "PhraseBoost"]})
        assert fc is not None and not fc.token_texts and not fc.phrase_pairs
        with pytest.warns(UserWarning, match="disabled_features"):
            fc = field_from_config("t", {"disabled_features": ["PhraseBoost"]})
        assert fc.token_texts and not fc.phrase_pairs

    def test_disabled_features_warns(self):
        # lowered as the complement, which the reference does not do
        with pytest.warns(UserWarning, match="disabled_features"):
            field_from_config("t", {"disabled_features": ["PhraseBoost"]})

    def test_multi_char_separator_rejected(self):
        with pytest.raises(ValueError, match="single characters"):
            field_from_config("t", {"fulltext": {
                "tokenize_on_chars": [" ", "ab"]}})

    def test_search_disabled_field_skipped(self):
        assert field_from_config("t", {"features": ["Facets"]}) is None

    def test_boost_only_field_kept(self):
        fc = field_from_config("notes[].rank",
                               {"boost": {"boost_type": "int"},
                                "features": ["Facets"]})
        assert fc is not None and fc.boost_from_value

    def test_features_exclusivity_error(self):
        # fields_config.rs:39-44
        with pytest.raises(ValueError, match="not allowed at the same"):
            field_from_config("t", {"features": ["Search"],
                                    "disabled_features": ["Select"]})

    def test_unknown_feature_error(self):
        with pytest.raises(ValueError, match="unknown features"):
            field_from_config("t", {"features": ["Serach"]})

    def test_textindex_suffix_and_global(self):
        cfg = json.dumps({
            "text.textindex": {"features": ["Search"]},
            "*GLOBAL*": {"fulltext": {"tokenize": False}},
        })
        ic = index_config_from_string(cfg, ["text", "lang"])
        assert not ic.field("text").token_texts      # per-field entry won
        assert ic.field("lang").tokenize is False    # *GLOBAL* fallback
        assert ic.field("lang").token_texts          # default features

    def test_duplicate_textindex_key_is_an_error(self):
        cfg = json.dumps({"text": {"features": ["Search"]},
                          "text.textindex": {"features": ["All"]}})
        with pytest.raises(ValueError, match="two entries for 'text'"):
            index_config_from_string(cfg, ["text"])

    def test_all_paths_disabled_is_an_error(self):
        cfg = json.dumps({"*GLOBAL*": {"features": ["Facets"]}})
        with pytest.raises(ValueError, match="disables every"):
            index_config_from_string(cfg, ["text"])


class TestDiscoverPaths:
    def test_webtext_schema(self, spark):
        from veloci_spark.synth import generate_df

        paths = discover_paths(generate_df(spark, 5).schema)
        # html is binary → skipped; scalars of any type are indexable text
        assert paths == ["url", "warc_ts", "text", "lang"]

    def test_nested_schema(self, spark):
        df = spark.createDataFrame(
            [("a", [{"body": "x", "tags": ["t"]}], {"s": 1})],
            "id string, notes array<struct<body:string,tags:array<string>>>, "
            "meta struct<s:int>")
        assert discover_paths(df.schema) == [
            "id", "notes[].body", "notes[].tags[]", "meta.s"]


class TestEndToEnd:
    def test_config_driven_build_and_search(self, spark, tmp_path):
        from veloci_spark.build import build_index
        from veloci_spark.search import FulltextIndex, search

        docs = spark.createDataFrame(
            [(0, "alpha beta gamma", 1, [{"body": "delta echo"}]),
             (1, "beta my-dash-word", 50, [{"body": "alpha"}])],
            "doc_id long, text string, rank int, "
            "notes array<struct<body:string>>")
        cfg = json.dumps({
            "text": {"fulltext": {"tokenize": True,
                                  "tokenize_on_chars": [" "]},
                     "features": ["Search"]},
            "notes[].body": {},
            "rank": {"boost": {"boost_type": "int"},
                     "features": ["Facets"]},
            "*GLOBAL*": {"features": ["Facets"]},  # doc_id: not indexed
        })
        ic = index_config_from_string(
            cfg, discover_paths(docs.schema), doc_id_col="doc_id")
        assert {f.name for f in ic.fields} == {"text", "notes[].body",
                                               "rank"}
        d = str(tmp_path / "cfg_idx")
        build_index(spark, docs, ic, d)
        idx = FulltextIndex(spark, d).cache()

        # custom separator set (space only): "my-dash-word" is ONE token
        r = search(idx, {"search": {"terms": ["my-dash-word"],
                                    "path": "text"}, "top": 5})
        assert [h["doc_id"] for h in r["data"]] == [1]
        # nested field searchable with default features
        r = search(idx, {"search": {"terms": ["delta"],
                                    "path": "notes[].body"}, "top": 5})
        assert [h["doc_id"] for h in r["data"]] == [0]
        # boost-by-indexed-data from the config's boost entry: unboosted,
        # doc 0 wins (two OR terms hit, sum × n²); Multiply by (rank + 0)
        # flips the order — doc 1's rank 50 overwhelms doc 0's two-term base
        tree = {"or": [{"search": {"terms": ["alpha"], "path": "text"}},
                       {"search": {"terms": ["beta"], "path": "text"}}]}
        r = search(idx, {**tree, "top": 5})
        assert r["data"][0]["doc_id"] == 0
        r = search(idx, {**tree,
                         "boost": [{"boost_fun": "Multiply", "param": 0.0,
                                    "path": "rank"}], "top": 5})
        assert r["data"][0]["doc_id"] == 1
        # no configured field enables PhraseBoost → zero phrase-pair rows
        assert spark.read.parquet(f"{d}/phrase").count() == 0


class TestJobWiring:
    def test_build_job_accepts_config(self, spark, tmp_path):
        """jobs/build_index_job.py --config end-to-end in-process (the
        spark-submit twin is tests/test_jobs.py; here the arg wiring)."""
        import sys

        sys.path.insert(0, "/root/repo")
        from jobs import build_index_job
        from veloci_spark.synth import generate_df

        inp = str(tmp_path / "docs")
        generate_df(spark, 40).write.parquet(inp)
        cfgf = tmp_path / "fields.json"
        cfgf.write_text(json.dumps({
            "text": {"features": ["Search", "PhraseBoost",
                                  "TokensToTextID"]},
            "lang": {"fulltext": {"tokenize": False}},
            "*GLOBAL*": {"features": ["Facets"]},
        }))
        out = str(tmp_path / "idx")

        import pyspark.sql as psql

        class _FakeBuilder:  # reuse the live test session, skip stop()
            def appName(self, _name):
                return self

            def getOrCreate(self):
                return spark

        # patch/restore at the CLASS level with the original DESCRIPTORS:
        # monkeypatch.setattr would record the EVALUATED classproperty and
        # leave a stale Builder instance behind, and an instance-level stop
        # patch leaves a bound method in the session's __dict__ that
        # bypasses test_jobs' own class-level no_stop patch later in the
        # suite (observed: the shared session's context got stopped)
        orig_builder = psql.SparkSession.__dict__["builder"]
        orig_stop = psql.SparkSession.__dict__["stop"]
        psql.SparkSession.builder = _FakeBuilder()
        psql.SparkSession.stop = lambda self: None
        try:
            build_index_job.main(["--input", inp, "--output", out,
                                  "--config", str(cfgf)])
        finally:
            psql.SparkSession.builder = orig_builder
            psql.SparkSession.stop = orig_stop
        from veloci_spark.search import FulltextIndex, search

        idx = FulltextIndex(spark, out)
        r = search(idx, {"search": {"terms": ["ba"], "path": "text"},
                         "top": 3})
        assert r["num_hits"] > 0
