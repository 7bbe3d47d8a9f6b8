"""spark-submit job surface (jobs/build_index_job.py, jobs/search_job.py).

Driven in-process here (``main(argv)`` with the test session answering
``getOrCreate``) — the identical commands ran end-to-end under real
``spark-submit --py-files /tmp/veloci_spark.zip`` on sf0.001 during round 5
(BENCH/BASELINE.md §5 records the run); these tests keep the CLI surface
from regressing without paying a JVM fork per suite run.
"""

import json

import pytest

from tests.conftest import forced_spark_build


@pytest.fixture(scope="module")
def no_stop():
    # the jobs call spark.stop() on exit; keep the shared test session alive
    from pyspark.sql import SparkSession

    orig = SparkSession.stop
    SparkSession.stop = lambda self: None
    yield
    SparkSession.stop = orig


@pytest.fixture(scope="module")
def corpus_parquet(spark, corpus, tmp_path_factory):
    from veloci_spark.synth import WEBTEXT_SCHEMA

    p = str(tmp_path_factory.mktemp("jobs") / "docs.parquet")
    df = spark.createDataFrame(
        [{k: r[k] for k in ("url", "warc_ts", "html", "text", "lang")}
         for r in corpus],
        schema=WEBTEXT_SCHEMA,
    ).repartition(3)
    df.write.parquet(p)
    return p


@pytest.fixture(scope="module")
def built_dir(no_stop, spark, corpus_parquet, tmp_path_factory):
    from jobs import build_index_job

    out = str(tmp_path_factory.mktemp("jobs") / "idx")
    # the Spark build tier: the resume test re-submits onto its stages
    with forced_spark_build():
        build_index_job.main(["--input", corpus_parquet, "--output", out,
                              "--segment-docs", "32"])
    return out


class TestBuildJob:
    def test_manifest_and_reload(self, built_dir, spark, corpus):
        from veloci_spark.search import FulltextIndex

        idx = FulltextIndex(spark, built_dir)
        assert idx.manifest["n_docs"] == len(corpus)
        assert {f["name"] for f in idx.manifest["fields"]} >= {"text", "lang"}

    def test_resume_with_same_input(self, built_dir, corpus_parquet, capsys,
                                    spark_build):
        # re-submitting with the same --output resumes (stage markers)
        from jobs import build_index_job

        build_index_job.main(["--input", corpus_parquet, "--output",
                              built_dir, "--segment-docs", "32"])
        out = capsys.readouterr().out
        manifest = json.loads(out)
        assert manifest["n_docs"] > 0
        assert manifest["build_tier"] == "spark"


class TestSearchJob:
    def test_query_matches_library_path(self, no_stop, built_dir, spark,
                                        capsys):
        from jobs import search_job
        from veloci_spark.query import search_query
        from veloci_spark.search import FulltextIndex

        search_job.main(["--index", built_dir, "--query", "die OR wird",
                         "--facets", "lang", "--top", "5"])
        got = json.loads(capsys.readouterr().out.strip())
        idx = FulltextIndex(spark, built_dir)
        want = search_query(idx, "die OR wird", top=5,
                            facets=[{"field": "lang"}])
        assert got["num_hits"] == want["num_hits"]
        assert [(d["doc_id"], round(d["score"], 5)) for d in got["data"]] == \
            [(d["doc_id"], round(d["score"], 5)) for d in want["data"]]
        assert got["facets"] == {
            k: [[v, c] for v, c in vs] for k, vs in want["facets"].items()}

    def test_suggest_and_fields(self, no_stop, built_dir, capsys):
        from jobs import search_job

        search_job.main(["--index", built_dir, "--suggest-prefix", "di",
                         "--fields", "text", "--top", "3"])
        got = json.loads(capsys.readouterr().out.strip())
        assert "suggest" in got
        assert all(isinstance(s[0], str) and s[1] > 0 for s in got["suggest"])

    def test_requires_query_or_prefix(self, no_stop, built_dir):
        from jobs import search_job

        with pytest.raises(SystemExit):
            search_job.main(["--index", built_dir])
