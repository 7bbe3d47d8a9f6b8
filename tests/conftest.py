import contextlib
import os
import shutil

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("veloci_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def spark_tier(monkeypatch):
    """Forces the Spark execution tier (LOCAL_TIER_MAX_POSTINGS = 0) and
    puts the post-processing reads (select, snippets, why-found, explain)
    on Spark too (LOCAL_TIER_MAX_SCAN_BYTES = -1: no read is small enough).
    Each parity battery runs twice: as itself, under the default cost rule
    that sends the small test corpora to the local tier, and as its
    ``*_spark_tier`` twin with this fixture."""
    from veloci_spark import search

    monkeypatch.setattr(search, "LOCAL_TIER_MAX_POSTINGS", 0)
    monkeypatch.setattr(search, "LOCAL_TIER_MAX_SCAN_BYTES", -1)


def pruned_handle(index):
    """A fresh handle on ``index``'s dir whose posting and phrase tables are
    not resident: they load while LOCAL_TIER_MAX_SCAN_BYTES is -1, so,
    under the default bound again, its local tier reads the pruned rows of
    each request instead (``search.FulltextIndex.resident``)."""
    from veloci_spark import search

    fresh = search.FulltextIndex(index.spark, index.index_dir)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(search, "LOCAL_TIER_MAX_SCAN_BYTES", -1)
        assert fresh.resident("postings") is None
        assert fresh.resident("phrase") is None
    return fresh


@contextlib.contextmanager
def forced_spark_build():
    """Builds inside this block take the Spark build tier for every stage:
    the docs stage (build.LOCAL_TIER_MAX_SCAN_BYTES = -1: no input plan is
    small enough to collect) and stages 2-5 (LOCAL_BUILD_MAX_TEXT_BYTES =
    -1: no batch is small enough)."""
    from veloci_spark import build

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(build, "LOCAL_TIER_MAX_SCAN_BYTES", -1)
        mp.setattr(build, "LOCAL_BUILD_MAX_TEXT_BYTES", -1)
        yield


def sized_df(spark, rows, schema):
    """A DataFrame of ``rows`` (dicts or tuples) under ``schema`` (a
    StructType or a DDL string) whose plan Spark can size: a local
    relation from pandas, not an RDD of Python rows, whose size Spark does
    not know. The build's docs stage runs in the driver only for a plan
    Spark sizes within its bound, so the default-tier builds of the parity
    batteries start from these."""
    import pandas as pd
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=schema.names), schema=schema)


@pytest.fixture
def spark_build():
    """Forces the Spark build tier. The test corpora are small, so every
    build takes the local tier under the default cost rule; tests that
    exist to exercise the Spark build stages (multi-partition term ids,
    stage resume) take this fixture, or build inside
    :func:`forced_spark_build` where a module- or session-scoped fixture
    builds, so the Spark tier stays tested. The ``*_spark_build`` twins of
    the parity batteries search ``spark_build_index``, the golden corpus
    built that way."""
    with forced_spark_build():
        yield


def clone_root(src: str, dst: str) -> str:
    """A copy of the streamed index root ``src`` at ``dst`` whose generation
    records name the copy's own generation dirs, so tests can tombstone and
    compact the copy of a root that a module-scoped fixture built once."""
    import json

    shutil.copytree(src, dst)
    path = os.path.join(dst, "generations.json")
    with open(path) as f:
        gens = json.load(f)
    for g in gens:
        g["dir"] = os.path.join(dst, os.path.basename(g["dir"]))
    with open(path, "w") as f:
        json.dump(gens, f)
    return dst


@pytest.fixture(scope="session")
def index_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("index")
    yield str(d)
    shutil.rmtree(str(d), ignore_errors=True)


# ---- shared golden corpus + built index (used across test modules) --------

N_DOCS = 120
SEGMENT_DOCS = 32  # small → several segments even on the tiny corpus


def sorted_rows(n=N_DOCS):
    from veloci_spark.synth import generate_rows

    rows = generate_rows(n)
    rows.sort(key=lambda r: r["url"])
    for i, r in enumerate(rows):
        r["doc_id"] = i
    return rows


@pytest.fixture(scope="session")
def corpus():
    return sorted_rows()


@pytest.fixture(scope="session")
def ref_index(corpus):
    from veloci_spark import pyref
    from veloci_spark.config import webtext_config

    return pyref.RefIndex(corpus, webtext_config(segment_docs=SEGMENT_DOCS))


def _build_golden(spark, corpus, index_dir):
    from veloci_spark.build import build_index
    from veloci_spark.config import webtext_config
    from veloci_spark.search import FulltextIndex
    from veloci_spark.synth import WEBTEXT_SCHEMA

    cfg = webtext_config(segment_docs=SEGMENT_DOCS)
    df = sized_df(spark, corpus, WEBTEXT_SCHEMA).repartition(4)
    build_index(spark, df, cfg, index_dir)
    return FulltextIndex(spark, index_dir).cache()


@pytest.fixture(scope="session")
def spark_index(spark, corpus, index_dir):
    """The golden corpus built under the default cost rule (local tier,
    doc store included)."""
    return _build_golden(spark, corpus, index_dir)


@pytest.fixture(scope="session")
def pruned_index(spark_index):
    """The golden index through a handle with no resident tables
    (:func:`pruned_handle`)."""
    return pruned_handle(spark_index)


@pytest.fixture(scope="session")
def spark_build_index(spark, corpus, tmp_path_factory):
    """The golden corpus built on the Spark build tier."""
    d = str(tmp_path_factory.mktemp("index_spark_build"))
    with forced_spark_build():
        return _build_golden(spark, corpus, d)
