"""Term ids of a build with several shuffle partitions.

``build._assign_term_ids`` counts the terms of each range partition in one
Spark job and numbers them in a second one. Both must see the same
partitioning; when each job sampled its own range bounds, distinct terms
could share an id and an exact-term search returned a neighbouring term's
postings.
"""

import random

import numpy as np
import pytest

from veloci_spark import pyref
from tests.conftest import SEGMENT_DOCS, forced_spark_build


@pytest.fixture(scope="module")
def four_partition_index(spark, corpus, tmp_path_factory):
    from veloci_spark.build import build_index
    from veloci_spark.config import webtext_config
    from veloci_spark.search import FulltextIndex
    from veloci_spark.synth import WEBTEXT_SCHEMA

    d = str(tmp_path_factory.mktemp("idx4parts"))
    df = spark.createDataFrame(
        [{k: r[k] for k in ("url", "warc_ts", "html", "text", "lang")}
         for r in corpus], schema=WEBTEXT_SCHEMA).repartition(4)
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        # the Spark build tier: the local tier numbers terms without
        # partitions
        with forced_spark_build():
            build_index(spark, df, webtext_config(segment_docs=SEGMENT_DOCS), d)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    return FulltextIndex(spark, d)


def test_ids_are_lexicographic_rank(four_partition_index, ref_index):
    assert four_partition_index.manifest["build_tier"] == "spark"
    full = four_partition_index.dict_df.toPandas()
    for field, g in full.groupby("field"):
        g = g.sort_values("term", kind="mergesort")
        assert not g["term_id"].duplicated().any(), field
        assert g["term_id"].tolist() == list(range(len(g))), field
    text = full[full["field"] == "text"].sort_values("term_id")
    assert text["term"].tolist() == ref_index.fields["text"].terms


def test_exact_term_searches_match_oracle(four_partition_index, ref_index):
    from veloci_spark.search import search

    terms = [t for t in ref_index.fields["text"].terms if t.strip()]
    for term in random.Random(5).sample(terms, 12):
        req = {"search": {"terms": [term], "path": "text"}, "top": 10}
        got = search(four_partition_index, req)
        want = pyref.search_request(ref_index, req)
        assert [(d["doc_id"], np.float32(d["score"])) for d in got["data"]] \
            == [(d, np.float32(s)) for d, s in want], term
        full = pyref.search_request(ref_index, {**req, "top": 10**9})
        assert got["num_hits"] == len(full), term
