"""Merge-on-read tombstones on every read path built on
``operators.merge.drop_deleted``: deleting one matching doc removes it
from each path's answer at the head, while the pre-delete manifest
version still returns it."""

import pytest

from open_source_search_engine_spark.operators import links
from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.operators.merge import delete_docs
from open_source_search_engine_spark.operators.timetravel import (
    as_of,
    index_versions,
)
from open_source_search_engine_spark.plans.boolean import search_boolean
from open_source_search_engine_spark.plans.exec import search
from open_source_search_engine_spark.plans.federate import collection_total_hits
from open_source_search_engine_spark.plans.regex import regex_search
from open_source_search_engine_spark.plans.reindex import match_docs
from open_source_search_engine_spark.plans.serp import facets_for_query
from open_source_search_engine_spark.plans.sortby import search_sortby

DOOMED = 2
ROWS = [
    # doc_id, repo (one per doc, so repo facets name docs), path, commit,
    # lang, content, size
    (1, "r/1", "a.py", "c", "python", "start alpha beta end", 10),
    (2, "r/2", "b.py", "c", "python", "start alpha beta end", 20),
    (3, "r/3", "c.py", "c", "go", "alpha other beta words", 30),
    (4, "r/4", "d.py", "c", "go", "alpha cites start", 40),
]
SCHEMA = (
    "doc_id long, repo string, path string, commit string, lang string, "
    "content string, size int"
)


@pytest.fixture(scope="module")
def tomb(spark, tmp_path_factory):
    """(index with DOOMED tombstoned, the pre-delete version, corpus)."""
    corpus = spark.createDataFrame(ROWS, SCHEMA)
    # doc 4 links to docs 1 and 2: both get the anchor term anchor:alpha
    edges = spark.createDataFrame([(4, 1), (4, 2)], "src_doc_id long, dst_doc_id long")
    idx = build_index(
        spark,
        corpus,
        str(tmp_path_factory.mktemp("tombidx")),
        n_shards=1,
        code_aware=False,
        block_size=4,
        numeric_fields=("size",),
        extra_postings=links.anchor_postings(corpus, edges, n_tokens=2),
        extra_label="anchors:first2",
    )
    v0 = index_versions(idx)
    delete_docs(spark, idx, [DOOMED])
    return idx, v0, corpus


def _ids(df):
    return {r["doc_id"] for r in df.collect()}


PATHS = {
    "search": lambda s, v, c: _ids(search(s, v, "alpha beta", k=100, enrich=False)),
    "match_docs": lambda s, v, c: _ids(match_docs(s, v, "alpha beta")),
    "search_boolean": lambda s, v, c: _ids(search_boolean(s, v, "alpha AND beta")),
    "facets_for_query": lambda s, v, c: {
        int(r["value"].split("/")[1])
        for r in facets_for_query(s, v, "alpha beta", fields=["repo"]).collect()
    },
    # the count line: one hit fewer
    "federate_hits": lambda s, v, c: collection_total_hits(
        s, {"c": v}, ["alpha", "beta"]
    ).collect()[0]["total_hits"],
    # required literals: the match_docs prefilter
    "regex_prefiltered": lambda s, v, c: _ids(regex_search(s, v, c, " alpha beta ")),
    # no safe literal: the full scan of the live docs
    "regex_scan": lambda s, v, c: _ids(regex_search(s, v, c, "alpha")),
    "sortby": lambda s, v, c: _ids(search_sortby(s, v, "size", k=100)),
    "anchor_rows": lambda s, v, c: _ids(links.anchor_counts(s, v, "alpha")),
}


@pytest.mark.parametrize("path", sorted(PATHS))
def test_tombstoned_doc_leaves_every_read_path(spark, tomb, path):
    idx, v0, corpus = tomb
    before = PATHS[path](spark, as_of(idx, v0), corpus)
    after = PATHS[path](spark, idx, corpus)
    if isinstance(before, int):
        assert (before, after) == (3, 2)
    else:
        assert DOOMED in before
        assert after == before - {DOOMED}
