"""Query-based delete and reindex (PageReindex.cpp / Msg1c parity):
match_docs harvests EVERY matching docid; delete_by_query tombstones the
match set distributed; reindex_by_query re-ingests the current source
rows as a delete-then-re-add diff."""

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.operators.merge import (
    compact_postings,
    delete_docs,
)
from open_source_search_engine_spark.plans.exec import search
from open_source_search_engine_spark.plans.reindex import (
    delete_by_query,
    match_docs,
    reindex_by_query,
)

DOCS = [
    ("r/a", "a.py", "c1", "python", "alpha beta gamma fast table scan"),
    ("r/a", "b.py", "c2", "python", "alpha delta fast scan table"),
    ("r/b", "c.py", "c3", "python", "epsilon zeta fast table"),
    ("r/b", "d.go", "c4", "go", "alpha beta noise words here"),
    ("r/c", "e.rs", "c5", "rust", "gamma delta alpha beta"),
    ("r/c", "f.rs", "c6", "rust", "solitary sigma token"),
]
SCHEMA = "repo string, path string, commit string, lang string, content string"


@pytest.fixture()
def ridx(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, SCHEMA)
    return build_index(
        spark,
        docs,
        str(tmp_path / "ridx"),
        n_shards=2,
        code_aware=False,
        block_size=4,
        bigram_terms=True,
    )


def _match_paths(spark, idx, q, **kw):
    ids = match_docs(spark, idx, q, **kw)
    meta = idx.docstats.read(spark).select("doc_id", "path")
    return {r["path"] for r in meta.join(ids, "doc_id", "left_semi").collect()}


def _search_paths(spark, idx, q, **kw):
    return {r["path"] for r in search(spark, idx, q, k=100, **kw).collect()}


def test_match_docs_equals_search_match_set(spark, ridx, tmp_path):
    # conjunctive, OR-group, negation, fielded, phrase, match-any with a
    # phrase (matchable and not), a repeated term — the exhaustive
    # scoring plan with huge k returns the identical match set, on the
    # bigram index (pair termlists) and a bigram-less one (positional
    # phrase verify), before and after a matching doc is tombstoned
    plain = build_index(
        spark,
        spark.createDataFrame(DOCS, SCHEMA),
        str(tmp_path / "plain"),
        n_shards=2,
        code_aware=False,
        block_size=4,
    )
    queries = [
        ("alpha beta", "all"),
        ("fast table", "all"),
        ("alpha -delta", "all"),
        ("gamma OR epsilon", "all"),
        ("alpha lang:rust", "all"),
        ('"fast table"', "all"),
        ('"fast table" sigma', "any"),
        ('"table fast" sigma', "any"),
        ("alpha alpha", "all"),
    ]

    def match_sets(idx, path_of):
        out = {}
        for q, mode in queries:
            if idx is plain and '"' not in q:
                continue  # only phrases take another path without bigrams
            got = match_docs(spark, idx, q, match_mode=mode).collect()
            want = search(spark, idx, q, k=100, enrich=False, match_mode=mode)
            got = {path_of[r["doc_id"]] for r in got}
            assert got == {path_of[r["doc_id"]] for r in want.collect()}, (q, mode)
            out[q] = got
        return out

    for idx in (ridx, plain):
        meta = idx.docstats.read(spark).select("doc_id", "path").collect()
        path_of = {r["doc_id"]: r["path"] for r in meta}
        before = match_sets(idx, path_of)
        assert before['"fast table" sigma'] == {"a.py", "c.py", "f.rs"}
        if idx is ridx:
            assert before["alpha alpha"] == {"a.py", "b.py", "d.go", "e.rs"}
        delete_docs(spark, idx, [d for d, p in path_of.items() if p == "a.py"])
        after = match_sets(idx, path_of)
        assert after == {q: got - {"a.py"} for q, got in before.items()}


def test_match_docs_phrase_and_any(spark, ridx):
    # quoted phrase: adjacency required ("fast table" not "fast X table")
    assert _match_paths(spark, ridx, '"fast table"') == {"a.py", "c.py"}
    # match-any: union of group matches
    assert _match_paths(spark, ridx, "epsilon sigma", match_mode="any") == {
        "c.py",
        "f.rs",
    }
    # match-any with an unmatchable phrase: the dead unit contributes
    # nothing instead of emptying the result
    assert _match_paths(
        spark, ridx, '"table fast" sigma', match_mode="any"
    ) == {"f.rs"}
    # absent required term under AND -> empty
    assert _match_paths(spark, ridx, "alpha nosuchtoken") == set()


def test_match_docs_excludes_tombstones(spark, ridx):
    dead = (
        ridx.docstats.read(spark)
        .filter(F.col("path") == "a.py")
        .collect()[0]["doc_id"]
    )
    delete_docs(spark, ridx, [dead])
    assert _match_paths(spark, ridx, "alpha beta") == {"d.go", "e.rs"}


def test_delete_by_query_removes_and_is_idempotent(spark, ridx):
    n = delete_by_query(spark, ridx, '"fast table"')
    assert n == 2  # a.py, c.py
    assert _search_paths(spark, ridx, "fast") == {"b.py"}
    v1 = ridx.deletes.latest().version
    # second run matches nothing (tombstoned docs excluded) and commits
    # nothing — no snapshot churn
    assert delete_by_query(spark, ridx, '"fast table"') == 0
    assert ridx.deletes.latest().version == v1


def test_delete_by_query_no_match_no_commit(spark, ridx):
    before = ridx.deletes.latest()
    assert delete_by_query(spark, ridx, "nosuchtoken alpha") == 0
    after = ridx.deletes.latest()
    assert (before is None) == (after is None)
    if before is not None:
        assert after.version == before.version


def test_delete_by_query_then_compaction(spark, ridx):
    # b.py and e.rs both contain 'delta' -> excluded by the negation
    assert delete_by_query(spark, ridx, "alpha -delta") == 2  # a.py, d.go
    assert _search_paths(spark, ridx, "alpha") == {"b.py", "e.rs"}
    compact_postings(spark, ridx, salt_target=1000, block_size=4)
    assert _search_paths(spark, ridx, "alpha") == {"b.py", "e.rs"}
    # tombstones physically annihilated
    ddf = ridx.deletes.read(spark)
    assert ddf is None or ddf.count() == 0


def test_reindex_by_query_diff(spark, ridx):
    # current source: a.py changed (new commit, new token), c.py gone,
    # b.py unchanged, plus an unrelated unchanged doc
    cur = [
        ("r/a", "a.py", "c9", "python", "alpha beta gamma rewrittentoken"),
        ("r/a", "b.py", "c2", "python", "alpha delta fast scan table"),
        ("r/b", "d.go", "c4", "go", "alpha beta noise words here"),
        ("r/c", "e.rs", "c5", "rust", "gamma delta alpha beta"),
        ("r/c", "f.rs", "c6", "rust", "solitary sigma token"),
    ]
    source = spark.createDataFrame(cur, SCHEMA)
    before_ids = {
        r["path"]: r["doc_id"]
        for r in ridx.docstats.read(spark).select("doc_id", "path").collect()
    }
    out = reindex_by_query(spark, ridx, "fast", source)
    # matched: a.py, b.py, c.py; a.py changed, c.py vanished, b.py same
    assert out == {"matched": 3, "deleted": 2, "added": 1}
    assert _search_paths(spark, ridx, "rewrittentoken") == {"a.py"}
    assert _search_paths(spark, ridx, "epsilon") == set()  # c.py deleted
    # a.py's new content has no 'fast'; c.py is gone
    assert _search_paths(spark, ridx, "fast") == {"b.py"}
    # unchanged b.py kept its original doc_id (never tombstoned)
    live = {
        r["path"]: r["doc_id"]
        for r in ridx.docstats.read(spark)
        .select("doc_id", "path")
        .join(match_docs(spark, ridx, "alpha", match_mode="any"), "doc_id", "left_semi")
        .collect()
    }
    assert live["b.py"] == before_ids["b.py"]
    assert live["a.py"] != before_ids["a.py"]


def test_reindex_unchanged_is_noop(spark, ridx):
    source = spark.createDataFrame(DOCS, SCHEMA)
    v_before = ridx.postings.latest().version
    out = reindex_by_query(spark, ridx, "alpha", source)
    assert out["deleted"] == 0 and out["added"] == 0
    assert ridx.postings.latest().version == v_before
    assert _search_paths(spark, ridx, "alpha") == {
        "a.py",
        "b.py",
        "d.go",
        "e.rs",
    }


def test_reindex_external_id_corpus_unchanged_is_noop(spark, tmp_path):
    # an index built over a corpus with its OWN doc_id column must diff
    # on the (repo, path, commit) triple, not on recomputed hash ids —
    # recomputing would tombstone + re-add every matched doc and replace
    # the external ids with hash ids
    rows = [
        (101, "r/x", "x.py", "c1", "python", "omega fast table scan"),
        (202, "r/x", "y.py", "c2", "python", "omega other tokens"),
    ]
    schema = (
        "doc_id long, repo string, path string, commit string, "
        "lang string, content string"
    )
    docs = spark.createDataFrame(rows, schema)
    idx = build_index(
        spark, docs, str(tmp_path / "extidx"), n_shards=1,
        code_aware=False, block_size=4,
    )
    source = spark.createDataFrame(rows, schema)
    out = reindex_by_query(spark, idx, "omega", source)
    assert out == {"matched": 2, "deleted": 0, "added": 0}
    # external ids survive untouched
    got = {r["doc_id"] for r in search(spark, idx, "omega", k=10).collect()}
    assert got == {101, 202}


def test_reindex_never_duplicates_a_live_doc(spark, tmp_path):
    # both an old (c1) and the head (c2) version of a path are live; the
    # query matches only c1.  The re-add of c2's row must be SKIPPED —
    # its doc_id already has live postings, and re-ingesting would
    # double the doc in every termlist
    from open_source_search_engine_spark.streaming.incremental import (
        add_documents,
    )

    old_rows = [("r/z", "z.py", "c1", "python", "uniquetokenold fast table")]
    head_rows = [("r/z", "z.py", "c2", "python", "uniquetokennew fast table")]
    docs = spark.createDataFrame(old_rows, SCHEMA)
    idx = build_index(
        spark, docs, str(tmp_path / "dupidx"), n_shards=1,
        code_aware=False, block_size=4,
    )
    add_documents(spark, idx, spark.createDataFrame(head_rows, SCHEMA), block_size=4)
    source = spark.createDataFrame(head_rows, SCHEMA)
    out = reindex_by_query(spark, idx, "uniquetokenold", source)
    # c1 matched and tombstoned; c2's row is already live -> not re-added
    assert out == {"matched": 1, "deleted": 1, "added": 0}
    res = search(spark, idx, "fast table", k=10).collect()
    assert [r["path"] for r in res] == ["z.py"]  # exactly once, the head
    assert search(spark, idx, "uniquetokenold", k=10).count() == 0


def test_add_documents_inherits_code_aware(spark, tmp_path):
    # regression: add_documents used to default code_aware=True even on
    # an index built code_aware=False, silently tokenizing deltas with a
    # different tokenizer; it now inherits and raises on a mismatch
    from open_source_search_engine_spark.streaming.incremental import (
        add_documents,
    )

    docs = spark.createDataFrame(DOCS[:2], SCHEMA)
    idx = build_index(
        spark, docs, str(tmp_path / "caidx"), n_shards=1,
        code_aware=False, block_size=4,
    )
    delta = spark.createDataFrame(
        [("r/n", "n.py", "c9", "python", "camelCaseToken alpha")], SCHEMA
    )
    add_documents(spark, idx, delta, block_size=4)  # inherits False
    # code_aware=False keeps camelCaseToken as one lowercased term
    assert search(spark, idx, "camelcasetoken", k=5).count() == 1
    with pytest.raises(ValueError, match="code_aware"):
        add_documents(spark, idx, delta, code_aware=True, block_size=4)
