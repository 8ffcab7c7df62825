"""Round-4 post-review fixes, batch 4 (driver harness + plan edges).

1. ``_cached_index``: one copy of the engine-fixture cache protocol —
   derived variants (tomb/compact/minor) now join the BASE corpus
   fingerprint into their own, build into a tmp dir, and publish by
   rename (previously they mutated the shared root in place and keyed
   only on the base path, so a changed fixture served stale copies).
2. ``_corpus_fingerprint`` hashes (doc_id || text): a regenerated
   fixture that reassigns the same texts among the same ids must
   rebuild.
3. ``as_of``: a table with no history at the pinned version reads as
   never-committed instead of falling through to the head.
4. URL-filters clause splitting picks the LEFTMOST operator (longest on
   ties) so a value containing an operator string is not mis-split.
5. ``search_boolean`` raises an informative error on a missing postings
   snapshot instead of AttributeError.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.build import build_index

SCHEMA = "repo string, path string, commit string, lang string, content string"

DOCS = [
    ("r/0", "a.py", "c1", "python", "alpha beta gamma"),
    ("r/0", "b.py", "c2", "python", "beta gamma delta"),
    ("r/1", "c.py", "c3", "python", "gamma delta epsilon"),
]


def test_cached_index_rebuilds_on_fp_change(spark, tmp_path):
    from open_source_search_engine_spark.engine_entries import _cached_index

    root = str(tmp_path / "idx")
    calls = []

    def build_v(tag):
        def build(tmp):
            calls.append(tag)
            build_index(
                spark,
                spark.createDataFrame(DOCS, SCHEMA),
                tmp,
                n_shards=1,
                code_aware=False,
            )

        return build

    i1 = _cached_index(root, "_m.json", {"v": 1}, build_v("a"))
    i2 = _cached_index(root, "_m.json", {"v": 1}, build_v("b"))  # cache hit
    assert calls == ["a"] and i1.root == i2.root == root
    # changed fingerprint: rebuild, publish replaces the stale tree
    i3 = _cached_index(root, "_m.json", {"v": 2}, build_v("c"))
    assert calls == ["a", "c"] and i3.root == root
    with open(os.path.join(root, "_m.json")) as f:
        assert json.load(f) == {"v": 2}
    # no leftover tmp/trash dirs
    leftovers = [d for d in os.listdir(tmp_path) if d != "idx"]
    assert leftovers == []


def test_corpus_fingerprint_detects_id_text_reassignment(spark, tmp_path):
    from open_source_search_engine_spark.engine_entries import (
        _corpus_fingerprint,
    )

    import pandas as pd

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    rows = [(1, "alpha beta"), (2, "gamma delta")]
    swapped = [(2, "alpha beta"), (1, "gamma delta")]
    for d, r in ((a, rows), (b, swapped)):
        os.makedirs(d)
        pd.DataFrame(r, columns=["doc_id", "text"]).to_parquet(
            f"{d}/documents.parquet"
        )
    fa = _corpus_fingerprint(a)
    fb = _corpus_fingerprint(b)
    # same count, same id sum, same multiset of texts — but a different
    # id->text mapping MUST change the fingerprint
    assert fa["n"] == fb["n"] and fa["sum_doc_id"] == fb["sum_doc_id"]
    assert fa["content_hash"] != fb["content_hash"]


def test_as_of_missing_pin_reads_as_absent(spark, tmp_path):
    from open_source_search_engine_spark.operators.timetravel import as_of
    from open_source_search_engine_spark.plans.exec import search
    from open_source_search_engine_spark.streaming.incremental import (
        add_documents,
    )
    from open_source_search_engine_spark.operators.build import Index
    from open_source_search_engine_spark.operators.merge import delete_docs
    from open_source_search_engine_spark.operators.timetravel import (
        index_versions,
    )

    def answer(index):
        rows = search(spark, index, "beta", k=5, enrich=False).collect()
        return [(r["doc_id"], r["score"]) for r in rows]

    idx = Index(str(tmp_path / "idx"))
    # a first commit that carries no stats: a tombstone
    delete_docs(spark, idx, [1])
    pin0 = index_versions(idx)
    assert as_of(idx, pin0).coll is None
    add_documents(
        spark, idx, spark.createDataFrame(DOCS[:2], SCHEMA), code_aware=False
    )
    pin1 = index_versions(idx)
    at_pin1 = answer(idx)
    # more stats AFTER the pins
    add_documents(
        spark, idx, spark.createDataFrame(DOCS[2:], SCHEMA), code_aware=False
    )
    # stats had no history at pin0: the as-of view must behave like
    # the true pre-pin index (which would raise 'no finalized stats'),
    # not silently score with post-pin idf/avgdl
    with pytest.raises(RuntimeError, match="stats"):
        search(spark, as_of(idx, pin0), "beta", k=5, enrich=False).collect()
    # between the adds, the pin scores with the pin's totals
    assert as_of(idx, pin1).coll_stats()[0] == 2
    assert idx.view().coll_stats()[0] == 3
    assert answer(as_of(idx, pin1)) == at_pin1
    assert answer(idx) != at_pin1


def test_urlfilters_value_containing_operator(spark):
    from open_source_search_engine_spark.plans.urlfilters import (
        compile_clause,
    )

    df = spark.createDataFrame(
        [("x~=y",), ("zzz",)], "repo string"
    )
    # '==' splits at its leftmost position even though '~=' sorts earlier
    # in the op table and also appears (inside the VALUE)
    got = df.filter(compile_clause("repo==x~=y")).collect()
    assert [r["repo"] for r in got] == ["x~=y"]
    # longest-op tie: '<=' must win over '<' at the same position
    nums = spark.createDataFrame([(1,), (5,)], "n long")
    assert nums.filter(compile_clause("n<=1")).count() == 1


def test_boolean_missing_postings_raises_informatively(spark, tmp_path):
    from open_source_search_engine_spark.plans.boolean import search_boolean

    idx = build_index(
        spark,
        spark.createDataFrame(DOCS, SCHEMA),
        str(tmp_path / "idx"),
        n_shards=1,
        code_aware=False,
    )
    # simulate an inconsistent root: postings manifest gone, stats intact
    snap = idx.postings.latest()
    idx.postings.commit(remove=list(snap.segments), operation="test-wipe")
    with pytest.raises(RuntimeError, match="postings snapshot absent"):
        search_boolean(spark, idx, "alpha AND beta").collect()
