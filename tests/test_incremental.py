"""§2.9 semantics: incremental adds (R1), update-as-delete+re-add (R4),
compaction with tombstone annihilation (R3/U4), streaming ingestion (R6)."""

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.operators.merge import (
    compact_postings,
    delete_docs,
    deleted_doc_ids,
)
from open_source_search_engine_spark.operators.topk import search_wand
from open_source_search_engine_spark.plans.exec import search
from open_source_search_engine_spark.streaming.incremental import (
    add_documents,
    stream_documents,
    update_documents,
)

DOCS_V1 = [
    ("r/a", "a.py", "c1", "python", "alpha beta gamma"),
    ("r/a", "b.py", "c2", "python", "alpha delta"),
    ("r/b", "c.py", "c3", "python", "epsilon zeta"),
]
DOC_NEW = [("r/b", "d.py", "c4", "python", "alpha omega freshdoc")]
DOC_V2 = [("r/a", "a.py", "c9", "python", "alpha beta gamma updatedtoken")]

SCHEMA = "repo string, path string, commit string, lang string, content string"


@pytest.fixture()
def inc_index(spark, tmp_path):
    docs = spark.createDataFrame(DOCS_V1, SCHEMA)
    return build_index(
        spark, docs, str(tmp_path / "inc"), n_shards=1, code_aware=False, block_size=4
    )


def _paths(spark, idx, q, fn=search):
    return {r["path"] for r in fn(spark, idx, q, k=10).collect()}


def test_incremental_add_visible(spark, inc_index):
    assert _paths(spark, inc_index, "alpha") == {"a.py", "b.py"}
    add_documents(
        spark, inc_index, spark.createDataFrame(DOC_NEW, SCHEMA), code_aware=False
    )
    assert _paths(spark, inc_index, "alpha") == {"a.py", "b.py", "d.py"}
    assert _paths(spark, inc_index, "freshdoc") == {"d.py"}
    # WAND path sees the delta segment too (its own shard id)
    assert _paths(spark, inc_index, "alpha", search_wand) == {"a.py", "b.py", "d.py"}


def test_update_delete_readd(spark, inc_index):
    old_id = (
        inc_index.docstats.read(spark)
        .filter(F.col("path") == "a.py")
        .collect()[0]["doc_id"]
    )
    update_documents(
        spark,
        inc_index,
        [old_id],
        spark.createDataFrame(DOC_V2, SCHEMA),
        code_aware=False,
    )
    # both query paths exclude the tombstoned old version
    for fn in (search, search_wand):
        rows = fn(spark, inc_index, "alpha", k=10).collect()
        a_rows = [r for r in rows if r["path"] == "a.py"]
        assert len(a_rows) == 1
        assert a_rows[0]["doc_id"] != old_id
    assert _paths(spark, inc_index, "updatedtoken") == {"a.py"}


def test_compaction_annihilates_tombstones(spark, inc_index, tmp_path):
    old_id = (
        inc_index.docstats.read(spark)
        .filter(F.col("path") == "b.py")
        .collect()[0]["doc_id"]
    )
    delete_docs(spark, inc_index, [old_id])
    before = _paths(spark, inc_index, "alpha")
    assert before == {"a.py"}
    add_documents(
        spark, inc_index, spark.createDataFrame(DOC_NEW, SCHEMA), code_aware=False
    )
    compact_postings(spark, inc_index, block_size=4)
    # one merged segment, tombstones physically gone, results unchanged
    assert len(inc_index.postings.latest().segments) == 1
    assert len(deleted_doc_ids(spark, inc_index)) == 0
    assert _paths(spark, inc_index, "alpha") == {"a.py", "d.py"}
    assert _paths(spark, inc_index, "alpha", search_wand) == {"a.py", "d.py"}
    assert inc_index.docstats.read(spark).filter(F.col("doc_id") == old_id).count() == 0
    # compaction carries each surviving term's string over: termstats
    # equal a fresh build of the surviving docs, and no posting term_id
    # is missing from them
    from open_source_search_engine_spark.operators.stats import fsck_index

    survivors = [d for d in DOCS_V1 if d[1] != "b.py"] + DOC_NEW
    fresh = build_index(
        spark, spark.createDataFrame(survivors, SCHEMA),
        str(tmp_path / "fresh"), n_shards=1, code_aware=False, block_size=4,
    )

    def stats(idx):
        return sorted(
            tuple(r) for r in idx.termstats.read(spark).select("term", "df", "cf").collect()
        )

    assert stats(inc_index) == stats(fresh)
    report = fsck_index(spark, inc_index)
    assert not [i for i in report["issues"] if "absent from termstats" in i], report


def test_add_keeps_token_free_doc_in_docstats(spark, tmp_path):
    """A doc whose content yields no tokens keeps a ``doclen 0`` docstats
    row when it arrives by add_documents, exactly as in a one-shot
    build: n_docs and avgdl count it either way."""
    a = [("r/a", "a.py", "c1", "python", "alpha beta gamma")]
    b = [("r/a", "b.py", "c2", "python", "!!! ... ---")]
    added = build_index(
        spark, spark.createDataFrame(a, SCHEMA), str(tmp_path / "added"),
        n_shards=1, code_aware=False, field_terms=False, block_size=4,
    )
    add_documents(
        spark, added, spark.createDataFrame(b, SCHEMA), field_terms=False,
        block_size=4,
    )
    whole = build_index(
        spark, spark.createDataFrame(a + b, SCHEMA), str(tmp_path / "whole"),
        n_shards=1, code_aware=False, field_terms=False, block_size=4,
    )
    for idx in (added, whole):
        assert idx.view().coll_stats() == (2, 1.5)
        doclens = {
            r["path"]: r["doclen"] for r in idx.docstats.read(spark).collect()
        }
        assert doclens == {"a.py": 3, "b.py": 0}


def test_compaction_identity_no_deletes(spark, inc_index):
    """compaction of a delta-less index preserves every posting (property
    (b): merge(union) == build(full))."""
    from open_source_search_engine_spark.operators.merge import decode_to_postings

    def rows():
        return sorted(
            (r["term_id"], r["doc_id"], r["tf"])
            for r in decode_to_postings(
                inc_index.postings.read(spark),
                inc_index.view().segments("postings"),
                with_positions=False,
            ).collect()
        )

    before = rows()
    compact_postings(spark, inc_index, block_size=4)
    after = rows()
    assert before == after


def test_streaming_ingest(spark, inc_index, tmp_path):
    """R6: parquet-file stream -> foreachBatch -> searchable index."""
    src = tmp_path / "stream_src"
    spark.createDataFrame(DOC_NEW, SCHEMA).write.parquet(str(src))
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = stream_documents(
        spark,
        inc_index,
        stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        code_aware=False,
    )
    q.awaitTermination(120)
    assert _paths(spark, inc_index, "freshdoc") == {"d.py"}


def test_replayed_batch_not_double_counted(spark, inc_index):
    """R6 exactly-once: re-delivering a committed micro-batch (same
    batch_id -> same run_id) must be a no-op — no duplicate delta
    segment, no double-counted df/cf, no duplicate result rows."""
    from open_source_search_engine_spark.streaming.incremental import (
        committed_run_ids,
    )

    batch = spark.createDataFrame(DOC_NEW, SCHEMA)

    def simulate_sink(batch_df, batch_id):
        run_id = f"stream-{batch_id}"
        if run_id in committed_run_ids(inc_index):
            return False
        add_documents(spark, inc_index, batch_df, run_id=run_id, code_aware=False)
        return True

    assert simulate_sink(batch, 7) is True
    segs_after_first = list(inc_index.postings.latest().segments)
    df_first = {
        r["term"]: r["df"]
        for r in inc_index.termstats.read(spark)
        .filter(F.col("term") == "freshdoc")
        .collect()
    }
    # replay of the SAME batch id: skipped entirely
    assert simulate_sink(batch, 7) is False
    assert list(inc_index.postings.latest().segments) == segs_after_first
    df_second = {
        r["term"]: r["df"]
        for r in inc_index.termstats.read(spark)
        .filter(F.col("term") == "freshdoc")
        .collect()
    }
    assert df_first == df_second == {"freshdoc": 1}
    # and exactly one result row for the doc
    rows = search(spark, inc_index, "freshdoc", k=10).collect()
    assert len(rows) == 1


def test_build_index_append_guard(spark, inc_index, tmp_path):
    """A second full build into a non-empty root must fail loudly (it
    would re-use shard ids and mix per-(shard,term) salt moduli)."""
    docs = spark.createDataFrame(DOCS_V1, SCHEMA)
    with pytest.raises(ValueError, match="already has postings"):
        build_index(
            spark, docs, inc_index.root, n_shards=1, resume=False, code_aware=False
        )
    with pytest.raises(ValueError, match="different build configuration"):
        build_index(
            spark, docs, inc_index.root, n_shards=3, resume=True, code_aware=False
        )
    # resume with the SAME sharding is the legal path: all shards done -> no-op
    before = inc_index.postings.latest().version
    build_index(
        spark, docs, inc_index.root, n_shards=1, resume=True, code_aware=False
    )
    assert inc_index.postings.latest().version == before


def test_serp_result_cache_invalidates_on_mutation(spark, inc_index):
    """Msg17-analog result cache: repeated query served from collected
    rows; ANY index mutation (new segment lists) invalidates."""
    import time as _t

    from open_source_search_engine_spark.sources.tables import MEMO

    MEMO.clear()
    r1 = {
        (r["path"], round(r["score"], 9))
        for r in search(spark, inc_index, "alpha", k=10, use_cache=True).collect()
    }
    assert len(MEMO.keys("result")) == 1
    t0 = _t.time()
    r2 = {
        (r["path"], round(r["score"], 9))
        for r in search(spark, inc_index, "alpha", k=10, use_cache=True).collect()
    }
    cached_secs = _t.time() - t0
    assert r2 == r1
    assert cached_secs < 1.0  # no Spark job beyond createDataFrame+collect
    # WAND path has its own tag but shares the cache map
    w = {
        (r["path"], round(r["score"], 9))
        for r in search_wand(spark, inc_index, "alpha", k=10, use_cache=True).collect()
    }
    assert w == r1
    # mutation -> new snapshot version -> fresh results
    add_documents(
        spark, inc_index, spark.createDataFrame(DOC_NEW, SCHEMA), code_aware=False
    )
    r3 = {
        r["path"]
        for r in search(spark, inc_index, "alpha", k=10, use_cache=True).collect()
    }
    assert "d.py" in r3


BASE_DOCS = [
    ("r/a", f"f{i}.py", f"c{i}", "python", "alpha bravo charlie delta")
    for i in range(8)
]
DELTA_DOCS = [
    ("r/b", "g0.go", "d0", "go", "zebra quagga okapi"),
    ("r/b", "g1.go", "d1", "go", "zebra okapi gnu"),
]


@pytest.fixture(scope="module")
def delta_index(spark, tmp_path_factory):
    """Two build shards plus one added delta segment that alone holds
    'zebra'."""
    root = str(tmp_path_factory.mktemp("deltaidx"))
    idx = build_index(
        spark,
        spark.createDataFrame(BASE_DOCS, SCHEMA),
        root,
        n_shards=2,
        code_aware=False,
        block_size=4,
    )
    add_documents(spark, idx, spark.createDataFrame(DELTA_DOCS, SCHEMA))
    return idx


def _rows(spark, idx, q, fn):
    return sorted(
        (r.doc_id, round(r.score, 9))
        for r in fn(spark, idx, q, k=10, enrich=False).collect()
    )


def test_delta_only_term_same_rows_on_both_paths(spark, delta_index):
    # the termlist lives in one of three segments; both query paths read
    # every live segment with the term_id filter pushed down
    assert len(delta_index.view().segments("postings")) == 3
    w = _rows(spark, delta_index, "zebra", search_wand)
    assert w == _rows(spark, delta_index, "zebra", search)
    assert len(w) == 2


def test_delta_only_term_after_compaction(spark, delta_index):
    before = _rows(spark, delta_index, "zebra", search_wand)
    compact_postings(spark, delta_index)
    assert len(delta_index.view().segments("postings")) == 1
    w = _rows(spark, delta_index, "zebra", search_wand)
    assert w == _rows(spark, delta_index, "zebra", search)
    assert w == before and len(w) == 2


def test_add_with_other_field_terms_raises(spark, inc_index):
    """field_terms is a tokenizer feature of the index: an add without
    lang:/repo: terms cannot join an index that has them, and an add
    that leaves it unset inherits the index's choice."""
    more = spark.createDataFrame(DOC_NEW, SCHEMA)
    with pytest.raises(ValueError, match="field_terms"):
        add_documents(spark, inc_index, more, field_terms=False)
    add_documents(spark, inc_index, more)
    assert inc_index.features()["field_terms"] is True
    # the add wrote its lang: postings too: 3 built docs + 1 added
    df = inc_index.termstats.read(spark).filter(F.col("term") == "lang:python")
    assert [r["df"] for r in df.collect()] == [4]
