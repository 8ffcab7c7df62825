"""Review sweep J2 (merge/compaction review, late r4): regression tests
for the tombstone-cache identity, dedup, pinned dead sets, fsck after a
minor merge, empty-delete no-churn, and the compact-meta resume guard."""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.build import Index, build_index
from open_source_search_engine_spark.operators.merge import (
    compact_deltas,
    delete_docs,
    deleted_doc_ids,
)
from open_source_search_engine_spark.operators.stats import fsck_index
from open_source_search_engine_spark.plans.exec import search

SCHEMA = "repo string, path string, commit string, lang string, content string"

DOCS = [
    ("r/a", "a.py", "c1", "python", "alpha beta gamma"),
    ("r/a", "b.py", "c2", "python", "alpha delta epsilon"),
    ("r/b", "c.py", "c3", "python", "zeta eta theta"),
]


def _build(spark, root):
    return build_index(
        spark,
        spark.createDataFrame(DOCS, SCHEMA),
        root,
        n_shards=1,
        code_aware=False,
        block_size=4,
    )


def _id_of(spark, idx, path):
    return idx.docstats.read(spark).filter(F.col("path") == path).collect()[0][
        "doc_id"
    ]


def test_dead_cache_survives_in_place_rebuild(spark, tmp_path):
    root = str(tmp_path / "idx")
    idx = _build(spark, root)
    x = _id_of(spark, idx, "a.py")
    delete_docs(spark, idx, [x])
    assert set(deleted_doc_ids(spark, idx).tolist()) == {x}
    # rebuild the SAME root from scratch (version numbering restarts)
    shutil.rmtree(root)
    idx = _build(spark, root)
    y = _id_of(spark, idx, "b.py")
    delete_docs(spark, idx, [y])
    # a (root, version)-only cache key would still serve {x} here
    assert set(deleted_doc_ids(spark, idx).tolist()) == {y}


def test_dead_ids_deduped_and_pinnable(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    x = _id_of(spark, idx, "a.py")
    delete_docs(spark, idx, [x])
    v1 = idx.deletes.latest().version
    for _ in range(3):  # re-deleting must not inflate the count
        delete_docs(spark, idx, [x])
    assert len(deleted_doc_ids(spark, idx)) == 1
    y = _id_of(spark, idx, "b.py")
    delete_docs(spark, idx, [y])
    assert set(deleted_doc_ids(spark, idx).tolist()) == {x, y}
    # a pinned view returns the set AS OF that snapshot
    assert set(deleted_doc_ids(spark, idx.view(v1)).tolist()) == {x}


def test_empty_delete_list_commits_nothing(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    before = idx.deletes.latest()
    delete_docs(spark, idx, [])
    after = idx.deletes.latest()
    assert (before is None) == (after is None)
    if before is not None:
        assert after.version == before.version


def test_fsck_clean_after_minor_merge(spark, tmp_path):
    from open_source_search_engine_spark.streaming.incremental import (
        add_documents,
    )

    idx = _build(spark, str(tmp_path / "idx"))
    for i in range(3):
        add_documents(
            spark,
            idx,
            spark.createDataFrame(
                [("r/x", f"x{i}.py", f"d{i}", "python", f"omega{i} alpha")],
                SCHEMA,
            ),
            code_aware=False,
        )
    assert compact_deltas(spark, idx, keep_largest=1) > 0
    rep = fsck_index(spark, idx)
    assert rep["ok"], rep["issues"]
    # the merged index still answers correctly
    got = {r["path"] for r in search(spark, idx, "alpha", k=10).collect()}
    assert {"a.py", "b.py", "x0.py", "x1.py", "x2.py"} <= got


def test_fsck_flags_postings_segment_without_termstats_run(spark, tmp_path):
    """A postings segment committed without its termstats run (here a
    copy of the add's delta segment, staged alone) counts postings no
    run counts: fsck names the df-sum mismatch."""
    from open_source_search_engine_spark.streaming.incremental import (
        add_documents,
    )

    idx = _build(spark, str(tmp_path / "idx"))
    add_documents(
        spark,
        idx,
        spark.createDataFrame([("r/x", "x.py", "d", "python", "omega")], SCHEMA),
        code_aware=False,
    )
    assert fsck_index(spark, idx)["ok"]
    delta = idx.view().segments("postings")[-1]
    dup = idx.postings.new_segment_path("dup")
    shutil.copytree(delta, dup)
    idx.postings.commit(add=[dup], operation="append")
    rep = fsck_index(spark, idx)
    assert not rep["ok"]
    assert any("termstats df sum" in i for i in rep["issues"]), rep["issues"]


def test_resume_guard_rejects_compacted_root_without_checkpoints(spark, tmp_path):
    from open_source_search_engine_spark.operators.merge import compact_postings
    from open_source_search_engine_spark.streaming.incremental import (
        add_documents,
    )

    root = str(tmp_path / "idx")
    idx = Index(root)
    add_documents(
        spark, idx, spark.createDataFrame(DOCS, SCHEMA), code_aware=False
    )
    compact_postings(spark, idx, salt_target=50, block_size=4, n_shards=1)
    # the compact commit carries n_shards=1 in its meta, but this root was
    # never a checkpointed build of n_shards=1 — a resume must refuse
    # (shard-id collision with the compacted segment otherwise)
    with pytest.raises(ValueError, match="different build configuration"):
        build_index(
            spark,
            spark.createDataFrame(DOCS, SCHEMA),
            root,
            n_shards=1,
            code_aware=False,
            resume=True,
        )
