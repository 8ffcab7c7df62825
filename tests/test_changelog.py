"""Changelog (operators/changelog.py): CDC between manifest versions.

Semantics under test: added/removed = live-set difference between two
manifest versions; the incremental (append-only) fast path and the diff
fallback agree; compaction between pins yields an EMPTY changelog
(physical rewrites are invisible — the Iceberg contract); tombstones
beat re-adds; update = remove(old id) + add(new id)."""

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.operators.changelog import (
    changelog_mode,
    index_changes,
)
from open_source_search_engine_spark.operators.merge import (
    compact_postings,
    delete_docs,
)
from open_source_search_engine_spark.operators.timetravel import index_versions
from open_source_search_engine_spark.streaming.incremental import (
    add_documents,
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
def idx(spark, tmp_path):
    docs = spark.createDataFrame(DOCS_V1, SCHEMA)
    return build_index(
        spark, docs, str(tmp_path / "cl"), n_shards=1, code_aware=False, block_size=4
    )


def _rows(df):
    return sorted((r["path"], r["change"]) for r in df.collect())


def test_add_batch_is_added(spark, idx):
    v0 = index_versions(idx)
    add_documents(spark, idx, spark.createDataFrame(DOC_NEW, SCHEMA), code_aware=False)
    v1 = index_versions(idx)
    assert changelog_mode(idx, v0, v1) == "incremental"
    ch = index_changes(spark, idx, v0, v1)
    assert _rows(ch) == [("d.py", "added")]
    # metadata rides along (the incremental-training-feed shape)
    row = ch.collect()[0]
    assert row["repo"] == "r/b" and row["commit"] == "c4"
    assert row["content_sha256"] and row["doclen"] == 3


def test_delete_is_removed(spark, idx):
    v0 = index_versions(idx)
    dead = [
        r["doc_id"]
        for r in idx.docstats.read(spark).filter(F.col("path") == "b.py").collect()
    ]
    delete_docs(spark, idx, dead)
    v1 = index_versions(idx)
    assert changelog_mode(idx, v0, v1) == "incremental"
    assert _rows(index_changes(spark, idx, v0, v1)) == [("b.py", "removed")]


def test_update_is_remove_plus_add(spark, idx):
    v0 = index_versions(idx)
    old_id = (
        idx.docstats.read(spark)
        .filter(F.col("path") == "a.py")
        .collect()[0]["doc_id"]
    )
    update_documents(
        spark,
        idx,
        [old_id],
        spark.createDataFrame(DOC_V2, SCHEMA),
        code_aware=False,
    )
    ch = index_changes(spark, idx, v0)  # versions_to defaults to HEAD
    rows = _rows(ch)
    assert rows == [("a.py", "added"), ("a.py", "removed")]
    commits = {r["change"]: r["commit"] for r in ch.collect()}
    assert commits == {"removed": "c1", "added": "c9"}


def test_compaction_is_invisible(spark, idx):
    dead = [
        r["doc_id"]
        for r in idx.docstats.read(spark).filter(F.col("path") == "c.py").collect()
    ]
    delete_docs(spark, idx, dead)
    v0 = index_versions(idx)
    compact_postings(spark, idx, salt_target=50, block_size=4)
    v1 = index_versions(idx)
    # a rewrite breaks append-only lineage -> diff mode -> no live change
    assert changelog_mode(idx, v0, v1) == "diff"
    assert index_changes(spark, idx, v0, v1).count() == 0


def test_modes_agree_across_mixed_window(spark, idx):
    """One window holding an add AND a delete: the incremental path's
    result must equal the diff fallback's live-set math."""
    v0 = index_versions(idx)
    add_documents(spark, idx, spark.createDataFrame(DOC_NEW, SCHEMA), code_aware=False)
    dead = [
        r["doc_id"]
        for r in idx.docstats.read(spark).filter(F.col("path") == "a.py").collect()
    ]
    delete_docs(spark, idx, dead)
    v1 = index_versions(idx)
    assert changelog_mode(idx, v0, v1) == "incremental"
    fast = _rows(index_changes(spark, idx, v0, v1))
    assert fast == [("a.py", "removed"), ("d.py", "added")]

    # force the diff path by lying about the from-pin's deletes lineage:
    # the live-set fallback must produce the same changelog
    from open_source_search_engine_spark.operators import changelog as cl

    orig = cl.changelog_mode
    try:
        cl.changelog_mode = lambda *a, **k: "diff"
        slow = _rows(index_changes(spark, idx, v0, v1))
    finally:
        cl.changelog_mode = orig
    assert slow == fast


def test_doc_added_and_deleted_inside_window_never_surfaces(spark, idx):
    v0 = index_versions(idx)
    add_documents(spark, idx, spark.createDataFrame(DOC_NEW, SCHEMA), code_aware=False)
    dead = [
        r["doc_id"]
        for r in idx.docstats.read(spark).filter(F.col("path") == "d.py").collect()
    ]
    delete_docs(spark, idx, dead)
    assert index_changes(spark, idx, v0).count() == 0


def test_from_genesis_everything_is_added(spark, idx):
    ch = index_changes(spark, idx, -1)
    assert _rows(ch) == [("a.py", "added"), ("b.py", "added"), ("c.py", "added")]


def test_incremental_added_side_scans_only_new_segments(spark, idx):
    """The Iceberg incremental-read claim, asserted on the PHYSICAL
    plan: the added side's full-schema docstats scan lists ONLY the
    window's new segments; pre-window segments may appear only as the
    dup-guard's column-pruned probe (ReadSchema = doc_id alone,
    broadcast into the LeftAnti join).  inputFiles() alone cannot
    check this — it unions both scans' files."""
    import os as _os
    import re

    v0 = index_versions(idx)
    old_segs = set(idx.docstats.at(v0).segments)
    add_documents(spark, idx, spark.createDataFrame(DOC_NEW, SCHEMA), code_aware=False)
    new_segs = set(idx.docstats.latest().segments) - old_segs
    assert old_segs and new_segs
    old_names = {_os.path.basename(s) for s in old_segs}
    new_names = {_os.path.basename(s) for s in new_segs}

    ch = index_changes(spark, idx, v0).filter(F.col("change") == "added")
    plan = ch._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    scans = [
        b
        for b in re.split(r"\n\(\d+\) ", plan)
        if b.startswith("Scan parquet") and "/docstats/" in b
    ]
    assert scans, "plan should contain docstats scans"
    saw_full_new = False
    for b in scans:
        schema = re.search(r"ReadSchema: (\S+)", b).group(1)
        narrow = schema == "struct<doc_id:bigint>"
        if any(n in b for n in old_names):
            assert narrow, f"pre-window segment scanned with {schema}"
        if any(n in b for n in new_names) and not narrow:
            saw_full_new = True
    assert saw_full_new, "no full-schema scan over the new segments found"
    # and the old full-schema data never rides into the result
    assert {r["path"] for r in ch.collect()} == {"d.py"}


def test_cli_versions_then_changes(spark, idx, tmp_path):
    """S10 CLI surface: `versions` captures the manifest version, a
    mutation happens, `changes --from <version>` reports it with mode +
    metadata."""
    import io
    import json
    from contextlib import redirect_stdout

    from open_source_search_engine_spark.__main__ import main

    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["--cores", "4", "versions", "--index", idx.root])
    version = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert isinstance(version, int)

    add_documents(spark, idx, spark.createDataFrame(DOC_NEW, SCHEMA), code_aware=False)

    buf = io.StringIO()
    with redirect_stdout(buf):
        main(
            ["--cores", "4", "changes", "--index", idx.root,
             "--from", str(version)]
        )
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["mode"] == "incremental"
    assert out["n_changes"] == 1
    (row,) = out["changes"]
    assert (row["path"], row["change"]) == ("d.py", "added")
    assert row["content_sha256"]
