"""Review sweep I2 (build-pipeline review, late r4): regression tests —
resume from the before-first-checkpoint crash window, zero-posting docs
in docstats, the encode duplicate-posting guard, extra_postings
labeling, and parallel-shard lineage snapshots."""

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators import build as build_mod
from open_source_search_engine_spark.operators.build import Index, build_index
from open_source_search_engine_spark.plans.exec import search

SCHEMA = "repo string, path string, commit string, lang string, content string"

DOCS = [
    ("r/a", "a.py", "c1", "python", "alpha beta gamma"),
    ("r/a", "b.py", "c2", "python", "alpha delta epsilon"),
    ("r/b", "c.py", "c3", "python", "zeta eta theta"),
    ("r/b", "d.py", "c4", "python", "alpha iota kappa"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, SCHEMA)


def test_resume_after_crash_before_first_checkpoint(spark, tmp_path, monkeypatch):
    """Crash after a shard wrote its segments but before its FIRST
    checkpoint: the shard's data and checkpoint land in one commit, so
    nothing is visible and the resume finishes without doubling stats,
    not demanding a fresh root."""
    root = str(tmp_path / "idx")
    real_ck = build_mod._checkpoint

    def boom(*a, **kw):
        raise RuntimeError("injected: crash before first checkpoint")

    monkeypatch.setattr(build_mod, "_checkpoint", boom)
    with pytest.raises(RuntimeError, match="injected"):
        build_index(
            spark, _docs(spark), root, n_shards=2, code_aware=False,
            block_size=4, shard_parallelism=1,
        )
    monkeypatch.setattr(build_mod, "_checkpoint", real_ck)
    idx = build_index(
        spark, _docs(spark), root, n_shards=2, code_aware=False,
        block_size=4, resume=True, shard_parallelism=1,
    )
    # the uncommitted segments never became visible: stats are not doubled
    assert idx.docstats.read(spark).count() == len(DOCS)
    got = {r["path"] for r in search(spark, idx, "alpha", k=10).collect()}
    assert got == {"a.py", "b.py", "d.py"}


def test_zero_posting_doc_kept_in_docstats(spark, tmp_path):
    docs = spark.createDataFrame(
        DOCS + [("r/z", "empty.py", "c9", "python", "")], SCHEMA
    )
    idx = build_index(
        spark, docs, str(tmp_path / "idx"), n_shards=1, code_aware=False,
        block_size=4, field_terms=False,
    )
    ds = idx.docstats.read(spark)
    assert ds.count() == len(DOCS) + 1
    row = ds.filter(F.col("path") == "empty.py").collect()[0]
    assert row["doclen"] == 0 and row["content_sha256"]
    # the collection totals count the true corpus
    assert idx.view().coll_stats()[0] == len(DOCS) + 1


def test_duplicate_injected_posting_fails_loudly(spark, tmp_path):
    from open_source_search_engine_spark.functions.hashing import term_hash_py
    from open_source_search_engine_spark.operators.build import derive_ids

    d = derive_ids(_docs(spark))
    doc = d.filter(F.col("path") == "a.py").collect()[0]
    # inject a posting for a term a.py's own content already produces
    extra = spark.createDataFrame(
        [(term_hash_py("alpha"), doc["doc_id"], 3, 1, bytearray(b"\x01"), "alpha")],
        "term_id long, doc_id long, doclen int, tf int, pos_enc binary, term string",
    )
    with pytest.raises(Exception, match="duplicate \\(term_id, doc_id\\)"):
        build_index(
            spark, _docs(spark), str(tmp_path / "idx"), n_shards=1,
            code_aware=False, block_size=4,
            extra_postings=extra, extra_label="bad:collide",
        )


def test_extra_postings_requires_label(spark, tmp_path):
    extra = spark.createDataFrame(
        [], "term_id long, doc_id long, doclen int, tf int, pos_enc binary, term string"
    )
    with pytest.raises(ValueError, match="extra_label"):
        build_index(
            spark, _docs(spark), str(tmp_path / "idx"), n_shards=1,
            code_aware=False, extra_postings=extra,
        )


def test_parallel_shard_lineage_records_own_snapshot(spark, tmp_path):
    idx = build_index(
        spark, _docs(spark), str(tmp_path / "idx"), n_shards=2,
        code_aware=False, block_size=4, shard_parallelism=2,
    )
    ln = idx.lineage.read(spark).filter(F.col("output_table") == "postings")
    for r in ln.collect():
        v = int(r["output_snapshot"])
        meta = idx.postings.at(v).meta or {}
        want = int(r["input_snapshot"].split("=")[1].split("/")[0])
        assert meta.get("shard") == want, (
            f"lineage row for shard {want} points at snapshot v{v} "
            f"committed by shard {meta.get('shard')}"
        )
