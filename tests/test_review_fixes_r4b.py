"""Round-4 post-review fixes, batch 2.

1. Crash-replay soundness for incremental adds: a batch that dies after
   writing its segments and before its one manifest commit leaves
   nothing visible, and re-running it gives the stats of a clean add
   (no orphan segments, no double-counted df/cf or n_docs/avgdl).
2. NULL text no longer kills the minhash/simhash kernels; NULL
   embeddings no longer kill pairwise_cosine_above.
3. A tokenizer batch whose every doc is token-free (punctuation-only
   content with field_terms off) yields zero postings instead of an
   IndexError.
"""

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.sources.tables import IndexView
from open_source_search_engine_spark.streaming.incremental import add_documents

SCHEMA = "repo string, path string, commit string, lang string, content string"

DOCS = [
    ("r/0", "a.py", "c1", "python", "alpha beta gamma"),
    ("r/0", "b.py", "c2", "python", "beta gamma delta"),
    ("r/1", "c.py", "c3", "python", "gamma delta epsilon"),
    ("r/1", "d.py", "c4", "python", "delta epsilon zeta"),
]


@pytest.fixture()
def idx(spark, tmp_path):
    return build_index(
        spark,
        spark.createDataFrame(DOCS, SCHEMA),
        str(tmp_path / "idx"),
        n_shards=1,
        code_aware=False,
    )


NEW = [("r/2", "e.py", "c5", "python", "zeta eta theta")]


def _stats(spark, idx):
    ts = sorted(
        (r["term"], r["df"], r["cf"], r["n_blocks"])
        for r in idx.termstats.read(spark).collect()
    )
    return ts, idx.view().coll_stats()


def test_add_batch_crash_before_commit_leaves_nothing_visible(
    spark, idx, tmp_path, monkeypatch
):
    from open_source_search_engine_spark.operators.stats import fsck_index
    from open_source_search_engine_spark.plans.exec import search

    before = _stats(spark, idx)
    versions = idx.view().version

    def crash(*a, **kw):
        raise RuntimeError("injected: crash before the batch commit")

    # the batch's one commit is its last step: by then every segment of
    # the batch has been written
    monkeypatch.setattr(IndexView, "commit", crash)
    with pytest.raises(RuntimeError, match="injected"):
        add_documents(
            spark, idx, spark.createDataFrame(NEW, SCHEMA), code_aware=False
        )
    monkeypatch.undo()
    assert idx.view().version == versions
    assert _stats(spark, idx) == before
    assert search(spark, idx, "theta", k=5, enrich=False).count() == 0

    # re-running the batch equals a clean add on an untouched copy
    add_documents(spark, idx, spark.createDataFrame(NEW, SCHEMA), code_aware=False)
    clean = build_index(
        spark,
        spark.createDataFrame(DOCS, SCHEMA),
        str(tmp_path / "clean"),
        n_shards=1,
        code_aware=False,
    )
    add_documents(spark, clean, spark.createDataFrame(NEW, SCHEMA), code_aware=False)
    assert _stats(spark, idx) == _stats(spark, clean)
    assert idx.docstats.read(spark).count() == len(DOCS) + 1
    assert search(spark, idx, "theta", k=5, enrich=False).count() == 1
    assert fsck_index(spark, idx)["ok"]


def test_null_text_dedup_kernels(spark):
    from open_source_search_engine_spark.operators.dedup import (
        minhash_signatures,
        simhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "")],
        "id long, text string",
    )
    ms = minhash_signatures(docs, "id", "text").collect()
    assert {r["id"] for r in ms} == {1, 2, 3}
    # null and empty text get the same sentinel signature
    by_id = {r["id"]: tuple(r["sig"]) for r in ms}
    assert by_id[2] == by_id[3]
    ss = simhash_signatures(docs, "id", "text").collect()
    assert {r["id"] for r in ss} == {1, 2, 3}


def test_null_embedding_pairwise_cosine(spark):
    from open_source_search_engine_spark.operators.similarity import (
        pairwise_cosine_above,
    )

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.01, 0.0]),
            (3, None),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = pairwise_cosine_above(vecs, threshold=0.99).collect()
    assert {(r["a"], r["b"]) for r in rows} == {(1, 2)}


def test_zero_token_batch_yields_no_postings(spark):
    from open_source_search_engine_spark.functions.tokenize import (
        tokenize_to_postings,
    )
    from open_source_search_engine_spark.operators.build import derive_ids

    docs = spark.createDataFrame(
        [("r/0", "p.py", "c1", "python", "!!! ???"), ("r/0", "q.py", "c2", "python", "")],
        SCHEMA,
    )
    posts = tokenize_to_postings(
        derive_ids(docs), code_aware=False, field_terms=False
    )
    assert posts.count() == 0
