"""Review sweep L (query-core review, r4 session 2): negated-phrase
soundness on the WAND paths, lang_boost case-folding parity, masked
kernel probes, thread-tolerant cache eviction."""

import pytest

from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.operators.topk import (
    search_wand,
    search_wand_batch,
)
from open_source_search_engine_spark.plans.exec import search


@pytest.fixture(scope="module")
def bigram_idx(spark, micro_docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("r4kidx"))
    return build_index(
        spark, micro_docs, root, n_shards=1, code_aware=False,
        block_size=4, bigram_terms=True,
    )


def test_negated_long_phrase_raises_on_wand(spark, bigram_idx):
    # previously: 'binary tree traversal' is not an indexed term, the
    # stats lookup missed, and the negation was SILENTLY dropped
    with pytest.raises(NotImplementedError, match="negated phrases"):
        search_wand(
            spark, bigram_idx, 'search -"binary tree traversal"',
            k=10, enrich=False, use_cache=False,
        )


def test_negated_long_phrase_raises_on_batch(spark, bigram_idx):
    with pytest.raises(NotImplementedError, match="negated phrases"):
        search_wand_batch(
            spark, bigram_idx, ['search -"binary tree traversal"'], k=10
        )


def test_negated_pair_phrase_works_and_matches_exhaustive(spark, bigram_idx):
    # 2-token negated phrases ride the stored pair termlist on BOTH paths
    q = 'search -"binary search"'
    wand = {
        r["doc_id"]: r["score"]
        for r in search_wand(
            spark, bigram_idx, q, k=10, enrich=False, use_cache=False
        ).collect()
    }
    ex = {
        r["doc_id"]: r["score"]
        for r in search(
            spark, bigram_idx, q, k=10, enrich=False
        ).collect()
    }
    assert wand == ex
    assert len(wand) == 1  # only 'linear search list' survives


def test_lang_boost_case_folds_on_exhaustive_path(
    spark, micro_docs, tmp_path_factory
):
    # docstats stores the RAW lang ('PYTHON' here); the indexed term and
    # the WAND path are case-folded — the exhaustive path must be too
    import pyspark.sql.functions as F

    root = str(tmp_path_factory.mktemp("r4klang"))
    upper = micro_docs.withColumn("lang", F.upper("lang"))
    idx = build_index(
        spark, upper, root, n_shards=1, code_aware=False,
        block_size=4, field_terms=True,
    )
    plain = {
        r["doc_id"]: r["score"]
        for r in search(spark, idx, "binary", k=10, enrich=False).collect()
    }
    boosted = search(
        spark, idx, "binary", k=10, enrich=True, lang_boost=("python", 2.0)
    ).collect()
    assert boosted, "query must match"
    for r in boosted:
        if r["lang"] == "PYTHON":
            assert r["score"] == pytest.approx(plain[r["doc_id"]] * 2.0)
        else:
            assert r["score"] == pytest.approx(plain[r["doc_id"]])
    # and both paths boost the SAME docs
    wand = {
        r["doc_id"]: r["score"]
        for r in search_wand(
            spark, idx, "binary", k=10, enrich=False,
            lang_boost=("python", 2.0), use_cache=False,
        ).collect()
    }
    assert wand == {r["doc_id"]: pytest.approx(r["score"]) for r in boosted}


def test_wand_lang_boost_without_field_terms_matches_exhaustive(spark, tmp_path):
    # the WAND kernel boosts through lang: field-term postings; on an
    # index built without them it used to score unboosted silently
    docs = spark.createDataFrame(
        [
            ("r/a", "a.py", "c1", "rust", "alpha beta"),
            ("r/a", "b.py", "c2", "go", "alpha gamma delta"),
            ("r/b", "c.py", "c3", "python", "alpha zeta"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    idx = build_index(
        spark, docs, str(tmp_path / "idx"), n_shards=1, code_aware=False,
        block_size=4, field_terms=False,
    )
    boost = ("python", 2.0)
    plain = {
        r["path"]: r["score"]
        for r in search(spark, idx, "alpha", k=10, enrich=True).collect()
    }
    ex = {
        r["path"]: r["score"]
        for r in search(
            spark, idx, "alpha", k=10, enrich=True, lang_boost=boost
        ).collect()
    }
    assert ex["c.py"] == pytest.approx(plain["c.py"] * 2.0)
    for fn in (search_wand, search_wand_batch):
        q = "alpha" if fn is search_wand else ["alpha"]
        extra = {"use_cache": False} if fn is search_wand else {}
        got = {
            r["path"]: r["score"]
            for r in fn(
                spark, idx, q, k=10, enrich=True, lang_boost=boost, **extra
            ).collect()
        }
        assert got == pytest.approx(ex), fn.__name__


def test_concurrent_federated_queries_do_not_crash(spark, bigram_idx):
    # hammer the shared caches from driver threads (the federate_search
    # concurrency pattern); pre-fix this could raise RuntimeError
    # ('dictionary changed size during iteration') on cold caches
    from concurrent.futures import ThreadPoolExecutor

    def one(q):
        return search_wand(
            spark, bigram_idx, q, k=5, enrich=True, use_cache=False
        ).collect()

    qs = ["binary", "search", "tree", "hash", "binary search"] * 4
    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(one, qs))
    assert all(len(r) >= 1 for r in results)
