"""Round-3 soundness fixes: lang_boost<1 WAND fallback, tombstone
dead-set cap, stats-before-finalize error, cache version eviction."""

import shutil

import pytest

from open_source_search_engine_spark.operators import topk as T
from open_source_search_engine_spark.operators.build import Index
from open_source_search_engine_spark.operators.merge import (
    delete_docs,
    deleted_doc_ids,
)
from open_source_search_engine_spark.sources.tables import MEMO
from open_source_search_engine_spark.operators.topk import search_wand
from open_source_search_engine_spark.plans.exec import search


def _scores(df):
    return {r["doc_id"]: pytest.approx(r["score"], rel=1e-9) for r in df.collect()}


def test_lang_boost_below_one_falls_back_and_is_correct(spark, micro_index):
    # factor < 1 is unsound for the WAND prune bound: search_wand must
    # route to the exhaustive plan and produce its exact results
    want = search(
        spark, micro_index, "search", k=10, lang_boost=("python", 0.5)
    )
    got = search_wand(
        spark, micro_index, "search", k=10, lang_boost=("python", 0.5)
    )
    assert _scores(got) == _scores(want)
    # de-boost shifts ranking vs no boost (sanity that the factor applied)
    plain = search(spark, micro_index, "search", k=10)
    assert _scores(got) != _scores(plain)
    with pytest.raises(ValueError, match="unsound"):
        search_wand(
            spark,
            micro_index,
            "search",
            k=10,
            lang_boost=("python", 0.5),
            with_prune_stats=True,
        )


def test_wand_dead_cap_falls_back(spark, micro_index, tmp_path, monkeypatch):
    # above MAX_DEAD_INLINE tombstones the kernel path must not ship the
    # dead set per task; the exhaustive plan's anti-join takes over with
    # identical results
    root = str(tmp_path / "capidx")
    shutil.copytree(micro_index.root, root)
    idx = Index(root)
    delete_docs(spark, idx, [111, 222, 333])  # ids absent from the corpus
    monkeypatch.setattr(T, "MAX_DEAD_INLINE", 2)
    got = search_wand(spark, idx, "binary search", k=10)
    want = search(spark, idx, "binary search", k=10)
    assert _scores(got) == _scores(want)
    assert len(_scores(got)) > 0


def test_query_before_finalize_raises(spark, tmp_path):
    idx = Index(str(tmp_path / "emptyidx"))
    with pytest.raises(RuntimeError, match="finalized stats"):
        search(spark, idx, "anything", k=5)


def test_resume_after_lost_checkpoint_is_idempotent(spark, tmp_path, monkeypatch):
    # crash window: shard 1's segments written, its one commit (data +
    # checkpoint) never landed -> resume must NOT append duplicate
    # segments (doubled postings/df/cf)
    from open_source_search_engine_spark.operators import build as build_mod
    from open_source_search_engine_spark.operators.build import build_index
    from open_source_search_engine_spark.sources.corpus import synth_documents

    docs = synth_documents(spark, 80, partitions=2)
    kw = dict(n_shards=2, block_size=16, salt_target=200, shard_parallelism=1)
    ref = build_index(spark, docs, str(tmp_path / "refidx"), **kw)
    ref_stats = sorted(
        (r["term"], r["df"], r["cf"])
        for r in ref.termstats.read(spark).collect()
    )
    ref_hits = _scores(search(spark, ref, "def return", k=500, enrich=False))
    real_ck = build_mod._checkpoint

    def crash_on_shard_1(spark_, staged, run_id, shard, *a):
        if shard == 1:
            raise RuntimeError("injected: crash before shard 1 commits")
        return real_ck(spark_, staged, run_id, shard, *a)

    root = str(tmp_path / "resumeidx")
    monkeypatch.setattr(build_mod, "_checkpoint", crash_on_shard_1)
    with pytest.raises(RuntimeError, match="injected"):
        build_index(spark, docs, root, **kw)
    monkeypatch.undo()
    idx2 = build_index(spark, docs, root, **kw)  # resume
    got_stats = sorted(
        (r["term"], r["df"], r["cf"])
        for r in idx2.termstats.read(spark).collect()
    )
    assert got_stats == ref_stats
    assert _scores(search(spark, idx2, "def return", k=500, enrich=False)) == ref_hits


def test_dead_cache_evicts_stale_versions(spark, micro_index, tmp_path):
    # the dead-set memo keys on the deletes segment list: a new delete is
    # a new key (the stale set is never served), and the kind's bound
    # evicts the oldest entries
    root = str(tmp_path / "evictidx")
    shutil.copytree(micro_index.root, root)
    idx = Index(root)
    delete_docs(spark, idx, [1])
    assert deleted_doc_ids(spark, idx).tolist() == [1]
    k1 = ("dead", idx.view().key("deletes"))
    assert MEMO.get(k1) is not None
    delete_docs(spark, idx, [2])
    assert deleted_doc_ids(spark, idx).tolist() == [1, 2]
    k2 = ("dead", idx.view().key("deletes"))
    assert k2 != k1 and MEMO.get(k2) is not None
    for i in range(MEMO.LIMITS["dead"]):
        MEMO.put(("dead", ("filler", i)), None)
    assert MEMO.get(k1) is None and MEMO.get(k2) is None
