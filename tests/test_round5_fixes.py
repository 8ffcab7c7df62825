"""Round-5 fixes (r4 verdict task list).

#1 count-before-collect for tombstones: deleted_doc_ids(cap=...) must
decide "over cap" WITHOUT materializing the deletes table on the driver
(the old shape collected everything, then compared len() to the cap —
a bulk-delete-scale table OOMed the driver inside that collect), and
both WAND guards must take their distributed path on None.
"""

import shutil

import pytest
from pyspark.sql import DataFrame

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


@pytest.fixture()
def capidx(spark, micro_index, tmp_path):
    root = str(tmp_path / "capidx")
    shutil.copytree(micro_index.root, root)
    idx = Index(root)
    delete_docs(spark, idx, [111, 222, 333, 444, 555])  # absent from corpus
    yield idx
    MEMO.clear()


def test_over_cap_probe_never_collects_full_table(spark, capidx, monkeypatch):
    # spy every DataFrame.collect during the probe and record row counts:
    # with cap=2 and 5 distinct tombstones the probe must return None and
    # no collect may pull more than cap+1 rows
    cls = type(spark.range(1))  # concrete DataFrame class (Spark 4: classic)
    collected = []
    real_collect = cls.collect

    def spy(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    MEMO.clear()
    monkeypatch.setattr(cls, "collect", spy)
    out = deleted_doc_ids(spark, capidx, cap=2)
    assert out is None
    assert collected, "probe ran no Spark job at all?"
    assert max(collected) <= 3  # cap + 1


def test_over_cap_marker_cache_semantics(spark, capidx):
    MEMO.clear()
    assert deleted_doc_ids(spark, capidx, cap=2) is None
    # tighter/equal cap answered from the ("over", 2) marker
    assert deleted_doc_ids(spark, capidx, cap=1) is None
    assert deleted_doc_ids(spark, capidx, cap=2) is None
    # looser cap re-probes and materializes the real set
    got = deleted_doc_ids(spark, capidx, cap=10)
    assert got is not None and got.size == 5
    # once materialized, any cap is answered from the array
    assert deleted_doc_ids(spark, capidx, cap=4) is None
    assert deleted_doc_ids(spark, capidx, cap=5) is not None
    full = deleted_doc_ids(spark, capidx)
    assert full is not None and full.size == 5


def test_wand_over_cap_falls_back_correctly(spark, capidx, monkeypatch):
    MEMO.clear()
    monkeypatch.setattr(T, "MAX_DEAD_INLINE", 2)
    got = search_wand(spark, capidx, "binary search", k=10)
    want = search(spark, capidx, "binary search", k=10)
    assert _scores(got) == _scores(want)
    assert len(_scores(got)) > 0
    with pytest.raises(ValueError, match="tombstones"):
        search_wand(spark, capidx, "binary search", k=10, with_prune_stats=True)


def test_batch_over_cap_falls_back_correctly(spark, capidx, monkeypatch):
    from open_source_search_engine_spark.operators.topk import search_wand_batch

    MEMO.clear()
    monkeypatch.setattr(T, "MAX_DEAD_INLINE", 2)
    out = search_wand_batch(spark, capidx, ["binary search", "hash"], k=5)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query"], set()).add(r["doc_id"])
    want1 = {r["doc_id"] for r in search(spark, capidx, "binary search", k=5).collect()}
    assert by_q.get("binary search") == want1


def test_compaction_over_cap_uses_distributed_antijoin(spark, micro_index, tmp_path):
    # compaction takes no tombstone cap: it drops tombstoned docs with
    # drop_deleted's anti-join against the deletes table, whatever its size
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.operators.merge import compact_postings

    root = str(tmp_path / "compcap")
    shutil.copytree(micro_index.root, root)
    idx = Index(root)
    victims = [
        r["doc_id"]
        for r in idx.docstats.read(spark)
        .filter(F.col("path").isin("a.py", "c.go", "d.go"))
        .collect()
    ]
    assert len(victims) == 3
    delete_docs(spark, idx, victims)
    MEMO.clear()
    compact_postings(spark, idx)
    # correctness: tombstoned docs are physically gone, stats consistent
    snap = idx.postings.latest()
    assert snap.operation == "compact"
    assert snap.meta["tombstones_dropped"] == 3
    live = {r["doc_id"] for r in idx.docstats.read(spark).collect()}
    assert not (live & set(victims)) and len(live) == 2
    got = _scores(search(spark, idx, "search", k=10))
    assert got and not (set(got) & set(victims))
    # deletes table cleared after annihilation
    dsnap = idx.deletes.latest()
    assert dsnap is None or not dsnap.segments


# ---------------------------------------------------- single-task WAND (r5)


def test_single_task_plan_matches_sharded_plan(spark, micro_index, monkeypatch):
    # the coalesce(1) dispatch-floor plan and the per-shard applyInArrow
    # plan must be result-identical on every query shape
    queries = [
        "binary search",
        "search -linear",
        '"binary search"',
        "binary OR hash",
    ]
    for q in queries:
        monkeypatch.setattr(T, "SINGLE_TASK_POSTINGS", 2_000_000)
        fast = search_wand(spark, micro_index, q, k=10)
        fast_rows = {(r["doc_id"], round(r["score"], 9)) for r in fast.collect()}
        monkeypatch.setattr(T, "SINGLE_TASK_POSTINGS", 0)
        old = search_wand(spark, micro_index, q, k=10)
        old_rows = {(r["doc_id"], round(r["score"], 9)) for r in old.collect()}
        assert fast_rows == old_rows, q
        assert fast_rows  # non-trivial


def test_single_task_plan_has_no_exchange(spark, micro_index, monkeypatch):
    monkeypatch.setattr(T, "SINGLE_TASK_POSTINGS", 2_000_000)
    df = search_wand(spark, micro_index, "binary search", k=10, enrich=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    monkeypatch.setattr(T, "SINGLE_TASK_POSTINGS", 0)
    df2 = search_wand(spark, micro_index, "binary search", k=10, enrich=False)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan2  # the sharded plan shuffles by shard


def test_batch_single_task_plan_matches_sharded(spark, micro_index, monkeypatch):
    from open_source_search_engine_spark.operators.topk import search_wand_batch

    qs = ["binary search", "hash", '"binary search"', "search -linear"]

    def rows(df):
        return {
            (r["query"], r["doc_id"], round(r["score"], 9))
            for r in df.collect()
        }

    monkeypatch.setattr(T, "SINGLE_TASK_POSTINGS", 2_000_000)
    fast = rows(search_wand_batch(spark, micro_index, qs, k=10))
    monkeypatch.setattr(T, "SINGLE_TASK_POSTINGS", 0)
    old = rows(search_wand_batch(spark, micro_index, qs, k=10))
    assert fast == old and fast
