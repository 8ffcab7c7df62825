"""Time travel (operators/timetravel.py): query the index AS OF a
pre-mutation manifest version; mutations never rewrite history because
commits only add manifests and never delete segment files."""

import pytest

from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.operators.merge import (
    compact_postings,
    delete_docs,
)
from open_source_search_engine_spark.operators.timetravel import (
    as_of,
    index_versions,
)
from open_source_search_engine_spark.operators.topk import search_wand


@pytest.fixture(scope="module")
def tt_setup(spark, micro_docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ttidx"))
    idx = build_index(
        spark, micro_docs, root, n_shards=1, code_aware=False,
        block_size=4, salt_target=1000,
    )
    v0 = index_versions(idx)
    before = search_wand(spark, idx, "binary", k=10, enrich=False).collect()
    victims = [r["doc_id"] for r in before[:1]]
    delete_docs(spark, idx, victims)
    v1 = index_versions(idx)
    compact_postings(spark, idx)
    return idx, v0, v1, before, victims


def _ids(rows):
    return sorted(r["doc_id"] for r in rows)


def test_head_excludes_deleted(spark, tt_setup):
    idx, v0, v1, before, victims = tt_setup
    now = search_wand(spark, idx, "binary", k=10, enrich=False).collect()
    assert set(victims).isdisjoint(_ids(now))
    assert len(now) == len(before) - len(victims)


def test_as_of_pre_delete_restores_full_results(spark, tt_setup):
    idx, v0, v1, before, victims = tt_setup
    old = search_wand(spark, as_of(idx, v0), "binary", k=10, enrich=False).collect()
    assert _ids(old) == _ids(before)
    # scores identical too: same postings, same stats snapshots
    assert {r["doc_id"]: r["score"] for r in old} == {
        r["doc_id"]: r["score"] for r in before
    }


def test_as_of_post_delete_pre_compact_applies_tombstones(spark, tt_setup):
    idx, v0, v1, before, victims = tt_setup
    mid = search_wand(spark, as_of(idx, v1), "binary", k=10, enrich=False).collect()
    assert set(victims).isdisjoint(_ids(mid))
    assert len(mid) == len(before) - len(victims)


def test_as_of_missing_deletes_key_means_no_tombstones(spark, tt_setup):
    idx, v0, v1, before, victims = tt_setup
    # v0 was captured before any delete: the view at v0 has no deletes
    # table and must NOT fall through to the live (cleared or populated)
    # one; v1 has the tombstone
    assert as_of(idx, v0).deletes.latest() is None
    assert as_of(idx, v1).deletes.latest().segments


def test_exhaustive_plan_as_of(spark, tt_setup):
    from open_source_search_engine_spark.plans.exec import search

    idx, v0, v1, before, victims = tt_setup
    old = search(spark, as_of(idx, v0), "binary", k=10, enrich=False).collect()
    assert _ids(old) == _ids(before)


def test_vacuum_bounds_history_and_keeps_head(spark, micro_docs, tmp_path_factory):
    from open_source_search_engine_spark.operators.timetravel import vacuum_index

    root = str(tmp_path_factory.mktemp("vacidx"))
    idx = build_index(
        spark, micro_docs, root, n_shards=1, code_aware=False,
        block_size=4, salt_target=1000,
    )
    v0 = index_versions(idx)
    before = search_wand(spark, idx, "binary", k=10, enrich=False).collect()
    victims = [r["doc_id"] for r in before[:1]]
    delete_docs(spark, idx, victims)
    compact_postings(spark, idx)
    hist_before = idx.postings.history()
    assert len(hist_before) > 1
    n_versions = index_versions(idx) + 1
    stats = vacuum_index(idx, keep_last=1)
    assert stats["expired_versions"] == n_versions - 1
    assert stats["removed_segments"] >= 1
    # head query unaffected
    now = search_wand(spark, idx, "binary", k=10, enrich=False).collect()
    assert set(victims).isdisjoint({r["doc_id"] for r in now})
    assert len(now) == len(before) - len(victims)
    # expired pins fail fast (manifest gone)
    assert idx.postings.history() == [hist_before[-1]]
    with pytest.raises(FileNotFoundError):
        search_wand(spark, as_of(idx, v0), "binary", k=10, enrich=False).collect()


def test_pinned_table_rejects_reads_past_the_pin(spark, tt_setup):
    # regression: deleted_doc_ids passes an explicit version into the
    # pinned table's read; the view must accept versions <= its pin and
    # refuse to see past it (same rule as .at)
    idx, v0, v1, before, victims = tt_setup
    t = as_of(idx, v1).deletes
    snap = t.latest()
    assert snap is not None and snap.version == v1
    assert t.read(spark, version=snap.version) is not None
    with pytest.raises(ValueError, match="after this as-of view's pin"):
        t.read(spark, version=snap.version + 1)


def test_empty_table_accepts_explicit_version(spark, tt_setup):
    # a pre-tombstone view has no deletes table; callers (deleted_doc_ids,
    # changelog) pass version= explicitly and must read nothing
    idx, v0, v1, before, victims = tt_setup
    t = as_of(idx, v0).deletes
    assert t.latest() is None
    assert t.read(spark) is None
    assert t.read(spark, version=0) is None
