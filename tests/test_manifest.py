"""The index manifest and its snapshot view (sources/tables.py).

One manifest version per commit: a build shard, a stats finalize, an
add, a delete and a compaction each publish exactly one version, a
commit interrupted after its version record is written never wedges
later commits, and a reader never pairs an add's postings with the stats
from before it.  Answers are checked against the benchmark's independent
BM25 oracle."""

import os

import pytest

from open_source_search_engine_spark.operators.build import Index, build_index
from open_source_search_engine_spark.operators.merge import compact_deltas, delete_docs
from open_source_search_engine_spark.operators.topk import search_wand
from open_source_search_engine_spark.sources.tables import INDEX_LAYOUT, MEMO
from open_source_search_engine_spark.streaming import incremental
from open_source_search_engine_spark.streaming.incremental import add_documents
from perfbench.oracle import Oracle, check

SCHEMA = "repo string, path string, commit string, lang string, content string"

DOCS = [
    ("r/a", "a.py", "c1", "python", "alpha beta gamma"),
    ("r/a", "b.py", "c2", "python", "alpha delta epsilon alpha"),
    ("r/b", "c.go", "c3", "go", "zeta eta theta"),
    ("r/b", "d.go", "c4", "go", "alpha iota kappa beta"),
    ("r/c", "e.py", "c5", "python", "beta gamma delta"),
]
ADD1 = [("r/d", "f.py", "c6", "python", "alpha alpha omega beta")]
ADD2 = [("r/d", "g.go", "c7", "go", "gamma alpha lambda")]
QUERIES = ["alpha", "beta", "alpha beta", "gamma OR omega", "alpha -delta"]


def _build(spark, root, rows=DOCS, n_shards=1):
    return build_index(
        spark, spark.createDataFrame(rows, SCHEMA), root, n_shards=n_shards,
        block_size=4,
    )


def _versions(root):
    return sorted(
        int(n[1:-5])
        for n in os.listdir(os.path.join(root, "_index"))
        if n.startswith("v") and n.endswith(".json")
    )


def _answer(spark, idx, q):
    by_id = {
        r["doc_id"]: r["commit"]
        for r in idx.docstats.read(spark).select("doc_id", "commit").collect()
    }
    rows = search_wand(spark, idx, q, k=10, enrich=False).collect()
    return [(by_id[r["doc_id"]], r["score"]) for r in rows]


def _doc_id(spark, idx, commit):
    return [
        r["doc_id"]
        for r in idx.docstats.read(spark).collect()
        if r["commit"] == commit
    ][0]


def test_build_and_two_adds_make_five_versions(spark, tmp_path):
    root = str(tmp_path / "idx")
    idx = _build(spark, root, n_shards=2)
    add_documents(spark, idx, spark.createDataFrame(ADD1, SCHEMA))
    add_documents(spark, idx, spark.createDataFrame(ADD2, SCHEMA))
    # two shard commits, one finalize, one commit per add
    assert _versions(root) == [0, 1, 2, 3, 4]
    assert not [d for d, _, _ in os.walk(root) if os.path.basename(d) == "_snapshots"]
    assert idx.view().max_shard == 3  # shards 0-1 built, 2-3 added


def test_commit_interrupted_after_version_record_does_not_wedge(
    spark, tmp_path, monkeypatch
):
    """A crash right after a commit's version record is written (before
    any later step of the commit) must not wedge the index: the next
    add, delete and minor merge all commit, and answers match the
    oracle."""
    idx = _build(spark, str(tmp_path / "idx"))
    oracle = Oracle()
    oracle.add(DOCS)

    fired = []

    def crash_once(real):
        def step(*a, **kw):
            if not fired:
                fired.append(a)
                raise RuntimeError("injected crash after the version record")
            return real(*a, **kw)

        return step

    # the first file step after the version record is written: replacing
    # a head pointer, or dropping the temp file the record was linked from
    monkeypatch.setattr(os, "replace", crash_once(os.replace))
    monkeypatch.setattr(os, "unlink", crash_once(os.unlink))
    with pytest.raises(RuntimeError, match="injected"):
        delete_docs(spark, idx, [_doc_id(spark, idx, "c2")])
    monkeypatch.undo()
    assert fired
    # the record is whole, so the interrupted delete is the head
    oracle.delete(["c2"])

    add_documents(spark, idx, spark.createDataFrame(ADD1, SCHEMA))
    oracle.add(ADD1)
    assert check(oracle.answer("omega"), _answer(spark, idx, "omega"), 10) is None
    delete_docs(spark, idx, [_doc_id(spark, idx, "c4")])
    oracle.delete(["c4"])
    assert check(oracle.answer("iota"), _answer(spark, idx, "iota"), 10) is None
    add_documents(spark, idx, spark.createDataFrame(ADD2, SCHEMA))
    oracle.add(ADD2)
    assert compact_deltas(spark, idx, keep_largest=1) == 2
    for q in QUERIES:
        assert check(oracle.answer(q), _answer(spark, idx, q), 10) is None, q


def test_reader_during_add_sees_the_pre_add_answer(spark, tmp_path, monkeypatch):
    """A query running while add_documents refreshes stats reads one
    committed state: the one before the add."""
    idx = _build(spark, str(tmp_path / "idx"))
    before = _answer(spark, idx, "alpha")
    seen = []
    real = incremental.finalize_stats

    def spy(spark_, idx_, run_id):
        seen.append(_answer(spark, idx, "alpha"))
        return real(spark_, idx_, run_id)

    monkeypatch.setattr(incremental, "finalize_stats", spy)
    add_documents(spark, idx, spark.createDataFrame(ADD1, SCHEMA))
    assert seen == [before]
    oracle = Oracle()
    oracle.add(DOCS + ADD1)
    after = _answer(spark, idx, "alpha")
    assert after != before
    assert check(oracle.answer("alpha"), after, 10) is None


def test_delete_keeps_stats_docmeta_and_frames_warm(spark, tmp_path):
    root = str(tmp_path / "idx")
    idx = _build(spark, root)
    search_wand(spark, idx, "alpha beta", k=5).collect()

    def mine(kind):
        return {k for k in MEMO.keys(kind) if root in repr(k)}

    warm = {kind: mine(kind) for kind in ("stats", "docmeta", "rows", "frame")}
    assert all(warm.values())
    delete_docs(spark, idx, [_doc_id(spark, idx, "c1")])
    search_wand(spark, idx, "alpha beta", k=5).collect()
    # the delete changed only the deletes segment list: no new stats,
    # docmeta or docmeta-row entries, and only the deletes frame is new
    for kind in ("stats", "docmeta", "rows"):
        assert mine(kind) == warm[kind], kind
    new_frames = mine("frame") - warm["frame"]
    assert new_frames and all("/deletes/" in repr(k) for k in new_frames)


def test_as_of_is_one_version_number(spark, tmp_path):
    from open_source_search_engine_spark.operators.timetravel import (
        as_of,
        index_versions,
    )

    idx = _build(spark, str(tmp_path / "idx"))
    v0 = index_versions(idx)
    assert isinstance(v0, int)
    before = _answer(spark, idx, "alpha")
    add_documents(spark, idx, spark.createDataFrame(ADD1, SCHEMA))
    assert index_versions(idx) == v0 + 1
    assert _answer(spark, as_of(idx, v0), "alpha") == before
    assert index_versions(Index(str(tmp_path / "empty"))) == -1


def test_cached_index_rebuilds_old_layout_tree(spark, tmp_path):
    """A cached engine tree written in the per-table snapshot layout
    carries a fingerprint without the layout tag: it must be rebuilt,
    not adopted (it would fail with 'no finalized stats')."""
    import json

    import pandas as pd

    from open_source_search_engine_spark.engine_entries import (
        _cached_index,
        _corpus_fingerprint,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame([(1, "alpha beta")], columns=["doc_id", "text"]).to_parquet(
        sf / "documents.parquet"
    )
    fp = _corpus_fingerprint(str(sf))
    assert fp["layout"] == INDEX_LAYOUT
    root = tmp_path / "engine"
    (root / "postings" / "_snapshots").mkdir(parents=True)
    (root / "postings" / "_snapshots" / "HEAD").write_text("0")
    old_fp = {k: v for k, v in fp.items() if k != "layout"}
    (root / "_corpus_meta.json").write_text(json.dumps(old_fp))
    calls = []

    def build(tmp):
        calls.append(tmp)
        _build(spark, tmp)

    idx = _cached_index(str(root), "_corpus_meta.json", fp, build)
    assert len(calls) == 1
    assert not (root / "postings" / "_snapshots").exists()
    assert _versions(idx.root)
    assert _answer(spark, idx, "alpha")


def test_default_cores_are_the_host_usable_cores():
    from open_source_search_engine_spark.session import _default_cores

    assert _default_cores({}) == len(os.sched_getaffinity(0))
    assert _default_cores({"SPARK_GRAFT_CPUS": "3"}) == 3


def test_concurrent_commits_all_land(tmp_path):
    """Optimistic retry-and-rebase under thread contention: every commit
    lands exactly once, in contiguous versions (a lost rebase would drop
    a segment)."""
    import sys
    import threading

    from open_source_search_engine_spark.sources.tables import Manifest

    m = Manifest(str(tmp_path))
    n_threads, per_thread = 8, 10

    def worker(i):
        for j in range(per_thread):
            m.commit({"t": ([str(tmp_path / "t" / f"s{i}-{j}")], [])}, "append")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    n = n_threads * per_thread
    assert m.versions() == list(range(n))
    assert len(set(m.load(n - 1)["tables"]["t"])) == n
