"""The index manifest and its snapshot view (sources/tables.py).

One manifest version per commit: a build shard, an add, a delete and a
compaction each publish exactly one version, carrying the collection
totals, a
commit interrupted after its version record is written never wedges
later commits, and a reader never pairs an add's postings with the stats
from before it.  Answers are checked against the benchmark's independent
BM25 oracle."""

import os

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.build import Index, build_index
from open_source_search_engine_spark.operators.merge import compact_deltas, delete_docs
from open_source_search_engine_spark.operators.topk import search_wand
from open_source_search_engine_spark.sources.tables import (
    INDEX_LAYOUT,
    MEMO,
    IndexView,
)
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


def test_build_and_two_adds_make_four_versions(spark, tmp_path):
    root = str(tmp_path / "idx")
    idx = _build(spark, root, n_shards=2)
    add_documents(spark, idx, spark.createDataFrame(ADD1, SCHEMA))
    add_documents(spark, idx, spark.createDataFrame(ADD2, SCHEMA))
    # two shard commits and one commit per add: no stats finalize
    assert _versions(root) == [0, 1, 2, 3]
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
    """A query running while add_documents commits reads one committed
    state: the one before the add."""
    idx = _build(spark, str(tmp_path / "idx"))
    before = _answer(spark, idx, "alpha")
    seen = []
    real = IndexView.commit

    def spy(self, *a, **kw):
        seen.append(_answer(spark, idx, "alpha"))
        return real(self, *a, **kw)

    monkeypatch.setattr(IndexView, "commit", spy)
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
    not adopted (it would fail with 'no finalized stats').  So must a
    ``manifest-v1`` tree, whose termstats partials carry no term
    strings, a ``manifest-v2`` tree, whose term stats are stored twice
    (partials and their fold), and a ``manifest-v3`` tree, whose
    collection stats are a ``collstats`` table the manifest carries no
    totals for."""
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

    assert INDEX_LAYOUT != "manifest-v1"
    (root / "_corpus_meta.json").write_text(json.dumps({**fp, "layout": "manifest-v1"}))
    idx = _cached_index(str(root), "_corpus_meta.json", fp, build)
    assert len(calls) == 2
    assert json.loads((root / "_corpus_meta.json").read_text()) == fp
    assert _answer(spark, idx, "alpha")

    # manifest-v2 (partials plus their fold) is an older layout too
    assert INDEX_LAYOUT != "manifest-v2"
    (root / "_corpus_meta.json").write_text(json.dumps({**fp, "layout": "manifest-v2"}))
    idx = _cached_index(str(root), "_corpus_meta.json", fp, build)
    assert len(calls) == 3
    assert json.loads((root / "_corpus_meta.json").read_text()) == fp
    assert _answer(spark, idx, "alpha")

    # so is manifest-v3 (a collstats table, no totals in the manifest)
    assert INDEX_LAYOUT != "manifest-v3"
    (root / "_corpus_meta.json").write_text(json.dumps({**fp, "layout": "manifest-v3"}))
    idx = _cached_index(str(root), "_corpus_meta.json", fp, build)
    assert len(calls) == 4
    assert json.loads((root / "_corpus_meta.json").read_text()) == fp
    assert idx.view().coll is not None
    assert _answer(spark, idx, "alpha")


def test_build_writes_one_termstats_run_per_shard_in_zstd(spark, tmp_path):
    """Term stats live in one table of additive runs, one per written
    batch (no termstats_partial), and every parquet file under the root
    (Spark-written segments and the driver-written checkpoint, metrics
    and lineage rows alike) is zstd-compressed."""
    import pyarrow.parquet as pq

    from open_source_search_engine_spark.sources.tables import Manifest

    root = str(tmp_path / "idx")
    idx = _build(spark, root, n_shards=2)
    assert not os.path.exists(os.path.join(root, "termstats_partial"))
    head = Manifest(root).load(Manifest(root).head())
    assert "termstats_partial" not in head["tables"]
    assert len(head["tables"]["termstats"]) == 2
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert {os.path.basename(os.path.dirname(os.path.dirname(f))) for f in files} >= {
        "postings", "docstats", "termstats", "checkpoints", "metrics",
        "lineage",
    }
    for f in files:
        meta = pq.ParquetFile(f).metadata
        codecs = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        assert codecs <= {"ZSTD"}, (f, codecs)
    # the runs sum to the corpus df: "alpha" is in 3 of the 5 docs
    ts = idx.termstats.read(spark).filter("term = 'alpha'").collect()
    assert [(r["df"], r["cf"]) for r in ts] == [(3, 4)]


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it dispatched."""
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(st.getJobIdsForGroup(None)) - before)


def test_cold_stats_lookup_over_runs_is_one_job(spark, tmp_path):
    """After two adds the index holds 4 termstats runs.  A cold stats
    lookup scans them raw and sums on the driver: one Spark job, and
    the same (term_id, df, cf) as the summed termstats read, its
    term_id the term's hash (a run stores none)."""
    from open_source_search_engine_spark.functions.hashing import term_hash_py
    from open_source_search_engine_spark.plans.exec import _stats_cached

    idx = _build(spark, str(tmp_path / "idx"), n_shards=2)
    add_documents(spark, idx, spark.createDataFrame(ADD1, SCHEMA))
    add_documents(spark, idx, spark.createDataFrame(ADD2, SCHEMA))
    assert len(idx.view().segments("termstats")) == 4
    terms = ["alpha", "beta", "omega", "lambda", "nosuchterm"]
    (_n, _a, got), jobs = _jobs(spark, lambda: _stats_cached(spark, idx, terms))
    assert jobs == 1, f"cold stats lookup ran {jobs} jobs"
    summed = {
        r["term"]: (term_hash_py(r["term"]), r["df"], r["cf"])
        for r in idx.termstats.read(spark).filter(
            F.col("term").isin(terms)
        ).collect()
    }
    assert got == summed
    assert got["alpha"][1:] == (5, 7)  # 3 built docs + one per add


def test_small_add_job_budget_and_no_sidecars(spark, tmp_path):
    """A postings write reads nothing back and a termstats run is one
    aggregate of the batch's posting rows: one small add into a built
    index runs at most 15 Spark jobs (one of them collects the batch's
    doc dictionary; 16 when each run was aggregated from the encoded
    blocks and joined to the batch's distinct terms, 22 when every
    postings write also built a bloom sidecar), and no postings segment
    holds a sidecar."""
    idx = _build(spark, str(tmp_path / "idx"), n_shards=2)
    _, jobs = _jobs(
        spark, lambda: add_documents(spark, idx, spark.createDataFrame(ADD1, SCHEMA))
    )
    assert jobs <= 15, f"add_documents ran {jobs} jobs"
    for seg in idx.view().segments("postings"):
        assert not [f for f in os.listdir(seg) if "bloom" in f], seg


@pytest.mark.parametrize("table", ["postings", "docstats", "termstats", "deletes"])
def test_cold_read_runs_no_job(spark, tmp_path, table):
    """Every table is read with its declared layout, so a cold read
    analyzes without the footer-inference job."""
    from open_source_search_engine_spark.schemas import TABLES

    idx = _build(spark, str(tmp_path / "idx"), n_shards=2)
    delete_docs(spark, idx, [1])
    MEMO.clear()
    df, jobs = _jobs(spark, lambda: idx.view().table(table).read(spark))
    assert jobs == 0
    assert df.columns == TABLES[table].fieldNames()


def test_termstats_runs_are_sorted_by_term_and_reproducible(spark, tmp_path):
    """Each termstats run is written sorted by term, so two builds of the
    same docs write byte-identical runs."""
    import hashlib

    import pyarrow.parquet as pq

    def run_files(root):
        idx = _build(spark, root, n_shards=2)
        return sorted(
            os.path.join(seg, f)
            for seg in idx.view().segments("termstats")
            for f in os.listdir(seg)
            if f.endswith(".parquet")
        )

    a = run_files(str(tmp_path / "a"))
    b = run_files(str(tmp_path / "b"))
    for f in a:
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f

    def digests(files):
        return sorted(hashlib.sha256(open(f, "rb").read()).hexdigest() for f in files)

    assert len(a) == 2 and digests(a) == digests(b)


def test_default_cores_are_the_host_usable_cores():
    from open_source_search_engine_spark.session import _default_cores

    assert _default_cores({}) == len(os.sched_getaffinity(0))
    assert _default_cores({"SPARK_GRAFT_CPUS": "3"}) == 3


def test_concurrent_commits_all_land(tmp_path):
    """Optimistic retry-and-rebase under thread contention: every commit
    lands exactly once, in contiguous versions (a lost rebase would drop
    a segment or a totals delta), and every shard-id claim is distinct."""
    import sys
    import threading

    from open_source_search_engine_spark.sources.tables import Manifest

    m = Manifest(str(tmp_path))
    n_threads, per_thread = 8, 10
    claims = []

    def worker(i):
        for j in range(per_thread):
            width = 1 + j % 2
            first = m.claim_shards(0, width)
            claims.extend(range(first, first + width))
            m.commit(
                {"t": ([str(tmp_path / "t" / f"s{i}-{j}")], [])}, "append",
                coll=(1, j),
            )

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
    assert m.load(n - 1)["coll"] == {
        "n_docs": n, "sum_doclen": n_threads * sum(range(per_thread))
    }
    # 1 or 2 ids a claim, none claimed twice
    assert len(claims) == n_threads * per_thread * 3 // 2
    assert len(set(claims)) == len(claims)


def _recount(spark, idx):
    """``finalize_stats``' recount: (rows, doclen sum) over docstats."""
    row = idx.docstats.read(spark).agg(
        F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("s")
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


def test_totals_live_in_the_manifest_through_add_delete_and_compaction(
    spark, tmp_path
):
    """Every commit carries the collection totals: no collstats table
    or directory, and after each step the totals equal a recount over
    docstats.  A delete leaves them (tombstoned docs count until a
    major compaction), a compaction without tombstones stages no delta,
    and one that drops docs subtracts them."""
    from open_source_search_engine_spark.operators.merge import compact_postings
    from open_source_search_engine_spark.sources.tables import Manifest

    root = str(tmp_path / "idx")
    idx = _build(spark, root, n_shards=2)

    def check_totals():
        head = Manifest(root).load(Manifest(root).head())
        assert "collstats" not in head["tables"]
        assert not os.path.exists(os.path.join(root, "collstats"))
        coll = head["coll"]
        assert (coll["n_docs"], coll["sum_doclen"]) == _recount(spark, idx)
        return idx.view().coll

    assert check_totals()[0] == len(DOCS)
    add_documents(spark, idx, spark.createDataFrame(ADD1, SCHEMA))
    added = check_totals()
    assert added[0] == len(DOCS) + 1
    compact_postings(spark, idx, block_size=4)
    assert check_totals() == added
    c2 = idx.docstats.read(spark).filter(F.col("commit") == "c2").collect()[0]
    delete_docs(spark, idx, [c2["doc_id"]])
    assert idx.view().coll == added
    compact_postings(spark, idx, block_size=4)
    assert check_totals() == (added[0] - 1, added[1] - c2["doclen"])
    # the major compaction dropped c2 from every stat
    oracle = Oracle()
    oracle.add([d for d in DOCS + ADD1 if d[2] != "c2"])
    for q in QUERIES:
        assert check(oracle.answer(q), _answer(spark, idx, q), 10) is None, q


def test_concurrent_adds_commute(spark, tmp_path):
    """Two add_documents on one index at once: both commit (the loser
    of the manifest race re-applies its totals delta to the new head),
    n_docs is the sum, and the totals equal a recount over docstats."""
    import threading

    idx = _build(spark, str(tmp_path / "idx"))
    batches = [
        [(f"r/t{i}", f"f{j}.py", f"t{i}-{j}", "python", "alpha omega " * (j + 1))
         for j in range(n)]
        for i, n in enumerate((3, 2))
    ]
    errors = []

    def add(rows):
        try:
            add_documents(spark, idx, spark.createDataFrame(rows, SCHEMA))
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=add, args=(b,)) for b in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert idx.view().coll[0] == len(DOCS) + 5
    assert idx.view().coll == _recount(spark, idx)
    assert idx.docstats.read(spark).count() == len(DOCS) + 5
    # each batch got a WAND shard of its own (a shared one would mix
    # two sorted runs in one sub-list), and answers match the oracle
    shards = idx.postings.read(spark).select("shard").distinct().collect()
    assert sorted(r["shard"] for r in shards) == [0, 1, 2]
    oracle = Oracle()
    oracle.add(DOCS + batches[0] + batches[1])
    for q in ("alpha", "omega", "alpha omega", "beta OR omega"):
        assert check(oracle.answer(q), _answer(spark, idx, q), 10) is None, q


def test_removing_a_segment_another_commit_removed_names_the_conflict(tmp_path):
    """Two writers replacing the same segment from one view: the second
    commit is a real conflict, and its error names the table, the
    segment and the cause."""
    from open_source_search_engine_spark.sources.tables import Manifest

    root = str(tmp_path)
    Manifest(root).commit(
        {"postings": ([os.path.join(root, "postings", "a")], [])}, "append"
    )
    view = Index(root).view()
    seg = view.segments("postings")[0]
    first = view.stage({"postings": ([os.path.join(root, "postings", "b")], [seg])})
    second = view.stage({"postings": ([os.path.join(root, "postings", "c")], [seg])})
    first.commit("compact")
    with pytest.raises(
        ValueError,
        match=r"postings: segment postings/a is gone .*concurrent commit removed it",
    ):
        second.commit("compact")
