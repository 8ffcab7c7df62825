"""M5: block-max WAND == exhaustive top-k (SURVEY.md §4.1, §7.5 property
(c)), plus a kernel-level proof that the upper-bound prune actually skips
block decodes."""

import math

import numpy as np
import pytest
from blockkit import shard_table

from open_source_search_engine_spark.operators import topk as T
from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.operators.topk import search_wand
from open_source_search_engine_spark.plans.exec import search
from open_source_search_engine_spark.sources.corpus import synth_documents


@pytest.fixture(scope="module")
def wand_index(spark, tmp_path_factory):
    docs = synth_documents(spark, 150, partitions=4)
    root = str(tmp_path_factory.mktemp("wandidx"))
    return build_index(
        spark, docs, root, n_shards=2, block_size=16, salt_target=200
    )


QUERIES = [
    "def",
    "def return",
    "binarysearchtree",
    "def return lang:python",
    "def -return",
    "import class self",
    # OR-groups: slot-max member scoring inside the kernel (U3)
    "fn OR func",
    "def return OR static",
    "quasarneedle OR xylophonequery",
    "fn OR func OR def -return",
    # user term weights (term^W): weight*idf rides slot scoring and the
    # kernel's block-max bounds identically, so parity must hold
    "def^3 return",
    "fn^2 OR func def",
    "def return lang:python^2",
]


@pytest.mark.parametrize("q", QUERIES)
def test_wand_equals_exhaustive(spark, wand_index, q):
    exh = [
        (r["doc_id"], round(r["score"], 9))
        for r in search(spark, wand_index, q, k=7, enrich=False).collect()
    ]
    wnd = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_wand(spark, wand_index, q, k=7, enrich=False).collect()
    ]
    assert wnd == exh


def test_wand_routes_phrases_to_general_plan(spark, wand_index):
    """Phrases fall back to plans.exec.search (no raise); prune-stats mode
    still raises since no WAND pruning runs on that path."""
    from open_source_search_engine_spark.plans.exec import search

    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in search(
            spark, wand_index, '"def return"', k=10, enrich=False
        ).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_wand(
            spark, wand_index, '"def return"', k=10, enrich=False
        ).collect()
    ]
    assert got == want
    with pytest.raises(ValueError):
        search_wand(spark, wand_index, '"def return"', with_prune_stats=True)


def test_batch_equals_per_query(spark, wand_index):
    """search_wand_batch (one job, N queries) returns exactly what N
    individual search_wand calls return — including a query with a term
    absent from the dictionary (yields no rows) and OR-groups/negations."""
    from open_source_search_engine_spark.operators.topk import search_wand_batch

    batch_qs = [
        "def",
        "def return",
        "fn OR func",
        "def -return",
        "zzznotinthecorpus",
        "binarysearchtree",
    ]
    got = {}
    for r in search_wand_batch(spark, wand_index, batch_qs, k=10).collect():
        got.setdefault(r["query"], []).append((r["doc_id"], round(r["score"], 9)))
    for q in batch_qs:
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in search_wand(spark, wand_index, q, k=10, enrich=False).collect()
        ]
        have = sorted(got.get(q, []), key=lambda x: (-x[1], x[0]))
        assert have == want, q
    assert "zzznotinthecorpus" not in got


def test_batch_enrich(spark, wand_index):
    from open_source_search_engine_spark.operators.topk import search_wand_batch

    rows = search_wand_batch(
        spark, wand_index, ["def", "binarysearchtree"], k=5, enrich=True
    ).collect()
    assert rows and set(rows[0].asDict()) == {
        "query", "doc_id", "score", "repo", "path", "lang",
    }
    assert {r["query"] for r in rows} == {"def", "binarysearchtree"}


def test_warm_enriched_batch_job_budget(spark, wand_index):
    """Enrich rides the driver-side docmeta rows, so a warm enriched
    batch dispatches no more Spark jobs than the same batch without
    enrich (a broadcast join to docstats cost extra jobs per call)."""
    from open_source_search_engine_spark.operators.topk import search_wand_batch

    qs = ["def", "def return", "fn OR func", "binarysearchtree"]
    st = spark.sparkContext.statusTracker()

    def warm_jobs(enrich):
        for _ in range(2):  # warm: stats, docmeta rows, codegen
            search_wand_batch(spark, wand_index, qs, k=5, enrich=enrich).collect()
        before = set(st.getJobIdsForGroup(None))
        rows = search_wand_batch(spark, wand_index, qs, k=5, enrich=enrich).collect()
        assert rows
        return len(set(st.getJobIdsForGroup(None)) - before)

    plain = warm_jobs(False)
    enriched = warm_jobs(True)
    assert enriched <= plain, f"enriched batch ran {enriched} jobs, plain {plain}"


def test_batch_phrase_fallback_on_bigramless(spark, wand_index):
    """wand_index has no pair termlists, so a batch containing a phrase
    DEGRADES to the per-query exhaustive union (r4: no more raise) —
    results must equal individual search() calls."""
    from open_source_search_engine_spark.operators.topk import search_wand_batch

    batch_qs = ['"def return"', "def"]
    got = {}
    rows = search_wand_batch(spark, wand_index, batch_qs, k=5).collect()
    for r in rows:
        got.setdefault(r["query"], []).append((r["doc_id"], round(r["score"], 9)))
    for q in batch_qs:
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in search(spark, wand_index, q, k=5, enrich=False).collect()
        ]
        assert sorted(got.get(q, []), key=lambda x: (-x[1], x[0])) == want, q


def test_kernel_prunes_blocks():
    """Hand-built single-term shard: one high-impact block and many
    low-impact blocks.  After the heap fills from the best block, every
    low-bound block must be skipped WITHOUT decoding."""
    # best block: tf=50, short docs -> huge impact
    blocks = [(7, 0, 1, 0, [10, 20, 30], [50, 50, 50])]
    doclens = {10: 10, 20: 10, 30: 10}
    # 20 hopeless blocks: tf=1, long docs
    for b in range(1, 21):
        docs = [1000 * b + i for i in range(4)]
        blocks.append((7, 0, 1, b, docs, [1] * 4))
        doclens.update(dict.fromkeys(docs, 5000))
    tbl, docs = shard_table(blocks, doclens)
    qmeta = {"slots": [{7: 1.0}], "rarest_slot": 0, "avgdl": 100.0, "neg_ids": []}
    out = T._wand_kernel(tbl, qmeta, k=3, docs=docs)
    assert out.num_rows == 3
    assert set(out.column("doc_id").to_pylist()) == {10, 20, 30}
    assert out.column("blocks_skipped")[0].as_py() == 20
    assert out.column("blocks_scored")[0].as_py() == 1


def test_kernel_bound_is_safe():
    """The block bound must dominate every doc: random blocks, verify
    idf*impact(max_tf, min_dl) >= every true doc impact."""
    rng = np.random.default_rng(3)
    for _ in range(20):
        tfs = rng.integers(1, 40, size=16)
        dls = rng.integers(10, 4000, size=16)
        bound = T._impact(float(tfs.max()), float(dls.min()), 500.0)
        true = T._impact(tfs.astype(float), dls.astype(float), 500.0)
        assert bound >= true.max() - 1e-12


def test_kernel_lazy_decodes_other_terms():
    """Lazy other-term decode: term 9's list has 20 blocks, but the
    candidates (term 7, rare) all live in ONE of term 9's doc ranges —
    the kernel must decode exactly that one block, not the whole list."""
    blocks = [(7, 0, 1, 0, [5000, 5001, 5002], [5, 5, 5])]
    # block b covers [1000b, 1000b+4], so the candidates sit in block 5
    for b in range(20):
        blocks.append((9, 0, 1, b, [1000 * b + i for i in range(5)], [2] * 5))
    doclens = {d: 100 for blk in blocks for d in blk[4]}
    tbl, docs = shard_table(blocks, doclens)
    qmeta = {
        "slots": [{7: 1.0}, {9: 1.0}],
        "rarest_slot": 0,
        "avgdl": 100.0,
        "neg_ids": [],
    }
    out = T._wand_kernel(tbl, qmeta, k=3, docs=docs)
    assert out.num_rows == 3
    assert set(out.column("doc_id").to_pylist()) == {5000, 5001, 5002}
    assert out.column("other_blocks_decoded")[0].as_py() == 1


def test_wand_or_group_weighted_members(spark, wand_index):
    """Weighted OR-group members (synonym weights): kernel slot-max must
    match the weighted exhaustive computation."""
    from open_source_search_engine_spark.plans.query import Group, QueryPlan, Term

    plan = QueryPlan(
        groups=[Group([Term("def"), Term("static", weight=0.5)]), Group([Term("return")])],
        raw="def OR static~0.5 return",
    )
    wnd = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_wand(spark, wand_index, plan, k=7, enrich=False).collect()
    ]
    exh = [
        (r["doc_id"], round(r["score"], 9))
        for r in search(spark, wand_index, plan, k=7, enrich=False).collect()
    ]
    assert wnd == exh
