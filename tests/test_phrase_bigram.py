"""X3 -> J4 bigram fast path: an index built with bigram_terms answers
quoted phrases by intersecting pair termlists; results must be identical
to the positional-scan path over a bigram-free index, and scoring/stats
must be untouched by the extra pair postings."""

import pytest

from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.plans.exec import search
from open_source_search_engine_spark.sources.corpus import synth_documents
from open_source_search_engine_spark.streaming.incremental import add_documents


@pytest.fixture(scope="module")
def idx_pair(spark, tmp_path_factory):
    docs = synth_documents(spark, 200, partitions=4)
    plain = build_index(
        spark,
        docs,
        str(tmp_path_factory.mktemp("nobi")),
        n_shards=2,
        block_size=16,
        salt_target=200,
    )
    bi = build_index(
        spark,
        docs,
        str(tmp_path_factory.mktemp("bi")),
        n_shards=2,
        block_size=16,
        salt_target=200,
        bigram_terms=True,
    )
    return plain, bi


# (query, must_match): pairs/triples verified present in the synth-200
# token stream (zipf head ids), plus mixes and a guaranteed miss — the
# must_match flag keeps the parity assertion from passing vacuously
PHRASES = [
    ('"id0xa34b id1xdcef"', True),  # common adjacent pair (~180 docs)
    ('"static id10xa76b"', True),  # rare pair
    ('"id2xe507 id0xa34b final"', True),  # 3-token chain
    ('"id0xa34b id1xdcef" return', True),  # phrase AND term
    ('"id2xe507 id0xa34b" "id0xa34b id1xdcef"', True),  # two required phrases
    ('"no such phrase here"', False),
]


def _rows(df):
    return sorted((r["doc_id"], round(r["score"], 9)) for r in df.collect())


@pytest.mark.parametrize("q,must_match", PHRASES)
def test_phrase_bigram_equals_positional(spark, idx_pair, q, must_match):
    plain, bi = idx_pair
    assert not plain.features().get("bigrams", False)
    assert bi.features().get("bigrams", False)
    want = _rows(search(spark, plain, q, k=500, enrich=False))
    got = _rows(search(spark, bi, q, k=500, enrich=False))
    assert got == want
    assert (len(got) > 0) == must_match


def test_bigrams_do_not_change_scoring_or_stats(spark, idx_pair):
    plain, bi = idx_pair
    cs_p = plain.collstats.read(spark).collect()[0]
    cs_b = bi.collstats.read(spark).collect()[0]
    assert cs_p["n_docs"] == cs_b["n_docs"]
    assert cs_p["avgdl"] == pytest.approx(cs_b["avgdl"], rel=1e-12)
    assert _rows(search(spark, plain, "def return", k=50, enrich=False)) == _rows(
        search(spark, bi, "def return", k=50, enrich=False)
    )


def test_pair_terms_live_in_dictionary(spark, idx_pair):
    _plain, bi = idx_pair
    from pyspark.sql import functions as F

    n_pairs = (
        bi.termstats.read(spark).filter(F.col("term").contains(" ")).count()
    )
    assert n_pairs > 0


def test_incremental_inherits_bigram_marker(spark, tmp_path):
    from open_source_search_engine_spark.operators.build import Index

    docs = synth_documents(spark, 60, partitions=2)
    idx = Index(str(tmp_path / "incrbi"))
    add_documents(
        spark, idx, docs.filter("lang = 'python'"), bigram_terms=True,
        salt_target=100, block_size=16, refresh_stats=False,
    )
    # None inherits the marker; explicit mismatch raises
    add_documents(
        spark, idx, docs.filter("lang <> 'python'"),
        salt_target=100, block_size=16,
    )
    with pytest.raises(ValueError, match="bigrams"):
        add_documents(spark, idx, docs.limit(1), bigram_terms=False)
    got = _rows(search(spark, idx, '"id0xa34b id1xdcef"', k=500, enrich=False))
    assert len(got) > 0


def test_wand_phrase_native_on_bigram_index(spark, idx_pair):
    """r4 (r3 verdict #4): on a bigram index, search_wand answers quoted
    phrases IN the WAND kernel (pair termlists as zero-weight slots +
    in-kernel positional verify) — no fallback to plans.exec.search —
    with rows/scores identical to the general plan."""
    import open_source_search_engine_spark.plans.exec as exec_mod
    from open_source_search_engine_spark.operators.topk import search_wand

    plain, bi = idx_pair
    q = '"id0xa34b id1xdcef" return'
    want = _rows(search(spark, bi, q, k=50, enrich=False))
    got = _rows(search_wand(spark, bi, q, k=50, enrich=False))
    assert len(want) > 0 and got == want

    # prove the kernel path: the exhaustive plan must NOT be invoked
    real = exec_mod.search
    calls = []

    def spy(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    exec_mod.search = spy
    try:
        got2 = _rows(search_wand(spark, bi, q, k=50, enrich=False))
    finally:
        exec_mod.search = real
    assert got2 == want and calls == []

    # prune-stats mode now works for phrases too (kernel path)
    rows = search_wand(spark, bi, q, k=50, with_prune_stats=True).collect()
    assert rows and "blocks_scored" in rows[0].asDict()

    # a bigram-less index still falls back (positional scan is the only
    # exact path there), and prune-stats mode explains why it raises
    got3 = _rows(search_wand(spark, plain, q, k=50, enrich=False))
    assert got3 == want
    with pytest.raises(ValueError, match="bigram-less"):
        search_wand(spark, plain, q, k=50, with_prune_stats=True)


@pytest.mark.parametrize("q,must_match", PHRASES)
def test_wand_phrase_kernel_equals_positional(spark, idx_pair, q, must_match):
    """Kernel-native phrase results == the bigram-free positional-scan
    general plan, over the whole phrase query matrix (incl. 3-token
    chains, phrase+term mixes, two required phrases, and a miss)."""
    from open_source_search_engine_spark.operators.topk import search_wand

    plain, bi = idx_pair
    want = _rows(search(spark, plain, q, k=500, enrich=False))
    got = _rows(search_wand(spark, bi, q, k=500, enrich=False))
    assert got == want
    assert (len(got) > 0) == must_match


def test_batch_accepts_phrases_on_bigram_index(spark, idx_pair):
    """search_wand_batch runs phrase queries through the one-job kernel
    plan on a bigram index — per-query parity with search_wand."""
    from open_source_search_engine_spark.operators.topk import (
        search_wand,
        search_wand_batch,
    )

    _plain, bi = idx_pair
    batch_qs = [
        '"id0xa34b id1xdcef"',
        '"id2xe507 id0xa34b final"',
        '"id0xa34b id1xdcef" return',
        "def return",
        '"no such phrase here"',
    ]
    got = {}
    for r in search_wand_batch(spark, bi, batch_qs, k=10).collect():
        got.setdefault(r["query"], []).append((r["doc_id"], round(r["score"], 9)))
    for q in batch_qs:
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in search_wand(spark, bi, q, k=10, enrich=False).collect()
        ]
        assert sorted(got.get(q, []), key=lambda x: (-x[1], x[0])) == want, q
    assert '"no such phrase here"' not in got


# one query per shape the shared WAND planner serves: a quoted phrase,
# a negated adjacent pair, a field term, an OR-group and an absent term
BATCH_SHAPES = [
    '"id0xa34b id1xdcef"',
    'return -"id0xa34b id1xdcef"',
    "return lang:go",
    "func OR def",
    "zzznotinthecorpus",
]


@pytest.mark.parametrize("lang_boost", [None, ("go", 1.5)])
@pytest.mark.parametrize("enrich", [False, True])
def test_batch_equals_per_query_on_bigram_index(spark, idx_pair, enrich, lang_boost):
    """search_wand_batch and per-query search_wand go through one planner
    and one enrich: same rows, scores and (enriched) doc metadata, in the
    same order, for every query shape — including a batch-wide lang
    boost."""
    from open_source_search_engine_spark.operators.topk import (
        search_wand,
        search_wand_batch,
    )

    _plain, bi = idx_pair
    meta = ["repo", "path", "lang"] if enrich else []

    def key(r):
        return (r["doc_id"], round(r["score"], 9), *(r[c] for c in meta))

    got = {}
    for r in search_wand_batch(
        spark, bi, BATCH_SHAPES, k=10, enrich=enrich, lang_boost=lang_boost
    ).collect():
        got.setdefault(r["query"], []).append(key(r))
    for q in BATCH_SHAPES:
        want = [
            key(r)
            for r in search_wand(
                spark, bi, q, k=10, enrich=enrich, lang_boost=lang_boost
            ).collect()
        ]
        assert got.get(q, []) == want, q
    assert "zzznotinthecorpus" not in got
    assert all(got.get(q) for q in BATCH_SHAPES[:4])  # non-vacuous
