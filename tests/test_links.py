"""J7 link-join operators: extraction, inversion, rank blending."""

import pyspark.sql.functions as F
import pytest

from open_source_search_engine_spark.operators import links


@pytest.fixture(scope="module")
def linked_corpus(spark):
    # a tiny repo whose files reference each other with `use <module>`
    rows = [
        # doc_id, path, content
        (0, "src/a/alpha.py", "def f(): pass use beta use gamma"),
        (1, "src/b/beta.py", "use gamma x = 1"),
        (2, "src/c/gamma.py", "no refs here"),
        (3, "src/d/delta.py", "use alpha use beta use beta"),  # dup ref
        (4, "src/e/alpha.py", "use nonexistent"),  # ambiguous module name
    ]
    return spark.createDataFrame(rows, "doc_id long, path string, content string")


def test_extract_links_resolves_modules(linked_corpus):
    edges = links.extract_links(linked_corpus).collect()
    got = {(r.src_doc_id, r.dst_doc_id) for r in edges}
    # alpha is ambiguous (docs 0 and 4 both define it): refs fan out to both
    assert got == {
        (0, 1), (0, 2),          # alpha -> beta, gamma
        (1, 2),                  # beta -> gamma
        (3, 0), (3, 4), (3, 1),  # delta -> both alphas + beta (dup deduped)
    }


def test_extract_links_no_self_loops_and_distinct(linked_corpus):
    pdf = links.extract_links(linked_corpus).toPandas()
    assert (pdf.src_doc_id != pdf.dst_doc_id).all()
    assert len(pdf) == len(pdf.drop_duplicates())


def test_derive_edges_matches_closed_form(spark):
    docs = spark.createDataFrame(
        [(i, 10 * i + 3) for i in range(7)], "doc_id long, n_chars long"
    )
    got = {
        (r.src_doc_id, r.dst_doc_id)
        for r in links.derive_edges(docs, fan_out=2).collect()
    }
    want = set()
    for s in range(7):
        for j in range(2):
            d = (s * 131 + (10 * s + 3) + j * 37) % 7
            if d != s:
                want.add((s, d))
    assert got == want


def test_inlink_counts_sum_equals_edge_count(linked_corpus):
    edges = links.extract_links(linked_corpus)
    counts = links.inlink_counts(edges)
    assert counts.agg(F.sum("inlinks")).collect()[0][0] == edges.count()


def test_static_rank_join_neutral_at_alpha_zero(spark, linked_corpus):
    ranks = links.inlink_counts(links.extract_links(linked_corpus))
    base = spark.createDataFrame(
        [(0, 3.5), (1, 2.0), (2, 1.0)], "doc_id long, score double"
    )
    out = links.static_rank_join(base, ranks, alpha=0.0).collect()
    assert [(r.doc_id, r.rank_score) for r in out] == [(0, 3.5), (1, 2.0), (2, 1.0)]


def test_static_rank_join_boosts_popular_docs(spark, linked_corpus):
    ranks = links.inlink_counts(links.extract_links(linked_corpus))
    # doc 2 (gamma) has 2 inlinks, doc 3 (delta) has none: equal base
    # scores must reorder in gamma's favor
    base = spark.createDataFrame(
        [(2, 1.0), (3, 1.0)], "doc_id long, score double"
    )
    out = links.static_rank_join(base, ranks, alpha=0.5).collect()
    assert out[0].doc_id == 2 and out[0].inlinks == 2
    assert out[1].doc_id == 3 and out[1].inlinks == 0
    assert out[0].rank_score > out[1].rank_score


def test_rank_join_is_broadcast(spark, linked_corpus):
    ranks = links.inlink_counts(links.extract_links(linked_corpus))
    base = spark.createDataFrame([(2, 1.0)], "doc_id long, score double")
    plan = links.static_rank_join(base, ranks)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ---- anchor-text indexing (LinkInfo parity: inbound anchor words
# indexed into the TARGET doc's termlists) ----


@pytest.fixture(scope="module")
def anchor_corpus(spark):
    rows = [
        (0, "r/a", "doc/0", "c", "py", "alpha beta gamma delta"),
        (1, "r/a", "doc/1", "c", "py", "beta beta gamma alpha"),
        (2, "r/b", "doc/2", "c", "go", "gamma delta alpha beta"),
        (3, "r/b", "doc/3", "c", "go", "delta alpha beta gamma"),
    ]
    return spark.createDataFrame(
        rows,
        "doc_id long, repo string, path string, commit string, "
        "lang string, content string",
    )


@pytest.fixture(scope="module")
def anchor_edges(spark):
    # 0->2, 1->2, 1->3, 3->2  (doc 2 has three inlinkers)
    return spark.createDataFrame(
        [(0, 2), (1, 2), (1, 3), (3, 2)], "src_doc_id long, dst_doc_id long"
    )


def test_anchor_postings_counts(anchor_corpus, anchor_edges):
    from open_source_search_engine_spark.functions.hashing import term_hash_py

    rows = links.anchor_postings(anchor_corpus, anchor_edges, n_tokens=2).collect()
    got = {(r.doc_id, r.term): r.tf for r in rows}
    # first-2 tokens per src: 0->[alpha,beta] 1->[beta,beta] 3->[delta,alpha]
    assert got == {
        (2, "anchor:alpha"): 2,  # from src 0 and src 3
        (2, "anchor:beta"): 3,   # src 0 once + src 1 twice
        (2, "anchor:delta"): 1,  # src 3
        (3, "anchor:beta"): 2,   # src 1's duplicated head token counts twice
    }
    for r in rows:
        assert r.term_id == term_hash_py(r.term)
        assert r.doclen == 0 and r.pos_enc == b""


def test_anchor_stored_index_end_to_end(
    spark, anchor_corpus, anchor_edges, tmp_path_factory
):
    from open_source_search_engine_spark.operators.build import build_index

    root = str(tmp_path_factory.mktemp("anchoridx"))
    idx = build_index(
        spark,
        anchor_corpus,
        root,
        n_shards=2,
        code_aware=False,
        block_size=4,
        extra_postings=links.anchor_postings(anchor_corpus, anchor_edges, n_tokens=2),
        extra_label="anchors:first2",
    )
    got = [
        (r.doc_id, r.n_anchor)
        for r in links.search_anchor(spark, idx, "beta", k=10).collect()
    ]
    assert got == [(2, 3), (3, 2)]
    # enriched path joins doc metadata off the cached docstats
    en = links.search_anchor(spark, idx, "alpha", k=10, enrich=True).collect()
    assert [(r.doc_id, r.n_anchor, r.lang) for r in en] == [(2, 2, "go")]
    # anchor: rides the query surface as a fielded slot: restriction
    # semantics over the stored termlist (docs containing 'gamma' whose
    # inbound anchors say 'delta' => doc 2 only)
    from open_source_search_engine_spark.plans.exec import search

    hits = search(spark, idx, "anchor:delta gamma", k=10).collect()
    assert [r.doc_id for r in hits] == [2]
    # anchor: lookup postings score with doclen 0 on both query paths:
    # anchor:delta (df 1, tf 1) at doclen 0 plus gamma (df 4, tf 1) at
    # doc 2's doclen 4, with avgdl 16/4
    from open_source_search_engine_spark.functions.bm25 import B, K1, py_idf
    from open_source_search_engine_spark.operators.topk import search_wand

    def impact(tf, dl, avgdl=4.0):
        return tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))

    want = py_idf(1, 4) * impact(1, 0) + py_idf(4, 4) * impact(1, 4)
    for run in (search, search_wand):
        (hit,) = run(spark, idx, "anchor:delta gamma", k=10).collect()
        assert hit.doc_id == 2
        assert hit.score == pytest.approx(want, abs=1e-9)


def test_build_guards_extra_postings_mismatch(
    spark, anchor_corpus, anchor_edges, tmp_path_factory
):
    from open_source_search_engine_spark.operators.build import build_index

    root = str(tmp_path_factory.mktemp("anchorguard"))
    build_index(
        spark,
        anchor_corpus,
        root,
        n_shards=1,
        code_aware=False,
        block_size=4,
        extra_postings=links.anchor_postings(anchor_corpus, anchor_edges),
        extra_label="anchors:first3",
    )
    with pytest.raises(ValueError, match="extra_postings"):
        build_index(
            spark,
            anchor_corpus,
            root,
            n_shards=1,
            code_aware=False,
            block_size=4,
            resume=True,
        )


def test_anchor_rank_join_blend(spark, anchor_corpus, anchor_edges, tmp_path_factory):
    import math

    from open_source_search_engine_spark.operators.build import build_index

    root = str(tmp_path_factory.mktemp("anchorblend"))
    idx = build_index(
        spark,
        anchor_corpus,
        root,
        n_shards=1,
        code_aware=False,
        block_size=4,
        extra_postings=links.anchor_postings(anchor_corpus, anchor_edges, n_tokens=2),
        extra_label="anchors:first2",
    )
    base = spark.createDataFrame(
        [(2, 1.0), (3, 1.0), (0, 1.0)], "doc_id long, score double"
    )
    got = {
        r.doc_id: (r.n_anchor, r.boost_score)
        for r in links.anchor_rank_join(
            base, links.anchor_counts(spark, idx, "beta"), beta=0.2
        ).collect()
    }
    # anchor:beta termlist: doc2 tf=3, doc3 tf=2; doc0 uncited -> neutral
    assert got[0] == (0, 1.0)
    assert got[2] == (3, round(1.0 * (1 + 0.2 * math.log(4.0)), 4))
    assert got[3] == (2, round(1.0 * (1 + 0.2 * math.log(3.0)), 4))


def test_cli_anchor_subcommand(
    spark, anchor_corpus, anchor_edges, tmp_path_factory
):
    """python -m ... anchor drives search_anchor (S10 CLI surface)."""
    import io
    import json
    from contextlib import redirect_stdout

    from open_source_search_engine_spark.__main__ import main
    from open_source_search_engine_spark.operators.build import build_index

    root = str(tmp_path_factory.mktemp("anchorcli"))
    build_index(
        spark,
        anchor_corpus,
        root,
        n_shards=2,
        code_aware=False,
        block_size=4,
        extra_postings=links.anchor_postings(anchor_corpus, anchor_edges, n_tokens=2),
        extra_label="anchors:first2",
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["--cores", "4", "anchor", "--index", root, "--token", "beta"])
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out == [{"doc_id": 2, "n_anchor": 3}, {"doc_id": 3, "n_anchor": 2}]
    buf = io.StringIO()
    with redirect_stdout(buf):
        main(
            ["--cores", "4", "anchor", "--index", root, "--token", "alpha",
             "--enrich"]
        )
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out == [{"doc_id": 2, "n_anchor": 2, "repo": "r/b", "path": "doc/2"}]
