"""Round-4 review sweep G: degenerate-input and contract-gap fixes in
the late-round modules (sampling NULL keys, frontier fresh-URL backoff,
fetch fail-closed robots + error rows, as-of history pinning, MMR
single-scan retrieval)."""

import hashlib
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.frontier import dole_ready
from open_source_search_engine_spark.operators.sampling import (
    hash_fraction_sample,
    stratified_sample,
)
from open_source_search_engine_spark.sources.fetch import (
    fetch_documents,
    robots_filter,
)


# ---------------------------------------------------------------- sampling


def test_stratified_sample_null_hash_sorts_as_empty(spark):
    """NULL hash values are hashed as '' — deterministic and identical in
    every engine (Spark ASC is nulls-first, DuckDB defaults nulls-last,
    so a raw md5(NULL) would select DIFFERENT rows per engine)."""
    rows = [("py", 1, None), ("py", 2, "aaa"), ("py", 3, "zzz")]
    df = spark.createDataFrame(rows, "lang string, doc_id long, text string")
    got = {
        r["doc_id"]
        for r in stratified_sample(
            df, "lang", 2, hash_col="text", id_col="doc_id"
        ).collect()
    }
    # replay the rule in python: order by (md5(coalesce(text,'')), doc_id)
    order = sorted(
        rows, key=lambda r: (hashlib.md5((r[2] or "").encode()).hexdigest(), r[1])
    )
    want = {r[1] for r in order[:2]}
    assert got == want


def test_stratified_sample_preserves_caller_rn_column(spark):
    df = spark.createDataFrame(
        [("py", 1, "a", 99), ("py", 2, "b", 98)],
        "lang string, doc_id long, text string, _rn long",
    )
    out = stratified_sample(df, "lang", 1, hash_col="text", id_col="doc_id")
    assert "_rn" in out.columns
    assert out.select("_rn").first()["_rn"] in (98, 99)


def test_hash_fraction_sample_null_rows_get_a_verdict(spark):
    """A NULL-keyed row must follow the md5(salt||'') rule, not be
    silently dropped regardless of fraction."""
    df = spark.createDataFrame(
        [(1, None), (2, "x")], "doc_id long, text string"
    )
    bucket = hashlib.md5(b"s").hexdigest()[:8]
    # pick fractions that put the '' bucket on each side of the threshold
    frac_keep = (int(bucket, 16) + 2) / (1 << 32)
    frac_drop = int(bucket, 16) / (1 << 32)
    kept = {
        r["doc_id"]
        for r in hash_fraction_sample(df, "text", frac_keep, salt="s")
        .select("doc_id")
        .collect()
    }
    assert 1 in kept
    dropped = {
        r["doc_id"]
        for r in hash_fraction_sample(df, "text", frac_drop, salt="s")
        .select("doc_id")
        .collect()
    }
    assert 1 not in dropped


# ---------------------------------------------------------------- frontier
# (fresh-URL immediate dole is pinned in test_frontier.py; here the
# exponential shape itself: k-th failure waits base * 2^(k-1))


def test_backoff_is_exponential_from_first_failure(spark):
    rows = [
        ("h", 1, datetime(2024, 1, 9, 23, 59, 0), 0, 1),  # 60s passed >= 60*2^0
        ("h", 2, datetime(2024, 1, 9, 23, 59, 0), 0, 2),  # needs 120s -> not yet
    ]
    df = spark.createDataFrame(
        rows,
        "host string, url_id long, added_ts timestamp, priority int, "
        "err_count int",
    )
    out = dole_ready(
        df, "2024-01-10 00:00:00", k_per_host=10, backoff_base_secs=60
    ).collect()
    assert [r["url_id"] for r in out] == [1]


# ------------------------------------------------------------------- fetch


def test_robots_filter_drops_null_host_rows(spark):
    """A NULL host can never MATCH a disallow rule (NULL join condition,
    anti-join keeps it) — it must fail CLOSED, not bypass robots."""
    doled = spark.createDataFrame(
        [(None, "http://a.com/private/x"), ("a.com", "http://a.com/ok")],
        "host string, url string",
    )
    robots = spark.createDataFrame(
        [("a.com", "http://a.com/private/")], "host string, disallow_prefix string"
    )
    got = [r["url"] for r in robots_filter(doled, robots).collect()]
    assert got == ["http://a.com/ok"]


def test_fetch_error_rows_not_dead_stage(spark):
    """The documented contract: a fetcher failure is an ERROR ROW that
    joins back to the frontier, never a dead Spark stage."""

    def flaky(url: str):
        if url.endswith("/bad"):
            raise TimeoutError("simulated network timeout")
        return 200, "ok body"

    doled = spark.createDataFrame(
        [("http://h/good",), ("http://h/bad",)], "url string"
    )
    rows = {r["url"]: r for r in fetch_documents(doled, fetcher=flaky).collect()}
    assert rows["http://h/good"]["status"] == 200
    assert rows["http://h/bad"]["status"] == 599
    assert rows["http://h/bad"]["content"] == ""
    assert rows["http://h/bad"]["n_bytes"] == 0


def test_fetch_real_stub_still_raises(spark):
    doled = spark.createDataFrame([("http://h/x",)], "url string")
    with pytest.raises(Exception, match="NotImplementedError|network sockets"):
        fetch_documents(doled, fetcher="real").collect()


# -------------------------------------------------------------- timetravel


def test_pinned_table_history_and_at_do_not_leak_post_pin(spark, tmp_path):
    from open_source_search_engine_spark.operators.build import Index
    from open_source_search_engine_spark.operators.timetravel import as_of

    idx = Index(str(tmp_path))
    idx.table("other").commit(add=[], operation="append")  # version 0
    t = idx.table("tt")
    for i in range(3):  # versions 1,2,3
        t.commit(add=[str(tmp_path / f"tt/seg{i}")], operation="append")
    pinned = as_of(idx, 2).table("tt")
    assert t.history() == [1, 2, 3]
    assert pinned.history() == [1, 2]
    assert pinned.at(1).version == 1
    with pytest.raises(ValueError, match="after this as-of view's pin"):
        pinned.at(3)
    empty = as_of(idx, 0).table("tt")
    assert empty.history() == []
    with pytest.raises(ValueError, match="no snapshot"):
        empty.at(0)


# ---------------------------------------------------------------- diversify


def test_diversify_ann_single_scan_no_join(spark):
    """The candidate embeddings ride through the top-k heap — the plan
    must contain no join back to the vectors table (one scan total)."""
    from open_source_search_engine_spark.plans.diversify import diversify_ann

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(1, 40)],
        "vec_id long, embedding array<double>",
    )
    out = diversify_ann(spark, vecs, [1.0, 0.5, 0.2], k=5, n_candidates=10)
    assert out.count() == 5
    # the retrieval plan (everything before the driver-side re-rank) is
    # the topn DataFrame inside diversify_ann; re-derive it and check
    from open_source_search_engine_spark.operators.similarity import (
        brute_force_topk,
    )

    plan = (
        brute_force_topk(vecs, [1.0, 0.5, 0.2], k=10, keep_vec=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan


# -------------------------------------------------------------- urlfilters


def test_urlfilter_numeric_clause_survives_non_numeric_strings(spark):
    """ANSI mode (Spark 4 default) throws on cast('double') of 'n/a'; the
    rule semantics are 'clause is false for that row', so numeric clauses
    must try_cast."""
    from open_source_search_engine_spark.plans.urlfilters import (
        UrlRule,
        apply_url_filters,
    )

    df = spark.createDataFrame(
        [("u1", "500"), ("u2", "n/a"), ("u3", "")],
        "url string, n_chars string",
    )
    out = {
        r["url"]: r["rule_idx"]
        for r in apply_url_filters(
            df, [UrlRule("n_chars>=400", 10), UrlRule("default", 50)]
        ).collect()
    }
    assert out == {"u1": 0, "u2": 1, "u3": 1}


def test_urlfilter_not_equals_matches_null(spark):
    """Ordered-conf semantics: a NULL field value IS 'not equal' — SQL
    three-valued NULL must not make the row fall through the != rule."""
    from open_source_search_engine_spark.plans.urlfilters import (
        UrlRule,
        apply_url_filters,
    )

    df = spark.createDataFrame(
        [("u1", "en"), ("u2", None), ("u3", "de")], "url string, lang string"
    )
    out = {
        r["url"]: r["rule_idx"]
        for r in apply_url_filters(
            df, [UrlRule("lang!=en", 10), UrlRule("default", 50)]
        ).collect()
    }
    assert out == {"u1": 1, "u2": 0, "u3": 0}


# ------------------------------------------------------------------- links


def test_derive_edges_rejects_non_positive_fan_out(spark):
    from open_source_search_engine_spark.operators.links import derive_edges

    docs = spark.createDataFrame([(0, 10), (1, 20)], "doc_id long, n_chars long")
    with pytest.raises(ValueError, match="fan_out"):
        derive_edges(docs, fan_out=0)


def test_rank_join_prunes_prior_not_broadcasts_it(spark):
    """The corpus-scale prior side must reach the blend through a
    broadcast SEMI-join on the ranked ids — never a forced broadcast of
    the prior itself (driver OOM at design scale)."""
    from open_source_search_engine_spark.operators.links import static_rank_join

    results = spark.createDataFrame(
        [(1, 2.0), (2, 1.0)], "doc_id long, score double"
    )
    inlinks = spark.createDataFrame(
        [(i, i % 5 + 1) for i in range(1, 200)], "doc_id long, inlinks long"
    )
    out = static_rank_join(results, inlinks, alpha=0.1)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["inlinks"] == 2 and rows[2]["inlinks"] == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
