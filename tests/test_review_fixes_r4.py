"""Round-4 post-review fixes.

1. ``match_mode='any'`` treats a quoted phrase as ONE matchable unit:
   member-token contributions count only for docs with verified
   adjacency, and a corpus-absent phrase no longer empties the result
   (that empty is correct only under AND).
2. ``_docmeta_rows`` refetches EVERY requested id after a size-bound
   cache reset (previously cached ids silently vanished from enriched
   top-k results).
3. ``fsck_index`` reports a docstats segment committed outside the
   batch writer (manifest totals that disagree with docstats) instead of
   dying on it, and ``finalize_stats`` repairs the totals.
4. The read memo keeps the head's and an AS-OF view's frames resident
   together (time-travel alternation no longer thrashes the cache).
5. The streaming sessionizer absorbs late cross-batch events without
   rewinding ``session_end`` (bounds stay [min, max], batch-twin parity).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.plans.exec import search

SCHEMA = "repo string, path string, commit string, lang string, content string"

ANY_DOCS = [
    ("r/0", "adj.py", "c1", "python", "fast table query lookup"),
    ("r/0", "split.py", "c2", "python", "fast slow table words"),
    ("r/1", "other.py", "c3", "python", "query banana words"),
    ("r/1", "none.py", "c4", "python", "banana orange words"),
]


@pytest.fixture(scope="module", params=[False, True], ids=["plain", "bigrams"])
def any_index(request, spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp(f"anyidx{int(request.param)}"))
    docs = spark.createDataFrame(ANY_DOCS, SCHEMA)
    return build_index(
        spark,
        docs,
        root,
        n_shards=1,
        code_aware=False,
        bigram_terms=request.param,
        block_size=4,
        salt_target=1000,
    )


def _paths(spark, idx, rows):
    ds = idx.docstats.read(spark).select("doc_id", "path")
    by_id = {r["doc_id"]: r["path"] for r in ds.collect()}
    return {by_id[r["doc_id"]] for r in rows}


def test_match_any_phrase_scores_only_adjacent(spark, any_index):
    """'"fast table" query' under match-any: the adjacent doc gets phrase
    credit, the split doc matches NO unit (phrase unverified, no
    'query'), the query-only doc still matches one unit."""
    rows = search(
        spark, any_index, '"fast table" query', k=10,
        enrich=False, match_mode="any",
    ).collect()
    assert _paths(spark, any_index, rows) == {"adj.py", "other.py"}
    scores = {r["doc_id"]: r["score"] for r in rows}
    ds = any_index.docstats.read(spark).select("doc_id", "path").collect()
    by_path = {r["path"]: r["doc_id"] for r in ds}
    # adjacent doc scores phrase members + query > query alone
    assert scores[by_path["adj.py"]] > scores[by_path["other.py"]]


def test_match_any_absent_phrase_does_not_empty(spark, any_index):
    """A phrase absent from the corpus contributes nothing under
    match-any — the other unit's matches survive.  Under 'all' the same
    absence correctly empties the result."""
    rows = search(
        spark, any_index, '"banana zebra" query', k=10,
        enrich=False, match_mode="any",
    ).collect()
    assert _paths(spark, any_index, rows) == {"adj.py", "other.py"}
    assert (
        search(
            spark, any_index, '"banana zebra" query', k=10,
            enrich=False, match_mode="all",
        ).count()
        == 0
    )


def test_match_any_phrase_only_query(spark, any_index):
    """A match-any query that is ONLY a phrase returns exactly the
    adjacency-verified docs."""
    rows = search(
        spark, any_index, '"fast table"', k=10, enrich=False,
        match_mode="any",
    ).collect()
    assert _paths(spark, any_index, rows) == {"adj.py"}


def test_docmeta_rows_survives_cache_reset(spark, micro_index, monkeypatch):
    from open_source_search_engine_spark.operators import topk
    from open_source_search_engine_spark.sources.tables import MEMO

    ids = [
        r["doc_id"]
        for r in micro_index.docstats.read(spark).select("doc_id").collect()
    ]
    monkeypatch.setattr(topk, "_DOCMETA_ROW_MAX", 1)
    MEMO.clear()
    # prime the cache with one id, then request it together with fresh
    # ids: the size bound forces a reset, after which EVERY requested id
    # must still come back
    topk._docmeta_rows(spark, micro_index, ids[:1])
    got = topk._docmeta_rows(spark, micro_index, ids)
    assert set(got) == set(ids)
    MEMO.clear()


def test_fsck_reports_and_finalize_repairs_a_totals_mismatch(spark, tmp_path):
    from open_source_search_engine_spark.operators.build import finalize_stats
    from open_source_search_engine_spark.operators.stats import (
        describe_index,
        fsck_index,
    )
    from open_source_search_engine_spark.plans.exec import _stats_cached
    from open_source_search_engine_spark.sources.tables import MEMO

    docs = spark.createDataFrame(ANY_DOCS, SCHEMA)
    idx = build_index(
        spark, docs, str(tmp_path / "idx"), n_shards=1, code_aware=False
    )
    assert fsck_index(spark, idx)["ok"]
    n0 = len(ANY_DOCS)
    assert _stats_cached(spark, idx, ["banana"])[0] == n0
    # one more docstats row, committed outside the batch writer: the
    # manifest's totals do not count it
    stray = (
        idx.docstats.read(spark)
        .filter(F.col("path") == "adj.py")
        .withColumn("doc_id", F.lit(12345).cast("long"))
        .withColumn("doclen", F.lit(7))
    )
    seg = idx.docstats.write_segment(stray, label="stray")
    idx.docstats.commit(add=[seg], operation="test")
    report = fsck_index(spark, idx)  # must report, not raise
    assert not report["ok"]
    assert any("n_docs=4" in i and "rows=5" in i for i in report["issues"])
    assert describe_index(spark, idx)["collstats"]["n_docs"] == n0

    finalize_stats(spark, idx, "repair")
    assert fsck_index(spark, idx)["ok"], fsck_index(spark, idx)["issues"]
    doclens = [r["doclen"] for r in idx.docstats.read(spark).collect()]
    assert idx.view().coll == (n0 + 1, sum(doclens))
    # a cold lookup under the repaired totals: a new stats memo key
    n_docs, avgdl, _ = _stats_cached(spark, idx, ["banana"])
    assert (n_docs, avgdl) == (n0 + 1, sum(doclens) / (n0 + 1))
    assert any(k[2] == idx.view().coll for k in MEMO.keys("stats"))
    # a recount that finds nothing to change commits nothing
    v = idx.view().version
    finalize_stats(spark, idx, "noop")
    assert idx.view().version == v


def test_read_memo_keeps_head_and_pinned_versions(spark, tmp_path):
    from open_source_search_engine_spark.operators.build import Index
    from open_source_search_engine_spark.operators.timetravel import as_of

    idx = Index(str(tmp_path / "tbl"))
    t = idx.table("demo")
    s0 = t.write_segment(
        spark.createDataFrame([(1,)], "x long"), label="v0"
    )
    t.commit(add=[s0], operation="test")
    v0 = t.latest().version
    s1 = t.write_segment(
        spark.createDataFrame([(2,)], "x long"), label="v1"
    )
    t.commit(add=[s1], operation="test")
    head1 = t.read(spark)
    pinned1 = as_of(idx, v0).table("demo").read(spark)
    head2 = t.read(spark)
    pinned2 = as_of(idx, v0).table("demo").read(spark)
    # alternating head / AS-OF reads reuse BOTH memo entries — neither
    # evicts the other (time-travel entries alternate exactly like this)
    assert head2 is head1
    assert pinned2 is pinned1


class _StubState:
    def __init__(self):
        self.hasTimedOut = False
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        pass


def test_sessionize_late_event_does_not_rewind(spark):
    from open_source_search_engine_spark.streaming.stateful import (
        _sessionize_fn,
        sessionize,
    )

    fn = _sessionize_fn(gap_secs=1800, flush_timeout_secs=None)
    state = _StubState()

    def batch(ts_secs):
        return pd.DataFrame(
            {
                "event_id": list(range(len(ts_secs))),
                "ts": pd.to_datetime(ts_secs, unit="s"),
                "user_id": [7] * len(ts_secs),
                "value": [1.0] * len(ts_secs),
            }
        )

    list(fn((7,), iter([batch([100, 200])]), state))
    # a late event (t=150 < stored last=200) joins the open session
    # WITHOUT rewinding session_end
    list(fn((7,), iter([batch([150])]), state))
    start, last, n, sv = state.get
    assert last == 200 * 10**9 and start == 100 * 10**9 and n == 3
    # batch twin over the same (now complete) event set agrees
    from datetime import datetime, timezone

    events = spark.createDataFrame(
        [
            (i, datetime.fromtimestamp(t, tz=timezone.utc), 7, 1.0)
            for i, t in enumerate([100, 200, 150])
        ],
        "event_id long, ts timestamp, user_id long, value double",
    )
    row = sessionize(events, gap_secs=1800).collect()[0]
    assert int(row["session_start"].timestamp()) == 100
    assert int(row["session_end"].timestamp()) == 200
    assert row["n_events"] == 3
