"""Driver-oracle entries that exercise the STORED index engine end-to-end.

Round-1 verdict finding #1: the oracle-checked ``bm25_*`` entries computed
BM25 with an ad-hoc declarative plan over raw text, so the actual engine —
build_index -> postings/termstats segments -> plans.exec.search /
operators.topk.search_wand — was pytest-verified only.  These entries close
that hole: each one builds (once, cached on disk + in-process) a real index
over the driver ``documents`` fixture and answers through the stored-index
query paths, while the DuckDB oracle recomputes the same math from raw
text.  A green hash here certifies tokenizer, codec, block layout, salting,
stats tables, WAND pruning and tombstones against an independent engine.

Parity preconditions (checked against the fixture):
- fixture text is single-space-joined ``[a-z0-9]+`` tokens, so the code
  tokenizer (code_aware=False) and the oracle regex produce identical
  token streams, and positional phrase match == padded string-contains;
- the fixture's own ``doc_id`` is preserved by build_index (derive_ids
  keeps a pre-existing doc_id column), so results join back without an
  id-mapping table;
- scores are rounded to 4 dp on both sides AFTER aggregation, and top-k
  selection happens on the ROUNDED score (ties broken by doc_id) on both
  sides: the engine returns k+10 by exact score, then re-ranks rounded.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.build import Index, build_index
from .sources.tables import INDEX_LAYOUT
from .operators.topk import search_wand
from .plans.exec import _stats_cached, search

TOKEN_RE = "[a-z0-9]+"

# doc_ids tombstoned in the *_tomb index variant (merge-on-read entry)
TOMBSTONED_DOC_IDS = [0, 1, 2]

_CACHE: dict[tuple[str, str], Index] = {}
_ENGINE_ROOT = "/tmp/osse_engine_idx"


def _corpus_fingerprint(sf_dir: str) -> dict:
    """Cheap identity of the fixture corpus (rebuild trigger on change)."""
    import duckdb

    con = duckdb.connect()
    # content digest (r3 verdict #5): (count, sum(doc_id)) alone would
    # serve a stale index for a fixture whose TEXT changed but whose row
    # count and id sum didn't.  hash(doc_id || text) (not hash(text))
    # pins WHICH doc carries which text — a permutation-invariant digest
    # would reuse a stale index for a regenerated fixture that reassigns
    # the same texts among the same ids.
    n, s, h = con.execute(
        "SELECT count(*), coalesce(sum(doc_id), 0), "
        "coalesce(CAST(sum(hash(CAST(doc_id AS VARCHAR) || text)) "
        "AS VARCHAR), '0') FROM read_parquet(?)",
        [f"{sf_dir}/documents.parquet"],
    ).fetchone()
    con.close()
    # "cfg" busts the on-disk cache when the build configuration changes
    # (r3: bigram pair termlists for the phrase fast path; field terms
    # for the lang-boost probe tid; num:n_chars lookup termlist for
    # the index-backed sortby path); "layout" when the on-disk index
    # layout does, so a tree in an older layout is rebuilt, not adopted
    return {
        "n": int(n),
        "sum_doc_id": int(s),
        "content_hash": str(h),
        "cfg": "bigrams-fields-num-anchors-r4",
        "layout": INDEX_LAYOUT,
    }


def _docs_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver fixture (doc_id, text, lang, source, ...) -> the engine's
    north-rule corpus shape (repo, path, commit, lang, content), keeping
    the fixture's doc_id as the index doc id."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("0").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.col("n_chars"),  # indexed as the num:n_chars lookup termlist (F7/T4)
    )


def _cached_index(root: str, meta_name: str, fp: dict, build_fn) -> Index:
    """On-disk index cache keyed by fingerprint, with atomic publish —
    the ONE copy of the check/build/publish protocol every engine index
    variant shares (five hand-rolled copies had already drifted: the
    derived variants built in place and omitted the corpus fingerprint).

    ``build_fn(tmp)`` materializes the complete index under a private
    dir (``tmp`` does not exist on entry); the finished tree is RENAMED
    into place, so concurrent driver processes never observe a
    half-built index.  The loser of a publish race ADOPTS the winner's
    tree when its fingerprint matches; a stale tree is retired with a
    rename — never an rmtree of the live path, which would delete a
    racing winner's published segments out from under its readers."""
    meta_p = os.path.join(root, meta_name)
    try:
        with open(meta_p) as f:
            if json.load(f) == fp:
                return Index(root)
    except Exception:
        pass
    tmp = f"{root}.building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build_fn(tmp)
    with open(os.path.join(tmp, meta_name), "w") as f:
        json.dump(fp, f)
    for _attempt in range(2):
        try:
            os.rename(tmp, root)
            return Index(root)
        except OSError:
            try:
                with open(meta_p) as f:
                    if json.load(f) == fp:  # lost the race: adopt winner
                        shutil.rmtree(tmp, ignore_errors=True)
                        return Index(root)
            except Exception:
                pass
            trash = f"{root}.stale-{os.getpid()}"
            shutil.rmtree(trash, ignore_errors=True)
            try:
                os.rename(root, trash)
            except OSError:
                pass
            shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return Index(root)


def _base_fp(base: Index) -> dict:
    """The base index's validated fingerprint — derived variants join it
    into their own so a corpus change rebuilds the whole chain (a
    base-root-only key served stale derived copies of the OLD corpus)."""
    with open(os.path.join(base.root, "_corpus_meta.json")) as f:
        return json.load(f)


def engine_index(spark: SparkSession, sf_dir: str) -> Index:
    """The shared stored index over ``sf_dir``'s documents fixture —
    built once per corpus fingerprint, reused across entries/processes."""
    key = os.path.abspath(sf_dir)
    hit = _CACHE.get((key, "main"))
    if hit is not None:
        return hit
    fp = _corpus_fingerprint(key)
    root = os.path.join(
        _ENGINE_ROOT, hashlib.md5(key.encode()).hexdigest()[:12]
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        from .operators import links

        corpus = _docs_as_corpus(spark, key)
        # J7 LinkInfo analog: inbound anchor-text terms (anchor:<tok>)
        # indexed into the TARGET doc, over the same deterministic edge
        # rule the link_rank oracle replays
        anchors = links.anchor_postings(
            corpus, links.derive_edges(corpus, fan_out=3), n_tokens=3
        )
        build_index(
            spark,
            corpus,
            tmp,
            n_shards=2,
            code_aware=False,  # fixture text is plain lowercase tokens
            field_terms=True,  # lang:/repo: terms (F4 + the F8 boost tid)
            bigram_terms=True,  # X3: phrase pair-termlist fast path
            numeric_fields=("n_chars",),  # F7/T4: num: lookup termlist
            block_size=256,
            extra_postings=anchors,
            extra_label="anchors:first3",
        )

    idx = _cached_index(root, "_corpus_meta.json", fp, build)
    _CACHE[(key, "main")] = idx
    return idx


def engine_index_tombstoned(spark: SparkSession, sf_dir: str) -> Index:
    """Copy of the shared index with TOMBSTONED_DOC_IDS deleted
    (merge-on-read: stats still include them, results must not)."""
    key = os.path.abspath(sf_dir)
    hit = _CACHE.get((key, "tomb"))
    if hit is not None:
        return hit
    base = engine_index(spark, key)
    fp = {
        "base": base.root,
        "base_fp": _base_fp(base),
        "deleted": TOMBSTONED_DOC_IDS,
    }

    def build(tmp: str) -> None:
        from .operators.merge import delete_docs

        shutil.copytree(base.root, tmp)
        os.remove(os.path.join(tmp, "_corpus_meta.json"))
        delete_docs(spark, Index(tmp), TOMBSTONED_DOC_IDS)

    idx = _cached_index(base.root + "_tomb", "_tomb_meta.json", fp, build)
    _CACHE[(key, "tomb")] = idx
    return idx


# terms of the PageReindex 'query delete' run in the *_qdel index variant
QUERYDEL_TERMS = ["table", "join"]


def engine_index_querydel(spark: SparkSession, sf_dir: str) -> Index:
    """Copy of the shared index with every doc matching
    ``' '.join(QUERYDEL_TERMS)`` tombstoned via delete_by_query
    (PageReindex.cpp / Msg1c 'delete' mode): the docid harvest runs as a
    distributed match -> tombstone append (match_docs + delete_docs_df),
    and queries exclude the match set merge-on-read while stats stay
    pre-delete."""
    key = os.path.abspath(sf_dir)
    hit = _CACHE.get((key, "qdel"))
    if hit is not None:
        return hit
    base = engine_index(spark, key)
    fp = {
        "base": base.root,
        "base_fp": _base_fp(base),
        "qdel": QUERYDEL_TERMS,
    }

    def build(tmp: str) -> None:
        from .plans.reindex import delete_by_query

        shutil.copytree(base.root, tmp)
        os.remove(os.path.join(tmp, "_corpus_meta.json"))
        delete_by_query(spark, Index(tmp), " ".join(QUERYDEL_TERMS))

    idx = _cached_index(base.root + "_qdel", "_qdel_meta.json", fp, build)
    _CACHE[(key, "qdel")] = idx
    return idx


def engine_index_compacted(spark: SparkSession, sf_dir: str) -> Index:
    """Copy of the shared index with TOMBSTONED_DOC_IDS deleted and then
    COMPACTED: tombstones physically annihilated, blocks decoded and
    re-encoded into one merged sorted segment, stats rebuilt over the
    live docs only (R3/R4 — the oracle recomputes from the corpus with
    the deleted docs excluded entirely, stats included)."""
    key = os.path.abspath(sf_dir)
    hit = _CACHE.get((key, "compact"))
    if hit is not None:
        return hit
    base = engine_index(spark, key)
    # "v" busts caches produced by the pre-r4 compaction (which collapsed
    # the index to one WAND shard; r4 preserves doc-shard parallelism)
    fp = {
        "base": base.root,
        "base_fp": _base_fp(base),
        "deleted": TOMBSTONED_DOC_IDS,
        "op": "compact",
        "v": "r4-sharded",
    }

    def build(tmp: str) -> None:
        from .operators.merge import compact_postings, delete_docs

        shutil.copytree(base.root, tmp)
        os.remove(os.path.join(tmp, "_corpus_meta.json"))
        idx = Index(tmp)
        delete_docs(spark, idx, TOMBSTONED_DOC_IDS)
        compact_postings(spark, idx, salt_target=200, block_size=128)

    idx = _cached_index(base.root + "_compact", "_compact_meta.json", fp, build)
    _CACHE[(key, "compact")] = idx
    return idx


def engine_index_incremental(spark: SparkSession, sf_dir: str) -> Index:
    """The same corpus indexed through the INCREMENTAL path: two
    add_documents delta batches (no full build) with an aggressive
    salt_target so heavy terms split into salted sub-lists — query
    results must be identical to the one-shot build (the oracle doesn't
    know how the index was constructed)."""
    key = os.path.abspath(sf_dir)
    hit = _CACHE.get((key, "incr"))
    if hit is not None:
        return hit
    fp = _corpus_fingerprint(key)
    fp["path"] = "incremental-2batch-salted"
    root = os.path.join(
        _ENGINE_ROOT, hashlib.md5(key.encode()).hexdigest()[:12] + "_incr"
    )

    def build(tmp: str) -> None:
        from .streaming.incremental import add_documents

        os.makedirs(tmp, exist_ok=True)
        idx = Index(tmp)
        corpus = _docs_as_corpus(spark, key)
        add_documents(
            spark,
            idx,
            corpus.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0),
            code_aware=False,
            field_terms=False,
            bigram_terms=True,  # second batch inherits the feature marker
            salt_target=50,
            block_size=64,
        )
        add_documents(
            spark,
            idx,
            corpus.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1),
            code_aware=False,
            field_terms=False,
            salt_target=50,
            block_size=64,
        )

    idx = _cached_index(root, "_corpus_meta.json", fp, build)
    _CACHE[(key, "incr")] = idx
    return idx


def engine_index_minor_merged(spark: SparkSession, sf_dir: str) -> Index:
    """The incremental (2-delta) index after a TIERED minor merge
    (compact_deltas keep_largest=0): both delta segments rewritten into
    one sorted shard-pure segment, stats and tombstones untouched —
    query results must equal the unmerged index's (same oracle as
    engine_incremental)."""
    key = os.path.abspath(sf_dir)
    hit = _CACHE.get((key, "minor"))
    if hit is not None:
        return hit
    base = engine_index_incremental(spark, key)
    fp = {
        "base": base.root,
        "base_fp": _base_fp(base),
        "op": "minor",
        "v": "r4",
    }

    def build(tmp: str) -> None:
        from .operators.merge import compact_deltas

        shutil.copytree(base.root, tmp)
        os.remove(os.path.join(tmp, "_corpus_meta.json"))
        idx = Index(tmp)
        n = compact_deltas(spark, idx, keep_largest=0, salt_target=50, block_size=64)
        assert n >= 2, f"expected >=2 segments merged, got {n}"

    idx = _cached_index(base.root + "_minor", "_minor_meta.json", fp, build)
    _CACHE[(key, "minor")] = idx
    return idx


def engine_index_collection(spark: SparkSession, sf_dir: str, name: str) -> Index:
    """One of the two COLLECTION indexes (SURVEY §1 "collections" =
    independent namespaces, Collectiondb.cpp): the fixture corpus is
    split by ``pmod(doc_id, 2)`` and each half is indexed as its own
    fully independent Index root — separate postings, stats, deletes.
    A term's idf/avgdl in one collection owes nothing to the other."""
    parity = {"even": 0, "odd": 1}[name]
    key = os.path.abspath(sf_dir)
    hit = _CACHE.get((key, f"coll_{name}"))
    if hit is not None:
        return hit
    fp = {
        "base_fp": _corpus_fingerprint(key),
        "collection": name,
        "split": "pmod2",
        "cfg": "plain-r4",
    }
    root = os.path.join(
        _ENGINE_ROOT, hashlib.md5(key.encode()).hexdigest()[:12] + f"_coll_{name}"
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        corpus = _docs_as_corpus(spark, key).filter(
            F.pmod(F.col("doc_id"), F.lit(2)) == parity
        )
        build_index(
            spark,
            corpus,
            tmp,
            n_shards=2,
            code_aware=False,
            field_terms=False,
            bigram_terms=False,
            block_size=256,
        )

    idx = _cached_index(root, "_coll_meta.json", fp, build)
    _CACHE[(key, f"coll_{name}")] = idx
    return idx


def q_engine_federated(spark, sf_dir):
    """Multi-collection federated search (the ``&c=even+odd`` SERP,
    Msg40 across Collectiondb namespaces): the same query answered from
    TWO independent collection indexes — each scored with its own
    collection's stats — merged into one global top-10.  The oracle
    recomputes BM25 per corpus half (per-half N/avgdl/df) and merges."""
    from .plans.federate import search_collections

    colls = {
        "even": engine_index_collection(spark, sf_dir, "even"),
        "odd": engine_index_collection(spark, sf_dir, "odd"),
    }
    res = search_collections(spark, colls, "spark join", k=20, enrich=False)
    return (
        res.select("collection", "doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def _sql_engine_federated(terms: list[str], k: int = 10) -> str:
    """Per-collection BM25: stats (N, avgdl, df) computed WITHIN each
    pmod-2 half; global merge on the rounded score (ties by doc_id —
    ids are globally unique across collections)."""
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH d AS (
  SELECT doc_id, doc_id % 2 AS coll,
         regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
),
dd AS (SELECT doc_id, coll, CAST(len(toks) AS DOUBLE) AS doclen, toks FROM d),
stats AS (
  SELECT coll, CAST(count(*) AS DOUBLE) AS n, avg(doclen) AS avgdl
  FROM dd GROUP BY coll
),
occ AS (SELECT doc_id, coll, doclen, unnest(toks) AS term FROM dd),
tf AS (
  SELECT doc_id, coll, term, doclen, CAST(count(*) AS DOUBLE) AS tf
  FROM occ WHERE term IN ({tl})
  GROUP BY doc_id, coll, term, doclen
),
dfx AS (
  SELECT coll, term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY coll, term
),
scored AS (
  SELECT tf.doc_id, tf.coll, count(*) AS nt,
         sum( ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
            * tf.tf * 2.2
            / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doclen / stats.avgdl)) ) AS s
  FROM tf
  JOIN dfx ON dfx.coll = tf.coll AND dfx.term = tf.term
  JOIN stats ON stats.coll = tf.coll
  GROUP BY tf.doc_id, tf.coll
)
SELECT CASE WHEN coll = 0 THEN 'even' ELSE 'odd' END AS collection,
       doc_id, round(s, 4) AS score
FROM scored WHERE nt = {len(terms)}
ORDER BY score DESC, doc_id
LIMIT {k}
"""


SQL_ENGINE_FEDERATED = _sql_engine_federated(["spark", "join"])

FED_BATCH_ITEMS = [("spark join", ["spark", "join"]), ("table", ["table"])]


def q_engine_federated_batch(spark, sf_dir):
    """Batch × federation: TWO queries answered from TWO collection
    indexes in two one-job batch plans (one per collection), merged
    per-query — C jobs for N×C query-collection pairs.  The oracle is
    the per-query federated SQL, labelled and UNION ALL'd."""
    from pyspark.sql import Window

    from .plans.federate import search_collections_batch

    colls = {
        "even": engine_index_collection(spark, sf_dir, "even"),
        "odd": engine_index_collection(spark, sf_dir, "odd"),
    }
    res = search_collections_batch(
        spark, colls, [q for q, _t in FED_BATCH_ITEMS], k=20, enrich=False
    )
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        res.select(
            "query", "collection", "doc_id", F.round("score", 4).alias("score")
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .drop("_rn")
        .orderBy("query", F.desc("score"), F.asc("doc_id"))
    )


def _sql_engine_federated_batch() -> str:
    return (
        " UNION ALL ".join(
            f"SELECT '{lbl}' AS query, t.collection, t.doc_id, t.score "
            f"FROM ({_sql_engine_federated(terms, k=10)}) t"
            for lbl, terms in FED_BATCH_ITEMS
        )
        + " ORDER BY query, score DESC, doc_id"
    )


def q_engine_minor_merge(spark, sf_dir):
    """R3 tiered mode under the oracle: the RdbBase subset-merge —
    delta segments merged WITHOUT annihilation or stats rebuild; the
    oracle (identical to engine_incremental's) certifies the merge is a
    pure physical rewrite."""
    idx = engine_index_minor_merged(spark, sf_dir)
    return _round_topk(search_wand(spark, idx, "spark join", k=20, enrich=False), 10)


def _round_topk(results: DataFrame, k: int) -> DataFrame:
    """Re-rank by ROUNDED score (ties by doc_id) to mirror the oracle's
    ``ORDER BY round(s,4) DESC, doc_id LIMIT k`` selection exactly."""
    return (
        results.select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# BM25 through the WAND fast path (operators.topk.search_wand)
# ---------------------------------------------------------------------------
def q_engine_bm25_single(spark, sf_dir):
    idx = engine_index(spark, sf_dir)
    return _round_topk(search_wand(spark, idx, "spark", k=20, enrich=False), 10)


def q_engine_bm25_and2(spark, sf_dir):
    idx = engine_index(spark, sf_dir)
    return _round_topk(search_wand(spark, idx, "spark join", k=20, enrich=False), 10)


def q_engine_bm25_and3(spark, sf_dir):
    idx = engine_index(spark, sf_dir)
    return _round_topk(
        search_wand(spark, idx, "hash merge sort", k=20, enrich=False), 10
    )


def q_engine_term_weight(spark, sf_dir):
    """User term weights through the WAND kernel (Query.cpp m_userWeight
    / the qw query operator): ``join^3 spark`` triples join's idf inside
    the kernel's slot scoring AND its block-max bounds (weight*idf is the
    quantity both use, so pruning stays sound for any positive weight).
    The oracle replays BM25 with the same per-term idf multiplier."""
    idx = engine_index(spark, sf_dir)
    return _round_topk(
        search_wand(spark, idx, "join^3 spark", k=20, enrich=False), 10
    )


def q_engine_bm25_neg(spark, sf_dir):
    idx = engine_index(spark, sf_dir)
    return _round_topk(search_wand(spark, idx, "table -join", k=20, enrich=False), 10)


def q_engine_bm25_or(spark, sf_dir):
    """OR-group through the WAND kernel (slot-max member scoring, U3);
    the general plan covers the same query class via engine_bm25_exhaustive."""
    idx = engine_index(spark, sf_dir)
    return _round_topk(
        search_wand(spark, idx, "vector OR stream", k=20, enrich=False), 10
    )


# ---------------------------------------------------------------------------
# BM25 through the general DataFrame plan (plans.exec.search)
# ---------------------------------------------------------------------------


def q_engine_bm25_exhaustive(spark, sf_dir):
    """Same query as engine_bm25_and2 via the exhaustive plan — the
    driver-checked analog of test_wand_equals_exhaustive."""
    idx = engine_index(spark, sf_dir)
    return _round_topk(search(spark, idx, "spark join", k=20, enrich=False), 10)


def q_engine_search_after(spark, sf_dir):
    """T3 at scale: keyset deep paging (search_after cursor) through the
    WAND kernel.  Page 2 is fetched WITHOUT offset — the previous page's
    last exact (score, doc_id) becomes an admission predicate on the
    kernel heap, so every page is one O(k)-memory kernel pass and the
    block-max prune still applies (page 50 costs the same as page 1; an
    offset(n) plan must merge n+k rows per shard).  The oracle replays
    the full ranking and takes the OFFSET page — certifying that the
    cursor page tiles the ranking exactly where offset paging would.

    Gigablast analog: the s=/n= CGI paging params over the TopTree
    (Msg40 re-runs the query with a larger docsToGet and slices); the
    cursor variant is the form that stays O(k) on a sharded index."""
    idx = engine_index(spark, sf_dir)
    page1 = search_wand(spark, idx, "spark join", k=10, enrich=False).collect()
    last = page1[-1]
    page2 = search_wand(
        spark, idx, "spark join", k=10, enrich=False,
        after=(float(last["score"]), int(last["doc_id"])),
    )
    return _round_topk(page2, 10)


def q_engine_phrase(spark, sf_dir):
    """J4 through stored positions — since r4 via the WAND KERNEL path
    (search_wand): the bigram pair termlist joins the intersect loop as a
    zero-weight candidate-source slot and adjacency is verified in-kernel
    from the per-doc delta+varint position streams.  The general plan's
    phrase path stays certified by the pytest parity matrix
    (test_phrase_bigram.py) and the golden set."""
    from .operators.topk import search_wand

    idx = engine_index(spark, sf_dir)
    res = search_wand(spark, idx, '"fast table"', k=10_000, enrich=False)
    return res.select("doc_id").orderBy("doc_id")


def q_engine_bm25_batch(spark, sf_dir):
    """Msg39 multicast analog: THREE queries (plain AND, 3-term AND, and
    an OR-group) answered in ONE Spark job via search_wand_batch — one
    pruned union scan, per-shard kernel re-run per query, one window for
    per-query top-k.  The oracle recomputes each query's BM25 from raw
    text and UNION ALLs the labelled result sets."""
    from .operators.topk import search_wand_batch
    from pyspark.sql import Window

    idx = engine_index(spark, sf_dir)
    res = search_wand_batch(
        spark,
        idx,
        ["spark", "hash merge sort", "vector OR stream"],
        k=20,
        enrich=False,
    )
    w = Window.partitionBy("query").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        res.select("query", "doc_id", F.round("score", 4).alias("score"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .drop("_rn")
        .orderBy("query", F.desc("score"), F.asc("doc_id"))
    )


def q_engine_synonyms(spark, sf_dir):
    """X5 through the WAND kernel: 'merge batch' with merge expanded to
    the weighted OR-group {merge:1.0, join:0.9, sort:0.7} — synonym hits
    score at a discount and can never beat the exact term in an equal
    doc; the oracle replays the same expansion in SQL."""
    idx = engine_index(spark, sf_dir)
    table = {"merge": [("join", 0.9), ("sort", 0.7)]}
    return _round_topk(
        search_wand(spark, idx, "merge batch", k=20, enrich=False, synonyms=table),
        10,
    )


SQL_ENGINE_SYNONYMS = f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
),
dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS doclen, toks FROM d),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(doclen) AS avgdl FROM dd),
occ AS (SELECT doc_id, doclen, unnest(toks) AS term FROM dd),
tf AS (
  SELECT doc_id, term, doclen, CAST(count(*) AS DOUBLE) AS tf
  FROM occ WHERE term IN ('merge', 'join', 'sort', 'batch')
  GROUP BY doc_id, term, doclen
),
dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id, tf.term,
         (CASE tf.term WHEN 'join' THEN 0.9 WHEN 'sort' THEN 0.7 ELSE 1.0 END)
         * ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * tf.tf * 2.2
         / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doclen / stats.avgdl)) AS c
  FROM tf JOIN dfx USING (term) CROSS JOIN stats
),
slot1 AS (
  SELECT doc_id, max(c) AS s1 FROM contrib
  WHERE term IN ('merge', 'join', 'sort') GROUP BY doc_id
),
slot2 AS (SELECT doc_id, max(c) AS s2 FROM contrib WHERE term = 'batch' GROUP BY doc_id)
SELECT doc_id, round(s1 + s2, 4) AS score
FROM slot1 JOIN slot2 USING (doc_id)
ORDER BY score DESC, doc_id LIMIT 10
"""


def q_engine_lang_boost(spark, sf_dir):
    """F8 through the WAND kernel: 'table' with English docs scoring at
    1.5x — the boost rides the lang:en field-term postings as a probe tid
    and scales the block prune bound (sound for factor >= 1); the oracle
    replays the multiplier from the raw lang column."""
    idx = engine_index(spark, sf_dir)
    return _round_topk(
        search_wand(
            spark, idx, "table", k=20, enrich=False, lang_boost=("en", 1.5)
        ),
        10,
    )


def q_engine_proximity(spark, sf_dir):
    """W4 two-phase proximity re-rank (evalSlidingWindow): BM25 top-500
    candidates of 'spark join' get the 1 + w/(1 + minspan - 1) bonus —
    500 >= the query's 325 total matches, so every match is re-ranked and
    the closed-form oracle is exact, not an approximation."""
    idx = engine_index(spark, sf_dir)
    res = search(
        spark, idx, "spark join", k=50, enrich=False, proximity_bonus=0.5
    )
    return _round_topk(res, 10)


def q_engine_latest_wins(spark, sf_dir):
    """U4/R4: merge-on-read tombstones — deleted docs excluded from
    results while stats (idf/avgdl) still reflect the pre-delete corpus,
    exactly the LSM visibility rule between delete and compaction."""
    idx = engine_index_tombstoned(spark, sf_dir)
    return _round_topk(search_wand(spark, idx, "table", k=20, enrich=False), 10)


def q_engine_query_delete(spark, sf_dir):
    """PageReindex 'query delete' (Msg1c) end-to-end: delete_by_query
    tombstones EVERY doc matching 'table join' (distributed match-docs
    harvest -> tombstone segment, nothing on the driver), then a 'table'
    query answers merge-on-read — match-set docs excluded from results
    while idf/avgdl still reflect the pre-delete corpus.  The oracle
    derives the exclusion from the SAME query (docs containing both
    terms), not a literal id list, so it transfers across scale
    factors."""
    idx = engine_index_querydel(spark, sf_dir)
    return _round_topk(search_wand(spark, idx, "table", k=20, enrich=False), 10)


# ---------------------------------------------------------------------------
# Index-backed aggregates / serp ops
# ---------------------------------------------------------------------------
def _matched_docs(spark, idx: Index, terms: list[str]) -> DataFrame:
    """doc_ids matching ALL terms, straight from decoded postings."""
    from .operators.merge import decode_to_postings

    _n, _a, stats = _stats_cached(spark, idx, terms)
    if len(stats) < len(terms):
        return spark.createDataFrame([], "doc_id long")
    ids = [stats[t][0] for t in terms]
    blocks = idx.postings.read_pruned(spark, ids)
    if blocks is None:
        return spark.createDataFrame([], "doc_id long")
    rows = decode_to_postings(
        blocks.filter(F.col("term_id").isin(ids)),
        with_positions=False,
    )
    return (
        rows.groupBy("doc_id")
        .agg(F.countDistinct("term_id").alias("nt"))
        .filter(F.col("nt") == len(set(ids)))
        .select("doc_id")
    )


def q_engine_compacted(spark, sf_dir):
    """R3/R4 under the oracle: delete + compact, then query — blocks
    decoded/re-merged/re-encoded, tombstones physically gone, stats
    rebuilt; the oracle recomputes from the corpus minus the deleted
    docs (stats and all)."""
    idx = engine_index_compacted(spark, sf_dir)
    return _round_topk(search_wand(spark, idx, "table", k=20, enrich=False), 10)


def q_engine_time_travel(spark, sf_dir):
    """Iceberg-style AS-OF read (operators/timetravel.py): the compacted
    index — which has delete + compact mutations on top of the shared
    build — queried AT the pre-mutation manifest version.  Results must
    equal the never-mutated full-corpus BM25 (the oracle): commits only
    add manifests and never delete segment files, so history stays
    readable (the audit/reproducibility read a training pipeline needs;
    no Rdb analog — the reference keeps only the live file set)."""
    from .operators.timetravel import as_of, index_versions

    base = engine_index(spark, sf_dir)
    version = index_versions(base)
    comp = engine_index_compacted(spark, sf_dir)
    return _round_topk(
        search_wand(spark, as_of(comp, version), "table", k=20, enrich=False), 10
    )


def q_engine_incremental(spark, sf_dir):
    """R1/S3 under the oracle: the corpus indexed as two add_documents
    delta batches with aggressive salting (salt_target=50) — results
    must equal the one-shot build's (same oracle SQL)."""
    idx = engine_index_incremental(spark, sf_dir)
    return _round_topk(search_wand(spark, idx, "spark join", k=20, enrich=False), 10)


def q_engine_changelog(spark, sf_dir):
    """Snapshot CDC (operators/changelog.py — the Iceberg incremental
    read, dual of engine_time_travel's AS-OF): live-set changes between
    two manifest versions, exercised on BOTH real mutation histories the
    fixtures carry — the removed side diffs the tombstoned variant across
    its delete commit (from = the shared index's head, which the variant
    copied), the added side diffs the incremental variant across its
    second add batch (docstats v[0] -> v[-1], the odd-doc_id half).  Both
    windows are append-only, so both ride the segment-diff fast path; the
    oracle replays the two mutation rules straight from the raw corpus."""
    from .operators.changelog import index_changes
    from .operators.timetravel import index_versions

    tomb = engine_index_tombstoned(spark, sf_dir)
    v_from = index_versions(engine_index(spark, sf_dir))
    removed = index_changes(spark, tomb, v_from)

    incr = engine_index_incremental(spark, sf_dir)
    hist = incr.docstats.history()
    added = index_changes(spark, incr, hist[0], hist[-1])

    return (
        removed.unionByName(added)
        .select("doc_id", "repo", "path", "change")
        .orderBy("change", "doc_id")
    )


def _sql_engine_changelog() -> str:
    tl = ", ".join(str(i) for i in TOMBSTONED_DOC_IDS)
    return f"""
WITH m AS (
  SELECT doc_id, source AS repo,
         'doc/' || CAST(doc_id AS VARCHAR) AS path
  FROM documents
)
SELECT doc_id, repo, path, 'added' AS change FROM m WHERE doc_id % 2 = 1
UNION ALL
SELECT doc_id, repo, path, 'removed' AS change FROM m WHERE doc_id IN ({tl})
ORDER BY change, doc_id
"""


def q_engine_boolean(spark, sf_dir):
    """U1 nested boolean over the index: parens + AND/OR/NOT evaluated
    per doc from the postings presence sets (Expression::isTruth)."""
    from .plans.boolean import search_boolean

    idx = engine_index(spark, sf_dir)
    return search_boolean(spark, idx, "(spark OR join) AND NOT (table AND fast)")


SQL_ENGINE_BOOLEAN = f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
)
SELECT doc_id FROM d
WHERE (list_contains(toks, 'spark') OR list_contains(toks, 'join'))
  AND NOT (list_contains(toks, 'table') AND list_contains(toks, 'fast'))
ORDER BY doc_id
"""


def q_engine_total_hits(spark, sf_dir):
    """A6 from the index: exact hit count of a conjunctive query."""
    idx = engine_index(spark, sf_dir)
    return _matched_docs(spark, idx, ["spark", "join"]).agg(
        F.count("*").alias("total_hits")
    )


def q_engine_facets(spark, sf_dir):
    """A4 from the index: lang facet counts over ALL matches of 'join'
    via plans.serp.facets_for_query (per-shard partials -> final agg)."""
    from .plans.serp import facets_for_query

    idx = engine_index(spark, sf_dir)
    return facets_for_query(spark, idx, "join", fields=["lang"])




def q_engine_gigabits(spark, sf_dir):
    """A7 index-backed: related terms from a candidate sample — postings
    pick the 50 lowest-doc_id matches of 'spark' (index seek, no corpus
    scan), Msg20-style content fetch for just those docs, then term
    counts (the reference computes gigabits from the top results'
    summaries, not the whole corpus)."""
    idx = engine_index(spark, sf_dir)
    cand = _matched_docs(spark, idx, ["spark"]).orderBy("doc_id").limit(50)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").join(
        F.broadcast(cand), "doc_id"
    )
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), F.lit(0))
    return (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(20)
    )


def q_engine_sortby(spark, sf_dir):
    """F7/T4 index-backed: top-25 docs by n_chars descending with a floor
    of 200, answered ENTIRELY from the stored num:n_chars lookup termlist
    (plans.sortby.search_sortby — pruned postings scan, max_tf block
    prune, no docstats or corpus scan).  The oracle reads the raw column."""
    from .plans.sortby import search_sortby

    idx = engine_index(spark, sf_dir)
    res = search_sortby(
        spark, idx, "n_chars", ascending=False, k=25, min_value=200
    )
    return res.select("doc_id", F.col("value").cast("long").alias("value"))


SQL_ENGINE_SORTBY = """
SELECT doc_id, n_chars AS value FROM documents
WHERE n_chars >= 200
ORDER BY value DESC, doc_id LIMIT 25
"""


# ---------------------------------------------------------------------------
# Oracle SQL twins (DuckDB over the same parquet fixtures)
# ---------------------------------------------------------------------------
def _bm25_engine_oracle(
    terms: list[str],
    k: int = 10,
    mode: str = "and",
    neg_terms: list[str] | None = None,
    exclude_doc_ids: list[int] | None = None,
    exclude_match_terms: list[str] | None = None,
    exclude_from_corpus: list[int] | None = None,
    lang_boost: tuple[str, float] | None = None,
    offset: int = 0,
    weights: dict[str, float] | None = None,
) -> str:
    """BM25 recomputed from raw text with the engine's semantics: global
    stats over ALL docs, idf = ln(1+(N-df+.5)/(df+.5)), k1=1.2 b=0.75,
    top-k on the ROUNDED score.  ``exclude_doc_ids`` models merge-on-read
    tombstones: excluded from results, still inside the stats.

    mode='or' replicates the engine's OR-GROUP semantics (Gigablast
    QueryTermInfo synonym groups, U3): the terms share ONE slot scored as
    the MAX member contribution, not a disjunctive sum — hence the agg
    switches from sum to max.

    ``exclude_from_corpus`` removes docs from the corpus ENTIRELY
    (stats included) — post-compaction semantics, vs the merge-on-read
    ``exclude_doc_ids``."""
    tl = ", ".join(f"'{t}'" for t in terms)
    # user term weights (term^W, Query.cpp m_userWeight): scale the
    # term's idf contribution — same place the engine applies weight*idf
    wexpr = ""
    if weights:
        cases = " ".join(
            f"WHEN '{t}' THEN {float(w)!r}" for t, w in sorted(weights.items())
        )
        wexpr = f"(CASE tf.term {cases} ELSE 1.0 END) * "
    corpus_where = ""
    if exclude_from_corpus:
        cl = ", ".join(str(i) for i in exclude_from_corpus)
        corpus_where = f"WHERE doc_id NOT IN ({cl})"
    nt_pred = f"nt = {len(terms)}" if mode == "and" else "nt >= 1"
    agg = "sum" if mode == "and" else "max"
    neg = ""
    if neg_terms:
        nl = ", ".join(f"'{t}'" for t in neg_terms)
        neg = (
            f" AND scored.doc_id NOT IN (SELECT DISTINCT doc_id FROM occ "
            f"WHERE term IN ({nl}))"
        )
    excl = ""
    if exclude_doc_ids:
        el = ", ".join(str(i) for i in exclude_doc_ids)
        excl = f" AND scored.doc_id NOT IN ({el})"
    if exclude_match_terms:
        # merge-on-read tombstones derived from a QUERY (delete_by_query /
        # PageReindex): exclude every doc containing ALL of these terms —
        # results only, stats untouched — so the oracle transfers across
        # scale factors without a hard-coded id list
        ml = ", ".join(f"'{t}'" for t in exclude_match_terms)
        excl += (
            f" AND scored.doc_id NOT IN (SELECT doc_id FROM occ "
            f"WHERE term IN ({ml}) GROUP BY doc_id "
            f"HAVING count(DISTINCT term) = {len(set(exclude_match_terms))})"
        )
    # offset pages must tile the EXACT-score ranking (the engine's page
    # boundary is exact rank k, its cursor an exact (score, doc_id)) —
    # ordering a page boundary by the ROUNDED score could swap two docs
    # that tie at 4 dp across the boundary and flip page membership.
    # Page-1 entries (offset=0) keep the rounded ordering their green
    # hashes were certified under (same top-k set either way at k<<N).
    exact_order = offset > 0
    if lang_boost is not None:
        bl, bf = lang_boost
        boosted = f"s * (CASE WHEN d2.lang = '{bl}' THEN {bf} ELSE 1.0 END)"
        order = f"{boosted} DESC" if exact_order else "score DESC"
        final = f"""
SELECT scored.doc_id,
       round({boosted}, 4) AS score
FROM scored JOIN documents d2 ON d2.doc_id = scored.doc_id
WHERE {nt_pred}{neg}{excl}
ORDER BY {order}, scored.doc_id
LIMIT {k} OFFSET {offset}"""
    else:
        order = "s DESC" if exact_order else "score DESC"
        final = f"""
SELECT doc_id, round(s, 4) AS score
FROM scored WHERE {nt_pred}{neg}{excl}
ORDER BY {order}, doc_id
LIMIT {k} OFFSET {offset}"""
    return f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents {corpus_where}
),
dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS doclen, toks FROM d),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(doclen) AS avgdl FROM dd),
occ AS (SELECT doc_id, doclen, unnest(toks) AS term FROM dd),
tf AS (
  SELECT doc_id, term, doclen, CAST(count(*) AS DOUBLE) AS tf
  FROM occ WHERE term IN ({tl})
  GROUP BY doc_id, term, doclen
),
dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, count(*) AS nt,
         {agg}( {wexpr}ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
              * tf.tf * 2.2
              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doclen / stats.avgdl)) ) AS s
  FROM tf JOIN dfx USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
){final}
"""


# W4: BM25 + two-phase proximity bonus for 'spark join', closed form —
# minspan of a 2-slot query is min |p_a - p_b| over the two position
# lists; bonus = 1 + w/(1 + minspan - (n_slots-1)) with w=0.5.  The
# engine re-ranks its top-500 base-score candidates, which covers ALL
# matches of this query at the driver fixture size, so the oracle over
# every match is exact (not an approximation of the re-rank window).
# oracle for q_engine_search_after: the OFFSET page of the full ranking
# (defined here, after _bm25_engine_oracle, so module import stays linear)
SQL_ENGINE_SEARCH_AFTER = _bm25_engine_oracle(["spark", "join"], k=10, offset=10)

SQL_ENGINE_PROXIMITY = f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
),
dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS doclen, toks FROM d),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(doclen) AS avgdl FROM dd),
pos AS (
  SELECT doc_id, doclen, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS p
  FROM dd
),
tf AS (
  SELECT doc_id, term, doclen, CAST(count(*) AS DOUBLE) AS tf
  FROM pos WHERE term IN ('spark', 'join')
  GROUP BY doc_id, term, doclen
),
dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, count(*) AS nt,
         sum( ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
            * tf.tf * 2.2
            / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doclen / stats.avgdl)) ) AS s
  FROM tf JOIN dfx USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
),
p1 AS (SELECT doc_id, list(p) AS ps FROM pos WHERE term = 'spark' GROUP BY doc_id),
p2 AS (SELECT doc_id, list(p) AS ps FROM pos WHERE term = 'join' GROUP BY doc_id),
spans AS (
  SELECT p1.doc_id,
         list_min(flatten(list_transform(p1.ps,
           a -> list_transform(p2.ps, b -> abs(a - b))))) AS minspan
  FROM p1 JOIN p2 USING (doc_id)
)
SELECT scored.doc_id,
       round(s * (1.0 + 0.5 / (1.0 + minspan - 1.0)), 4) AS score
FROM scored JOIN spans ON spans.doc_id = scored.doc_id
WHERE nt = 2
ORDER BY score DESC, scored.doc_id LIMIT 10
"""

SQL_ENGINE_PHRASE = """
SELECT doc_id FROM documents
WHERE contains(' ' || lower(text) || ' ', ' fast table ')
ORDER BY doc_id
"""

SQL_ENGINE_TOTAL_HITS = f"""
SELECT count(*) AS total_hits FROM documents
WHERE list_contains(regexp_extract_all(lower(text), '{TOKEN_RE}'), 'spark')
  AND list_contains(regexp_extract_all(lower(text), '{TOKEN_RE}'), 'join')
"""

SQL_ENGINE_FACETS = f"""
SELECT 'lang' AS field, lang AS value, count(*) AS n
FROM documents
WHERE list_contains(regexp_extract_all(lower(text), '{TOKEN_RE}'), 'join')
GROUP BY lang ORDER BY field, n DESC, value
"""

SQL_ENGINE_GIGABITS = f"""
WITH matched AS (
  SELECT doc_id, text FROM documents
  WHERE list_contains(regexp_extract_all(lower(text), '{TOKEN_RE}'), 'spark')
  ORDER BY doc_id LIMIT 50
)
SELECT term, count(*) AS cnt
FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
      FROM matched)
GROUP BY term ORDER BY cnt DESC, term LIMIT 20
"""


MLT_DOC_ID = 7
MLT_M_TERMS = 5


def q_engine_link_rank(spark, sf_dir):
    """J7 through the STORED index: WAND top-50 base (rounded-score
    selection), then the broadcast static-rank blend of inlink counts —
    the Msg25/siteNumInlinks prior applied to a real index-backed serp.
    Gigablast packs siterank into the posdb key; the Spark analog keeps
    it a broadcast rank join over the bounded top-k, which preserves
    WAND admissibility (the prior re-ranks a fetched window, it never
    has to inflate kernel upper bounds)."""
    from .operators import links

    idx = engine_index(spark, sf_dir)
    base = _round_topk(search_wand(spark, idx, "table", k=60, enrich=False), 50)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ranks = links.inlink_counts(links.derive_edges(docs, fan_out=3))
    return links.static_rank_join(base, ranks, alpha=0.1, k=20)


def _sql_engine_link_rank() -> str:
    # identical blend as entry_queries._sql_link_rank, over the ENGINE
    # BM25 oracle (stored-index scoring semantics) as the base
    return f"""
WITH base AS ({_bm25_engine_oracle(["table"], k=50)}),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
edges AS (
  SELECT DISTINCT d.doc_id AS src_doc_id,
         ((d.doc_id * 131 + d.n_chars + j.j * 37) % nn.n_total) AS dst_doc_id
  FROM documents d CROSS JOIN nn CROSS JOIN (VALUES (0), (1), (2)) AS j(j)
  WHERE ((d.doc_id * 131 + d.n_chars + j.j * 37) % nn.n_total) <> d.doc_id
),
inl AS (SELECT dst_doc_id AS doc_id, CAST(count(*) AS BIGINT) AS inlinks
        FROM edges GROUP BY dst_doc_id)
SELECT b.doc_id,
       coalesce(inl.inlinks, 0) AS inlinks,
       round(b.score * (1.0 + 0.1 * ln(1.0 + coalesce(inl.inlinks, 0))), 4) AS rank_score
FROM base b LEFT JOIN inl USING (doc_id)
ORDER BY rank_score DESC, doc_id
LIMIT 20
"""


def q_engine_anchor(spark, sf_dir):
    """J7 LinkInfo parity: inbound anchor-text retrieval from the STORED
    index.  The build injected ``anchor:<tok>`` termlists (first-3 tokens
    of each inlinking doc, counted per target — XmlDoc::hashLinkInfo's
    anchor words hashed into the target's posdb lists), so this is ONE
    pruned termlist scan: docs most-cited-with 'the', no link-graph
    recompute, no corpus scan.  The oracle rebuilds the whole chain from
    raw text: closed-form edges -> src head tokens -> count per target."""
    from .operators import links

    idx = engine_index(spark, sf_dir)
    return links.search_anchor(spark, idx, "the", k=15, enrich=False)


SQL_ENGINE_ANCHOR = """
WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
edges AS (
  SELECT DISTINCT d.doc_id AS src_doc_id,
         ((d.doc_id * 131 + d.n_chars + j.j * 37) % nn.n_total) AS dst_doc_id
  FROM documents d CROSS JOIN nn CROSS JOIN (VALUES (0), (1), (2)) AS j(j)
  WHERE ((d.doc_id * 131 + d.n_chars + j.j * 37) % nn.n_total) <> d.doc_id
),
heads AS (
  SELECT doc_id AS src_doc_id,
         unnest(list_slice(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1, 3)) AS tok
  FROM documents
)
SELECT e.dst_doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_anchor
FROM edges e JOIN heads h USING (src_doc_id)
WHERE h.tok = 'the'
GROUP BY e.dst_doc_id
ORDER BY n_anchor DESC, doc_id
LIMIT 15
"""


def q_engine_anchor_boost(spark, sf_dir):
    """The RANKING half of LinkInfo: a doc cited with the query term in
    inbound anchor text outranks an equal body match (Gigablast weights
    anchor-text term matches above body matches).  WAND top-50 base for
    'table' (rounded-score selection), then a broadcast blend of the
    stored anchor:table termlist — term-SPECIFIC anchor evidence, vs
    engine_link_rank's query-independent popularity prior."""
    from .operators import links

    idx = engine_index(spark, sf_dir)
    base = _round_topk(search_wand(spark, idx, "table", k=60, enrich=False), 50)
    return links.anchor_rank_join(
        base, links.anchor_counts(spark, idx, "table"), beta=0.2, k=20
    )


def _sql_engine_anchor_boost() -> str:
    return f"""
WITH base AS ({_bm25_engine_oracle(["table"], k=50)}),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
edges AS (
  SELECT DISTINCT d.doc_id AS src_doc_id,
         ((d.doc_id * 131 + d.n_chars + j.j * 37) % nn.n_total) AS dst_doc_id
  FROM documents d CROSS JOIN nn CROSS JOIN (VALUES (0), (1), (2)) AS j(j)
  WHERE ((d.doc_id * 131 + d.n_chars + j.j * 37) % nn.n_total) <> d.doc_id
),
heads AS (
  SELECT doc_id AS src_doc_id,
         unnest(list_slice(regexp_extract_all(lower(text), '[a-z0-9_]+'), 1, 3)) AS tok
  FROM documents
),
anch AS (
  SELECT e.dst_doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_anchor
  FROM edges e JOIN heads h USING (src_doc_id)
  WHERE h.tok = 'table' GROUP BY e.dst_doc_id
)
SELECT b.doc_id,
       coalesce(a.n_anchor, 0) AS n_anchor,
       round(b.score * (1.0 + 0.2 * ln(1.0 + coalesce(a.n_anchor, 0))), 4) AS boost_score
FROM base b LEFT JOIN anch a USING (doc_id)
ORDER BY boost_score DESC, doc_id
LIMIT 20
"""


# Java-regex ∩ RE2 subset (scrub.py contract): classes, greedy +,
# literal run " join " whose interior fragment is the required token
REGEX_PATTERN = "[a-z0-9]+ join [a-z0-9]+"


def q_engine_regex(spark, sf_dir):
    """Indexed regex search — grep-at-scale (plans/regex.py; the Google
    Code Search / Zoekt prefilter shape over WORD termlists, no
    reference analog).  The pattern's required literal token ('join')
    is intersected from the bloom-pruned stored termlists; the regex
    itself runs only on the candidate docs semi-joined back into the
    source corpus table.  Oracle = a full-scan regexp over raw text, so
    a green hash proves the prefilter lost no matching doc (100%
    recall) AND the Java/RE2 match-count parity."""
    from .plans.regex import regex_search

    idx = engine_index(spark, sf_dir)
    corpus = _docs_as_corpus(spark, sf_dir)
    return regex_search(spark, idx, corpus, REGEX_PATTERN)


SQL_ENGINE_REGEX = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{REGEX_PATTERN}')) AS BIGINT)
         AS n_matches
FROM documents
WHERE len(regexp_extract_all(text, '{REGEX_PATTERN}')) > 0
ORDER BY n_matches DESC, doc_id
"""


def q_engine_mlt(spark, sf_dir):
    """More-like-this (A7 gigabits scorer applied to ONE doc + U1
    match-any retrieval): top-5 tf*idf terms of doc 7 against the STORED
    termstats, run as a disjunctive-sum BM25 query through the exhaustive
    plan's match_mode='any', source doc excluded.  The oracle replays
    term selection AND retrieval from raw text."""
    from .plans.mlt import more_like_this

    idx = engine_index(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res = more_like_this(
        spark, idx, MLT_DOC_ID, k=20, m_terms=MLT_M_TERMS,
        corpus=docs, enrich=False, code_aware=False,
    )
    return _round_topk(res, 10)


SQL_ENGINE_MLT = f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
),
dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS doclen, toks FROM d),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(doclen) AS avgdl FROM dd),
occ AS (SELECT doc_id, doclen, unnest(toks) AS term FROM dd),
src_tf AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS tf FROM occ
  WHERE doc_id = {MLT_DOC_ID} GROUP BY term
),
alldf AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM occ
  WHERE term IN (SELECT term FROM src_tf) GROUP BY term
),
sel AS (
  SELECT s.term
  FROM src_tf s JOIN alldf USING (term) CROSS JOIN stats
  ORDER BY s.tf * ln(1.0 + (stats.n - alldf.df + 0.5) / (alldf.df + 0.5))
           DESC, s.term
  LIMIT {MLT_M_TERMS}
),
tf AS (
  SELECT doc_id, term, doclen, CAST(count(*) AS DOUBLE) AS tf
  FROM occ WHERE term IN (SELECT term FROM sel)
  GROUP BY doc_id, term, doclen
),
dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
            * tf.tf * 2.2
            / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doclen / stats.avgdl)) ) AS s
  FROM tf JOIN dfx USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score
FROM scored WHERE doc_id <> {MLT_DOC_ID}
ORDER BY score DESC, doc_id LIMIT 10
"""


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: WAND BM25 ranks for 'spark join' fused with
    exact-cosine ranks for the vec_id=0 embedding via RRF (k_rrf=60,
    50 candidates/side).  Embedding row ids ARE the corpus doc_ids, so
    both sources rank the same entity space."""
    from .plans.hybrid import hybrid_rrf

    idx = engine_index(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return hybrid_rrf(
        spark, idx, emb, "spark join", [float(x) for x in qv],
        k=10, k_rrf=60, n_candidates=50,
    )


SQL_HYBRID_RRF = f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
),
dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS doclen, toks FROM d),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(doclen) AS avgdl FROM dd),
occ AS (SELECT doc_id, doclen, unnest(toks) AS term FROM dd),
tf AS (
  SELECT doc_id, term, doclen, CAST(count(*) AS DOUBLE) AS tf
  FROM occ WHERE term IN ('spark', 'join')
  GROUP BY doc_id, term, doclen
),
dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, count(*) AS nt,
         sum( ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
            * tf.tf * 2.2
            / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doclen / stats.avgdl)) ) AS s
  FROM tf JOIN dfx USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
),
bmr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY round(s, 4) DESC, doc_id) AS r
  FROM scored WHERE nt = 2
),
bm AS (SELECT doc_id, r FROM bmr WHERE r <= 50),
q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0
),
cs AS (
  SELECT vec_id AS doc_id,
         round(
           list_reduce(list_prepend(0.0,
             list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
               .list_transform(p -> p[1] * p[2])), (a, x) -> a + x)
           / (sqrt(list_reduce(list_prepend(0.0,
                list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                (a, x) -> a + x))
              * sqrt(list_reduce(list_prepend(0.0,
                  list_transform(qv, x -> x * x)), (a, x) -> a + x))), 4) AS c
  FROM embeddings CROSS JOIN q
),
annr AS (
  SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS r FROM cs
),
ann AS (SELECT doc_id, r FROM annr WHERE r <= 50),
fused AS (
  SELECT coalesce(bm.doc_id, ann.doc_id) AS doc_id,
         coalesce(bm.r, 0) AS bm25_rank,
         coalesce(ann.r, 0) AS ann_rank
  FROM bm FULL OUTER JOIN ann ON bm.doc_id = ann.doc_id
)
SELECT doc_id, bm25_rank, ann_rank,
       round( (CASE WHEN bm25_rank > 0 THEN 1.0 / (60 + bm25_rank) ELSE 0.0 END)
            + (CASE WHEN ann_rank > 0 THEN 1.0 / (60 + ann_rank) ELSE 0.0 END),
            6) AS rrf
FROM fused
ORDER BY rrf DESC, doc_id LIMIT 10
"""


def engine_registry() -> tuple[dict, dict]:
    queries = {
        "engine_bm25_batch": q_engine_bm25_batch,
        "engine_bm25_single": q_engine_bm25_single,
        "engine_bm25_and2": q_engine_bm25_and2,
        "engine_bm25_and3": q_engine_bm25_and3,
        "engine_bm25_neg": q_engine_bm25_neg,
        "engine_bm25_or": q_engine_bm25_or,
        "engine_bm25_exhaustive": q_engine_bm25_exhaustive,
        "engine_search_after": q_engine_search_after,
        "engine_term_weight": q_engine_term_weight,
        "engine_phrase": q_engine_phrase,
        "engine_synonyms": q_engine_synonyms,
        "engine_boolean": q_engine_boolean,
        "engine_latest_wins": q_engine_latest_wins,
        "engine_query_delete": q_engine_query_delete,
        "engine_compacted": q_engine_compacted,
        "engine_time_travel": q_engine_time_travel,
        "engine_changelog": q_engine_changelog,
        "engine_incremental": q_engine_incremental,
        "engine_total_hits": q_engine_total_hits,
        "engine_facets": q_engine_facets,
        "engine_lang_boost": q_engine_lang_boost,
        "engine_proximity": q_engine_proximity,
        "engine_sortby": q_engine_sortby,
        "engine_minor_merge": q_engine_minor_merge,
        # spell / termstats / tf / collstats / gigabits now run
        # index-backed under their original entry names (entry_queries)
        "engine_gigabits": q_engine_gigabits,
        "engine_mlt": q_engine_mlt,
        "engine_link_rank": q_engine_link_rank,
        "engine_anchor": q_engine_anchor,
        "engine_anchor_boost": q_engine_anchor_boost,
        "engine_regex": q_engine_regex,
        "engine_federated": q_engine_federated,
        "engine_federated_batch": q_engine_federated_batch,
        "hybrid_rrf": q_hybrid_rrf,
    }
    batch_items = [
        ("spark", ["spark"], "and"),
        ("hash merge sort", ["hash", "merge", "sort"], "and"),
        ("vector OR stream", ["vector", "stream"], "or"),
    ]
    batch_sql = " UNION ALL ".join(
        f"SELECT '{lbl}' AS query, t.doc_id, t.score "
        f"FROM ({_bm25_engine_oracle(terms, k=10, mode=mode)}) t"
        for lbl, terms, mode in batch_items
    ) + " ORDER BY query, score DESC, doc_id"
    oracles = {
        "engine_bm25_batch": batch_sql,
        "engine_bm25_single": _bm25_engine_oracle(["spark"]),
        "engine_bm25_and2": _bm25_engine_oracle(["spark", "join"]),
        "engine_bm25_and3": _bm25_engine_oracle(["hash", "merge", "sort"]),
        "engine_bm25_neg": _bm25_engine_oracle(["table"], neg_terms=["join"]),
        "engine_bm25_or": _bm25_engine_oracle(["vector", "stream"], mode="or"),
        "engine_bm25_exhaustive": _bm25_engine_oracle(["spark", "join"]),
        "engine_search_after": SQL_ENGINE_SEARCH_AFTER,
        "engine_term_weight": _bm25_engine_oracle(
            ["join", "spark"], weights={"join": 3.0}
        ),
        "engine_phrase": SQL_ENGINE_PHRASE,
        "engine_synonyms": SQL_ENGINE_SYNONYMS,
        "engine_boolean": SQL_ENGINE_BOOLEAN,
        "engine_latest_wins": _bm25_engine_oracle(
            ["table"], exclude_doc_ids=TOMBSTONED_DOC_IDS
        ),
        "engine_query_delete": _bm25_engine_oracle(
            ["table"], exclude_match_terms=QUERYDEL_TERMS
        ),
        "engine_compacted": _bm25_engine_oracle(
            ["table"], exclude_from_corpus=TOMBSTONED_DOC_IDS
        ),
        # AS-OF the pre-mutation pins == the never-mutated full corpus
        "engine_time_travel": _bm25_engine_oracle(["table"]),
        # CDC across the fixtures' mutation windows: removed = the tomb
        # variant's literal delete set, added = the incremental variant's
        # second batch (odd doc_ids) — both replayed from the raw corpus
        "engine_changelog": _sql_engine_changelog(),
        "engine_incremental": _bm25_engine_oracle(["spark", "join"]),
        # minor merge is a pure physical rewrite: same oracle as above
        "engine_minor_merge": _bm25_engine_oracle(["spark", "join"]),
        "engine_total_hits": SQL_ENGINE_TOTAL_HITS,
        "engine_facets": SQL_ENGINE_FACETS,
        "engine_gigabits": SQL_ENGINE_GIGABITS,
        "engine_lang_boost": _bm25_engine_oracle(
            ["table"], lang_boost=("en", 1.5)
        ),
        "engine_proximity": SQL_ENGINE_PROXIMITY,
        "engine_sortby": SQL_ENGINE_SORTBY,
        "engine_mlt": SQL_ENGINE_MLT,
        "engine_link_rank": _sql_engine_link_rank(),
        "engine_anchor": SQL_ENGINE_ANCHOR,
        "engine_anchor_boost": _sql_engine_anchor_boost(),
        "engine_regex": SQL_ENGINE_REGEX,
        "engine_federated": SQL_ENGINE_FEDERATED,
        "engine_federated_batch": _sql_engine_federated_batch(),
        "hybrid_rrf": SQL_HYBRID_RRF,
    }
    return queries, oracles
