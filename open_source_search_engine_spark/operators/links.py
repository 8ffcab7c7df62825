"""Link-graph operators — the J7 link join, re-expressed Spark-first.

Reference analog (SURVEY.md §2.3 J7): Gigablast's Linkdb stores inlink
keys per (siteHash, urlHash); ``Msg25`` aggregates a page's inlinkers and
the derived ``siteNumInlinks`` is joined into ranking as a static quality
prior (``XmlDoc::getSiteNumInlinks``, ``SiteGetter``).  The Spark rebuild
keeps the three roles and maps each to the operator Catalyst already
optimizes:

- **extraction** (`extract_links`): one ``regexp_extract_all`` +
  ``explode`` over the content column — the XmlDoc outlink parse — then a
  join against the module/path dictionary to resolve references to target
  doc ids.  Pure column expressions; the resolve join broadcasts when the
  dictionary is small and shuffles on the module key otherwise.
- **inversion** (`inlink_counts`): Linkdb's by-target key order is a
  ``groupBy(dst)`` count — one shuffle keyed by the target id, partial
  aggregation map-side.
- **rank join** (`static_rank_join`): the Msg25-into-ranking step is a
  broadcast left join of the (small) per-doc rank table into the serp,
  blending ``score * (1 + alpha * ln(1 + inlinks))``.

At 10^12 docs the edge table is the big shuffle (edges ~ O(docs *
fan-out)); it is keyed by ``dst_doc_id`` exactly once, and the rank table
that reaches the query path is one row per *ranked doc* — small enough to
broadcast, the same reduction Gigablast bakes into tagdb/sitedb.

For corpora with no link markup (the driver fixture's word-soup text),
``derive_edges`` synthesizes a deterministic closed-form graph — the
OPERATOR under test is extract→invert→join; the rule is replayable in
ANSI SQL so the DuckDB oracle certifies the whole pipeline value-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import term_hash_py, term_hash_udf


def extract_links(
    docs: DataFrame,
    pattern: str = r"use ([a-z][a-z0-9_]*)",
    content_col: str = "content",
    path_col: str = "path",
    id_col: str = "doc_id",
) -> DataFrame:
    """Parse ``use <module>`` references out of source text and resolve
    them to target docs by module name (basename of ``path`` sans
    extension).  Returns distinct (src_doc_id, dst_doc_id) edges,
    self-loops dropped.

    The extraction is a single vectorized regexp pass (no UDF); the
    resolve is an equi-join on the module key.  Ambiguous module names
    (two files with the same basename) fan out to all targets — the
    reference's link: term does the same for duplicated URLs.
    """
    modules = docs.select(
        F.col(id_col).alias("dst_doc_id"),
        F.regexp_extract(
            F.element_at(F.split(F.col(path_col), "/"), -1), r"^([a-z0-9_]+)", 1
        ).alias("_module"),
    ).filter(F.col("_module") != "")
    refs = docs.select(
        F.col(id_col).alias("src_doc_id"),
        F.explode(
            F.regexp_extract_all(F.col(content_col), F.lit(pattern), F.lit(1))
        ).alias("_module"),
    )
    return (
        refs.join(modules, "_module")
        .filter(F.col("src_doc_id") != F.col("dst_doc_id"))
        .select("src_doc_id", "dst_doc_id")
        .distinct()
    )


def derive_edges(
    docs: DataFrame,
    fan_out: int = 3,
    id_col: str = "doc_id",
    seed_col: str = "n_chars",
) -> DataFrame:
    """Deterministic synthetic link graph for corpora without link markup:
    doc ``s`` links to ``(s*131 + seed + j*37) mod N`` for ``j`` in
    ``0..fan_out-1`` (N = corpus size, ids assumed dense 0..N-1 as in the
    driver fixture).  Self-loops dropped, edges distinct.  The rule is a
    pure column expression on both engines, so the DuckDB oracle replays
    it exactly — what is being certified is the invert + rank-join
    pipeline, not the (synthetic) graph itself.
    """
    if fan_out < 1:
        # F.sequence(0, fan_out-1) would DESCEND for fan_out<=0 (Spark
        # defaults step to -1 when start > stop), silently emitting 2-3
        # edges per doc where an empty graph was requested
        raise ValueError(f"fan_out must be >= 1, got {fan_out}")
    n = docs.agg(F.count("*").cast("long").alias("_n_total"))
    fanned = (
        docs.select(
            F.col(id_col).cast("long").alias("src_doc_id"),
            F.col(seed_col).cast("long").alias("_seed"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "src_doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(fan_out - 1))).alias("_j"),
            "_seed",
            "_n_total",
        )
    )
    # reduce mod N BEFORE the multiply: for the dense 0..N-1 fixture ids
    # the value is identical (pmod(s,N)==s), and for full-range xxhash64
    # doc ids (derive_ids corpora) it keeps the product inside int64 —
    # s*131 on a raw hash id overflows under ANSI arithmetic
    dst = F.pmod(
        F.pmod(F.col("src_doc_id"), F.col("_n_total")) * F.lit(131)
        + F.col("_seed")
        + F.col("_j") * F.lit(37),
        F.col("_n_total"),
    ).cast("long")
    return (
        fanned.select("src_doc_id", dst.alias("dst_doc_id"))
        .filter(F.col("src_doc_id") != F.col("dst_doc_id"))
        .distinct()
    )


def inlink_counts(edges: DataFrame) -> DataFrame:
    """Linkdb inversion: distinct-inlinker count per target doc — one
    shuffle keyed by ``dst_doc_id`` with map-side partial counts (edges
    are already distinct by construction in both extractors)."""
    return edges.groupBy(F.col("dst_doc_id").alias("doc_id")).agg(
        F.count("*").cast("long").alias("inlinks")
    )


# per-doc base mass for fixed-point PageRank, in integer micro-units
PR_SCALE = 1_000_000_000


def _pr_scale_for(n_nodes: int) -> int:
    """Per-doc base mass that keeps EVERY intermediate in int64 at this
    corpus size.  The binding bound is the damped term: a dominant hub's
    inflow approaches total system mass n*scale, and the recurrence
    multiplies it by damping_pct <= 100, so we need
    ``100 * n * scale < 2^63``.  Capping at 2^62/(100*n) halves that
    headroom again (sums of teleport + damped parts).  Up to ~4.6e7 docs
    the full PR_SCALE applies; at 10^12 docs the base is ~46k units —
    ~4.6 significant digits of rank, graceful precision degradation
    instead of silent wraparound (non-ANSI Spark) or a thrown job (ANSI)."""
    return max(1, min(PR_SCALE, (1 << 62) // (100 * max(n_nodes, 1))))


def pagerank(
    docs: DataFrame,
    edges: DataFrame,
    n_iter: int = 5,
    damping_pct: int = 85,
    id_col: str = "doc_id",
    driver_threshold: int = 500_000,
) -> DataFrame:
    """Fixed-point integer PageRank over a (src_doc_id, dst_doc_id) edge
    table — the iterative global link-quality prior (the full-strength
    version of `inlink_counts`' one-hop count; Gigablast approximates
    the same signal with siteNumInlinks tiers, SURVEY.md §2.3 J7).

    ALL arithmetic is BIGINT: ranks start at ``_pr_scale_for(N)`` units
    per doc (``PR_SCALE`` capped so ``100 * N * scale < 2^62`` — the
    hub-inflow bound; precision degrades gracefully at extreme N instead
    of wrapping int64),
    a doc's outflow share is ``r div outdeg``, the damping factor is the
    integer percentage ``damping_pct`` (``(d * x) div 100``), and the
    dangling mass is redistributed as ``dm div N`` per doc.  Floor
    division leaks a few units per doc per iteration (standard for
    fixed-point PR) but buys the two properties float PR cannot give:
    the result is **bit-identical under any partitioning** (integer
    addition is associative — float contribution sums are not) and
    **value-replayable in ANSI SQL** (the oracle chains one CTE block
    per iteration, the quality_perceptron convention).

    Plan shape per iteration: one join keyed by ``src_doc_id`` (ranks ×
    edges × outdeg) and one aggregate keyed by ``dst_doc_id`` — the same
    two shuffles any Pregel-style superstep costs.  The corpus size and
    per-iteration dangling mass ride 1-row broadcast relations.

    Each superstep is MATERIALIZED (``localCheckpoint``): the ranks
    relation is consumed twice per step (contribution join + dangling
    anti-join) and feeds the next step, so a fully lazy formulation
    re-derives it per use and the logical plan roughly TRIPLES per
    iteration — measured ~1000 exchange nodes in the 5-step lazy plan
    versus a constant ~10 per materialized step.  One job per superstep
    is the Pregel execution model, and it caps both planning time and
    lineage at O(1) per iteration — the property that decides whether
    iteration 50 is as cheap as iteration 5 at 10^12 docs.  ``edges``
    and ``outdeg`` are materialized once up front for the same reason
    (every superstep re-reads them).

    HYBRID execution (the `connected_components` convention): at or
    below ``driver_threshold`` edges the whole loop runs driver-side in
    numpy — a graph that small is driver-scale by definition, and each
    distributed superstep is mostly job dispatch.  Both paths run the
    IDENTICAL BIGINT recurrence, so they produce the same integers
    (parity-tested); pass ``driver_threshold=0`` to force the
    distributed supersteps.
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0,100], got {damping_pct}")
    nodes = docs.select(
        F.col(id_col).cast("long").alias("doc_id")
    ).localCheckpoint(eager=True)
    edges = edges.select("src_doc_id", "dst_doc_id").localCheckpoint(
        eager=True
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("r", F.lit(0).cast("long"))
    if (
        driver_threshold > 0
        and n_nodes <= driver_threshold
        and edges.count() <= driver_threshold
    ):
        return _pagerank_driver(
            nodes, edges, n_iter, damping_pct, n_nodes
        )
    scale = _pr_scale_for(n_nodes)
    nn = nodes.agg(F.count("*").cast("long").alias("_n"))
    outdeg = (
        edges.groupBy("src_doc_id")
        .agg(F.count("*").cast("long").alias("_od"))
        .localCheckpoint(eager=True)
    )
    teleport = (100 - damping_pct) * scale // 100
    ranks = nodes.withColumn("r", F.lit(scale).cast("long"))
    for _ in range(n_iter):
        inflow = (
            edges.join(ranks, edges["src_doc_id"] == ranks["doc_id"])
            .join(outdeg, "src_doc_id")
            .select(
                F.col("dst_doc_id").alias("doc_id"),
                F.expr("r div _od").alias("_share"),
            )
            .groupBy("doc_id")
            .agg(F.sum("_share").alias("_inflow"))
        )
        dang = (
            ranks.join(
                outdeg, ranks["doc_id"] == outdeg["src_doc_id"], "left_anti"
            )
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("_dm"))
        )
        ranks = (
            nodes.join(inflow, "doc_id", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(nn))
            .select(
                "doc_id",
                (
                    F.lit(teleport).cast("long")
                    + F.expr(
                        f"({damping_pct}L * (coalesce(_inflow, 0L)"
                        f" + _dm div _n)) div 100"
                    )
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def _pagerank_driver(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int,
    damping_pct: int,
    n: int,
) -> DataFrame:
    """Driver-side replay of the identical BIGINT recurrence (numpy
    scatter-adds).  Semantics match the distributed supersteps exactly,
    including the edge cases: an edge whose src is not a node
    contributes nothing; a known src's outdegree counts edges to
    unknown dsts too (their shares leak, as the distributed join drops
    them); dangling = known node with zero outgoing edges."""
    import numpy as np

    spark = nodes.sparkSession
    ids = np.array([r["doc_id"] for r in nodes.collect()], dtype=np.int64)
    ids.sort()
    idx_of = {int(v): i for i, v in enumerate(ids)}
    pairs = [
        (idx_of[r["src_doc_id"]], idx_of.get(r["dst_doc_id"], -1))
        for r in edges.collect()
        if r["src_doc_id"] in idx_of
    ]
    src = np.array([s for s, _ in pairs], dtype=np.int64)
    dst = np.array([d for _, d in pairs], dtype=np.int64)
    known_dst = dst >= 0
    od = np.zeros(n, dtype=np.int64)
    np.add.at(od, src, 1)
    dangling = od == 0
    scale = _pr_scale_for(n)
    teleport = (100 - damping_pct) * scale // 100
    r = np.full(n, scale, dtype=np.int64)
    for _ in range(n_iter):
        inflow = np.zeros(n, dtype=np.int64)
        if len(src):
            share = r[src] // od[src]
            np.add.at(inflow, dst[known_dst], share[known_dst])
        dm = int(r[dangling].sum())
        r = teleport + (damping_pct * (inflow + dm // n)) // 100
    return spark.createDataFrame(
        [(int(i), int(v)) for i, v in zip(ids, r)], "doc_id bigint, r bigint"
    )


def anchor_postings(
    docs: DataFrame,
    edges: DataFrame,
    n_tokens: int = 3,
    content_col: str = "content",
    id_col: str = "doc_id",
    token_re: str = "[a-z0-9_]+",
) -> DataFrame:
    """Inbound anchor-text terms indexed into the TARGET doc — Gigablast's
    signature LinkInfo feature (Msg25 collects inlinkers' anchor text;
    ``XmlDoc::hashLinkInfo`` hashes those words into the target's posdb
    termlists, SURVEY §2.3 J7): a page ranks for words *other pages* use
    when linking to it.

    The code-corpus analog takes each edge's anchor text to be the first
    ``n_tokens`` tokens of the SOURCE doc (the citing context).  Output is
    posting rows ready for ``build_index(extra_postings=...)``::

        (term_id, doc_id=dst, doclen=0, tf, pos_enc=b'', term)

    where ``term = 'anchor:<tok>'`` and ``tf`` counts inbound (src, token)
    occurrences — the inlink-weighted anchor frequency.  Like ``num:``
    lookup termlists these carry no positions and doclen 0 (they never
    contribute to the doc's length norm); the colon prefix keeps them out
    of word-term paths (spell candidates filter ``':'``).

    Shape at scale: one vectorized regexp+slice over docs (no UDF), an
    equi-join keyed by ``src_doc_id`` (broadcastable when the edge table
    is the small side, shuffled otherwise), and one groupBy on
    ``(dst, term)`` with map-side partial counts — the same single-shuffle
    inversion as `inlink_counts`.
    """
    # tokenize a bounded PREFIX, not the whole content: the regexp over a
    # full multi-MB doc materializes its complete token array just to
    # keep the first n_tokens.  64 KiB is orders of magnitude past where
    # any doc's first few tokens live (a doc whose third token starts
    # beyond 64 KiB of leading non-token bytes is degenerate by
    # construction), and it caps the per-row work corpus-wide.
    heads = docs.select(
        F.col(id_col).alias("src_doc_id"),
        F.slice(
            F.regexp_extract_all(
                F.lower(F.substring(F.col(content_col), 1, 65536)),
                F.lit(token_re),
                F.lit(0),
            ),
            1,
            n_tokens,
        ).alias("_toks"),
    )
    pairs = (
        edges.join(heads, "src_doc_id")
        .select(
            F.col("dst_doc_id").alias("doc_id"),
            F.explode("_toks").alias("_tok"),
        )
        .groupBy("doc_id", "_tok")
        .agg(F.count("*").cast("int").alias("tf"))
    )
    term = F.concat(F.lit("anchor:"), F.col("_tok"))
    return pairs.select(
        # blake2b (the stored index's term-id space), Arrow-vectorized —
        # applied post-aggregation, one row per (doc, anchor term)
        term_hash_udf(term).alias("term_id"),
        "doc_id",
        F.lit(0).cast("int").alias("doclen"),
        "tf",
        F.lit(b"").alias("pos_enc"),
        term.alias("term"),
    )


def anchor_counts(spark: SparkSession, index, token: str) -> DataFrame:
    """The full stored ``anchor:<tok>`` termlist as (doc_id, n_anchor) —
    ONE pruned scan (term_id pushed to the parquet row groups, Arrow
    decode without positions, tombstone anti-join).  No corpus scan, no
    link-graph recompute: the build already inverted the graph into the
    index, which is the whole Linkdb point.  One row per target doc, so
    the result broadcasts into ranking joins the way inlink_counts does."""
    from .merge import drop_deleted, term_postings

    tid = int(term_hash_py(f"anchor:{token.lower()}"))
    index = index.view()  # one manifest version for postings and deletes
    rows = term_postings(spark, index, [tid]).select(
        "doc_id", F.col("tf").cast("long").alias("n_anchor")
    )
    return drop_deleted(spark, index, rows)


def search_anchor(
    spark: SparkSession,
    index,
    token: str,
    k: int = 20,
    enrich: bool = False,
) -> DataFrame:
    """Top-k docs by inbound anchor frequency for one anchor token
    (`anchor_counts` + ``TakeOrderedAndProject``, the same bounded-heap
    shape as ``plans.sortby.search_sortby``)."""
    from .build import docmeta_cached

    index = index.view()
    rows = anchor_counts(spark, index, token)
    order = [F.desc("n_anchor"), F.asc("doc_id")]
    topk = rows.orderBy(*order).limit(k)
    if enrich:
        meta = docmeta_cached(spark, index)
        topk = (
            F.broadcast(topk)
            .join(meta, "doc_id")
            .select("doc_id", "n_anchor", "repo", "path", "lang")
            .orderBy(*order)
        )
    return topk


def _prior_rank_join(
    results: DataFrame,
    prior: DataFrame,
    count_col: str,
    factor: float,
    out_col: str,
    score_col: str,
    k: int | None,
) -> DataFrame:
    """Shared log-blend of a per-doc citation prior into a ranked result
    set: ``out = round(score * (1 + factor*ln(1+count)), 4)``, uncited
    docs keep the neutral factor.

    Join discipline at scale: the PRIOR table is corpus-sized (one row
    per cited doc), the ranked set is k rows — so the prior is first
    pruned to the ranked doc_ids with a broadcast SEMI-join (ships k ids
    to the executors), and the final left join then joins two k-row
    relations, which AQE broadcasts on its own.  Force-broadcasting the
    prior side (the previous shape) would collect O(corpus) rows to the
    driver exactly at the design scale this module claims."""
    cnt = F.coalesce(F.col(count_col), F.lit(0)).cast("long")
    blended = F.round(
        F.col(score_col)
        * (F.lit(1.0) + F.lit(factor) * F.log(F.lit(1.0) + cnt.cast("double"))),
        4,
    )
    pruned = prior.join(
        F.broadcast(results.select("doc_id")), "doc_id", "left_semi"
    )
    out = (
        results.join(pruned, "doc_id", "left")
        .select("doc_id", cnt.alias(count_col), blended.alias(out_col))
        .orderBy(F.desc(out_col), F.asc("doc_id"))
    )
    if k is not None:
        out = out.limit(k)
    return out


def anchor_rank_join(
    results: DataFrame,
    anchors: DataFrame,
    beta: float = 0.2,
    score_col: str = "score",
    k: int | None = None,
) -> DataFrame:
    """Blend TERM-SPECIFIC inbound anchor evidence into a scored result
    set — the ranking half of LinkInfo (Gigablast weights a query term's
    match in inbound anchor text above a body match; SURVEY §2.3 J7):
    ``boost_score = round(score * (1 + beta*ln(1+n_anchor)), 4)``, docs
    nobody cites with the term keep the neutral factor.  ``anchors`` is
    `anchor_counts` output; only the ranked docs' rows survive (see
    `_prior_rank_join` for the join discipline).  Unlike
    `static_rank_join`'s query-independent popularity prior, this prior
    is per query term."""
    return _prior_rank_join(
        results, anchors, "n_anchor", beta, "boost_score", score_col, k
    )


def static_rank_join(
    results: DataFrame,
    inlinks: DataFrame,
    alpha: float = 0.1,
    score_col: str = "score",
    k: int | None = None,
) -> DataFrame:
    """Blend a static link-popularity prior into a scored result set
    (the Msg25 -> ranking join): ``rank_score = round(score * (1 +
    alpha*ln(1+inlinks)), 4)``, docs with no inlinks get the neutral
    factor.  ``inlinks`` is `inlink_counts` output — corpus-sized, so it
    is semi-join-pruned to the ranked docs before the blend (see
    `_prior_rank_join`)."""
    return _prior_rank_join(
        results, inlinks, "inlinks", alpha, "rank_score", score_col, k
    )
