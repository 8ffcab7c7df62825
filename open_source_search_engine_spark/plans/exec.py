"""Query execution: QueryPlan -> DataFrame program (SURVEY.md §3.1
stages 4-9, the Msg40/Msg3a/PosdbTable chain).

The reference scatters the query to every shard, merge-joins N sorted
termlists per shard (PosdbTable::intersectLists10_r), keeps a bounded
TopTree per shard and k-way merges (Msg3a).  Spark expresses the same
physical shape declaratively:

  pruned parquet scan of postings by term_id     = Msg5 termlist fetch
  decode (Arrow mapInPandas)                     = RdbList -> records
  broadcast join of the tiny query-term table    = Msg39Request fan-out
  two-level hash agg on (doc_id, slot)           = intersectLists DAAT loop
  HAVING n_slots == n_required                   = conjunctive AND
  orderBy(score desc, doc_id).limit(k)           = TopTree + Msg3a merge
                                                   (TakeOrderedAndProject)
  driver-side docmeta rows for the top-k         = Msg20 title-rec enrich

Scoring is BM25 (k1=1.2, b=0.75), idf = ln(1 + (N - df + .5)/(df + .5)),
float64, tie-break (score desc, doc_id asc) — SURVEY §2.8 X17, §7.5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bm25 import K1, B, py_idf
from ..operators.build import Index, docmeta_cached
from ..operators.topk import _empty_result, _enrich
from ..schemas import TERMSTATS
from ..sources.tables import MEMO, read_segments
from .query import QueryPlan, parse_query


def impact_col(tf: Column, doclen: Column, avgdl: Column) -> Column:
    """tf-saturation * length-normalization factor of BM25 (idf excluded)."""
    return (tf * F.lit(K1 + 1.0)) / (
        tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * doclen / avgdl)
    )


def search(
    spark: SparkSession,
    index: Index,
    query: str | QueryPlan,
    k: int = 10,
    enrich: bool = True,
    synonyms: bool | dict = False,
    lang_boost: tuple[str, float] | None = None,
    proximity_bonus: float = 0.0,
    use_cache: bool = False,
    match_mode: str = "all",
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Top-k BM25 search against a built index.

    ``after=(score, doc_id)``: keyset deep paging (T3 at scale) — return
    the top k results ranking strictly AFTER the cursor in the canonical
    (score desc, doc_id asc) order.  Unlike ``.offset(n)`` (whose cost
    grows with the page depth), the cursor is one filter over the same
    scored plan, so page 50 costs the same as page 1.  Incompatible with
    ``proximity_bonus`` (the bounded re-rank window is defined from the
    top of the ranking, not from an arbitrary cursor).

    ``match_mode``: 'all' (default) is the conjunctive AND of the
    reference's default query mode; 'any' scores the disjunctive SUM over
    whichever slots a doc matches (>= 1 required) — the match-any shape
    more-like-this queries need (Gigablast only reaches it via explicit
    boolean OR; here it is the same plan with the HAVING clause relaxed).
    A quoted phrase under 'any' is one matchable unit: its member-token
    contributions count only for docs where the positional adjacency
    holds, and a phrase absent from the corpus contributes nothing
    (under 'all' the same absence correctly empties the result).

    ``synonyms``: True expands each positive term into its weighted
    OR-group from the default table (X5); pass a dict table to override.

    ``lang_boost=(lang, factor)``: soft language preference (F8, the
    Msg39/PosdbTable langWeight analog) — docs in ``lang`` score at
    ``factor``x; unlike the hard ``lang:xx`` restriction, other docs
    still rank.  Off by default so BM25-parity entries are unaffected.

    ``proximity_bonus=w > 0``: two-phase proximity re-rank (W4, the
    evalSlidingWindow analog): the top k*10 base-score candidates get a
    multiplicative bonus 1 + w/(1 + minspan - (n_terms-1)) where minspan
    is the smallest token window containing every query slot; adjacent
    terms get the full 1+w.  Runs only over candidates (reference
    semantics: proximity is scored for TopTree contenders, not the whole
    match set)."""
    # one view for the whole query: stats, postings, tombstones and
    # docmeta all come from the same manifest version
    index = index.view()
    plan = parse_query(query) if isinstance(query, str) else query
    if synonyms:
        from ..functions.synonyms import expand_plan

        plan = expand_plan(plan, None if synonyms is True else synonyms)
    if not plan.groups:
        raise ValueError("query has no positive terms")
    if match_mode not in ("all", "any"):
        raise ValueError(f"match_mode must be 'all' or 'any', got {match_mode!r}")
    if match_mode == "any" and proximity_bonus > 0:
        raise ValueError("proximity_bonus requires match_mode='all' "
                         "(minspan is defined over all slots present)")
    if after is not None and proximity_bonus > 0:
        raise ValueError(
            "after= (keyset paging) requires proximity_bonus=0: the "
            "bounded proximity re-rank window anchors at the TOP of the "
            "ranking, which an arbitrary cursor page need not intersect"
        )
    if use_cache:
        from .query import plan_key

        extra = (plan_key(plan), k, enrich, lang_boost, proximity_bonus,
                 match_mode, after)
        return cached_result(
            spark,
            index,
            "search",
            extra,
            lambda: search(
                spark, index, plan, k=k, enrich=enrich,
                lang_boost=lang_boost, proximity_bonus=proximity_bonus,
                match_mode=match_mode, after=after,
            ),
        )

    if k <= 0:
        # limit(-1) is an AnalysisException; k<=0 means an empty page on
        # both query paths (search_wand guards identically)
        return _empty_result(spark, enrich)

    # phrase members OUTSIDE their own singleton group (inside a
    # multi-member OR, or negated) can only be honored via a stored
    # adjacent-pair termlist: exactly 2 tokens on a bigram index.
    # Anything else must refuse loudly — treating the phrase as an
    # ordinary (never-indexed) 'a b' text term silently drops the
    # adjacency the user asked for (or no-ops the negation).
    has_bigrams = index.features().get("bigrams", False)
    for m in [m for g in plan.groups if len(g.members) > 1 for m in g.members] + list(
        plan.negatives
    ):
        ph = getattr(m, "phrase", ()) or ()
        if len(ph) > 2 or (len(ph) == 2 and not has_bigrams):
            raise NotImplementedError(
                "phrase members inside OR groups and negated phrases are "
                "supported only as 2-token adjacent pairs on a "
                "bigram-terms index; got "
                f"{' '.join(ph)!r} (bigrams={bool(has_bigrams)})"
            )

    # term table: slot id per AND-group, member terms OR'd within a slot.
    # Phrase members are expanded to ordinary AND slots + a positional
    # adjacency filter (J4) applied before aggregation.
    # (term, slot, phrase_id, seq, weight)
    member_rows: list[tuple[str, int, int, int, float]] = []
    phrase_specs: list[tuple[int, int]] = []  # (phrase_id, n_members)
    phrase_toks: dict[int, tuple[str, ...]] = {}
    slot = 0
    phrase_id = 0
    for g in plan.groups:
        if len(g.members) == 1 and g.members[0].phrase:
            toks = g.members[0].phrase
            # '"a b"^W' scales every member token's idf (parity with the
            # WAND kernel's _build_slots phrase branch)
            pw = float(getattr(g.members[0], "weight", 1.0))
            for seq, t in enumerate(toks):
                member_rows.append((t, slot + seq, phrase_id, seq, pw))
            phrase_specs.append((phrase_id, len(toks)))
            phrase_toks[phrase_id] = toks
            slot += len(toks)
            phrase_id += 1
        else:
            for m in g.members:
                member_rows.append(
                    (m.text, slot, -1, 0, getattr(m, "weight", 1.0))
                )
            slot += 1
    n_slots = slot
    neg_terms = [t.text for t in plan.negatives]

    # X3 fast path: an index built with bigram_terms carries one termlist
    # per adjacent token pair, so phrase candidates come from intersecting
    # pair termlists instead of positional-scanning every member termlist
    use_bigrams = bool(phrase_specs) and index.features().get("bigrams", False)
    phrase_bigrams: dict[int, list[str]] = {}
    if use_bigrams:
        for pid, toks in phrase_toks.items():
            phrase_bigrams[pid] = [
                f"{toks[j]} {toks[j + 1]}" for j in range(len(toks) - 1)
            ]

    all_terms = sorted(
        {r[0] for r in member_rows}
        | set(neg_terms)
        | {b for bs in phrase_bigrams.values() for b in bs}
    )
    n_docs, avgdl, df_by_term = _stats_cached(spark, index, all_terms)

    present_members = [r for r in member_rows if r[0] in df_by_term]
    # any required (non-OR-group) term absent from the corpus => empty result.
    # For OR groups the group survives if at least one member is present.
    required_slots = sorted({r[1] for r in member_rows})
    live_slots = sorted({r[1] for r in present_members})
    if match_mode == "any":
        # match-any: only an entirely-absent vocabulary empties the result
        if not live_slots:
            return _empty_result(spark, enrich)
    elif len(live_slots) < len(required_slots):
        return _empty_result(spark, enrich)

    qt_rows = [
        (
            df_by_term[t][0],
            s,
            pid,
            seq,
            # member weight scales idf (synonym weights, X5): slot-max of
            # weighted contribs == the kernel's weighted slot scoring
            float(w) * float(py_idf(df_by_term[t][1], n_docs)),
        )
        for (t, s, pid, seq, w) in present_members
    ]
    # phrase adjacency rides a dedicated Arrow pass over encoded bytes;
    # only the proximity re-rank consumes decoded position arrays (over
    # the tiny candidate set, in its own second scan — scoring NEVER
    # reads the positions column from parquet)
    qterms = spark.createDataFrame(
        qt_rows, "term_id long, slot int, phrase_id int, seq int, idf double"
    )

    pos_ids = [df_by_term[t][0] for (t, _s, _p, _q, _w) in present_members]
    # bloom-sidecar segment pruning: skip segments containing no query term
    blocks = index.postings.read_pruned(spark, pos_ids)
    from ..operators.merge import decode_to_postings

    cand = decode_to_postings(
        blocks.filter(F.col("term_id").isin(pos_ids)), with_positions=False
    ).join(F.broadcast(qterms), "term_id")

    cand = cand.withColumn(
        "contrib",
        F.col("idf") * impact_col(F.col("tf"), F.col("doclen"), F.lit(avgdl)),
    )

    # DAAT intersection (U2/U3/J1/J2) as ONE groupBy(doc_id) with a
    # pivoted max-per-slot column set: slot-max scoring and the
    # all-slots-present check both read off the pivoted row (a two-level
    # agg cost a second exchange).
    slot_cols = [
        F.max(F.when(F.col("slot") == s, F.col("contrib"))).alias(f"_s{s}")
        for s in required_slots
    ]
    g = cand.groupBy("doc_id").agg(*slot_cols)
    if phrase_specs and match_mode == "any":
        # disjunctive phrases: each quoted phrase is ONE matchable unit —
        # its member-token slot contributions count only for docs where
        # the positional adjacency holds, and an unmatchable phrase (pair
        # or token absent from the corpus) contributes nothing instead of
        # emptying the result (that empty is correct only under AND).
        slot_pid = {s: pid for (_t, s, pid, _q, _w) in member_rows if pid >= 0}
        if use_bigrams:
            adj_meta = {}
            adj_specs = []
            for pid, bis in phrase_bigrams.items():
                if any(b not in df_by_term for b in bis):
                    continue  # unit can match no doc; skip, don't empty
                for seq, b in enumerate(bis):
                    adj_meta.setdefault(df_by_term[b][0], []).append((pid, seq))
                adj_specs.append((pid, len(bis)))
        else:
            adj_meta = {}
            for (t, _s, pid, seq, _w) in present_members:
                if pid >= 0:
                    adj_meta.setdefault(df_by_term[t][0], []).append((pid, seq))
            adj_specs = phrase_specs
        pids = sorted({pid for pid, _n in phrase_specs})
        if adj_specs:
            ok = _phrase_ok_docs(blocks, adj_meta, adj_specs)
            okp = ok.groupBy("doc_id").agg(
                *[
                    F.max(
                        F.when(F.col("phrase_id") == pid, F.lit(1))
                    ).alias(f"_p{pid}")
                    for pid in pids
                ]
            )
            g = g.join(okp, "doc_id", "left")
        else:
            for pid in pids:
                g = g.withColumn(f"_p{pid}", F.lit(None).cast("int"))
        present = None
        total = None
        for s in required_slots:
            pid = slot_pid.get(s)
            if pid is None:
                c_present = F.col(f"_s{s}").isNotNull()
                c_score = F.coalesce(F.col(f"_s{s}"), F.lit(0.0))
            else:
                verified = F.col(f"_p{pid}") == 1
                c_present = verified
                c_score = F.when(
                    verified, F.coalesce(F.col(f"_s{s}"), F.lit(0.0))
                ).otherwise(F.lit(0.0))
            present = c_present if present is None else (present | c_present)
            total = c_score if total is None else (total + c_score)
        scored = g.filter(present).select("doc_id", total.alias("score"))
    else:
        present = None
        for s in required_slots:
            c = F.col(f"_s{s}").isNotNull()
            if match_mode == "any":
                present = c if present is None else (present | c)
            else:
                present = c if present is None else (present & c)
        total = None
        for s in required_slots:
            c = F.col(f"_s{s}")
            if match_mode == "any":
                c = F.coalesce(c, F.lit(0.0))
            total = c if total is None else (total + c)
        scored = g.filter(present).select("doc_id", total.alias("score"))

    if phrase_specs and match_mode == "all":
        # J4: a doc additionally needs positional adjacency for every
        # quoted phrase — checked by the Arrow kernel over the still-
        # encoded per-doc position streams (no array materialization)
        if use_bigrams:
            # pair-termlist intersection: phrase t0..tn matches iff the
            # chain bigram_j @ p+j has a common start p — same kernel,
            # run over the (far rarer) pair termlists only.  A pair
            # absent from the corpus makes its phrase (and the whole AND
            # query) unsatisfiable.
            adj_meta: dict[int, list[tuple[int, int]]] = {}
            adj_specs: list[tuple[int, int]] = []
            for pid, bis in phrase_bigrams.items():
                if any(b not in df_by_term for b in bis):
                    return _empty_result(spark, enrich)
                for seq, b in enumerate(bis):
                    adj_meta.setdefault(df_by_term[b][0], []).append((pid, seq))
                adj_specs.append((pid, len(bis)))
        else:
            adj_meta = {}
            for (t, _s, pid, seq, _w) in present_members:
                if pid >= 0:
                    adj_meta.setdefault(df_by_term[t][0], []).append((pid, seq))
            adj_specs = phrase_specs
        ok = _phrase_ok_docs(blocks, adj_meta, adj_specs)
        ok_all = (
            ok.groupBy("doc_id")
            .agg(F.count_distinct("phrase_id").alias("_np"))
            .filter(F.col("_np") == len(phrase_specs))
            .select("doc_id")
        )
        scored = scored.join(ok_all, "doc_id", "left_semi")

    if neg_terms:
        neg_ids = [df_by_term[t][0] for t in neg_terms if t in df_by_term]
        if neg_ids:
            neg_docs = decode_to_postings(
                blocks.filter(F.col("term_id").isin(neg_ids)),
                with_positions=False,
            ).select("doc_id").distinct()
            scored = scored.join(neg_docs, "doc_id", "left_anti")  # F3/J3

    # merge-on-read tombstones (U4): exclude deleted docs until compaction.
    # Pure DataFrame anti-join against the deletes table — nothing collects
    # to the driver, so a large delete batch stays distributed (AQE picks
    # broadcast when the table is small, shuffle when it isn't).
    ddf = index.deletes.read(spark)
    if ddf is not None:
        scored = scored.join(
            ddf.select("doc_id").distinct(), "doc_id", "left_anti"
        )

    if lang_boost is not None:
        # F8 soft language preference: a score multiplier, not a filter —
        # doc_id-keyed join against docstats (both sides doc-partitioned)
        blang, factor = lang_boost
        langs = docmeta_cached(spark, index).select("doc_id", "lang")
        scored = (
            scored.join(langs, "doc_id", "left")
            .withColumn(
                "score",
                # case-fold BOTH sides (review r4-s2): the index stores
                # the lowercased lang:<x> term and the WAND path matches
                # it case-insensitively, but docstats carries the RAW
                # lang value — a raw comparison would make the two query
                # paths boost different docs on a mixed-case corpus
                F.when(
                    F.lower(F.col("lang")) == blang.lower(),
                    F.col("score") * F.lit(float(factor)),
                ).otherwise(F.col("score")),
            )
            .drop("lang")
        )

    if proximity_bonus > 0 and len(required_slots) > 1:
        # two-phase W4: scoring above never touched positions; the
        # re-rank builds its OWN position-bearing scan over the same
        # pruned termlists, consumed once (no persist to leak) and only
        # when a multi-slot re-rank actually runs
        pos_src = decode_to_postings(
            blocks.filter(F.col("term_id").isin(pos_ids)),
            with_positions=True,
        ).join(F.broadcast(qterms.select("term_id", "slot").distinct()), "term_id")
        scored = _proximity_rerank(
            scored, pos_src, len(required_slots), proximity_bonus, k
        )

    if after is not None:
        # keyset cursor: keep only docs ranking strictly after (score
        # desc, doc_id asc) — same scored plan, one extra filter, O(k)
        # result at any page depth (the scale-correct T3, vs offset(n)
        # whose merge cost grows linearly with depth)
        a_s, a_d = float(after[0]), int(after[1])
        scored = scored.filter(
            (F.col("score") < F.lit(a_s))
            | ((F.col("score") == F.lit(a_s)) & (F.col("doc_id") > F.lit(a_d)))
        )
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    # J5 enrich: the WAND paths' driver-side docmeta enrich
    return _enrich(spark, index, topk) if enrich else topk


def _proximity_rerank(
    scored: DataFrame,
    cand: DataFrame,
    n_slots: int,
    w: float,
    k: int,
) -> DataFrame:
    """W4 two-phase proximity: bonus-multiply the top k*10 base-score
    candidates by 1 + w/(1 + minspan - (n_slots-1)), where minspan is the
    smallest token window containing >=1 occurrence of every slot
    (PosdbTable::evalSlidingWindow, run over TopTree contenders only).

    The candidate set is tiny (<= k*10 docs), so the span computation is
    a driver-adjacent applyInPandas over a broadcast-joined position
    table — cost independent of corpus size."""
    import numpy as np
    import pandas as pd

    n_cand = max(10 * k, 100)
    base = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(n_cand)
    # positions stay delta+varint ENCODED until this per-doc kernel: the
    # join ships one small binary per (doc, slot, term) of the candidate
    # set, never an exploded array<int> column (the object-array decode
    # path was the proximity hot spot)
    posx = cand.join(F.broadcast(base.select("doc_id")), "doc_id").select(
        "doc_id", "slot", "tf", "pos_enc"
    )

    def minspan_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions import codec

        doc = pdf["doc_id"].iloc[0]
        parts_p: list[np.ndarray] = []
        parts_s: list[np.ndarray] = []
        for slot, tf, enc in zip(pdf["slot"], pdf["tf"], pdf["pos_enc"]):
            deltas = codec.decode_varint(enc, int(tf))
            pp = np.cumsum(deltas.astype(np.int64))
            parts_p.append(pp)
            parts_s.append(np.full(len(pp), int(slot), dtype=np.int64))
        pos = np.concatenate(parts_p)
        slots = np.concatenate(parts_s)
        order = np.argsort(pos, kind="mergesort")
        pos, slots = pos[order], slots[order]
        uniq = np.unique(slots)
        need = len(uniq)
        remap = {int(s): i for i, s in enumerate(uniq.tolist())}
        cnt = np.zeros(need, dtype=np.int64)
        have = 0
        best = None
        left = 0
        for right in range(len(pos)):  # classic two-pointer smallest window
            s = remap[int(slots[right])]
            cnt[s] += 1
            if cnt[s] == 1:
                have += 1
            while have == need:
                span = int(pos[right] - pos[left])
                if best is None or span < best:
                    best = span
                sl = remap[int(slots[left])]
                cnt[sl] -= 1
                if cnt[sl] == 0:
                    have -= 1
                left += 1
        return pd.DataFrame(
            {"doc_id": [doc], "minspan": [best if best is not None else 1_000_000]}
        )

    spans = posx.groupBy("doc_id").applyInPandas(
        minspan_fn, "doc_id long, minspan long"
    )
    # denominator clamped to >= 1: when a term occurs standalone AND
    # inside a quoted phrase, slots can share positions and minspan drops
    # below n_slots-1 — unclamped that divides by zero (NULL score, doc
    # sorts last) or negative (bonus becomes a penalty).  For disjoint
    # slots minspan >= n_slots-1 and the clamp is the identity, so every
    # oracle-certified score is unchanged.
    bonus = F.lit(1.0) + F.lit(float(w)) / F.greatest(
        F.lit(1.0),
        F.lit(1.0)
        + F.coalesce(F.col("minspan"), F.lit(1_000_000)).cast("double")
        - F.lit(float(n_slots - 1)),
    )
    return (
        base.join(spans, "doc_id", "left")
        .withColumn("score", F.col("score") * bonus)
        .select("doc_id", "score")
    )


def cached_result(
    spark: SparkSession, index: Index, tag: str, extra: tuple, compute
) -> DataFrame:
    """Return a DataFrame for (tag, extra), serving repeated queries from
    collected rows (the reference's serp cache, Msg17).  The key is the
    segment lists and collection totals a result is derived from, so any
    commit that changes them makes a new key and a stale result is never
    served; entries hold k collected rows (tiny)."""
    import pandas as pd

    view = index.view()
    key = (
        "result",
        view.key("postings", "deletes", "termstats", "docstats"),
        view.coll,
        tag,
        extra,
    )
    hit = MEMO.get(key)
    if hit is None:
        df = compute()
        hit = MEMO.put(key, (df.collect(), df.schema))
    rows, schema = hit
    # pandas input -> LocalTableScan: a cache hit's collect is job-free
    # (python-row input builds an ExistingRDD plan costing one dispatch)
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=schema.names)
    return spark.createDataFrame(pdf, schema)


def _stats_cached(
    spark: SparkSession, index: Index, terms: list[str]
) -> tuple[float, float, dict[str, tuple[int, int, int]]]:
    """(n_docs, avgdl, {term: (term_id, df, cf)}) — one job when cold.

    The Msg2 termlist-cache analog: ``(n_docs, avgdl)`` come from the
    view's manifest totals with no job, and per-term (term_id, df, cf)
    are tiny and immutable per termstats segment list, so they are
    memoized on it (and on the totals).  A cold query looks up all
    missing terms in ONE Spark job: the termstats runs are scanned raw
    with their declared schema (no footer read precedes it), filtered to
    the missing terms, and summed here on the driver, so the job has no
    shuffle stage.

    Raises if the view has no termstats or no collection totals:
    querying an index before its first batch commits stats is a caller
    error, not an empty result (a missing snapshot would otherwise
    negative-cache every term and silently return nothing)."""
    view = index.view()
    coll = view.coll_stats()
    if coll is None or not view.segments("termstats"):
        raise RuntimeError(
            f"index at {index.root} has no finalized stats (no commit "
            "carries termstats and collection totals) — build it "
            "(build_index) or add a batch (add_documents) before querying"
        )
    key = ("stats", view.key("termstats"), view.coll)
    cache = MEMO.get(key)
    if cache is None:
        cache = MEMO.put(key, {})
    missing = [t for t in terms if t not in cache]
    if missing:
        ts = read_segments(spark, view.segments("termstats"), TERMSTATS)
        found: dict[str, tuple[int, int, int]] = {}
        for r in ts.filter(F.col("term").isin(missing)).select(
            "term", "term_id", "df", "cf"
        ).collect():
            # one row per run holding the term: df and cf add up
            _tid, df0, cf0 = found.get(r["term"], (0, 0, 0))
            found[r["term"]] = (
                int(r["term_id"]), df0 + int(r["df"]), cf0 + int(r["cf"])
            )
        cache.update(found)
        for t in missing:  # negative-cache absent terms
            cache.setdefault(t, (0, 0, 0))
    n_docs, avgdl = coll
    return float(n_docs), avgdl, {
        t: cache[t] for t in terms if cache.get(t, (0, 0, 0))[1] > 0
    }


def _phrase_ok_docs(
    blocks: DataFrame,
    member_meta: dict[int, list[tuple[int, int]]],
    phrase_specs: list[tuple[int, int]],
) -> DataFrame:
    """(doc_id, phrase_id) pairs satisfying positional adjacency (J4).

    A doc matches phrase p iff the intersection of each member's
    positions shifted back by its sequence index is non-empty AND every
    member is present.  Positions stay delta+varint encoded until the
    per-doc Arrow kernel — no array<int> columns ever materialize in the
    plan (the object-array decode path was the phrase hot spot and dies
    at 100-TB position volumes).  Positional decode runs ONLY over the
    phrase members' blocks (pruned scan).
    """
    import numpy as np
    import pandas as pd

    from ..functions import codec
    from ..operators.merge import decode_to_postings

    ids = list(member_meta)
    rows = decode_to_postings(
        blocks.filter(F.col("term_id").isin(ids)), with_positions=True
    ).select("doc_id", "term_id", "tf", "pos_enc")

    specs = dict(phrase_specs)  # phrase_id -> n_members

    # co-locate each doc's member streams with ONE shuffle, then check
    # adjacency for a whole Arrow batch of docs per Python call (a
    # per-doc grouped-UDF call cost ~1 ms of overhead per doc)
    grouped = rows.groupBy("doc_id").agg(
        F.collect_list(F.struct("term_id", "tf", "pos_enc")).alias("members")
    )

    def kernel(batches):
        for pdf in batches:
            out_docs: list[int] = []
            out_pids: list[int] = []
            for doc, members in zip(pdf["doc_id"], pdf["members"]):
                by_phrase: dict[int, dict[int, np.ndarray]] = {}
                for m in members:
                    deltas = codec.decode_varint(m["pos_enc"], int(m["tf"]))
                    pos = np.cumsum(deltas.astype(np.int64))
                    for pid, seq in member_meta[int(m["term_id"])]:
                        by_phrase.setdefault(pid, {})[seq] = pos - seq
                for pid, n_members in specs.items():
                    sets = by_phrase.get(pid, {})
                    if len(sets) < n_members:
                        continue  # some member absent from this doc
                    it = iter(sets.values())
                    common = next(it)
                    for s in it:
                        common = np.intersect1d(common, s, assume_unique=False)
                        if not len(common):
                            break
                    if len(common):
                        out_docs.append(doc)
                        out_pids.append(pid)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(out_docs, dtype=np.int64),
                    "phrase_id": np.asarray(out_pids, dtype=np.int32),
                }
            )

    return grouped.mapInPandas(kernel, "doc_id long, phrase_id int")
