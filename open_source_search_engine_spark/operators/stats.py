"""Index statistics pages: ``describe_index`` and ``fsck_index``
(SURVEY.md §2.4 A1-A3).

Reference: Posdb::getTermFreq *estimates* df from RdbMap page counts and
Rdb::getNumTotalRecs counts docs.  The rebuild stores them exactly:
every written batch commits a termstats run (summed on read) and adds
its ``(n_docs, sum_doclen)`` to the manifest's collection totals.  These
pages report on and cross-check what is stored;
``operators.build.finalize_stats`` repairs the totals from docstats.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import term_hash_udf
from ..schemas import DICT_TERM_ID, TABLES
from ..sources.tables import segment_bytes


def describe_index(spark, index) -> dict:
    """Operational snapshot of a stored index — the PageStats/Statsdb
    'stats page' analog: per-table segment counts, on-disk bytes of the
    live segments and the manifest version that last changed each table
    (one driver-side manifest read and directory walk), the collection
    stats from the manifest's totals, plus postings shape from BLOCK
    METADATA only (one pruned-column scan; no posting bytes are
    decoded).

    Returns a plain dict so CLIs/tests/serving dashboards can render it:
    {tables: {name: {segments, bytes, version, operation}},
     postings: {blocks, postings, bytes_encoded, bytes_dictionary,
                n_shards, n_terms, max_block_docs},
     collstats: {n_docs, avgdl},
     features: {...}, tombstones: n}."""
    index = index.view()
    out: dict = {"tables": {}, "features": index.features()}
    for name in TABLES:
        snap = index.snapshot(name)
        out["tables"][name] = {
            "segments": len(snap.segments) if snap else 0,
            "bytes": sum(map(segment_bytes, snap.segments)) if snap else 0,
            "version": snap.version if snap else -1,
            "operation": snap.operation if snap else None,
        }
    blocks = index.postings.read(spark)
    if blocks is not None:
        # the doc dictionaries' blocks are no termlist: they count only
        # in bytes_dictionary
        is_dict = F.col("term_id") == DICT_TERM_ID

        def own(c):
            return F.when(~is_dict, c)

        core = F.octet_length("doc_ids_enc") + F.octet_length("tfs_enc")
        row = blocks.agg(
            F.count(own(F.lit(1))).alias("blocks"),
            F.sum(own(F.col("n_docs"))).alias("postings"),
            F.sum(own(F.col("sum_tf"))).alias("occurrences"),
            F.sum(own(core + F.octet_length("positions_enc"))).alias(
                "bytes_encoded"
            ),
            F.sum(own(core)).alias("bytes_core"),
            F.sum(own(F.octet_length("positions_enc"))).alias("bytes_positions"),
            F.sum(F.when(is_dict, core)).alias("bytes_dictionary"),
            F.countDistinct("shard").alias("n_shards"),
            F.countDistinct(own(F.col("term_id"))).alias("n_terms"),
            F.max(own(F.col("n_docs"))).alias("max_block_docs"),
        ).collect()[0]
        out["postings"] = {k: (int(v) if v is not None else 0) for k, v in row.asDict().items()}
        p = out["postings"]
        # two densities, two units (mixing them overstates the posting
        # cost): core = (ordinal gap, tf) per POSTING — the
        # "~7 B/posting at 40-bit gaps" claim and the unit of the
        # reference's 6-12 B prefix-compressed posdb keys; positions are
        # per-OCCURRENCE payload (cf occurrences, not df postings)
        p["bytes_per_posting"] = (
            round(p["bytes_encoded"] / p["postings"], 2) if p["postings"] else 0.0
        )
        p["bytes_per_posting_core"] = (
            round(p["bytes_core"] / p["postings"], 2) if p["postings"] else 0.0
        )
        p["bytes_per_occurrence_positions"] = (
            round(p["bytes_positions"] / p["occurrences"], 2)
            if p["occurrences"]
            else 0.0
        )
        # the reference-band unit: posdb stores ONE 18-byte key per
        # occurrence (prefix-compressed to 6-12 B), so total encoded
        # bytes / occurrences is the number comparable to that band
        p["bytes_per_occurrence_total"] = (
            round(p["bytes_encoded"] / p["occurrences"], 2)
            if p["occurrences"]
            else 0.0
        )
    coll = index.coll_stats()
    if coll is not None:
        out["collstats"] = {"n_docs": coll[0], "avgdl": round(coll[1], 2)}
    # distributed count, NOT deleted_doc_ids(): the stats page only needs
    # the number — collecting + sorting every tombstone id to the driver
    # (and warming the WAND dead-set memo as a side effect) is exactly the
    # driver-side materialization a large un-compacted delete backlog
    # can't afford
    ddf = index.deletes.read(spark)
    out["tombstones"] = (
        0 if ddf is None else int(ddf.select("doc_id").distinct().count())
    )
    return out


def fsck_index(spark, index, deep: bool = False) -> dict:
    """Consistency check of a stored index — the Repair.cpp
    verify-before-rebuild analog for the manifest layout.  Checks,
    cheapest first:

    - manifest integrity: every segment directory the head manifest
      references exists on disk;
    - cross-table invariants (driver-side, tiny reads): the manifest's
      ``(n_docs, sum_doclen)`` == docstats' row count and doclen sum
      (``operators.build.finalize_stats`` repairs a mismatch);
      termstats' df sum (over every run) == the postings' ``n_docs``
      sum — both count postings, and a minor merge re-blocks postings
      without adding or dropping any, so a postings segment committed
      without its run is caught; every posting term_id is the hash of
      some termstats term.  The doc dictionaries' reserved term counts
      in neither;
    - ``deep=True`` additionally decodes every posting block and every
      doc dictionary (``_deep_check``) — O(index), the full RdbMap
      scan.

    Returns {ok: bool, issues: [str], checked: {…counts…}} — never
    raises on findings, so operators can run it against a live index.
    """
    import os

    issues: list[str] = []
    checked: dict = {}
    index = index.view()
    broken: set[str] = set()
    # one pass over the head manifest: a missing segment dir in ANY
    # table (deletes included — it crashes every query path's tombstone
    # anti-join) is the verify-before-rebuild failure fsck exists for
    tables = index.record["tables"]
    for name in sorted(tables):
        missing = [s for s in index.segments(name) if not os.path.isdir(s)]
        if missing:
            broken.add(name)
            issues.append(
                f"{name}: v{index.version} references {len(missing)} "
                f"missing segment dir(s), e.g. {os.path.basename(missing[0])}"
            )
    for name in ("postings", "docstats", "termstats"):
        if name not in tables:
            issues.append(f"{name}: no snapshot (index incomplete?)")
    if index.coll is None:
        issues.append(
            "collstats: the manifest carries no collection totals "
            "(index incomplete, or written in an older layout?)"
        )
    checked["tables"] = len(tables)

    # cross-table scans only over tables whose segments all exist — a
    # missing dir is already reported above and would otherwise abort the
    # whole check with a mid-scan FileNotFound
    def _read(name):
        return None if name in broken else getattr(index, name).read(spark)

    blocks = _read("postings")
    ds = _read("docstats")
    ts = _read("termstats")
    if ds is not None and index.coll is not None:
        row = ds.agg(
            F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("s")
        ).collect()[0]
        n_ds, s_ds = int(row["n"]), int(row["s"] or 0)
        checked["docstats_rows"] = n_ds
        n_docs, sum_doclen = index.coll
        if (n_docs, sum_doclen) != (n_ds, s_ds):
            issues.append(
                f"collstats: manifest n_docs={n_docs}, sum_doclen="
                f"{sum_doclen} != docstats rows={n_ds}, doclen sum={s_ds} "
                "(docstats changed outside the batch writer? "
                "finalize_stats recounts)"
            )
    if blocks is not None and ts is not None:
        terms = blocks.filter(F.col("term_id") != DICT_TERM_ID)
        n_post = int(terms.agg(F.sum("n_docs")).collect()[0][0] or 0)
        n_df = int(ts.agg(F.sum("df")).collect()[0][0] or 0)
        checked["postings"] = n_post
        if n_df != n_post:
            issues.append(
                f"termstats df sum={n_df} != postings count={n_post} "
                "(a postings segment without its termstats run?)"
            )
        # a run stores no term_id: the posting ids are matched against
        # the hashes of the stored terms
        orphan_terms = (
            terms.select("term_id")
            .distinct()
            .join(
                ts.select(term_hash_udf(F.col("term")).alias("term_id")),
                "term_id",
                "left_anti",
            )
            .count()
        )
        if orphan_terms:
            issues.append(
                f"{orphan_terms} posting term_id(s) absent from termstats"
            )
    if deep and blocks is not None:
        issues += _deep_check(spark, index, blocks, ds)
        checked["deep_blocks"] = True
    return {"ok": not issues, "issues": issues, "checked": checked}


def _deep_check(spark, index, blocks, ds) -> list[str]:
    """``fsck_index(deep=True)``: decode every block and every doc
    dictionary.  Per termlist block the ordinals must be in range of
    its shard's dictionary and strictly increasing (the sorted-run
    invariant T5), and the dictionary ids of the first and last must
    equal the stored [min_doc_id, max_doc_id] the WAND kernel routes
    by; each dictionary's ids must be strictly increasing (in shifted
    uint64 space) with each block's bounds matching; and its doclens
    must equal docstats'."""
    import numpy as np
    import pandas as pd

    from ..functions import codec
    from .merge import doc_dicts_broadcast

    issues: list[str] = []
    shipped = doc_dicts_broadcast(spark, index.segments("postings"))
    docs = shipped.value
    shift = np.uint64(1 << 63)

    def _bad(row) -> bool:
        n = int(row.n_docs)
        if row.term_id == DICT_TERM_ID:
            ids = codec.delta_decode(codec.decode_varint(row.doc_ids_enc, n))
            u = ids.astype(np.uint64) + shift
            if not (u[1:] > u[:-1]).all():
                return True
        else:
            d = shipped.value.get(int(row.shard))
            ords = codec.decode_ordinals(row.doc_ids_enc, n)
            if d is None or (
                n
                and (ords[0] < 0 or ords[-1] >= len(d) or (np.diff(ords) <= 0).any())
            ):
                return True
            ids = d.lookup(ords[[0, -1]])[0] if n else ords
        return bool(n and (ids[0] != row.min_doc_id or ids[-1] != row.max_doc_id))

    def _verify(batches):
        for pdf in batches:
            bad = sum(_bad(row) for row in pdf.itertuples(index=False))
            yield pd.DataFrame({"bad": [bad]})

    bad = int(
        blocks.select(
            "term_id", "shard", "n_docs", "min_doc_id", "max_doc_id", "doc_ids_enc"
        )
        .mapInPandas(_verify, "bad long")
        .agg(F.sum("bad").alias("bad"))
        .collect()[0]["bad"]
        or 0
    )
    if bad:
        issues.append(
            f"{bad} block(s) fail decode invariants (ordinals out of "
            "range or not strictly increasing, unsorted ids, or "
            "[min,max] metadata mismatch)"
        )
    parts = []
    for shard, d in sorted(docs.items()):
        ids, lens = d.lookup(np.arange(len(d)))
        u = ids.astype(np.uint64) + shift
        if not (u[1:] > u[:-1]).all():
            issues.append(f"shard {shard}: doc dictionary ids are not strictly sorted")
        parts.append(pd.DataFrame({"doc_id": ids, "dict_doclen": lens}))
    if parts and ds is not None:
        dicts = spark.createDataFrame(pd.concat(parts), "doc_id long, dict_doclen long")
        n_bad = (
            dicts.join(ds.select("doc_id", "doclen"), "doc_id")
            .filter(F.col("dict_doclen") != F.col("doclen"))
            .count()
        )
        if n_bad:
            issues.append(
                f"{n_bad} doc dictionary doclen(s) differ from docstats'"
            )
    return issues
