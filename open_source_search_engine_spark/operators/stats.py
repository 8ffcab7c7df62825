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

from ..schemas import TABLES
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
     postings: {blocks, postings, bytes_encoded, n_shards, n_terms,
                max_block_docs}, collstats: {n_docs, avgdl},
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
        row = blocks.agg(
            F.count("*").alias("blocks"),
            F.sum("n_docs").alias("postings"),
            F.sum("sum_tf").alias("occurrences"),
            F.sum(
                F.octet_length("doc_ids_enc")
                + F.octet_length("tfs_enc")
                + F.octet_length("doclens_enc")
                + F.octet_length("positions_enc")
            ).alias("bytes_encoded"),
            F.sum(
                F.octet_length("doc_ids_enc")
                + F.octet_length("tfs_enc")
                + F.octet_length("doclens_enc")
            ).alias("bytes_core"),
            F.sum(F.octet_length("positions_enc")).alias("bytes_positions"),
            F.countDistinct("shard").alias("n_shards"),
            F.countDistinct("term_id").alias("n_terms"),
            F.max("n_docs").alias("max_block_docs"),
        ).collect()[0]
        out["postings"] = {k: (int(v) if v is not None else 0) for k, v in row.asDict().items()}
        p = out["postings"]
        # two densities, two units (mixing them overstates the posting
        # cost): core = (doc_id gap, tf, doclen) per POSTING — the
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
      without its run is caught; every posting term_id appears in some
      termstats run;
    - ``deep=True`` additionally decodes every posting block and
      re-verifies the sorted-run invariant (doc_ids strictly increasing
      within a block) — O(index), the full RdbMap scan.

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
        n_post = int(blocks.agg(F.sum("n_docs")).collect()[0][0] or 0)
        n_df = int(ts.agg(F.sum("df")).collect()[0][0] or 0)
        checked["postings"] = n_post
        if n_df != n_post:
            issues.append(
                f"termstats df sum={n_df} != postings count={n_post} "
                "(a postings segment without its termstats run?)"
            )
        orphan_terms = (
            blocks.select("term_id")
            .distinct()
            .join(ts.select("term_id"), "term_id", "left_anti")
            .count()
        )
        if orphan_terms:
            issues.append(
                f"{orphan_terms} posting term_id(s) absent from termstats"
            )
    if deep and blocks is not None:
        # full decode in an Arrow kernel: per block the delta-decoded
        # doc_ids must be strictly increasing in shifted-uint64 space
        # (the sorted-run invariant T5) and the first/last ids must equal
        # the stored [min_doc_id, max_doc_id] bounds the WAND kernel
        # prunes by
        import numpy as np
        import pandas as pd

        from ..functions import codec

        def _verify(batches):
            for pdf in batches:
                bad = 0
                for row in pdf.itertuples(index=False):
                    ids, _tfs, _pos, _b = codec.decode_postings_block(
                        row.doc_ids_enc, row.tfs_enc, b"", int(row.n_docs)
                    )
                    u = ids.astype(np.uint64) + np.uint64(1 << 63)
                    if (
                        ids.size != int(row.n_docs)
                        or (ids.size and ids[0] != row.min_doc_id)
                        or (ids.size and ids[-1] != row.max_doc_id)
                        or (ids.size > 1 and not (np.diff(u) > 0).all())
                    ):
                        bad += 1
                yield pd.DataFrame({"bad": [bad]})

        bad = int(
            blocks.select(
                "n_docs", "min_doc_id", "max_doc_id", "doc_ids_enc", "tfs_enc"
            )
            .mapInPandas(_verify, "bad long")
            .agg(F.sum("bad").alias("bad"))
            .collect()[0]["bad"]
            or 0
        )
        checked["deep_blocks"] = True
        if bad:
            issues.append(
                f"{bad} block(s) fail decode invariants (unsorted ids or "
                "[min,max] metadata mismatch)"
            )
    return {"ok": not issues, "issues": issues, "checked": checked}
