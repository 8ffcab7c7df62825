"""Snapshot changelog — CDC between two index versions (Iceberg
``incremental read`` / ``changes`` analog; the audit dual of
operators/timetravel.py's AS-OF reads).

The reference engine has no historical diff (Rdb keeps only the live
file set, SURVEY §1.3); this is the Iceberg-native extension a
training-data pipeline needs: "which documents entered or left the
index between snapshot A and snapshot B?" drives incremental
re-training feeds, eval-set freshness audits, and delete-compliance
reports without ever re-scanning the corpus.

Semantics (exact, mode-independent): with ``live(v)`` = docstats rows
at manifest version v minus doc_ids tombstoned at v,

    added   = live(to) - live(from)
    removed = live(from) - live(to)

one row per changed doc with its docstats metadata plus a ``change``
column ('added' | 'removed').  Updates surface as the reference's own
delete-then-re-add diff (doc_id = hash(repo,path,commit), so a new
commit IS a new doc).  Compaction between the pins changes no live doc
and therefore yields an EMPTY changelog — physical rewrites are
invisible, exactly Iceberg's contract.

Plan shape at 100 TB — two modes, chosen per call from the manifest
log alone (no Spark job):

- **incremental** (every segment live at ``from`` is still live at
  ``to``, for both docstats and deletes — i.e. the window is
  append-only): the added side scans ONLY the segments committed in
  the window (segment-list set difference, the Iceberg incremental
  read), and the removed side semi-joins the window's new tombstone
  ids (small by construction) against the pinned docstats — AQE
  broadcasts the tombstone side, so the 10^12-row docstats is never
  shuffled.
- **diff** (a compaction/rewrite intervened): honest live-set
  anti-joins between the two pins over column-pruned docstats scans —
  the fallback Iceberg itself requires when a rewrite breaks
  append-only lineage.

``changelog_mode`` exposes which mode a (from, to) pair resolves to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TABLES
from ..sources.tables import read_segments

# docstats columns carried on every changelog row
_META_COLS = TABLES["docstats"].fieldNames()


def _segments(index, version: int, table: str) -> list[str]:
    """Live segment paths of ``table`` at ``version`` (-1: before the
    first commit, when no table has any)."""
    return [] if version < 0 else index.view(version).segments(table)


def _read(spark: SparkSession, index, version: int, table: str):
    """``table`` at ``version`` (None: no segment, or version -1)."""
    return None if version < 0 else index.view(version).table(table).read(spark)


def _dead_ids(spark: SparkSession, index, version: int) -> DataFrame | None:
    """Distinct tombstoned doc_ids at ``version`` (None = no deletes)."""
    df = _read(spark, index, version, "deletes")
    return None if df is None else df.select("doc_id").distinct()


def changelog_mode(index, version_from: int, version_to: int) -> str:
    """'incremental' when the (from, to] window is append-only for both
    docstats and deletes (every from-segment still live at to), else
    'diff'.  Resolved from the manifests alone — no Spark job."""
    for table in ("docstats", "deletes"):
        segs_from = set(_segments(index, version_from, table))
        if not segs_from <= set(_segments(index, version_to, table)):
            return "diff"
    return "incremental"


def _empty(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [],
        "doc_id long, repo string, path string, commit string, "
        "lang string, content_sha256 string, doclen int, change string",
    )


def _with_change(df: DataFrame, change: str) -> DataFrame:
    return df.select(*_META_COLS).withColumn("change", F.lit(change))


def index_changes(
    spark: SparkSession,
    index,
    version_from: int,
    version_to: int | None = None,
) -> DataFrame:
    """(docstats metadata…, change) for every doc whose LIVE-set
    membership differs between two manifest versions, as returned by
    :func:`operators.timetravel.index_versions` (-1 = before the first
    commit).  ``version_to`` defaults to the head."""
    from .timetravel import index_versions

    if version_to is None:
        version_to = index_versions(index)
    ds_from = _read(spark, index, version_from, "docstats")
    ds_to = _read(spark, index, version_to, "docstats")
    dead_from = _dead_ids(spark, index, version_from)
    dead_to = _dead_ids(spark, index, version_to)

    if ds_to is None and ds_from is None:
        return _empty(spark)

    if changelog_mode(index, version_from, version_to) == "incremental":
        # Iceberg incremental read: adds live ONLY in the window's new
        # docstats segments; removals ONLY in its new tombstone segments.
        new_ds = sorted(
            set(_segments(index, version_to, "docstats"))
            - set(_segments(index, version_from, "docstats"))
        )
        added = read_segments(spark, new_ds, TABLES["docstats"])
        if added is not None:
            if dead_to is not None:
                added = added.join(dead_to, "doc_id", "left_anti")
            if ds_from is not None:
                # guard against a doc_id re-added while already present
                # (one column-pruned probe of the old pin; a clean
                # append window makes this a no-op join)
                added = added.join(
                    ds_from.select("doc_id"), "doc_id", "left_anti"
                )
        new_del = sorted(
            set(_segments(index, version_to, "deletes"))
            - set(_segments(index, version_from, "deletes"))
        )
        removed = None
        new_dead = read_segments(spark, new_del, TABLES["deletes"])
        if new_dead is not None and ds_from is not None:
            new_dead = new_dead.select("doc_id").distinct()
            if dead_from is not None:
                # a doc already dead at `from` can reappear in a later
                # tombstone segment (delete_docs never dedups history)
                new_dead = new_dead.join(dead_from, "doc_id", "left_anti")
            removed = ds_from.join(new_dead, "doc_id", "left_semi")
    else:
        # a rewrite (compaction) broke append-only lineage: honest
        # live-set diff between the two versions
        def live(ds, dead):
            if ds is None:
                return None
            return (
                ds.join(dead, "doc_id", "left_anti") if dead is not None else ds
            )

        live_from, live_to = live(ds_from, dead_from), live(ds_to, dead_to)
        added = removed = None
        if live_to is not None:
            added = (
                live_to.join(live_from.select("doc_id"), "doc_id", "left_anti")
                if live_from is not None
                else live_to
            )
        if live_from is not None:
            removed = (
                live_from.join(live_to.select("doc_id"), "doc_id", "left_anti")
                if live_to is not None
                else live_from
            )

    out = _empty(spark)
    if added is not None:
        out = out.unionByName(_with_change(added, "added"))
    if removed is not None:
        out = out.unionByName(_with_change(removed, "removed"))
    return out
