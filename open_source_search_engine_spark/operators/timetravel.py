"""Time travel: query the index AS OF an earlier manifest version.

Every commit publishes a new immutable manifest (sources/tables.py) and
never deletes segment files, so any surviving version stays readable.
The reference's Rdb keeps only the live file set (RdbBase manifest,
SURVEY §1.3) — time travel is the Iceberg-native extension this rebuild
gets for free, and the audit tool a training-data pipeline needs ("what
did the index serve LAST week?", reproducing a past training snapshot,
diffing pre/post-delete).

A point in time is one number: ``index_versions(index)`` returns the
head manifest version, and ``as_of(index, v)`` is the ``IndexView``
pinned at ``v`` — the same object every query entry point opens at the
head.  Every query plan (WAND, exhaustive, boolean, serp) works
unchanged on it, and the memoized stats, tombstones, docmeta and read
frames key on segment lists, so as-of and head reads share what they
have in common and never poison each other.
"""

from __future__ import annotations

from ..sources.tables import IndexView, Manifest


def index_versions(index) -> int:
    """The index's current manifest version (-1 before the first
    commit) — capture BEFORE a mutation to be able to query as-of it
    later."""
    v = index.view().version
    return -1 if v is None else v


def as_of(index, version: int) -> IndexView:
    return index.view(version)


def vacuum_index(index, keep_last: int = 1) -> dict:
    """Expire all but the newest ``keep_last`` manifest versions and the
    segments only they reach — the maintenance dual of as_of: retention
    bounds how far back AS-OF reads may go, and disk stops growing with
    mutation history.  Returns {expired_versions, removed_segments}."""
    return Manifest(index.root).expire(keep_last)
