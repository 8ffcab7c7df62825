"""Index manifest and snapshot views (SURVEY.md §1.1, §1.3).

The reference's Rdb is an LSM tree: immutable sorted runs on disk plus a
manifest of live files, swapped whole by each dump or merge
(RdbBase.cpp attemptMerge / RdbDump.cpp).  The rebuild keeps that
contract for the whole index with one JSON manifest log over plain
parquet segment directories, shaped like an Iceberg metadata log: one
pointer per commit, and "the index as of t" is one version number.

Layout:
    <root>/<table>/<label>-<uuid>/...parquet   immutable segment data
    <root>/_index/v<k>.json                    manifest k: every table's
                                               live segments
    <root>/_index/shard-<id>                   a WAND shard id claimed
                                               by a delta writer

Every segment is parquet written with one codec (``PARQUET_CODEC``).
termstats holds one additive run per written batch, and its reads sum
the runs per term.  The collection totals BM25 needs live in the
manifest record itself, ``"coll": {"n_docs": N, "sum_doclen": S}``: a
commit adds its signed delta to the head's totals (Gigablast's
docs-indexed counter, Iceberg's additive ``total-records``), so no
write rescans the index to refresh them.

Commit protocol: a writer stages its segments, then publishes manifest
k+1 in one step.  It writes a temp file and hard-links it to
``v<k+1>.json``; the link fails if that version exists.  The loser of a
race re-reads the new head, re-applies its change and tries the next
version.  A version file is whole the moment it exists and the head is
the highest version present, so a crash at any point leaves the old head
or the new one, and never a pointer that later commits trip over.

Reads go through an ``IndexView`` pinned at one manifest version.  What
is derived from segment data (read frames, stats, tombstone sets,
docmeta, bloom sidecars, serp results) lives in one bounded memo keyed
on the immutable segment lists it came from; segment directories carry
a uuid, so a root rebuilt in place never aliases an old entry.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# on-disk layout tag: caches of built indexes key on it, so a tree in an
# older layout is rebuilt instead of adopted
INDEX_LAYOUT = "manifest-v4"
MANIFEST_DIR = "_index"
# the one codec every parquet segment is written with (Spark and pyarrow
# writers alike), at the codec's default level
PARQUET_CODEC = "zstd"

_EMPTY = {"tables": {}, "operation": None, "meta": {}, "max_shard": -1}


class Memo:
    """One bounded, lock-guarded memo for values derived from immutable
    segment lists.  A key starts with its kind; each kind keeps at most
    ``LIMITS[kind]`` entries, least recently used out first.  An evicted
    cached Spark frame is unpersisted."""

    LIMITS = {
        "frame": 256,  # analyzed parquet reads (no data held)
        "docmeta": 4,  # cached docmeta projections (executor memory)
        "rows": 8,  # driver-side doc_id -> (repo, path, lang) dicts
        "stats": 64,
        "dead": 64,
        "result": 512,
        "bloom": 4096,
    }

    def __init__(self):
        self._d: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, default=None):
        with self._lock:
            if key not in self._d:
                return default
            self._d.move_to_end(key)
            return self._d[key]

    def put(self, key, value):
        with self._lock:
            self._d[key] = value
            self._d.move_to_end(key)
            same = [k for k in self._d if k[0] == key[0]]
            evicted = [self._d.pop(k) for k in same[: -self.LIMITS[key[0]]]]
        for v in evicted:
            if getattr(v, "is_cached", False):
                try:
                    v.unpersist()
                except Exception:
                    pass
        return value

    def keys(self, kind: str | None = None) -> list:
        with self._lock:
            return [k for k in self._d if kind is None or k[0] == kind]

    def clear(self) -> None:
        with self._lock:
            self._d.clear()


MEMO = Memo()


def read_segments(spark: SparkSession, segments, schema=None) -> DataFrame:
    """``spark.read.parquet`` over a segment list, memoized: analyzing a
    read re-lists the directories and re-reads footers, a driver-side job
    every warm query would otherwise pay per table touch.  A declared
    ``schema`` skips the footer read, so even a cold read analyzes
    without a job."""
    key = ("frame", spark.sparkContext.applicationId, tuple(segments), schema)
    df = MEMO.get(key)
    if df is None:
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = MEMO.put(key, reader.parquet(*segments))
    return df


@dataclass
class Snapshot:
    version: int
    segments: list[str]
    operation: str
    meta: dict = field(default_factory=dict)


class Manifest:
    """The index-level commit log under ``<root>/_index/``.  Segment
    paths are stored relative to the root, so an index directory can be
    renamed, copied or moved whole."""

    def __init__(self, root: str):
        self.root = root
        self.dir = os.path.join(root, MANIFEST_DIR)

    def versions(self) -> list[int]:
        try:
            names = os.listdir(self.dir)
        except FileNotFoundError:
            return []
        return sorted(
            int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
        )

    def head(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def load(self, version: int) -> dict:
        with open(os.path.join(self.dir, f"v{version}.json")) as f:
            return json.load(f)

    def records(self, upto: int | None = None):
        """Every surviving manifest record, oldest first."""
        for v in self.versions():
            if upto is None or v <= upto:
                yield self.load(v)

    def history(self, table: str, upto: int | None = None) -> list[int]:
        """Manifest versions at which ``table``'s segment list changed."""
        out, prev = [], None
        for rec in self.records(upto):
            segs = rec["tables"].get(table)
            if segs is not None and segs != prev:
                out.append(rec["version"])
            prev = segs
        return out

    def rel(self, path: str) -> str:
        rel = os.path.relpath(path, self.root)
        return path if rel.startswith("..") else rel

    def abs(self, path: str) -> str:
        return path if os.path.isabs(path) else os.path.join(self.root, path)

    def commit(
        self,
        changes: dict,
        operation: str,
        meta: dict | None = None,
        max_shard: int = -1,
        stage=None,
        coll: tuple[int, int] | None = None,
    ) -> int:
        """Publish one manifest applying ``changes`` ({table: (add,
        remove)}) to the head, and adding ``coll``, a signed
        ``(n_docs, sum_doclen)`` delta, to the head's collection totals
        (None carries them over unchanged).  Optimistic: on losing a
        race to another writer the change and the delta are re-applied
        to the new head (the way Iceberg commits retry), so concurrent
        adds commute; removing a segment the new head no longer holds
        is a real conflict and raises ValueError.  ``stage(version)``
        may add version-dependent changes per attempt.  Returns the
        published version."""
        os.makedirs(self.dir, exist_ok=True)
        for _ in range(1000):
            head = self.head()
            base = _EMPTY if head is None else self.load(head)
            version = 0 if head is None else head + 1
            tables = {n: list(s) for n, s in base["tables"].items()}
            extra = stage(version) if stage is not None else {}
            changed = dict(base.get("changed", {}))
            for name, (add, remove) in [*changes.items(), *extra.items()]:
                before = base["tables"].get(name)
                segs = tables.setdefault(name, [])
                for r in map(self.rel, remove):
                    if r not in segs:
                        raise ValueError(
                            f"{name}: segment {r} is gone from the head "
                            f"(v{head}): a concurrent commit removed it"
                        )
                    segs.remove(r)
                segs.extend(self.rel(a) for a in add)
                if segs != before:
                    changed[name] = version
            rec = {
                "version": version,
                "tables": tables,
                "changed": changed,
                "operation": operation,
                "meta": meta or {},
                "max_shard": max(int(base.get("max_shard", -1)), int(max_shard)),
                "ts": time.time(),
            }
            totals = _plus(_totals(base), coll)
            if totals is not None:
                rec["coll"] = {"n_docs": totals[0], "sum_doclen": totals[1]}
            tmp = os.path.join(self.dir, f".v{version}.{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as f:
                json.dump(rec, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, os.path.join(self.dir, f"v{version}.json"))
            except FileExistsError:
                continue
            finally:
                os.unlink(tmp)
            return version
        raise RuntimeError(f"manifest commit contention on {self.root}")

    def claim_shards(self, first: int, n: int = 1) -> int:
        """Claim ``n`` consecutive WAND shard ids from ``first`` up that
        no writer claimed before (one exclusive create of
        ``shard-<id>`` each) and return the first.  Writers that start
        from one view (concurrent adds) so never share a shard id: two
        sorted runs in one shard would interleave in one sub-list."""
        os.makedirs(self.dir, exist_ok=True)
        s = first
        while True:
            for i in range(s, s + n):
                try:
                    open(os.path.join(self.dir, f"shard-{i}"), "x").close()
                except FileExistsError:
                    s = i + 1
                    break
            else:
                return s

    def expire(self, keep_last: int = 1) -> dict:
        """Delete all but the newest ``keep_last`` manifest versions and
        the segment directories only they reach (Iceberg's snapshot
        expiry): the disk-growth bound time travel needs, since
        no commit deletes segment files.  AS-OF reads of an expired
        version fail fast afterwards (FileNotFoundError on the manifest).
        Segment directories no manifest references (in-flight writes)
        are never touched."""
        versions = self.versions()
        keep = versions[-max(1, keep_last):]
        expired = [v for v in versions if v not in keep]
        def reach(vs):
            return {s for v in vs for segs in self.load(v)["tables"].values() for s in segs}

        removed = 0
        for rel in reach(expired) - reach(keep):
            path = self.abs(rel)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
                removed += 1
        for v in expired:
            try:
                os.remove(os.path.join(self.dir, f"v{v}.json"))
            except OSError:
                pass
        return {"expired_versions": len(expired), "removed_segments": removed}


class SnapshotTable:
    """One table of an index.  Bound to a view, it reads that view's
    version; unbound, it reads the head at each call."""

    def __init__(self, root: str, name: str, view: "IndexView | None" = None):
        self.root = root
        self.name = name
        self.dir = os.path.join(root, name)
        self._view = view

    def view(self, version: int | None = None) -> "IndexView":
        if self._view is not None:
            return self._view.view(version)
        return Index(self.root).view(version)

    # -- write side ---------------------------------------------------------
    def new_segment_path(self, label: str = "seg") -> str:
        return os.path.join(self.dir, f"{label}-{uuid.uuid4().hex[:12]}")

    def write_segment(
        self, df: DataFrame, label: str = "seg", bloom_col: str | None = None
    ) -> str:
        """Write ``df`` as a new, not yet committed segment directory."""
        path = self.new_segment_path(label)
        df.write.mode("errorifexists").option("compression", PARQUET_CODEC).parquet(
            path
        )
        if bloom_col is not None:
            # membership sidecar for read_pruned (functions/bloom.py —
            # the RdbMap file-pruning analog).  Ids are read back from
            # the segment's OWN parquet (one cheap single-column scan)
            # rather than from ``df``, so the upstream plan is never
            # recomputed; written before commit, immutable with the dir.
            # The build is distributed: the driver never receives an
            # unbounded id list — only the fixed-size bitmap (or a
            # count-bounded pull for small segments).
            from ..functions import bloom as _bloom

            sidecar = _bloom.build_bloom_distributed(
                df.sparkSession.read.parquet(path), bloom_col
            )
            # None = vocabulary over BLOOM_MAX_KEYS: no sidecar, the
            # segment is always scanned (read_pruned treats a missing
            # sidecar as unprunable — correct, just unpruned)
            if sidecar is not None:
                _bloom.write_sidecar(path, sidecar)
        return path

    def commit(
        self,
        add: list[str] | None = None,
        remove: list[str] | None = None,
        operation: str = "append",
        meta: dict | None = None,
    ) -> Snapshot:
        """Commit a change to this table alone as one manifest version."""
        v = Manifest(self.root).commit(
            {self.name: (list(add or []), list(remove or []))}, operation, meta
        )
        return Index(self.root).view(v).snapshot(self.name)

    # -- read side ----------------------------------------------------------
    def latest(self) -> Snapshot | None:
        return self.view().snapshot(self.name)

    def at(self, version: int) -> Snapshot:
        """Time travel to manifest ``version`` (segment paths resolved)."""
        snap = self.view(version).snapshot(self.name)
        if snap is None:
            raise ValueError(f"table {self.name} has no snapshot at v{version}")
        return snap

    def history(self) -> list[int]:
        upto = self._view.version if self._view is not None else None
        return Manifest(self.root).history(self.name, upto)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        """DataFrame over the live segments at the view (or ``version``).
        termstats segments are additive runs, one per written batch: with
        more than one, the read sums df, cf and n_blocks per (term_id,
        term), the way Gigablast merges its sorted runs when it reads
        them."""
        segs = self.view(version).segments(self.name)
        if not segs:
            return None
        df = read_segments(spark, segs)
        if self.name == "termstats" and len(segs) > 1:
            df = (
                df.groupBy("term_id", "term")
                .agg(*[F.sum(c).alias(c) for c in ("df", "cf", "n_blocks")])
                .select(*df.columns)
            )
        return df

    def pruned_segments(
        self, term_ids, version: int | None = None
    ) -> tuple[list[str], int]:
        """(segments that may contain any of ``term_ids``, total live
        segments) — bloom-sidecar file pruning (the Msg5/RdbMap 'which
        runs hold this key' narrowing).  Segments without a sidecar are
        never pruned."""
        segs = self.view(version).segments(self.name)
        return _prune(segs, term_ids), len(segs)

    def read_pruned(
        self, spark: SparkSession, term_ids, version: int | None = None
    ) -> DataFrame | None:
        """``read()`` restricted to the segments whose bloom sidecar may
        contain any of ``term_ids``.  Strictly a superset-of-the-truth
        file set, so every downstream pushed ``term_id`` filter returns
        identical rows — only the files listed/scanned shrink."""
        segs = self.view(version).segments(self.name)
        if not segs:
            return None
        # when every bloom excludes every queried term, serve the
        # cheapest scan with the table's schema: one segment, whose
        # pushed filter then matches no row
        return read_segments(spark, _prune(segs, term_ids) or segs[:1])


def _totals(record: dict) -> tuple[int, int] | None:
    c = record.get("coll")
    return None if c is None else (int(c["n_docs"]), int(c["sum_doclen"]))


def _plus(totals, delta):
    """``totals`` plus a ``(n_docs, sum_doclen)`` delta; a None delta
    leaves them as they are, and None totals count as zero."""
    if delta is None:
        return totals
    n, s = totals or (0, 0)
    return (n + int(delta[0]), s + int(delta[1]))


def segment_bytes(path: str) -> int:
    """On-disk bytes of one segment directory (data files and sidecars)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _prune(segments: list[str], term_ids) -> list[str]:
    from ..functions import bloom as _bloom

    ids = list(term_ids)
    keep = []
    for seg in segments:
        b = _bloom.load_sidecar(seg)
        if b is None or _bloom.might_contain_any(b, ids):
            keep.append(seg)
    return keep


@dataclass
class Index:
    """Live handle on an index root: each access reads the head."""

    root: str

    version = None  # a live handle follows the head

    def view(self, version: int | None = None) -> "IndexView":
        """The index pinned at manifest ``version`` (None: the head)."""
        m = Manifest(self.root)
        v = m.head() if version is None else version
        return IndexView(self.root, v, _EMPTY if v is None else m.load(v))

    def table(self, name: str) -> SnapshotTable:
        return SnapshotTable(self.root, name)

    def features(self) -> dict:
        """Index-level format flags (e.g. {"bigrams": true}) — written at
        build time, consulted by query planning (a query can't know
        whether pair termlists exist without it)."""
        try:
            with open(os.path.join(self.root, "_features.json")) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def write_features(self, **kv) -> None:
        d = {**self.features(), **kv}
        os.makedirs(self.root, exist_ok=True)
        tmp = os.path.join(self.root, f".features.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, os.path.join(self.root, "_features.json"))

    postings = property(lambda self: self.table("postings"))
    docstats = property(lambda self: self.table("docstats"))
    # no writer fills termdict or termstats_partial (termstats runs
    # carry the term strings); kept only because the benchmark's
    # table_layers still reads them — drop with ROADMAP item 5
    termdict = property(lambda self: self.table("termdict"))
    termstats_partial = property(lambda self: self.table("termstats_partial"))
    termstats = property(lambda self: self.table("termstats"))
    # no table holds the collection stats (they live in the manifest,
    # ``IndexView.coll``); kept only because the benchmark's
    # table_layers still reads its history — drop with ROADMAP item 5
    collstats = property(lambda self: self.table("collstats"))
    checkpoints = property(lambda self: self.table("checkpoints"))
    metrics = property(lambda self: self.table("metrics"))
    lineage = property(lambda self: self.table("lineage"))
    deletes = property(lambda self: self.table("deletes"))


class IndexView(Index):
    """The index at one manifest version: every table reads that
    version.  A writer layers its staged segments on top with
    ``stage()`` — reads through the staged view see them — and
    publishes them all in one manifest version with ``commit()``."""

    def __init__(
        self,
        root: str,
        version: int | None,
        record: dict,
        staged: dict | None = None,
        pending: tuple = (None, {}, -1, None),
    ):
        super().__init__(root)
        self.version = version
        self.record = record
        self.staged = staged or {}
        # (operation, meta, max_shard, coll delta) of the stage
        self._pending = pending

    def __repr__(self) -> str:
        return f"IndexView(root={self.root!r}, version={self.version})"

    def view(self, version: int | None = None) -> "IndexView":
        if version is None or (version == self.version and not self.staged):
            return self
        if self.version is None or version > self.version:
            raise ValueError(
                f"snapshot v{version} is after this as-of view's pin "
                f"(v{self.version})"
            )
        return Index(self.root).view(version)

    def table(self, name: str) -> SnapshotTable:
        return SnapshotTable(self.root, name, view=self)

    @property
    def max_shard(self) -> int:
        return max(int(self.record.get("max_shard", -1)), self._pending[2])

    @property
    def coll(self) -> tuple[int, int] | None:
        """Collection totals ``(n_docs, sum_doclen)`` at this view, staged
        delta included; None before the first commit that carries them
        (an empty root, or a tree written in an older layout)."""
        return _plus(_totals(self.record), self._pending[3])

    def coll_stats(self) -> tuple[int, float] | None:
        """BM25's ``(n_docs, avgdl)`` from the totals: avgdl is
        ``sum_doclen / n_docs`` in double, exactly what Spark's ``avg``
        over the int doclen column gives, and 0 for an empty index."""
        if self.coll is None:
            return None
        n, total = self.coll
        return n, (float(total) / n if n else 0.0)

    def segments(self, name: str) -> list[str]:
        m = Manifest(self.root)
        segs = [m.abs(s) for s in self.record["tables"].get(name, [])]
        add, remove = self.staged.get(name, ((), ()))
        gone = {m.abs(s) for s in remove}
        return [s for s in segs if s not in gone] + list(add)

    def key(self, *names: str) -> tuple:
        """Memo key part: the segment lists of ``names`` at this view."""
        return tuple(tuple(self.segments(n)) for n in names)

    def snapshot(self, name: str) -> Snapshot | None:
        """``name``'s live segments, stamped with the manifest version
        (and its operation and meta) that last changed them."""
        if name not in self.record["tables"] and name not in self.staged:
            return None
        v = self.record.get("changed", {}).get(name, self.version)
        rec = self.record
        if v != self.version:
            try:
                rec = Manifest(self.root).load(v)
            except FileNotFoundError:  # expired by vacuum
                pass
        return Snapshot(v, self.segments(name), rec.get("operation"), rec.get("meta", {}))

    def stage(
        self,
        changes: dict,
        operation: str | None = None,
        meta: dict | None = None,
        max_shard: int = -1,
        coll: tuple[int, int] | None = None,
    ) -> "IndexView":
        """A view with ``changes`` ({table: (add, remove)}) and the
        collection-totals delta ``coll`` layered on top, uncommitted.
        The first stage's operation and meta name the eventual commit."""
        staged = {k: (list(a), list(r)) for k, (a, r) in self.staged.items()}
        for name, (add, remove) in changes.items():
            a, r = staged.setdefault(name, ([], []))
            for s in remove:
                if s in a:
                    a.remove(s)
                else:
                    r.append(s)
            a.extend(add)
        op0, meta0, ms0, coll0 = self._pending
        pending = (
            op0 or operation,
            {**(meta or {}), **meta0},
            max(ms0, max_shard),
            _plus(coll0, coll),
        )
        return IndexView(self.root, self.version, self.record, staged, pending)

    def commit(
        self, operation: str = "append", meta: dict | None = None, stage=None
    ) -> int:
        """Publish the staged changes and totals delta as one manifest
        version, rebased onto the head if another writer committed since
        this view."""
        op, pmeta, max_shard, coll = self._pending
        return Manifest(self.root).commit(
            self.staged,
            op or operation,
            {**(meta or {}), **pmeta},
            max_shard=max_shard,
            stage=stage,
            coll=coll,
        )
