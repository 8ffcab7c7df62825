"""Tiered (minor) compaction — the RdbBase subset-merge mode (r4).

compact_deltas merges all but the K largest postings segments into one
sorted shard-pure segment, WITHOUT consuming tombstones or touching any
stats table: results must be bit-identical before/after, segment count
must drop, and the merged segment's fresh shard ids must not collide
with kept segments' (the WAND probe-routing invariant)."""

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.build import build_index
from open_source_search_engine_spark.operators.merge import (
    compact_deltas,
    delete_docs,
)
from open_source_search_engine_spark.operators.topk import search_wand
from open_source_search_engine_spark.plans.exec import search
from open_source_search_engine_spark.streaming.incremental import add_documents

SCHEMA = "repo string, path string, commit string, lang string, content string"


def _docs(spark, tag, n=6):
    rows = [
        (
            f"r/{tag}",
            f"{tag}{i}.py",
            f"c{tag}{i}",
            "python",
            f"alpha beta shared{i % 3} tail{tag}",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def delta_index(spark, tmp_path):
    idx = build_index(
        spark,
        _docs(spark, "base", 8),
        str(tmp_path / "minor"),
        n_shards=2,
        code_aware=False,
        block_size=4,
        salt_target=5,
    )
    for tag in ("d1", "d2", "d3"):
        add_documents(
            spark, idx, _docs(spark, tag), code_aware=False,
            block_size=4, salt_target=5,
        )
    return idx


def _results(spark, idx, q="alpha"):
    return sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in search_wand(spark, idx, q, k=100, enrich=False).collect()
    )


def test_minor_merge_identity_and_segment_count(spark, delta_index):
    idx = delta_index
    # one live tombstone: minor merge must keep honoring it WITHOUT
    # consuming it (merge-only semantics)
    victim = idx.docstats.read(spark).orderBy("doc_id").limit(1).collect()[0][
        "doc_id"
    ]
    delete_docs(spark, idx, [victim])
    before = _results(spark, idx)
    before_exh = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in search(spark, idx, "alpha", k=100, enrich=False).collect()
    )
    segs_before = len(idx.postings.latest().segments)
    ts_v = idx.termstats.latest().version
    ds_v = idx.docstats.latest().version

    merged = compact_deltas(spark, idx, keep_largest=2, block_size=4, salt_target=5)
    assert merged == 3  # the three delta segments

    snap = idx.postings.latest()
    assert snap.operation == "minor-merge"
    assert len(snap.segments) == segs_before - merged + 1
    # stats tables untouched (pure merge: df/cf/N/avgdl unchanged)
    assert idx.termstats.latest().version == ts_v
    assert idx.docstats.latest().version == ds_v
    # deletes NOT consumed
    assert idx.deletes.read(spark).count() == 1

    assert _results(spark, idx) == before
    after_exh = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in search(spark, idx, "alpha", k=100, enrich=False).collect()
    )
    assert after_exh == before_exh
    assert victim not in {d for d, _ in _results(spark, idx)}


def test_minor_merge_fresh_shard_ids(spark, delta_index):
    idx = delta_index
    kept_before = {
        r["shard"]
        for r in idx.postings.read(spark).select("shard").distinct().collect()
    }
    compact_deltas(spark, idx, keep_largest=2, block_size=4, salt_target=5)
    blocks = idx.postings.read(spark)
    rows = blocks.select("shard").distinct().collect()
    shards_after = {r["shard"] for r in rows}
    # fresh ids sit strictly above every pre-merge id
    new_ids = shards_after - kept_before
    assert new_ids and min(new_ids) > max(kept_before)
    # and a subsequent delta allocates above the merged segment's ids
    add_documents(
        spark, idx, _docs(spark, "d4"), code_aware=False,
        block_size=4, salt_target=5,
    )
    shards_final = {
        r["shard"]
        for r in idx.postings.read(spark).select("shard").distinct().collect()
    }
    assert max(shards_final) > max(shards_after)
    # merged blocks are shard-pure sorted runs: per (shard, term, salt)
    # the [min,max] doc ranges of consecutive blocks don't overlap
    from pyspark.sql import Window

    w = Window.partitionBy("shard", "term_id", "salt").orderBy("block_id")
    bad = (
        blocks.withColumn("_prev_max", F.lag("max_doc_id").over(w))
        .filter(
            F.col("_prev_max").isNotNull()
            & (F.col("min_doc_id") <= F.col("_prev_max"))
        )
        .count()
    )
    assert bad == 0


def test_cli_minor_compact(spark, delta_index, tmp_path, monkeypatch):
    """python -m ... compact --minor drives compact_deltas (S10 CLI
    surface).  Reuses the session via getOrCreate."""
    import json
    import shutil

    from open_source_search_engine_spark.__main__ import main

    root = str(tmp_path / "climinor")
    shutil.copytree(delta_index.root, root)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        main(["--cores", "4", "compact", "--index", root, "--minor",
              "--keep-largest", "2"])
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["minor_merged_segments"] == 3
    from open_source_search_engine_spark.operators.build import Index

    assert Index(root).postings.latest().operation == "minor-merge"


def test_minor_merge_noop_when_few_segments(spark, tmp_path):
    idx = build_index(
        spark,
        _docs(spark, "solo", 4),
        str(tmp_path / "noop"),
        n_shards=2,
        code_aware=False,
        block_size=4,
    )
    v = idx.postings.latest().version
    assert compact_deltas(spark, idx, keep_largest=2) == 0
    assert idx.postings.latest().version == v
