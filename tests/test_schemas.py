"""schemas.py is the Posdb.h/Titledb.h analog — the declared record
formats must match what the build actually writes (names + types; the
stored parquet is nullable-relaxed, so nullability is not compared)."""

import os

from open_source_search_engine_spark import schemas


def _shape(st):
    return [(f.name, f.dataType.simpleString()) for f in st.fields]


def test_stored_tables_match_declared_schemas(spark, micro_index):
    idx = micro_index
    got_blocks = _shape(idx.postings.read(spark).schema)
    assert got_blocks == _shape(schemas.POSTINGS_BLOCKS)

    got_ts = _shape(idx.termstats.read(spark).schema)
    # termstats is written df,cf,n_blocks,term joined after term_id
    assert sorted(got_ts) == sorted(_shape(schemas.TERMSTATS))

    assert sorted(_shape(idx.docstats.read(spark).schema)) == sorted(
        _shape(schemas.DOCSTATS)
    )
    # the collection stats are manifest totals, not a table
    assert idx.collstats.read(spark) is None
    doclen_sum = idx.docstats.read(spark).agg({"doclen": "sum"}).collect()[0][0]
    assert idx.view().coll == (5, doclen_sum)
    assert sorted(_shape(idx.checkpoints.read(spark).schema)) == sorted(
        _shape(schemas.CHECKPOINTS)
    )
    assert sorted(_shape(idx.metrics.read(spark).schema)) == sorted(
        _shape(schemas.METRICS)
    )
    assert sorted(_shape(idx.lineage.read(spark).schema)) == sorted(
        _shape(schemas.LINEAGE)
    )


def test_lineage_rows_per_shard(spark, micro_index):
    ln = micro_index.lineage.read(spark)
    rows = ln.collect()
    # one build shard x 3 output tables
    assert len(rows) == 3
    assert {r["output_table"] for r in rows} == {
        "postings",
        "docstats",
        "termstats",
    }
    assert all(r["transform"] == "build_shard" for r in rows)
    assert all(r["input_snapshot"].startswith("shard=") for r in rows)


def test_describe_index(spark, micro_index):
    """PageStats analog: the stats dict reflects the stored index's
    actual shape, computed from block metadata only."""
    from open_source_search_engine_spark.operators.stats import describe_index

    d = describe_index(spark, micro_index)
    assert d["tables"]["postings"]["segments"] >= 1
    # on-disk bytes of each table's live segments, from a directory walk
    view = micro_index.view()
    for name, t in d["tables"].items():
        want = sum(
            os.path.getsize(os.path.join(r, f))
            for seg in view.segments(name)
            for r, _, fs in os.walk(seg)
            for f in fs
        )
        assert t["bytes"] == want, name
    assert d["tables"]["postings"]["bytes"] > 0
    assert d["tables"]["termstats"]["bytes"] > 0
    assert d["tables"]["deletes"]["bytes"] == 0
    p = d["postings"]
    assert p["n_shards"] == 1 and p["n_terms"] > 0 and p["blocks"] > 0
    assert p["postings"] >= p["blocks"]
    assert 0 < p["bytes_per_posting"] < 50
    assert d["collstats"]["n_docs"] == 5
    assert d["tombstones"] == 0
    assert d["features"] == {
        "bigrams": False,
        "numeric_fields": [],
        "code_aware": False,
        "n_shards": 1,
        "extra_postings": "",
    }


def test_fsck_clean_and_corrupted(spark, micro_docs, tmp_path_factory):
    """fsck (Repair.cpp verify analog): green on a healthy index; red on
    a missing segment dir with the specific invariant named."""
    import shutil

    from open_source_search_engine_spark.operators.build import build_index
    from open_source_search_engine_spark.operators.stats import fsck_index

    root = str(tmp_path_factory.mktemp("fsckidx"))
    idx = build_index(
        spark, micro_docs, root, n_shards=1, code_aware=False,
        block_size=4, salt_target=1000,
    )
    report = fsck_index(spark, idx, deep=True)
    assert report["ok"], report["issues"]
    assert report["checked"]["deep_blocks"]
    # corrupt: remove one live postings segment dir from disk
    victim = idx.postings.latest().segments[0]
    shutil.rmtree(victim)
    report2 = fsck_index(spark, idx)
    assert not report2["ok"]
    assert any("missing segment" in i for i in report2["issues"])
