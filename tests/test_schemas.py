"""schemas.py is the Posdb.h/Titledb.h analog — the declared record
formats must match what the build actually writes (names + types; the
stored parquet is nullable-relaxed, so nullability is not compared)."""

import os

from open_source_search_engine_spark import schemas


def _shape(st):
    return [(f.name, f.dataType.simpleString()) for f in st.fields]


# parquet footer types (as pyarrow reads them) -> Spark simple strings
_ARROW_TO_SPARK = {
    "int64": "bigint",
    "int32": "int",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "bool": "boolean",
    "timestamp[us]": "timestamp_ntz",
}


def _stored_shapes(view, table):
    """The schema of every parquet file of ``table``'s live segments, as
    stored in its footer (a declared-schema read would return the
    declared layout whatever is on disk)."""
    import pyarrow.parquet as pq

    out = []
    for seg in view.segments(table):
        for f in sorted(os.listdir(seg)):
            if f.endswith(".parquet"):
                sch = pq.read_schema(os.path.join(seg, f))
                out.append(
                    [(n, _ARROW_TO_SPARK[str(t)]) for n, t in zip(sch.names, sch.types)]
                )
    assert out, f"{table}: no parquet file"
    return out


def test_stored_tables_match_declared_schemas(spark, micro_index, tmp_path):
    from open_source_search_engine_spark.operators.build import Index
    from open_source_search_engine_spark.operators.merge import (
        delete_docs,
        delete_docs_df,
    )

    view = micro_index.view()
    for table in (
        "postings", "docstats", "termstats", "checkpoints", "metrics", "lineage",
    ):
        for got in _stored_shapes(view, table):
            assert got == _shape(schemas.TABLES[table]), table
    # both tombstone writers: the driver-side one and the distributed one
    dels = Index(str(tmp_path / "dels"))
    delete_docs(spark, dels, [1, 2])
    delete_docs_df(spark, dels, spark.range(3).withColumnRenamed("id", "doc_id"))
    shapes = _stored_shapes(dels.view(), "deletes")
    assert shapes and all(s == _shape(schemas.TABLES["deletes"]) for s in shapes)

    # the collection stats are manifest totals, not a table
    assert micro_index.collstats.read(spark) is None
    doclen_sum = micro_index.docstats.read(spark).agg({"doclen": "sum"}).collect()[0][0]
    assert view.coll == (5, doclen_sum)


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
        "field_terms": True,
        "n_shards": 1,
        "extra_postings": "",
        "layout": "manifest-v5",
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
