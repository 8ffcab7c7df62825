"""Layout manifest-v5: termlist blocks over per-shard doc ordinals, each
doclen stored once in the shard's doc dictionary, termstats runs without
term_id — the decoded postings equal the tokenizer's rows through the
whole write lifecycle, a tree in another layout is refused by name, and
deep fsck checks the dictionaries."""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from open_source_search_engine_spark.functions import codec
from open_source_search_engine_spark.functions.tokenize import tokenize_to_postings
from open_source_search_engine_spark.operators.build import build_index, derive_ids
from open_source_search_engine_spark.operators.merge import (
    compact_deltas,
    compact_postings,
    decode_to_postings,
    delete_docs,
)
from open_source_search_engine_spark.operators.stats import (
    describe_index,
    fsck_index,
)
from open_source_search_engine_spark.operators.topk import search_wand
from open_source_search_engine_spark.plans.exec import search
from open_source_search_engine_spark.schemas import DICT_TERM_ID
from open_source_search_engine_spark.sources.tables import INDEX_LAYOUT, MEMO
from open_source_search_engine_spark.streaming.incremental import add_documents

SCHEMA = "repo string, path string, commit string, lang string, content string"
DOCS = [
    ("r/a", "a.py", "c1", "python", "alpha beta gamma alpha"),
    ("r/a", "b.py", "c2", "python", "alpha delta epsilon"),
    ("r/b", "c.go", "c3", "go", "alpha gamma theta beta"),
    ("r/b", "d.go", "c4", "go", "beta iota kappa alpha"),
    ("r/c", "e.py", "c5", "python", "gamma delta alpha alpha alpha"),
    ("r/c", "f.rs", "c6", "rust", "omega alpha beta"),
]
ADD1 = [
    ("r/d", "g.py", "c7", "python", "alpha omega gamma"),
    ("r/d", "h.go", "c8", "go", "beta beta delta"),
]
ADD2 = [("r/e", "i.py", "c9", "python", "alpha zeta beta gamma")]
QUERIES = ["alpha", "alpha beta", "gamma OR omega", "alpha -delta", "beta gamma"]


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _key(r):
    return (r["term_id"], r["doc_id"], r["tf"], r["doclen"], bytes(r["pos_enc"]))


def _tokenized(spark, rows, dead=frozenset()):
    posts = tokenize_to_postings(derive_ids(_rows(spark, rows)))
    return sorted(_key(r) for r in posts.collect() if r["doc_id"] not in dead)


def _decoded(spark, idx):
    view = idx.view()
    posts = decode_to_postings(view.postings.read(spark), view.segments("postings"))
    return sorted(_key(r) for r in posts.collect())


def _top(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_lifecycle_postings_decode_to_the_tokenizer_rows(spark, tmp_path):
    """build -> add -> add -> delete -> compact_deltas -> compact_postings:
    after every step the decoded (term_id, doc_id, tf, doclen, positions)
    equal the tokenizer's rows of the indexed docs (tombstoned docs leave
    only at the major compaction), describe_index counts exactly those,
    search_wand equals search, and deep fsck is green."""
    idx = build_index(
        spark, _rows(spark, DOCS), str(tmp_path / "idx"), n_shards=2,
        block_size=2, salt_target=2,
    )
    indexed = list(DOCS)
    dead: set = set()

    def check(step):
        rows = _tokenized(spark, indexed, dead)
        assert _decoded(spark, idx) == rows, step
        # the dictionaries' reserved term counts only in bytes_dictionary
        p = describe_index(spark, idx)["postings"]
        assert (p["postings"], p["n_terms"]) == (len(rows), len({r[0] for r in rows}))
        assert p["bytes_dictionary"] > 0
        for q in QUERIES:
            want = _top(search(spark, idx, q, k=10, enrich=False))
            assert _top(search_wand(spark, idx, q, k=10, enrich=False)) == want, (step, q)
        rep = fsck_index(spark, idx, deep=True)
        assert rep["ok"], (step, rep["issues"])

    check("build")
    add_documents(spark, idx, _rows(spark, ADD1), block_size=2, salt_target=2)
    indexed += ADD1
    check("add")
    add_documents(spark, idx, _rows(spark, ADD2), block_size=2, salt_target=2)
    indexed += ADD2
    ids = derive_ids(_rows(spark, [DOCS[0], ADD1[1]])).collect()
    delete_docs(spark, idx, [r["doc_id"] for r in ids])
    check("delete")
    assert compact_deltas(spark, idx, keep_largest=1, block_size=2, salt_target=2) == 3
    check("compact_deltas")
    compact_postings(spark, idx, block_size=2, salt_target=2)
    dead = {r["doc_id"] for r in ids}
    check("compact_postings")


def test_tree_in_another_layout_is_refused_by_name(spark, tmp_path):
    """A root records its layout when first written.  A tree without it
    predates manifest-v5 (its blocks hold absolute ids, which would
    decode as ordinals) and is refused; so is the 3-doc index built
    with field_terms=False whose unrecorded field_terms used to read as
    True, scoring lang_boost without the boost."""
    docs = _rows(spark, [
        ("r/a", "a.py", "c1", "rust", "alpha beta"),
        ("r/a", "b.py", "c2", "go", "alpha gamma delta"),
        ("r/b", "c.py", "c3", "python", "alpha zeta"),
    ])
    root = str(tmp_path / "idx")
    idx = build_index(
        spark, docs, root, n_shards=1, code_aware=False, block_size=4,
        field_terms=False,
    )
    path = os.path.join(root, "_features.json")
    with open(path) as f:
        feats = json.load(f)
    assert feats["layout"] == INDEX_LAYOUT and feats["field_terms"] is False
    del feats["layout"], feats["field_terms"]
    with open(path, "w") as f:
        json.dump(feats, f)
    with pytest.raises(ValueError, match="layout unrecorded.*rebuild"):
        search_wand(spark, idx, "alpha", k=10, lang_boost=("python", 2.0))
    with open(path, "w") as f:
        json.dump({**feats, "layout": "manifest-v4"}, f)
    with pytest.raises(ValueError, match="manifest-v4.*rebuild"):
        search(spark, idx, "alpha", k=10)


def test_readd_of_a_live_doc_names_the_readd(spark, tmp_path):
    """Re-adding an already-indexed doc leaves two copies of its
    postings; the merge that puts them in one shard fails naming the
    doc and the re-add, not only injected extra_postings."""
    idx = build_index(
        spark, _rows(spark, DOCS), str(tmp_path / "idx"), n_shards=1, block_size=4
    )
    add_documents(spark, idx, _rows(spark, ADD2))
    add_documents(spark, idx, _rows(spark, ADD2))
    doc_id = derive_ids(_rows(spark, ADD2)).collect()[0]["doc_id"]
    with pytest.raises(Exception, match=(
        rf"doc_id={doc_id} .*add_documents re-added a doc that is already "
        r"live.*extra_postings"
    )):
        compact_deltas(spark, idx, keep_largest=1)


def test_deep_fsck_reports_a_tampered_dictionary_doclen(spark, tmp_path):
    idx = build_index(
        spark, _rows(spark, DOCS), str(tmp_path / "idx"), n_shards=1, block_size=4
    )
    assert fsck_index(spark, idx, deep=True)["ok"]
    (seg,) = idx.view().segments("postings")
    tampered = 0
    for name in sorted(os.listdir(seg)):
        if not name.endswith(".parquet"):
            continue
        f = os.path.join(seg, name)
        tbl = pq.read_table(f)
        tids = tbl.column("term_id").to_pylist()
        if DICT_TERM_ID not in tids:
            continue
        i = tids.index(DICT_TERM_ID)
        encs = tbl.column("tfs_enc").to_pylist()
        lens = codec.decode_varint(encs[i], tbl.column("n_docs")[i].as_py())
        lens[0] += 1
        encs[i] = codec.encode_varint(lens.astype(np.uint64))
        col = tbl.schema.get_field_index("tfs_enc")
        pq.write_table(tbl.set_column(col, "tfs_enc", pa.array(encs, pa.binary())), f)
        # the local filesystem verifies Spark's checksum files on read
        crc = os.path.join(seg, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        tampered += 1
    assert tampered == 1
    MEMO.clear()  # segments are immutable: memoized dictionaries would hide the edit
    rep = fsck_index(spark, idx, deep=True)
    assert any("doc dictionary doclen" in i for i in rep["issues"]), rep["issues"]
