"""Every StructType in one place.

The reference packs each store's record format as a hand-written C bit
layout in its header (SURVEY.md §1.1: Posdb.h / Titledb.h / ... — fixed,
compiled schemas).  The Spark rebuild replaces bit layouts with explicit
columnar schemas; this module is the single analog of all those headers.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from .functions.hashing import term_hash_py

# ---------------------------------------------------------------------------
# Source corpus (north-rule input_hint): Iceberg table of source code files.
# Reference analog: titledb TitleRec (docId -> url/content/meta), SURVEY §1.2.
# ---------------------------------------------------------------------------
DOCUMENTS = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), False),
    ]
)

# Derived per-document row (doc_id = xxhash64(repo,path,commit); the 38-bit
# docId analog).  content_sha256 is the north-rule per-row invariant.
DOCSTATS = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content_sha256", StringType(), False),
        StructField("doclen", IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Postings — the posdb analog (SURVEY §1.2 row 1).
#
# termlist blocks (stored segments): one row per (term_id, salt, block)
# with delta+varint encoded columns — the analog of a prefix-compressed
# RdbList (18B -> 12B -> 6B keys, Posdb.h key-format comment).
# (max_tf, min_doclen) give the per-block score bound for block-max WAND
# (SURVEY §4.1 "getMaxPossibleScore"); n_salts records the shard-local
# salt modulus; shard marks the doc partition (WAND task unit).
#
# Doc dictionary (layout manifest-v5): every shard of a segment stores
# its sorted doc ids and their doclens once, as the termlist of the
# reserved term DICT_TERM — absolute delta-encoded ids in doc_ids_enc,
# the doclen in the tf slot (tfs_enc), never salted and never in
# termstats.  Every other block's doc_ids_enc holds deltas of ordinals,
# a doc's rank in its shard's dictionary (dense small ints, where
# xxhash64 ids differ by random 64-bit gaps), and a posting's doclen is
# its doc's dictionary doclen — except in a block flagged ``lookup``,
# whose postings all came in with doclen 0 (num: and anchor: lookup
# termlists) and score with 0, as they did when each posting stored its
# own doclen.  min_doclen is the minimum of those scored doclens.
# min_doc_id / max_doc_id stay public doc ids, so block routing and
# tombstones never see ordinals.
DICT_TERM = "\x00docs"
DICT_TERM_ID = term_hash_py(DICT_TERM)

POSTINGS_BLOCKS = StructType(
    [
        StructField("term_id", LongType(), False),
        StructField("salt", IntegerType(), False),
        StructField("n_salts", IntegerType(), False),
        StructField("block_id", IntegerType(), False),
        StructField("n_docs", IntegerType(), False),
        StructField("sum_tf", LongType(), False),  # -> cf (getTermFreq)
        StructField("min_doc_id", LongType(), False),
        StructField("max_doc_id", LongType(), False),
        StructField("max_tf", IntegerType(), False),
        StructField("min_doclen", IntegerType(), False),
        StructField("lookup", BooleanType(), False),
        StructField("doc_ids_enc", BinaryType(), False),
        StructField("tfs_enc", BinaryType(), False),
        StructField("positions_enc", BinaryType(), False),
        StructField("shard", IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Collection statistics (drive BM25; reference: Posdb::getTermFreq takes
# them from the termlist + Rdb::getNumTotalRecs — we compute them exactly
# as DataFrame aggregates, SURVEY §2.4 A2/A3).  termstats is a list of
# additive runs: every written batch commits one run of (df, cf, term)
# rows, the aggregate groupBy(term_id) of the batch's posting rows
# (strings leave the tokenizer only through these rows); a read sums the
# runs per term, and compact_postings folds them into one run by the
# same aggregate over the live posting rows.  No run stores term_id: it
# is term_hash_py(term), which every reader derives.  The collection
# stats are no table: the manifest carries running (n_docs, sum_doclen)
# totals, each commit adding its batch's delta (Rdb::getNumTotalRecs'
# counter), and avgdl = sum_doclen / n_docs.
# ---------------------------------------------------------------------------
TERMSTATS = StructType(
    [
        StructField("df", LongType(), False),
        StructField("cf", LongType(), False),
        StructField("term", StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Operational tables (north-rule: resumable build with per-partition
# checkpoints + lineage + metrics; reference analog: statsdb / Repair.cpp).
# ---------------------------------------------------------------------------
CHECKPOINTS = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("rows_out", LongType(), False),
        StructField("ts", TimestampNTZType(), False),
    ]
)

METRICS = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("metric", StringType(), False),
        StructField("value", DoubleType(), False),
        StructField("ts", TimestampNTZType(), False),
    ]
)

LINEAGE = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("output_table", StringType(), False),
        StructField("input_table", StringType(), False),
        StructField("input_snapshot", StringType(), False),
        StructField("transform", StringType(), False),
        StructField("ts", TimestampNTZType(), False),
        StructField("output_snapshot", StringType(), False),
    ]
)

# deletes: one tombstoned doc_id per row (merge-on-read, SURVEY §2.9 U4)
DELETES = StructType([StructField("doc_id", LongType(), False)])

# the one declared layout of every stored table: reads pass it, so no
# read infers a schema from parquet footers (a driver-side job per cold
# read), and a column a run written by older code still carries is skipped
TABLES = {
    "postings": POSTINGS_BLOCKS,
    "docstats": DOCSTATS,
    "termstats": TERMSTATS,
    "deletes": DELETES,
    "checkpoints": CHECKPOINTS,
    "metrics": METRICS,
    "lineage": LINEAGE,
}
