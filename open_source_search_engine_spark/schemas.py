"""Every StructType in one place.

The reference packs each store's record format as a hand-written C bit
layout in its header (SURVEY.md §1.1: Posdb.h / Titledb.h / ... — fixed,
compiled schemas).  The Spark rebuild replaces bit layouts with explicit
columnar schemas; this module is the single analog of all those headers.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

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
# Postings — the posdb analog (SURVEY §1.2 row 1).  Two grains:
#
# posting rows (build-time intermediate, one row per (term, doc)):
#   the reference's "one 18-byte key per occurrence" becomes one row per
#   (term_id, doc_id) with tf + sorted positions array — occurrence grain
#   is recovered by posexplode(positions).
POSTINGS_ROWS = StructType(
    [
        StructField("term_id", LongType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tf", IntegerType(), False),
        StructField("positions", ArrayType(IntegerType(), False), False),
    ]
)

# posting rows at tokenizer-output grain: one row per (term, doc) with
# per-doc positions already delta+varint encoded (the hot path carries no
# array columns — see functions/tokenize.tokenize_to_postings)
POSTING_ROWS_ENC = StructType(
    [
        StructField("term_id", LongType(), False),
        StructField("doc_id", LongType(), False),
        StructField("doclen", IntegerType(), False),
        StructField("tf", IntegerType(), False),
        StructField("pos_enc", BinaryType(), False),
        StructField("term", StringType(), True),  # first occurrence only
    ]
)

# termlist blocks (stored segments): one row per (term_id, salt, block)
# with delta+varint encoded columns — the analog of a prefix-compressed
# RdbList (18B -> 12B -> 6B keys, Posdb.h key-format comment).
# (max_tf, min_doclen) give the per-block score bound for block-max WAND
# (SURVEY §4.1 "getMaxPossibleScore"); n_salts records the shard-local
# salt modulus; shard marks the doc partition (WAND task unit).
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
        StructField("doc_ids_enc", BinaryType(), False),
        StructField("tfs_enc", BinaryType(), False),
        StructField("doclens_enc", BinaryType(), False),
        StructField("positions_enc", BinaryType(), False),
        StructField("shard", IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Collection statistics (drive BM25; reference: Posdb::getTermFreq estimate
# + Rdb::getNumTotalRecs — we compute them exactly as DataFrame aggregates,
# SURVEY §2.4 A2/A3).  termstats is a list of additive runs: every
# written batch commits one run of (term_id, df, cf, n_blocks, term) rows
# for the terms it holds (strings leave the tokenizer only through these
# rows), a read sums the runs per (term_id, term), and compact_postings
# folds them into one run.  The collection stats are no table: the
# manifest carries running (n_docs, sum_doclen) totals, each commit adding
# its batch's delta (Rdb::getNumTotalRecs' counter), and avgdl =
# sum_doclen / n_docs.
# ---------------------------------------------------------------------------
TERMSTATS = StructType(
    [
        StructField("term_id", LongType(), False),
        StructField("df", LongType(), False),
        StructField("cf", LongType(), False),
        StructField("n_blocks", LongType(), False),
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
