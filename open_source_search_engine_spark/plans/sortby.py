"""Index-backed numeric sort/range lookups (F7 / T4).

Gigablast packs sortby/facet values into posdb key bits so ``gbsortby:``
/ ``gbminint:`` run straight off the index (Posdb.h getFloat/getInt,
SURVEY §2.2 F7, §2.6 T4).  The Spark-first analog: ``build_index(...,
numeric_fields=(fld,))`` emits one lookup posting per doc under term
``num:<fld>`` whose tf slot carries the value (operators.build.
numeric_postings), and this plan answers from that termlist alone:

  pruned postings scan (term_id pushed to parquet row groups)
    -> block prune on max_tf for a min-value bound
    -> Arrow decode WITHOUT positions
    -> tombstone anti-join
    -> TakeOrderedAndProject top-k

No docstats scan, no corpus scan — the only data read is the one
termlist, exactly like the reference's key-range seek.  At 100x the
corpus the scan stays proportional to that term's list (one posting per
doc), the range filter prunes blocks via max_tf metadata before any
decode, and the final top-k is a per-partition bounded heap + driver
merge (TakeOrderedAndProject), so nothing wide ever shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import term_hash_py
from ..operators.build import Index, docmeta_cached


def search_sortby(
    spark: SparkSession,
    index: Index,
    field: str,
    ascending: bool = False,
    k: int = 25,
    min_value: int | None = None,
    max_value: int | None = None,
    enrich: bool = False,
) -> DataFrame:
    """Top-k docs ordered by an indexed numeric field (gbsortby analog),
    optionally range-constrained (gbminint/gbmaxint analog).

    Block-level pruning: ``min_value`` filters on the stored ``max_tf``
    block metadata before decoding, so blocks whose every value is below
    the bound are never decoded.  (Only max-side metadata exists, so a
    pure ``max_value`` bound filters rows post-decode — same answer,
    weaker prune; the common descending-top-k + floor case gets the
    strong prune.)  Ties break by doc_id ascending on both sides.
    """
    feats = index.features().get("numeric_fields", [])
    if field not in feats:
        raise ValueError(
            f"field {field!r} is not an indexed numeric field "
            f"(index has numeric_fields={feats}); rebuild with "
            f"build_index(..., numeric_fields=({field!r},))"
        )
    tid = int(term_hash_py(f"num:{field}"))
    index = index.view()  # one manifest version for postings, deletes, docmeta
    blocks = index.postings.read(spark)
    if blocks is None:
        raise RuntimeError(f"postings snapshot absent under {index.root!r}")
    blocks = blocks.filter(F.col("term_id") == F.lit(tid))
    if min_value is not None:
        blocks = blocks.filter(F.col("max_tf") >= int(min_value))

    from ..operators.merge import decode_to_postings, drop_deleted

    rows = decode_to_postings(
        blocks, index.segments("postings"), with_positions=False
    ).select(
        "doc_id", F.col("tf").alias("value")
    )
    rows = drop_deleted(spark, index, rows)
    if min_value is not None:
        rows = rows.filter(F.col("value") >= int(min_value))
    if max_value is not None:
        rows = rows.filter(F.col("value") <= int(max_value))
    order = [
        F.asc("value") if ascending else F.desc("value"),
        F.asc("doc_id"),
    ]
    topk = rows.orderBy(*order).limit(k)
    if enrich:
        meta = docmeta_cached(spark, index)
        topk = (
            F.broadcast(topk)
            .join(meta, "doc_id")
            .select("doc_id", "value", "repo", "path", "lang")
            .orderBy(*order)
        )
    return topk
