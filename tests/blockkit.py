"""Hand-built postings blocks in the stored layout, for the tests that
drive the WAND kernel or inspect blocks directly.

A termlist block stores each doc as its ordinal (its rank in the shard's
doc dictionary), and the dictionary is the shard's termlist of
``schemas.DICT_TERM_ID``; these helpers are the tests' one way to write
and read that layout by hand.
"""

import numpy as np
import pyarrow as pa

from open_source_search_engine_spark.functions import codec
from open_source_search_engine_spark.operators.build import _dict_batch
from open_source_search_engine_spark.schemas import DICT_TERM_ID


def shard_table(blocks, doclens, block_size=4096, shard=0):
    """One shard's termlist blocks and doc dictionary, as the WAND
    kernel receives them -> ``(table, DocDict)``.  ``blocks``:
    ``(term_id, salt, n_salts, block_id, doc_ids, tfs)`` per termlist
    block, ids ascending; ``doclens``: ``{doc_id: doclen}`` over every
    doc of the shard — its doc dictionary, encoded by the build's own
    dictionary encoder with dictionary blocks of ``block_size`` docs."""
    ids = np.array(sorted(doclens), dtype=np.int64)
    lens = np.array([doclens[int(d)] for d in ids], dtype=np.int64)
    dict_batch = _dict_batch(shard, ids, lens, block_size)
    dict_rows = dict_batch.to_pydict()
    dictionary = codec.DocDict(
        dict_rows["block_id"], dict_rows["n_docs"],
        dict_rows["doc_ids_enc"], dict_rows["tfs_enc"],
    )
    cols = {n: [] for n in dict_rows}
    for term_id, salt, n_salts, block_id, docs, tfs in blocks:
        docs = np.asarray(docs, dtype=np.int64)
        tfs = np.asarray(tfs, dtype=np.int64)
        ords = np.searchsorted(ids, docs)
        assert (ids[ords] == docs).all(), "block doc missing from doclens"
        row = {
            "term_id": term_id,
            "salt": salt,
            "n_salts": n_salts,
            "block_id": block_id,
            "n_docs": len(docs),
            "sum_tf": int(tfs.sum()),
            "min_doc_id": int(docs[0]),
            "max_doc_id": int(docs[-1]),
            "max_tf": int(tfs.max()),
            "min_doclen": int(lens[ords].min()),
            "lookup": False,
            "doc_ids_enc": codec.encode_varint(np.diff(ords, prepend=0)),
            "tfs_enc": codec.encode_varint(tfs),
            "positions_enc": b"",
            "shard": shard,
        }
        for n in cols:
            cols[n].append(row[n])
    return pa.Table.from_pydict(cols, schema=dict_batch.schema), dictionary


def block_doc_ids(row, docs) -> np.ndarray:
    """A stored block row's doc ids: a termlist block's ordinals mapped
    through its shard's dictionary (``docs``, from
    ``operators.merge.doc_dicts``); a dictionary block's own ids."""
    enc, n = bytes(row["doc_ids_enc"]), row["n_docs"]
    if row["term_id"] == DICT_TERM_ID:
        return codec.delta_decode(codec.decode_varint(enc, n))
    return docs[row["shard"]].lookup(codec.decode_ordinals(enc, n))[0]
