"""Hash/identity helpers (SURVEY.md §2.8 X1/X12).

Reference: termId = hash64Lower_utf8(word) (hash.h/hash.cpp g_hashtab);
docId = 38-bit probable docId from url hash.  Internal consistency is the
contract, not hash-for-hash equality, so the rebuild keeps every hash
derivation in one place: term ids are a blake2b hash of the term string
(the tokenizer kernel and the query driver both call ``term_hash_py``),
doc ids Spark's native ``xxhash64`` (JVM-side, codegen'd).  Fielded terms
hash their whole string, prefix included: ``lang:py`` (SURVEY §2.2 F4).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql.column import Column


def term_hash_py(token: str) -> int:
    """48-bit-termId analog, computed Python-side: signed-int64 blake2b.

    The index build hashes terms inside the tokenizer kernel (so only
    primitives cross the Arrow boundary) and the query driver hashes its
    handful of query terms the same way — the two sides only ever need to
    agree with EACH OTHER, never with the JVM."""
    v = int.from_bytes(hashlib.blake2b(token.encode(), digest_size=8).digest(), "little")
    return v - (1 << 64) if v >= (1 << 63) else v


def term_hash_udf(term: Column) -> Column:
    """Arrow-vectorized blake2b term id for DataFrames whose term strings
    must resolve against the STORED index (same bytes as `term_hash_py`).
    Pandas-UDF path, so keep it off hot per-occurrence grain — posting
    sources like `links.anchor_postings` apply it AFTER aggregation, on
    one row per (doc, term)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    def _h(s: pd.Series) -> pd.Series:
        return s.map(lambda t: term_hash_py(t or ""))

    # real (non-string) annotations: `from __future__ import annotations`
    # would stringify inline hints against a locally-imported pandas
    _h.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_h, LongType())(term)


def doc_id_col(repo: Column, path: Column, commit: Column) -> Column:
    """38-bit-docId analog: one stable 64-bit id per (repo,path,commit)."""
    return F.xxhash64(repo, path, commit)


def content_sha256(content: Column) -> Column:
    """North-rule per-row invariant: sha2(content, 256) hex digest."""
    return F.sha2(content, 256)
