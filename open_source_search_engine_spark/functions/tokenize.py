"""Code-aware tokenizer (SURVEY.md §2.8 X2; reference: Words.cpp (set) —
UTF-8 word/punct tokenization — rebuilt for a source-code corpus).

Spark-first shape: one ``mapInArrow`` kernel (``tokenize_to_postings``)
tokenizes, hashes and aggregates to posting rows, so only primitives and
pre-encoded positions cross the Arrow boundary.  camelCase / snake_case /
dotted identifiers are split so that ``getUserName`` indexes as
[getusername, get, user, name] the way the reference indexes both phrase
and word forms; adjacent-pair bigram terms (Phrases.cpp analog X3) come
from the same kernel under ``bigram_terms``.
"""

from __future__ import annotations

import re

# identifier-ish runs: letters/digits/underscore
_WORD_RE = re.compile(r"[A-Za-z0-9_]+")
_CAMEL_RE = re.compile(r"[A-Z]+(?=[A-Z][a-z0-9])|[A-Z]?[a-z0-9]+|[A-Z]+|[0-9]+")

# simple-mode regex used for parity with SQL oracles (whitespace corpora)
SIMPLE_TOKEN_RE = r"[a-z0-9_]+"


def _split_identifier(tok: str) -> list[str]:
    """``getUserName`` -> [get, user, name]; ``snake_case`` -> [snake, case]."""
    parts: list[str] = []
    for piece in tok.split("_"):
        if not piece:
            continue
        parts.extend(m.group(0).lower() for m in _CAMEL_RE.finditer(piece))
    return parts


def _tokenize_one(text: str, code_aware: bool) -> list[str]:
    out: list[str] = []
    for m in _WORD_RE.finditer(text):
        tok = m.group(0)
        low = tok.lower()
        out.append(low)
        if code_aware:
            parts = _split_identifier(tok)
            # only emit sub-tokens when splitting actually split something
            if len(parts) > 1 or (parts and parts[0] != low):
                out.extend(parts)
    return out


def tokenize_to_postings(
    docs,
    code_aware: bool = True,
    field_terms: bool = True,
    bigram_terms: bool = False,
):
    """documents(+doc_id) -> POSTING rows in one mapInArrow pass:
    (term_id, doc_id, doclen, tf, pos_enc, term) — the (term,doc)
    aggregation AND the per-doc position delta+varint encoding both happen
    here, so the shuffle moves ~3x fewer rows than occurrence grain and
    the block encoder later just byte-concatenates ``pos_enc`` (the wire
    format is per-doc self-contained: first position absolute, rest
    deltas).  ``term`` is non-null only on a term's first posting per
    partition (feeds the dictionary table).

    ``bigram_terms``: additionally index every adjacent token pair as its
    own term ``"t0 t1"`` at the position of its first member (Phrases.cpp
    X3 — quoted phrases then intersect pair termlists instead of
    positional-scanning every member termlist; SURVEY §2.3 J4 fast path).
    Pair strings contain a space, so they can never collide with word
    tokens ([A-Za-z0-9_]+) or field terms (``lang:x``).  Bigram postings
    carry the doc's normal doclen and do not contribute to it.
    """
    import numpy as np
    import pyarrow as pa

    from . import codec as _codec
    from .hashing import term_hash_py

    def kernel(batches):
        memo: dict[str, int] = {}

        def hash_tok(tok: str, news: dict) -> int:
            h = memo.get(tok)
            if h is None:
                h = term_hash_py(tok)
                memo[tok] = h
                news[h] = tok
            return h

        for batch in batches:
            cols = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            contents = cols["content"].to_pylist()
            doc_ids_in = cols["doc_id"].to_numpy(zero_copy_only=False)
            langs = cols["lang"].to_pylist() if field_terms else None
            repos = cols["repo"].to_pylist() if field_terms else None
            paths = cols["path"].to_pylist() if field_terms else None

            news: dict[int, str] = {}
            H_parts, P_parts, D_parts = [], [], []
            doclens = np.empty(len(contents), dtype=np.int64)
            for i, content in enumerate(contents):
                toks = _tokenize_one(content or "", code_aware)
                n_content = len(toks)
                doclens[i] = n_content
                hs = [hash_tok(t, news) for t in toks]
                if bigram_terms and n_content >= 2:
                    hs.extend(
                        hash_tok(f"{toks[j]} {toks[j + 1]}", news)
                        for j in range(n_content - 1)
                    )
                n_positional = len(hs)  # content tokens + bigram pairs
                if field_terms:
                    ft = {
                        f"lang:{(langs[i] or '').lower()}",
                        f"repo:{(repos[i] or '').lower()}",
                    }
                    for ptok in _WORD_RE.findall((paths[i] or "").lower()):
                        ft.add(f"path:{ptok}")
                    hs.extend(hash_tok(t, news) for t in sorted(ft))
                p = np.zeros(len(hs), dtype=np.int64)
                p[:n_content] = np.arange(n_content)
                # bigram position = first member's token position
                p[n_content:n_positional] = np.arange(n_positional - n_content)
                H_parts.append(np.asarray(hs, dtype=np.int64))
                P_parts.append(p)
                D_parts.append(np.full(len(hs), i, dtype=np.int64))
            if not H_parts:
                continue
            H = np.concatenate(H_parts)
            P = np.concatenate(P_parts)
            D = np.concatenate(D_parts)
            n = len(H)
            if n == 0:
                # every doc in the batch was token-free (e.g. punctuation-
                # only content with field_terms off): nothing to emit, and
                # change[0] below would index an empty array
                continue
            order = np.lexsort((P, H, D))  # by doc, then term, then pos
            H, P, D = H[order], P[order], D[order]
            # posting boundaries: (doc, term) change
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = (D[1:] != D[:-1]) | (H[1:] != H[:-1])
            starts = np.flatnonzero(change)
            bounds = np.append(starts, n)
            tf = np.diff(bounds)
            # per-doc-term position deltas (reset to absolute per posting)
            pdelta = np.empty(n, dtype=np.int64)
            pdelta[0] = P[0]
            np.subtract(P[1:], P[:-1], out=pdelta[1:])
            pdelta[starts] = P[starts]
            pos_bytes, pos_nb = _codec.encode_varint_with_lengths(
                pdelta.astype(np.uint64)
            )
            boff = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(pos_nb, out=boff[1:])
            # int32 Arrow binary offsets: guard against silent wrap on a
            # pathological >2 GiB position stream in one batch
            assert boff[-1] < 2**31, (
                f"pos stream {int(boff[-1])}B overflows int32 Arrow offsets"
            )
            offs = np.empty(len(starts) + 1, dtype=np.int32)
            offs[:-1] = boff[starts]
            offs[-1] = boff[-1]
            pos_enc = pa.BinaryArray.from_buffers(
                pa.binary(),
                len(starts),
                [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(pos_bytes.tobytes())],
            )
            pterm = H[starts]
            # sparse dictionary column: first posting of each new term
            term_col = pa.nulls(len(starts), type=pa.string())
            if news:
                new_ids = np.fromiter(news.keys(), dtype=np.int64, count=len(news))
                is_new = np.isin(pterm, new_ids)
                uniq, first_idx = np.unique(pterm[is_new], return_index=True)
                sel = np.flatnonzero(is_new)[first_idx]
                arr = np.empty(len(starts), dtype=object)
                arr[sel] = [news[t] for t in uniq.tolist()]
                term_col = pa.array(arr, type=pa.string(), from_pandas=True)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(pterm),
                    pa.array(doc_ids_in[D[starts]].astype(np.int64)),
                    pa.array(doclens[D[starts]].astype(np.int32)),
                    pa.array(tf.astype(np.int32)),
                    pos_enc,
                    term_col,
                ],
                names=["term_id", "doc_id", "doclen", "tf", "pos_enc", "term"],
            )

    cols = ["content", "doc_id"] + (["lang", "repo", "path"] if field_terms else [])
    return docs.select(*cols).mapInArrow(
        kernel,
        "term_id long, doc_id long, doclen int, tf int, pos_enc binary, term string",
    )

