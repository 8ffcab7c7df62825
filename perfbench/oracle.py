"""Independent pure-Python BM25 answer oracle.

Shares no code with the engine: the tokenizer is a reimplementation of the
code-aware tokenizer contract (word token, plus its camelCase/snake_case
sub-tokens when splitting changes anything), and scoring is plain BM25
(k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5))) over the docs it
was told about.  Docs are keyed by ``commit``.  Query semantics follow the
engine's documented contract: AND of groups, an OR group scores its best
member, a quoted phrase needs adjacent positions and scores as the sum of
its tokens, ``-term`` drops docs, ``lang:``/``repo:``/``path:`` are field
terms with tf 1, and tombstoned docs are excluded from answers but still
counted in N, df and avgdl until a major compaction.
"""

from __future__ import annotations

import math
import re

K1, B = 1.2, 0.75
REL_TOL = 1e-6

_WORD_RE = re.compile(r"[A-Za-z0-9_]+")
_CAMEL_RE = re.compile(r"[A-Z]+(?=[A-Z][a-z0-9])|[A-Z]?[a-z0-9]+|[A-Z]+|[0-9]+")
_UNIT_RE = re.compile(r'-?"[^"]*"|\S+')


def tokenize(text: str) -> list[str]:
    out = []
    for m in _WORD_RE.finditer(text):
        tok = m.group(0)
        low = tok.lower()
        out.append(low)
        parts = [
            mm.group(0).lower()
            for piece in tok.split("_")
            for mm in _CAMEL_RE.finditer(piece)
        ]
        if len(parts) > 1 or (parts and parts[0] != low):
            out.extend(parts)
    return out


def field_terms(repo: str, path: str, lang: str) -> set[str]:
    ft = {f"lang:{lang.lower()}", f"repo:{repo.lower()}"}
    ft.update(f"path:{t}" for t in re.findall(r"[a-z0-9_]+", path.lower()))
    return ft


def parse(q: str) -> tuple[list[list], list[str]]:
    """Query string -> (groups, negatives).  A group is a list of members;
    a member is a term string or a tuple of phrase tokens."""
    units = _UNIT_RE.findall(q)
    groups: list[list] = []
    negs: list[str] = []
    i = 0
    while i < len(units):
        u = units[i]
        if u.startswith("-"):
            negs.append(u[1:].lower())
            i += 1
            continue
        members = [_member(u)]
        while i + 2 < len(units) and units[i + 1] == "OR":
            members.append(_member(units[i + 2]))
            i += 2
        groups.append(members)
        i += 1
    return groups, negs


def _member(u: str):
    if u.startswith('"'):
        toks = tuple(u.strip('"').lower().split())
        return toks if len(toks) > 1 else toks[0]
    return u.lower()


class Oracle:
    def __init__(self) -> None:
        self.tokens: dict[str, list[str]] = {}
        self.tf: dict[str, dict[str, int]] = {}
        self.postings: dict[str, dict[str, int]] = {}
        self.dead: set[str] = set()
        self.sum_dl = 0

    @property
    def n_docs(self) -> int:
        return len(self.tokens)

    @property
    def live(self) -> list[str]:
        return [c for c in self.tokens if c not in self.dead]

    def add(self, rows) -> None:
        """rows: (repo, path, commit, lang, content) tuples."""
        for repo, path, commit, lang, content in rows:
            if commit in self.tokens:
                raise ValueError(f"doc {commit} added twice")
            toks = tokenize(content)
            tf: dict[str, int] = {}
            for t in toks:
                tf[t] = tf.get(t, 0) + 1
            for t in field_terms(repo, path, lang):
                tf[t] = 1
            self.tokens[commit] = toks
            self.tf[commit] = tf
            self.sum_dl += len(toks)
            for t, n in tf.items():
                self.postings.setdefault(t, {})[commit] = n

    def delete(self, commits) -> None:
        self.dead.update(commits)

    def content_df(self) -> dict[str, int]:
        return {t: len(p) for t, p in self.postings.items() if ":" not in t}

    def adjacent_pair(self, rng) -> tuple[str, str]:
        live = self.live
        while True:
            toks = self.tokens[live[int(rng.integers(0, len(live)))]]
            j = int(rng.integers(0, len(toks) - 1))
            if toks[j] != toks[j + 1]:
                return toks[j], toks[j + 1]

    def doc_terms_sample(self, rng, k: int) -> list[str]:
        live = self.live
        toks = self.tokens[live[int(rng.integers(0, len(live)))]]
        n = self.n_docs
        cands = sorted({t for t in toks if 1 < len(self.postings[t]) < 0.5 * n})
        if len(cands) <= k:
            return cands
        return [cands[int(i)] for i in sorted(rng.choice(len(cands), k, replace=False))]

    # -- scoring ----------------------------------------------------------
    def _idf(self, t: str) -> float:
        df = len(self.postings.get(t, ()))
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def _contrib(self, t: str, c: str, avgdl: float) -> float:
        tf = self.tf[c].get(t, 0)
        if not tf:
            return 0.0
        dl = len(self.tokens[c])
        return self._idf(t) * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))

    def _has_phrase(self, c: str, toks: tuple) -> bool:
        seq = self.tokens[c]
        n = len(toks)
        return any(
            tuple(seq[i : i + n]) == toks
            for i in range(len(seq) - n + 1)
            if seq[i] == toks[0]
        )

    def _member_docs(self, m) -> set[str]:
        if isinstance(m, tuple):
            docs = set(self.postings.get(m[0], {}))
            for t in m[1:]:
                docs &= set(self.postings.get(t, {}))
            return {c for c in docs if self._has_phrase(c, m)}
        return set(self.postings.get(m, {}))

    def answer(self, q: str, match_mode: str = "all") -> list[tuple[str, float]]:
        """Every matching live doc as (commit, score), best first (ties by
        commit — the engine breaks ties by doc_id, which the checker
        tolerates)."""
        groups, negs = parse(q)
        if not groups:
            return []
        avgdl = self.sum_dl / self.n_docs
        member_docs = [[self._member_docs(m) for m in g] for g in groups]
        group_docs = [set().union(*ms) for ms in member_docs]
        if match_mode == "all":
            cand = set.intersection(*group_docs)
        else:
            cand = set().union(*group_docs)
        for t in negs:
            cand -= set(self.postings.get(t, {}))
        cand -= self.dead
        out = []
        for c in cand:
            s = 0.0
            for g, ms in zip(groups, member_docs):
                best = 0.0
                for m, docs in zip(g, ms):
                    if c in docs:
                        toks = m if isinstance(m, tuple) else (m,)
                        best = max(best, sum(self._contrib(t, c, avgdl) for t in toks))
                s += best
            out.append((c, s))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(b))


def check(expected: list[tuple[str, float]], got: list[tuple[str, float]], k: int) -> str | None:
    """None when ``got`` is a valid top-k of ``expected``; else the reason.

    Rank-exact up to ties: the score at every rank must equal the oracle's
    score at that rank, and every returned doc must be a match whose true
    score is the returned one.  Which of several tied docs fill the last
    ranks is the engine's (doc_id) choice."""
    want = expected[:k]
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    if len({c for c, _ in got}) != len(got):
        return "duplicate doc in answer"
    true = dict(expected)
    for rank, ((c, s), (_wc, ws)) in enumerate(zip(got, want)):
        if not _close(s, ws):
            return f"rank {rank}: score {s!r}, oracle {ws!r}"
        if c not in true:
            return f"rank {rank}: doc {c} does not match the query"
        if not _close(true[c], s):
            return f"rank {rank}: doc {c} scored {s!r}, oracle {true[c]!r}"
    return None
