"""Seeded inputs: corpus rows, query streams and ingest batches.

Everything derives from the workload seed, and the engine receives only the
generated rows.  Nothing here imports the engine, so an edit to the
engine's own synthetic corpus (``sources/corpus.py``) cannot move a
workload.

Docs are source-code-like text: language keywords at a fixed stride (the
df head), identifiers drawn zipf from a seeded vocabulary written in
camelCase, snake_case, PascalCase or plain lowercase (so code-aware
splitting has work to do), and the zipf tail supplying rare terms.
"""

from __future__ import annotations

import hashlib

import numpy as np

LANGS = {
    "python": ("py", ["def", "return", "import", "class", "self", "for", "if", "none"]),
    "javascript": ("js", ["function", "const", "let", "return", "var", "async", "await"]),
    "java": ("java", ["public", "static", "void", "class", "return", "new", "final"]),
    "go": ("go", ["func", "return", "package", "import", "defer", "chan", "struct"]),
    "rust": ("rs", ["fn", "let", "mut", "impl", "pub", "match", "struct"]),
}
LANG_NAMES = sorted(LANGS)
LANG_P = np.array([0.35, 0.25, 0.2, 0.12, 0.08])

_SYLLABLES = [
    "ka", "ri", "to", "ne", "mo", "la", "pe", "su", "vi", "do",
    "ra", "zu", "fi", "go", "te", "bo", "mi", "xa", "le", "nu",
    "qua", "sel", "dran", "pho", "gri", "tem", "vol", "cri",
]
N_IDENTS = 6000
ZIPF_S = 1.1
N_REPOS = 24


class Vocab:
    """Per-seed identifier vocabulary and repo names."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 0x5EED])
        words: list[str] = []
        seen: set[str] = set()
        while len(words) < 1500:
            n = int(rng.integers(2, 4))
            w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), n))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = words
        idents: list[str] = []
        iseen: set[str] = set()
        while len(idents) < N_IDENTS:
            parts = [words[int(i)] for i in rng.integers(0, len(words), int(rng.integers(1, 4)))]
            style = int(rng.integers(0, 4))
            if style == 0 or len(parts) == 1:
                ident = "".join(parts)
            elif style == 1:
                ident = parts[0] + "".join(p.capitalize() for p in parts[1:])
            elif style == 2:
                ident = "_".join(parts)
            else:
                ident = "".join(p.capitalize() for p in parts)
            if rng.random() < 0.1:
                ident += str(int(rng.integers(0, 10)))
            if ident not in iseen:
                iseen.add(ident)
                idents.append(ident)
        self.idents = idents
        ranks = np.arange(1, N_IDENTS + 1, dtype=np.float64)
        p = ranks**-ZIPF_S
        self.ident_cdf = np.cumsum(p / p.sum())
        self.ident_cdf[-1] = 1.0
        self.repos = [
            f"org{j % 5}/{words[int(rng.integers(0, len(words)))]}{j}"
            for j in range(N_REPOS)
        ]
        self.lang_cdf = np.cumsum(LANG_P / LANG_P.sum())
        self.lang_cdf[-1] = 1.0


_SEPS = [" ", " ", " ", "(", ", ", ".", " = ", "):\n    ", ";\n", " -> "]


def make_doc(vocab: Vocab, seed: int, i: int) -> tuple[str, str, str, str, str]:
    """Doc number ``i`` of the seed's doc space as (repo, path, commit,
    lang, content).  Each doc has its own generator, so doc ``i`` is the
    same whichever batch asks for it, and distinct ``i`` never collide."""
    rng = np.random.default_rng([seed, 0xD0C, i])
    lang = LANG_NAMES[int(np.searchsorted(vocab.lang_cdf, rng.random()))]
    ext, kws = LANGS[lang]
    n = int(20 + rng.random() ** 2 * 380)
    draws = np.searchsorted(vocab.ident_cdf, rng.random(n))
    words = [vocab.idents[int(d)] for d in draws]
    for j in range(0, n, 5):
        words[j] = kws[(i + j // 5) % len(kws)]
    seps = rng.integers(0, len(_SEPS), n)
    content = "".join(w + _SEPS[int(s)] for w, s in zip(words, seps))
    repo = vocab.repos[int(rng.integers(0, N_REPOS))]
    path = (
        f"src/{vocab.words[int(rng.integers(0, len(vocab.words)))]}/"
        f"{vocab.idents[int(draws[-1])]}.{ext}"
    )
    commit = hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()
    return repo, path, commit, lang, content


def make_docs(vocab: Vocab, seed: int, start: int, count: int) -> list[tuple]:
    return [make_doc(vocab, seed, i) for i in range(start, start + count)]


class QueryGen:
    """Seeded query strings drawn across the document-frequency spectrum
    of a corpus (head keywords, mid-zipf identifiers, rare and absent
    tokens) in every shape the query layer serves."""

    SHAPES = ["single", "and2", "and3", "or", "neg", "phrase", "field"]

    def __init__(self, rng: np.random.Generator, oracle, vocab: Vocab):
        self.rng = rng
        self.oracle = oracle
        self.vocab = vocab
        n = max(oracle.n_docs, 1)
        dfs = sorted(oracle.content_df().items())
        self.head = [t for t, d in dfs if d >= 0.15 * n]
        self.mid = [t for t, d in dfs if 0.01 * n <= d < 0.15 * n]
        self.tail = [t for t, d in dfs if d <= 3]
        # the parser reads a bare OR as an operator
        for pool in (self.head, self.mid, self.tail):
            pool[:] = [t for t in pool if t != "or"]

    def _pick(self, pool: list[str]) -> str:
        return pool[int(self.rng.integers(0, len(pool)))]

    def _absent(self) -> str:
        return f"zq{int(self.rng.integers(0, 1 << 40)):x}"

    def _term(self) -> str:
        r = self.rng.random()
        if r < 0.25:
            return self._pick(self.head)
        if r < 0.75:
            return self._pick(self.mid)
        if r < 0.95:
            return self._pick(self.tail)
        return self._absent()

    def _distinct(self, k: int) -> list[str]:
        out: list[str] = []
        while len(out) < k:
            t = self._term()
            if t not in out:
                out.append(t)
        return out

    def one(self, shape: str) -> str:
        if shape == "single":
            return self._term()
        if shape == "and2":
            return " ".join(self._distinct(2))
        if shape == "and3":
            return " ".join(self._distinct(3))
        if shape == "or":
            a, b, c = self._distinct(3)
            return f"{a} OR {b}" if self.rng.random() < 0.5 else f"{a} OR {b} {c}"
        if shape == "neg":
            pos = self._pick(self.mid if self.rng.random() < 0.7 else self.head)
            neg = self._pick(self.head if self.rng.random() < 0.5 else self.mid)
            return pos if neg == pos else f"{pos} -{neg}"
        if shape == "phrase":
            a, b = self.oracle.adjacent_pair(self.rng)
            return f'"{a} {b}"'
        if shape == "field":
            t = self._pick(self.mid)
            if self.rng.random() < 0.5:
                return f"{t} lang:{LANG_NAMES[int(self.rng.integers(0, len(LANG_NAMES)))]}"
            return f"{t} repo:{self._pick(self.vocab.repos)}"
        raise ValueError(shape)

    def stream(self, n: int, exclude: set[str] | None = None) -> list[str]:
        """``n`` distinct queries, none in ``exclude``.  Shapes rotate in a
        fixed order, so every seed times the same shape mix and a run's
        median does not move with a seed's share of costly shapes."""
        seen = set(exclude or ())
        out: list[str] = []
        while len(out) < n:
            q = self.one(self.SHAPES[len(out) % len(self.SHAPES)])
            if q not in seen:
                seen.add(q)
                out.append(q)
        return out

    def any_stream(self, n: int, exclude: set[str] | None = None) -> list[str]:
        """More-like-this style bags: 4-6 distinct mid/head terms of one
        real doc, answered under match-any."""
        seen = set(exclude or ())
        out: list[str] = []
        while len(out) < n:
            terms = self.oracle.doc_terms_sample(self.rng, int(self.rng.integers(4, 7)))
            q = " ".join(terms)
            if len(terms) >= 2 and q not in seen:
                seen.add(q)
                out.append(q)
        return out
