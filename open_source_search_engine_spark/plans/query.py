"""Query parser (SURVEY.md §3.1 stage 3; reference Query.cpp set2 ->
setQWords -> setQTerms, ~7k LoC of C++ reduced to a small grammar).

Supported surface (v1):
  term term            conjunctive AND (default, like the reference)
  -term                negation (F3): doc dropped if term present
  field:term           fielded restriction (F4): lang:, repo:, path:
  a OR b               or-group (U1/U3): group matches if any member matches
  "a b"                quoted phrase (J4): adjacent positions required
  term^2.5             user term weight (Query.cpp m_userWeight): scales
                       the term's idf in scoring; works on fielded terms
                       and OR-group members; a standalone ^W unit weights
                       the preceding quoted phrase

Each positive unit becomes a Group (the QueryTermInfo analog, U3): members
are OR'd within the group, groups are AND'd across.  Negative terms form
their own list (anti-join side).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ..functions.tokenize import _tokenize_one

FIELD_PREFIXES = ("lang", "repo", "path", "site", "url", "intitle", "anchor")


@dataclass(frozen=True)
class Term:
    text: str  # normalized token, possibly "lang:python" fielded form
    phrase: tuple[str, ...] = ()  # >1 tokens => positional phrase
    # member weight inside an OR-group (1.0 for user terms; <1 for
    # synonym-expanded members — Synonyms.cpp m_weights analog, X5)
    weight: float = 1.0


@dataclass
class Group:
    members: list[Term]


@dataclass
class QueryPlan:
    groups: list[Group] = field(default_factory=list)  # AND of OR-groups
    negatives: list[Term] = field(default_factory=list)
    raw: str = ""

    @property
    def all_terms(self) -> list[Term]:
        out = [m for g in self.groups for m in g.members]
        out.extend(self.negatives)
        return out


def terms_plan(terms: list[str]) -> QueryPlan:
    """An AND of plain terms, one group per term: the terms are data, not
    query syntax, so none is re-parsed as an operator (a term that is
    literally ``or`` or ``-x`` stays a term)."""
    return QueryPlan(groups=[Group(members=[Term(t)]) for t in terms])


# a quoted phrase may carry a leading '-' (negated phrase: -"a b");
# without the -? the unit tokenized as -"a  +  b" — a negated first
# token plus a stray positive, silently inverting the user's intent
_TOKEN_RE = re.compile(r'-?"[^"]*"|\S+')


def plan_key(plan: QueryPlan) -> tuple:
    """Hashable identity of a parsed plan (serp-cache key component)."""
    return (
        tuple(
            tuple((m.text, m.phrase, m.weight) for m in g.members)
            for g in plan.groups
        ),
        tuple(t.text for t in plan.negatives),
    )


def _norm_unit(unit: str) -> Term | None:
    """One query word/phrase -> Term (tokenized same as the index side)."""
    if unit.startswith('"') and unit.endswith('"'):
        toks = _tokenize_one(unit[1:-1], False)
        if not toks:
            return None
        if len(toks) == 1:
            return Term(toks[0])
        return Term(" ".join(toks), phrase=tuple(toks))
    m = re.match(r"^([A-Za-z]+):(.+)$", unit)
    if m and m.group(1).lower() in FIELD_PREFIXES:
        prefix = m.group(1).lower()
        rest = m.group(2).lower()
        # reference query-surface aliases mapped to this corpus's indexed
        # field terms: Gigablast's site: restricts by hostname (the repo
        # plays that role here — F5 whitelist) and url: matches URL words
        # (path: terms).  intitle: has no analog column and stays its own
        # prefix (absent from the dictionary => correctly yields nothing).
        prefix = {"site": "repo", "url": "path"}.get(prefix, prefix)
        # repo values keep their slash; others tokenize to the first token
        if prefix == "repo":
            return Term(f"repo:{rest}")
        toks = _tokenize_one(rest, False)
        if not toks:
            return None
        return Term(f"{prefix}:{toks[0]}")
    toks = _tokenize_one(unit, False)
    if not toks:
        return None
    if len(toks) == 1:
        return Term(toks[0])
    return Term(" ".join(toks), phrase=tuple(toks))


_WEIGHT_RE = re.compile(r"^(.+)\^(\d+(?:\.\d+)?)$")
_BARE_WEIGHT_RE = re.compile(r"^\^(\d+(?:\.\d+)?)$")


def parse_query(q: str) -> QueryPlan:
    from dataclasses import replace

    plan = QueryPlan(raw=q)
    units = _TOKEN_RE.findall(q)
    i = 0
    pending: list[Term] | None = None  # current OR chain
    last_term: Term | None = None  # most recently appended (for `"a b"^W`)
    while i < len(units):
        u = units[i]
        if u.upper() == "OR":
            i += 1
            continue
        bw = _BARE_WEIGHT_RE.match(u)
        if bw is not None:
            # `"a b"^2` tokenizes as two units (the phrase regex stops at
            # the closing quote); weight the preceding term in place
            w = float(bw.group(1))
            if w > 0 and last_term is not None:
                new = replace(last_term, weight=w)
                for seq in [g.members for g in plan.groups] + (
                    [pending] if pending is not None else []
                ):
                    for j, m in enumerate(seq):
                        if m is last_term:
                            seq[j] = new
                last_term = new
            i += 1
            continue
        negative = u.startswith("-") and len(u) > 1
        if negative:
            u = u[1:]
        weight = 1.0
        mw = _WEIGHT_RE.match(u)
        if mw is not None and not u.startswith('"'):
            # strip the suffix either way; a nonpositive weight is
            # invalid and falls back to 1.0 (never a bogus "x 0" phrase)
            cand = float(mw.group(2))
            u = mw.group(1)
            weight = cand if cand > 0 else 1.0
        term = _norm_unit(u)
        if term is None:
            i += 1
            continue
        if weight != 1.0:
            term = replace(term, weight=weight)
        if negative:
            # weight on a negation is meaningless (presence kills the doc
            # either way); also clear last_term so a stray `^W` after it
            # can't retroactively weight the previous positive
            plan.negatives.append(term)
            pending = None
            last_term = None
            i += 1
            continue
        last_term = term
        # join into an OR-group if the *next* unit is OR
        if pending is not None:
            pending.append(term)
        else:
            pending = [term]
        nxt_is_or = i + 1 < len(units) and units[i + 1].upper() == "OR"
        if not nxt_is_or:
            plan.groups.append(Group(pending))
            pending = None
        i += 1
    if pending:
        plan.groups.append(Group(pending))
    # dedup: a term repeated in the query must not double-count (the
    # reference collapses repeated QueryTerms); keep first occurrence
    seen: set[tuple] = set()
    uniq_groups = []
    for g in plan.groups:
        key = tuple(sorted((m.text, m.phrase) for m in g.members))
        if key not in seen:
            seen.add(key)
            uniq_groups.append(g)
    plan.groups = uniq_groups
    plan.negatives = list(dict.fromkeys(plan.negatives))
    return plan
