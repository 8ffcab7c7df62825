"""Query-time synonym expansion (SURVEY.md §2.8 X5; reference
Synonyms.cpp ~2k LoC: per-term synonym sets with member weights feeding
QueryTermInfo OR-groups).

Spark-first shape: expansion is a driver-side rewrite of the QueryPlan —
each positive single-term group grows weighted sibling members, and the
existing OR-group slot machinery (plans/exec.py slot-max, topk.py kernel
slots) executes it unchanged.  The table itself is tiny (checked-in dict
by default, or any {term: [(synonym, weight)]} dict) — the analog
of the reference's memory-mapped synonyms file.

Weights follow the reference's convention: the original term scores at
1.0, synonyms at a discount (0.9 direct synonym, lower for weaker
relations), applied as an idf multiplier so a synonym hit can never
outrank the exact term in an otherwise equal doc.
"""

from __future__ import annotations

from ..plans.query import Group, QueryPlan, Term

# Checked-in default table for the source-code corpus (term -> [(syn, w)]).
# Deliberately small: the engine mechanism, not lexicography, is the point.
DEFAULT_SYNONYMS: dict[str, list[tuple[str, float]]] = {
    "function": [("func", 0.9), ("fn", 0.9), ("def", 0.8)],
    "func": [("function", 0.9), ("fn", 0.9)],
    "fn": [("function", 0.9), ("func", 0.9)],
    "def": [("function", 0.8)],
    "class": [("struct", 0.8)],
    "struct": [("class", 0.8)],
    "import": [("include", 0.8), ("require", 0.8)],
    "include": [("import", 0.8)],
    "require": [("import", 0.8)],
    "return": [("yield", 0.7)],
    "const": [("final", 0.8)],
    "final": [("const", 0.8)],
    "null": [("none", 0.9), ("nil", 0.9)],
    "none": [("null", 0.9), ("nil", 0.9)],
    "nil": [("null", 0.9), ("none", 0.9)],
}


def expand_plan(
    plan: QueryPlan,
    table: dict[str, list[tuple[str, float]]] | None = None,
) -> QueryPlan:
    """Grow each single-term positive group into a weighted OR-group.

    Skips fielded terms (lang:/repo:/...), phrases, existing multi-member
    OR-groups (user intent wins) and negatives (negating a term must not
    negate its synonyms — matches the reference, which only expands
    positive QueryWords)."""
    table = DEFAULT_SYNONYMS if table is None else table
    out_groups: list[Group] = []
    for g in plan.groups:
        if len(g.members) != 1:
            out_groups.append(g)
            continue
        m = g.members[0]
        if m.phrase or ":" in m.text:
            out_groups.append(g)
            continue
        syns = table.get(m.text)
        if not syns:
            out_groups.append(g)
            continue
        members = [m]
        seen = {m.text}
        for syn, w in syns:
            if syn not in seen:
                seen.add(syn)
                members.append(Term(syn, weight=float(w)))
        out_groups.append(Group(members))
    return QueryPlan(groups=out_groups, negatives=plan.negatives, raw=plan.raw)

