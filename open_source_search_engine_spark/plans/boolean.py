"""Nested boolean query expressions (SURVEY.md §2.7 U1; reference
Query.cpp Expression::isTruth — recursive AND/OR/NOT trees with
parentheses, evaluated per doc).

The flat search path (plans/exec.py) handles AND-of-OR-groups; this
module adds arbitrary nesting as a set-selection operator:

  pruned postings scan of the leaf terms     (one scan, all leaves)
  decode -> distinct (doc_id, term_id)       (presence grain)
  groupBy(doc_id).collect_set(term_id)       (per-doc leaf bitmap analog)
  filter(<expression as one boolean Column>) (Expression::isTruth,
                                              evaluated by codegen)

Candidates are docs containing >=1 leaf term, so expressions satisfiable
by the EMPTY leaf set (e.g. pure ``NOT x``) are rejected at parse time —
they would match the whole collection (the reference requires a positive
component the same way).

Grammar:  expr := or ;  or := and (OR and)* ;
          and := unary (AND? unary)* ;  unary := NOT unary | '(' expr ')' | term
Bare adjacency means AND (default conjunctive, like the main parser).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import _tokenize_one
from ..operators.build import Index
from ..operators.merge import drop_deleted, term_postings


@dataclass(frozen=True)
class Node:
    op: str  # "term" | "and" | "or" | "not"
    term: str = ""
    children: tuple["Node", ...] = ()


_TOK_RE = re.compile(r"\(|\)|[^\s()]+")


class _Parser:
    def __init__(self, q: str):
        self.toks = _TOK_RE.findall(q)
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self) -> str:
        t = self.toks[self.i]
        self.i += 1
        return t

    def parse(self) -> Node:
        node = self.or_expr()
        if self.peek() is not None:
            raise ValueError(f"unexpected token {self.peek()!r}")
        return node

    def or_expr(self) -> Node:
        parts = [self.and_expr()]
        while self.peek() is not None and self.peek().upper() == "OR":
            self.take()
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else Node("or", children=tuple(parts))

    def and_expr(self) -> Node:
        parts = [self.unary()]
        while True:
            nxt = self.peek()
            if nxt is None or nxt == ")" or nxt.upper() == "OR":
                break
            if nxt.upper() == "AND":
                self.take()
                nxt = self.peek()
                if nxt is None or nxt == ")":
                    raise ValueError("dangling AND")
            parts.append(self.unary())
        return parts[0] if len(parts) == 1 else Node("and", children=tuple(parts))

    def unary(self) -> Node:
        nxt = self.peek()
        if nxt is None:
            raise ValueError("unexpected end of expression")
        if nxt.upper() == "NOT":
            self.take()
            return Node("not", children=(self.unary(),))
        if nxt.upper() in ("AND", "OR"):
            raise ValueError(f"operator {nxt!r} where a term was expected")
        if nxt == "(":
            self.take()
            inner = self.or_expr()
            if self.peek() != ")":
                raise ValueError("unbalanced parentheses")
            self.take()
            return inner
        tok = self.take()
        m = re.match(r"^([A-Za-z]+):(.+)$", tok)
        if m:  # fielded leaf, normalized like the main parser
            prefix, rest = m.group(1).lower(), m.group(2).lower()
            if prefix == "repo":
                return Node("term", term=f"repo:{rest}")
            sub = _tokenize_one(rest, False)
            if not sub:
                raise ValueError(f"empty fielded term {tok!r}")
            return Node("term", term=f"{prefix}:{sub[0]}")
        sub = _tokenize_one(tok, False)
        if not sub:
            raise ValueError(f"not a term: {tok!r}")
        return Node("term", term=sub[0])


def parse_boolean(q: str) -> Node:
    node = _Parser(q).parse()
    if _eval_const(node, lambda _t: False):
        raise ValueError(
            "expression is satisfiable by a doc containing no query term "
            "(would match the whole collection) — add a positive component"
        )
    return node


def _eval_const(node: Node, truth) -> bool:
    if node.op == "term":
        return truth(node.term)
    if node.op == "not":
        return not _eval_const(node.children[0], truth)
    vals = [_eval_const(c, truth) for c in node.children]
    return all(vals) if node.op == "and" else any(vals)


def _leaf_terms(node: Node) -> set[str]:
    if node.op == "term":
        return {node.term}
    out: set[str] = set()
    for c in node.children:
        out |= _leaf_terms(c)
    return out


def _to_col(node: Node, sets_col: Column, ids: dict[str, int]) -> Column:
    if node.op == "term":
        tid = ids.get(node.term)
        return F.array_contains(sets_col, tid) if tid is not None else F.lit(False)
    if node.op == "not":
        return ~_to_col(node.children[0], sets_col, ids)
    cols = [_to_col(c, sets_col, ids) for c in node.children]
    out = cols[0]
    for c in cols[1:]:
        out = (out & c) if node.op == "and" else (out | c)
    return out


def search_boolean(
    spark: SparkSession,
    index: Index,
    expr: str | Node,
) -> DataFrame:
    """doc_ids matching the boolean expression (set semantics, sorted)."""
    node = parse_boolean(expr) if isinstance(expr, str) else expr
    leaves = sorted(_leaf_terms(node))
    from .exec import _stats_cached

    index = index.view()  # one manifest version for stats, postings, deletes
    _n, _a, stats = _stats_cached(spark, index, leaves)
    ids = {t: stats[t][0] for t in leaves if t in stats}
    if not ids:
        return spark.createDataFrame([], "doc_id long")
    rows = term_postings(spark, index, list(ids.values()))
    per_doc = (
        rows.select("doc_id", "term_id")
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("term_id").alias("ts"))
    )
    matched = per_doc.filter(_to_col(node, F.col("ts"), ids)).select("doc_id")
    return drop_deleted(spark, index, matched).orderBy("doc_id")
