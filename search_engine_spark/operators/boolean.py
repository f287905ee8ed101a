"""Boolean retrieval as relational set algebra (SURVEY §2.5 Q10).

Reference: boolean_retrieval.py:6-114 — doc-id sets folded left-to-right
with AND=∩, OR=∪, NOT/AND NOT=difference, unary NOT vs the universe
range(1, N+1); one level of parentheses evaluated first; result cut at 500
(quirk 6: despite the "first 100" comment). Clauses may be phrases.

Spark mapping: AND → left_semi join, OR → union+distinct, NOT →
left_anti join, unary NOT → anti against the documents table. The fold is
driver-side plan construction; execution is one Catalyst plan.

Determinism pin: the reference's 500-cut takes dict-insertion order; we
pin doc_id ascending (SURVEY §2.8 pin 3 family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.planner import BooleanPlan
from .phrase import phrase_occurrences
from .search import InvertedIndex

BOOLEAN_RESULT_CUT = 500  # boolean_retrieval.py:36


def _clause_docs(index: InvertedIndex, clause) -> DataFrame:
    if clause.is_phrase and len(clause.terms) > 1:
        return phrase_occurrences(index, clause.terms).select("doc_id")
    if not clause.terms:
        return index.postings.sparkSession.createDataFrame([], "doc_id long")
    return index.lookup(clause.terms).select("doc_id").distinct()


def _apply(acc: DataFrame, op: str, nxt: DataFrame) -> DataFrame:
    if op == "AND":
        return acc.join(nxt, "doc_id", "left_semi")
    if op == "OR":
        return acc.union(nxt).distinct()
    if op in ("AND NOT", "NOT"):
        return acc.join(nxt, "doc_id", "left_anti")
    raise ValueError(op)


def boolean_docs(index: InvertedIndex, plan: BooleanPlan,
                 universe: DataFrame | None = None) -> DataFrame:
    """Evaluate the boolean plan → doc_id DataFrame (uncut, unordered)."""
    clauses = [_clause_docs(index, c) for c in plan.clauses]
    operators = list(plan.operators)
    # fold each paren group first (left to right; indices shift as
    # earlier groups collapse their clause ranges)
    offset = 0
    for lo, hi in plan.paren_groups:
        lo -= offset
        hi -= offset
        acc = clauses[lo]
        for i in range(lo, hi):
            acc = _apply(acc, operators[i], clauses[i + 1])
        clauses[lo : hi + 1] = [acc]
        del operators[lo:hi]
        offset += hi - lo
    acc = clauses[0]
    if plan.leading_not:
        uni = universe if universe is not None else index.doc_stats.select("doc_id")
        acc = uni.join(acc, "doc_id", "left_anti")
    for op, nxt in zip(operators, clauses[1:]):
        acc = _apply(acc, op, nxt)
    return acc
