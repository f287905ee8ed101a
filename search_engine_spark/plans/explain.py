"""Query plan-choice explain: WHICH path will serve a query, before it
runs — the debuggability tool every multi-path engine grows
(Elasticsearch `_validate/query?explain`, Lucene's query rewrite dump).

``explain_plan`` performs classification and the same artifact/kernel
eligibility checks the execution paths perform, without launching any
Spark job: classification is driver-side, phrase-index coverage is a
driver-side set test, trigram extraction is pure string work, and
kernel eligibility is the shared ``maxscore.kernel_eligible`` predicate
plus the BM25-only model check /results routes on — so the report can
never drift from what execute()/search_maxscore actually do (it calls
the same functions). Score explain for an executed query is
the separate operators.search.explain_scores.
"""

from __future__ import annotations

from typing import Any

from . import planner


def explain_plan(index, query: str, model: str = "bm25") -> dict[str, Any]:
    """→ JSON-able report of the serving decision for ``query``:

    * ``kind``: proximity | boolean | freetext (planner.classify);
    * the analyzed terms / phrases / pattern tokens the plan carries;
    * ``kernels``: dynamic-pruning kernels this (index, query, model)
      can serve — ["maxscore"] for a pure bag-of-words BM25 free-text
      query on a durable SegmentIndex, else [] with a reason;
    * ``store``: "tf" or "impact" (+ bits) — which scoring the kernels
      would produce;
    * ``artifacts``: per-phrase next-word-index engagement and
      per-pattern trigram-index bounding, as the execution paths would
      decide them;
    * ``distributed_path``: the relational path that serves whatever
      the kernels refuse (always available).
    """
    plan = planner.classify(query, index.analyzer)
    report: dict[str, Any] = {"query": query, "model": model}

    if isinstance(plan, planner.ProximityPlan):
        report["kind"] = "proximity"
        report["window"] = plan.k
        report["terms"] = [plan.t1, plan.t2]
    elif isinstance(plan, planner.BooleanPlan):
        report["kind"] = "boolean"
        report["clauses"] = [
            {"terms": c.terms, "is_phrase": c.is_phrase}
            for c in plan.clauses]
        report["operators"] = plan.operators
    else:
        report["kind"] = "freetext"
        report["terms"] = plan.terms
        report["phrases"] = plan.phrases
        if plan.prefixes:
            report["prefixes"] = plan.prefixes
        if plan.wildcards:
            report["wildcards"] = plan.wildcards
        if plan.regexps:
            report["regexps"] = plan.regexps

    # kernel eligibility — the SAME predicate the serving guards use
    from ..operators import maxscore

    durable = hasattr(index, "mini_index")
    if not durable:
        report["kernels"] = []
        report["kernels_reason"] = ("in-memory index — kernels need the "
                                    "durable segment store")
    elif not maxscore.kernel_eligible(plan):
        report["kernels"] = []
        report["kernels_reason"] = ("not a pure bag-of-words free-text "
                                    "query — served by the relational "
                                    "path")
    elif model != "bm25":
        report["kernels"] = []
        report["kernels_reason"] = (f"model {model} — the kernel scores "
                                    "BM25 only; served by the relational "
                                    "path")
    else:
        report["kernels"] = ["maxscore"]

    store = getattr(index, "store", "tf")
    report["store"] = store
    if store == "impact":
        report["impact_bits"] = index.meta["impact_bits"]

    artifacts: dict[str, Any] = {}
    if isinstance(plan, planner.FreeTextPlan) and plan.phrases:
        engaged = []
        for i, ph in enumerate(plan.phrases):
            slop = (plan.phrase_slops[i]
                    if i < len(plan.phrase_slops) else 0)
            # two words: one tf-only bigram lookup; three+: the W&Z §4
            # chain needs EVERY consecutive pair covered positionally
            fast = False
            if slop == 0 and hasattr(index, "bigram_covered"):
                if len(ph) == 2:
                    fast = index.bigram_covered(ph[0], ph[1])
                elif len(ph) >= 3:
                    fast = all(index.bigram_covered(a, b)
                               for a, b in zip(ph, ph[1:]))
            engaged.append({"phrase": ph, "slop": slop,
                            "next_word_index": bool(fast)})
        artifacts["phrases"] = engaged
    patterns = []
    if isinstance(plan, planner.FreeTextPlan):
        patterns = list(plan.wildcards)
    if patterns:
        from ..operators.search import wildcard_anchor
        from ..sources.catalog import _pattern_trigrams

        per = []
        for p in patterns:
            anchor = wildcard_anchor(p)
            grams = _pattern_trigrams(p) if not anchor else []
            bounded = (not anchor and grams
                       and getattr(index, "_has_trigrams", False))
            per.append({
                "pattern": p,
                "pruning": ("startswith-anchor" if anchor else
                            "trigram-index" if bounded else
                            "vocabulary-scan"),
                **({"trigrams": grams} if bounded else {}),
            })
        artifacts["wildcards"] = per
    report["artifacts"] = artifacts
    report["distributed_path"] = "relational (operators.executor)"
    return report
