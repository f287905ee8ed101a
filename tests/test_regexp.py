"""Regexp term queries (Lucene RegexpQuery semantics): /pattern/ tokens
restricted to the Java-regex/RE2 dialect-identical subset, expanded
against the vocabulary with whole-term anchoring, scored as one
boolean-OR query (operators/search.py regexp_* + search_patterns)."""

import pytest

from search_engine_spark import engine
from search_engine_spark.functions.analyzer import AnalyzerConfig
from search_engine_spark.operators import executor
from search_engine_spark.operators import search as S
from search_engine_spark.plans import planner

SIMPLE = AnalyzerConfig.simple()


@pytest.fixture(scope="module")
def rx_index(spark):
    # dfs: cat 2, cap 2, car 1, cart 3, dog 1 (the wildcard fixture)
    rows = [
        (1, "cat cap"),
        (2, "cat cart"),
        (3, "cap cart dog"),
        (4, "car cart"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    yield engine.build_index(docs, SIMPLE, positional=False, cache=False)


def test_validation_accepts_dialect_subset():
    for ok in ("ca[rt]", "c.t", "ca(t|p)", "car?t", "do+g", "a{2,3}b",
               "gro.p", "sc[a-z]n"):
        assert S.regexp_validate(ok) == ok


def test_validation_rejects_unsafe_constructs():
    for bad, msg in [
        ("", "non-empty"),
        (r"ca\\t", "backslash|subset"),
        ("(?i)cat", r"\(\?"),
        ("(?=cat)x", r"\(\?"),
        ("^cat$", "subset"),
        ("CAT", "subset"),          # vocabulary is lowercased
        (".*", "literal"),          # whole-vocabulary expansion
        ("a(+)", "invalid"),        # compiles on neither engine
    ]:
        with pytest.raises(ValueError, match=msg):
            S.regexp_validate(bad)


def test_anchor_extraction():
    assert S.regexp_anchor("cat[s]") == "cat"
    assert S.regexp_anchor("ca.t") == "ca"
    assert S.regexp_anchor("car?t") == "ca"   # quantified 'r' excluded
    assert S.regexp_anchor("ca{1,2}t") == "c"
    assert S.regexp_anchor("[cd]at") == ""
    assert S.regexp_anchor("gr(ou)p") == "gr"


def test_expansion_whole_term_anchored(rx_index):
    # 'ca.' must NOT match 'cart' (whole-term semantics, not substring)
    assert set(S.regexp_expand(rx_index, ["ca."])) == {"cat", "cap", "car"}
    assert set(S.regexp_expand(rx_index, ["ca(t|rt)"])) == {"cat", "cart"}
    assert set(S.regexp_expand(rx_index, ["[a-z]*art"])) == {"cart"}
    assert S.regexp_expand(rx_index, ["zz+"]) == {}


def test_cap_and_ordering_match_wildcard_path(rx_index):
    got = S.regexp_expand(rx_index, ["ca.*"], max_expansions=2)
    assert got == {"cart": 1.0, "cap": 1.0}  # df DESC, term ASC
    assert got == S.wildcard_expand(rx_index, ["ca*"], max_expansions=2)


def test_regexp_equals_wildcard_equivalent(rx_index):
    """'ca.t'-style automata with a LIKE-expressible equivalent must
    score identically to the wildcard path (same rewrite, same OR
    scoring)."""
    rx = {r.doc_id: r.score for r in S.search_patterns(
        rx_index, [], regexps=["c.t"], k=None).collect()}
    wc = {r.doc_id: r.score for r in S.search_patterns(
        rx_index, [], wildcards=["c?t"], k=None).collect()}
    assert rx == wc and rx


def test_planner_routes_slash_tokens(built_index):
    plan = planner.classify("market /gro.p/ pri*")
    assert isinstance(plan, planner.FreeTextPlan)
    assert plan.regexps == ["gro.p"]
    assert plan.prefixes == ["pri"]
    assert plan.terms == ["market"]
    # a slash pattern containing '*' still routes to regexps, not
    # wildcards
    p2 = planner.classify("/ca.*/")
    assert p2.regexps == ["ca.*"] and not p2.wildcards


def test_executor_regexp_routing_and_refusals(rx_index):
    got = {r.doc_id: r.score
           for r in executor.execute(rx_index, "/ca(t|p)/", k=10).collect()}
    want = {r.doc_id: r.score for r in S.search_patterns(
        rx_index, [], regexps=["ca(t|p)"], k=10).collect()}
    assert got == want and got
    with pytest.raises(ValueError, match="pattern terms"):
        executor.execute(rx_index, '/ca./ "cat cap"', k=5)
    with pytest.raises(ValueError, match="RM3"):
        executor.execute(rx_index, "/ca./", rm3_alpha=0.5, k=5)
    with pytest.raises(ValueError, match="vsm"):
        executor.execute(rx_index, "/ca./", model="vsm", k=5)
    with pytest.raises(ValueError, match="adaptive"):
        executor.execute(rx_index, "/ca./", adaptive=True, k=5)
    # invalid dialect surfaces the operator's refusal through execute
    # (note /CAT/ would NOT refuse: the planner lowercases patterns,
    # matching the wildcard rule)
    with pytest.raises(ValueError, match="subset"):
        executor.execute(rx_index, r"/ca\t/", k=5)


def test_wand_refuses_regexp_queries(rx_index):
    from search_engine_spark.operators import maxscore

    assert not maxscore.kernel_eligible(planner.classify("/ca./"))


def test_spellcheck_never_corrects_slash_tokens(rx_index):
    from search_engine_spark.plans.spellcheck import (
        VocabularySpellchecker, correct_query)

    checker = VocabularySpellchecker({"cat": 5, "cart": 3, "market": 9})
    assert correct_query("/cas/ merket", checker) == "/cas/ market"


# --- DisjunctionMax (lives here with the other Lucene query-type ops) ------

def test_dismax_hand_computed(rx_index):
    s1 = {r.doc_id: r.score for r in S.search_freetext_tokens(
        rx_index, ["cat"], k=None).collect()}
    s2 = {r.doc_id: r.score for r in S.search_freetext_tokens(
        rx_index, ["cart"], k=None).collect()}
    got = {r.doc_id: r.score for r in S.search_dismax(
        rx_index, [["cat"], ["cart"]], tie_breaker=0.3, k=None).collect()}
    import pytest as _pt
    for d in set(s1) | set(s2):
        a, b = s1.get(d, 0.0), s2.get(d, 0.0)
        want = max(a, b) + 0.3 * (a + b - max(a, b))
        assert got[d] == _pt.approx(want, abs=1e-9), d


def test_dismax_tie_breaker_extremes(rx_index):
    # tie=0: pure max; tie=1: the OR sum over disjoint clauses
    zero = {r.doc_id: r.score for r in S.search_dismax(
        rx_index, [["cat"], ["dog"]], tie_breaker=0.0, k=None).collect()}
    s1 = {r.doc_id: r.score for r in S.search_freetext_tokens(
        rx_index, ["cat"], k=None).collect()}
    s2 = {r.doc_id: r.score for r in S.search_freetext_tokens(
        rx_index, ["dog"], k=None).collect()}
    for d, v in zero.items():
        assert v == pytest.approx(max(s1.get(d, 0.0), s2.get(d, 0.0)),
                                  abs=1e-9)
    one = {r.doc_id: r.score for r in S.search_dismax(
        rx_index, [["cat"], ["dog"]], tie_breaker=1.0, k=None).collect()}
    merged = {r.doc_id: r.score for r in S.search_freetext_tokens(
        rx_index, ["cat", "dog"], k=None).collect()}
    assert set(one) == set(merged)
    for d, v in one.items():
        assert v == pytest.approx(merged[d], abs=1e-9)


def test_dismax_validation_and_empties(rx_index):
    with pytest.raises(ValueError, match="tie_breaker"):
        S.search_dismax(rx_index, [["cat"]], tie_breaker=1.5)
    with pytest.raises(ValueError, match="clause"):
        S.search_dismax(rx_index, [])
    # all-empty clauses -> empty frame; empty clauses drop out
    assert S.search_dismax(rx_index, [[], []]).count() == 0
    partial = {r.doc_id: r.score for r in S.search_dismax(
        rx_index, [["cat"], []], tie_breaker=0.5, k=None).collect()}
    alone = {r.doc_id: r.score for r in S.search_freetext_tokens(
        rx_index, ["cat"], k=None).collect()}
    assert partial == alone
