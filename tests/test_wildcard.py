"""Wildcard term queries (Lucene WildcardQuery semantics): 'te*t'/'t?st'
patterns expanded against the vocabulary via SQL LIKE, scored as one
boolean-OR query (operators/search.py search_patterns)."""

import pytest

from search_engine_spark import engine
from search_engine_spark.functions.analyzer import AnalyzerConfig
from search_engine_spark.operators import search as S

SIMPLE = AnalyzerConfig.simple()


@pytest.fixture(scope="module")
def wc_index(spark):
    # dfs: cat 2, cap 2, car 1, cart 3, dog 1 (the fuzzy fixture corpus)
    rows = [
        (1, "cat cap"),
        (2, "cat cart"),
        (3, "cap cart dog"),
        (4, "car cart"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    yield engine.build_index(docs, SIMPLE, positional=False, cache=False)


def test_like_conversion_and_anchor():
    assert S.wildcard_like("ca*t") == "ca%t"
    assert S.wildcard_like("t?st") == "t_st"
    assert S.wildcard_like("a_b*") == "a\\_b%"
    assert S.wildcard_like("a%b?") == "a\\%b_"
    assert S.wildcard_anchor("ca*t") == "ca"
    assert S.wildcard_anchor("*ing") == ""
    assert S.wildcard_anchor("c?t") == "c"
    for bad in ("*", "?", "**?"):
        with pytest.raises(ValueError, match="literal"):
            S.wildcard_like(bad)


def test_expansion_shapes(wc_index):
    assert set(S.wildcard_expand(wc_index, ["ca?"])) == {"cat", "cap", "car"}
    assert set(S.wildcard_expand(wc_index, ["c*t"])) == {"cat", "cart"}
    assert set(S.wildcard_expand(wc_index, ["*art"])) == {"cart"}  # leading
    assert set(S.wildcard_expand(wc_index, ["?a?"])) == {"cat", "cap", "car"}
    assert S.wildcard_expand(wc_index, ["zz*zz"]) == {}


def test_cap_and_ordering_match_prefix_path(wc_index):
    """'ca*' as a WILDCARD uses the same (df DESC, term ASC) capped
    rewrite as the prefix path: max_expansions=2 keeps cart (df 3) then
    cap (df-2 tie broken term ASC)."""
    got = S.wildcard_expand(wc_index, ["ca*"], max_expansions=2)
    assert got == {"cart": 1.0, "cap": 1.0}
    assert got == S.prefix_expand(wc_index, ["ca"], max_expansions=2)


def test_boosts_sum_across_clauses(wc_index):
    """A term matched by a literal token, a prefix, and a wildcard sums
    all three contributions (three OR clauses)."""
    three = {r.doc_id: r.score for r in S.search_patterns(
        wc_index, ["cart"], prefixes=["cart"], wildcards=["c*rt"],
        k=None).collect()}
    plain = {r.doc_id: r.score for r in S.search_patterns(
        wc_index, ["cart"], k=None).collect()}
    for d in plain:
        assert three[d] == pytest.approx(3.0 * plain[d])


def test_wildcard_only_equals_expanded_or(wc_index):
    got = {r.doc_id: round(r.score, 9)
           for r in S.search_patterns(wc_index, [], wildcards=["c*t"],
                                      k=None).collect()}
    want = {r.doc_id: round(r.score, 9)
            for r in S.search_freetext_tokens(wc_index, ["cat", "cart"],
                                              k=None).collect()}
    assert got == want and got


def test_planner_routing(built_index):
    from search_engine_spark.plans import planner

    p = planner.classify("te*t foo* ?at plain a*b*", built_index.analyzer)
    assert p.prefixes == ["foo"]
    assert p.wildcards == ["te*t", "?at", "a*b*"]
    assert "plain" in " ".join(p.terms) or p.terms  # literal analyzed


def test_executor_wildcard_routing_and_refusals(built_index):
    from search_engine_spark.operators import executor, maxscore
    from search_engine_spark.plans import planner

    vocab_term = built_index.term_stats.orderBy(
        "term").limit(1).collect()[0].term
    q = f"{vocab_term[0]}?{vocab_term[2:]}" if len(vocab_term) > 2 \
        else f"{vocab_term[0]}*"
    got = [(r.doc_id, round(r.score, 9))
           for r in executor.execute(built_index, q, k=10).collect()]
    plan = planner.classify(q, built_index.analyzer)
    assert plan.wildcards
    want = [(r.doc_id, round(r.score, 9))
            for r in S.search_patterns(built_index, plan.terms,
                                       wildcards=plan.wildcards,
                                       k=10).collect()]
    assert got == want and got
    for kwargs, msg in [
        (dict(rm3_alpha=0.5), "RM3"),
        (dict(fuzzy_max_dist=1), "fuzzy"),
        (dict(adaptive=True), "adaptive"),
        (dict(model="vsm"), "vsm"),
        (dict(min_should_match=2), "expansions"),
    ]:
        with pytest.raises(ValueError, match=msg):
            executor.execute(built_index, q, k=10, **kwargs)
    with pytest.raises(ValueError, match="free-text"):
        executor.execute(built_index, f'{q} "some phrase"', k=10)
    assert not maxscore.kernel_eligible(plan)


def test_validation(wc_index):
    with pytest.raises(ValueError, match="max_expansions"):
        S.wildcard_candidates(wc_index, ["c*t"], max_expansions=0)
    with pytest.raises(ValueError, match="non-empty"):
        S.wildcard_candidates(wc_index, [])
