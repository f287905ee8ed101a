"""Fuzzy retrieval (Lucene FuzzyQuery semantics) and MoreLikeThis gates.

The driver entries ``fuzzy_topk`` / ``more_like_this`` pin full
cross-engine value parity against DuckDB; these tests pin the SEMANTICS
on planted corpora: boost formula, expansion-cap ordering, prefix guard,
boost summing across query tokens, max_dist=0 degeneracy, source-doc
exclusion, and the tf·idf term cut.
"""

import pytest

from search_engine_spark import engine
from search_engine_spark.functions.analyzer import AnalyzerConfig
from search_engine_spark.operators import search as S

SIMPLE = AnalyzerConfig.simple()


@pytest.fixture(scope="module")
def fuzzy_index(spark):
    # dfs: cat 2, cap 2, car 1, cart 3, dog 1 — crafted so the
    # expansion cap has to use every tie-break level
    rows = [
        (1, "cat cap"),
        (2, "cat cart"),
        (3, "cap cart dog"),
        (4, "car cart"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    yield idx


def test_fuzzy_expand_boosts_and_cap(fuzzy_index):
    """Query 'cat': itself at boost 1.0; cap/car/cart all at distance 1
    with boost 1 − 1/3 = 2/3; max_expansions=2 keeps the exact match
    then breaks the 2/3 tie by df DESC (cart df=3 beats cap df=2)."""
    got = S.fuzzy_expand(fuzzy_index, ["cat"], max_dist=1,
                         prefix_len=1, max_expansions=2)
    assert set(got) == {"cat", "cart"}
    assert got["cat"] == pytest.approx(1.0)
    assert got["cart"] == pytest.approx(1.0 - 1.0 / 3.0)


def test_fuzzy_expand_df_then_term_tiebreak(fuzzy_index):
    """At equal boost and equal df the term ASC tie-break decides:
    query 'caf' (not in vocab) has cat/cap/car at distance 1, boost 2/3
    each; df: cat=2, cap=2, car=1 → cap wins the df tie alphabetically."""
    got = S.fuzzy_expand(fuzzy_index, ["caf"], max_dist=1,
                         prefix_len=1, max_expansions=1)
    assert set(got) == {"cap"}


def test_fuzzy_prefix_guard(fuzzy_index):
    """'xat' is distance 1 from 'cat' but fails the first-char prefix
    requirement — no expansion, empty result frame."""
    assert S.fuzzy_expand(fuzzy_index, ["xat"], max_dist=1) == {}
    out = S.search_fuzzy(fuzzy_index, ["xat"], max_dist=1)
    assert out.count() == 0
    assert out.columns == ["doc_id", "score"]


def test_fuzzy_boosts_sum_across_tokens(fuzzy_index):
    """Two query tokens expanding to one variant are two OR clauses:
    their boosts add (cap from itself at 1.0 + from 'cat' at 2/3)."""
    got = S.fuzzy_expand(fuzzy_index, ["cat", "cap"], max_dist=1,
                         prefix_len=1, max_expansions=50)
    assert got["cap"] == pytest.approx(1.0 + 2.0 / 3.0)
    assert got["cat"] == pytest.approx(1.0 + 2.0 / 3.0)


def test_fuzzy_maxdist0_is_plain_search(fuzzy_index):
    """max_dist=0 expands each in-vocab token to itself at boost 1 —
    scores must equal the plain literal search exactly."""
    fz = {(r.doc_id, round(r.score, 9))
          for r in S.search_fuzzy(fuzzy_index, ["cat", "dog"],
                                  max_dist=0).collect()}
    pl = {(r.doc_id, round(r.score, 9))
          for r in S.search_freetext_tokens(fuzzy_index,
                                            ["cat", "dog"]).collect()}
    assert fz == pl and len(fz) > 0


def test_fuzzy_validation(fuzzy_index):
    with pytest.raises(ValueError):
        S.fuzzy_expand(fuzzy_index, ["cat"], max_dist=-1)
    with pytest.raises(ValueError):
        S.fuzzy_expand(fuzzy_index, ["cat"], prefix_len=0)
    with pytest.raises(ValueError):
        S.fuzzy_expand(fuzzy_index, ["cat"], max_expansions=0)
    assert S.fuzzy_expand(fuzzy_index, ["", ""]) == {}


@pytest.fixture(scope="module")
def mlt_index(spark):
    rows = [
        (1, "quark boson quark lepton"),
        (2, "quark boson lepton gluon"),
        (3, "stocks bonds markets trading"),
        (4, "quark soup"),
        (5, "boson boson boson"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    yield idx


def test_mlt_excludes_source_ranks_overlap(mlt_index):
    """MLT(doc 1) queries doc 1's vocabulary: doc 2 (3 shared terms)
    outranks docs 4/5 (1 shared term); doc 3 (no overlap) and the
    source itself never appear."""
    hits = S.more_like_this(mlt_index, 1, k=10).collect()
    ids = [r.doc_id for r in hits]
    assert 1 not in ids and 3 not in ids
    assert ids[0] == 2
    assert set(ids) == {2, 4, 5}


def test_mlt_term_cut_is_tfidf_ranked(mlt_index):
    """max_query_terms=1 keeps doc 1's single highest-tf·idf term:
    'quark' (tf=2, df=3) scores 2·ln(5/3) ≈ 1.02 over 'lepton'
    (1·ln(5/2) ≈ 0.92) and 'boson' (1·ln(5/3) ≈ 0.51) — so only
    quark-bearing docs are retrieved."""
    hits = S.more_like_this(mlt_index, 1, k=10, max_query_terms=1).collect()
    assert {r.doc_id for r in hits} == {2, 4}


def test_mlt_unknown_doc_empty(mlt_index):
    out = S.more_like_this(mlt_index, 999, k=10)
    assert out.count() == 0
    assert out.columns == ["doc_id", "score"]
    with pytest.raises(ValueError):
        S.more_like_this(mlt_index, 1, max_query_terms=0)


def test_executor_fuzzy_maxdist0_identity(built_index):
    """Through the unified executor, fuzzy_max_dist=0 must reproduce the
    plain free-text ranking exactly (same guard style as rm3 alpha=1)."""
    from search_engine_spark.operators import executor

    plain = [(r.doc_id, round(r.score, 9)) for r in
             executor.execute(built_index, "market price", k=10).collect()]
    fz = [(r.doc_id, round(r.score, 9)) for r in
          executor.execute(built_index, "market price", k=10,
                           fuzzy_max_dist=0).collect()]
    assert fz == plain and len(fz) > 0


def test_executor_fuzzy_refusals(built_index):
    """fuzzy is refused — never silently ignored — on every kind it is
    not defined over, and on both conflicting-expansion flags."""
    from search_engine_spark.operators import executor

    cases = [
        dict(query='"market price"', fuzzy_max_dist=1),
        dict(query="market AND price", fuzzy_max_dist=1),
        dict(query="#5(market, price)", fuzzy_max_dist=1),
        dict(query="market", fuzzy_max_dist=1, rm3_alpha=0.5),
        dict(query="market", fuzzy_max_dist=1, adaptive=True),
        dict(query="market", fuzzy_max_dist=1, model="vsm"),
    ]
    for kw in cases:
        with pytest.raises(ValueError):
            executor.execute(built_index, **kw)


def test_executor_fuzzy_stopword_only_empty(built_index):
    """Stopword-only queries return empty under fuzzy, mirroring the
    plain path (refusing would break the max_dist=0 identity)."""
    from search_engine_spark.operators import executor

    out = executor.execute(built_index, "the and of", fuzzy_max_dist=1)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# prefix queries ('tok*' — Lucene PrefixQuery with the top-terms rewrite)
# ---------------------------------------------------------------------------

def test_prefix_expand_cap_and_ordering(fuzzy_index):
    """'ca*' matches cat/cap/car/cart; max_expansions=2 keeps the two
    highest-df (cart df=3, then the cat/cap df=2 tie broken term ASC →
    cap... cat? 'cap' < 'cat' ASC so cap wins)."""
    got = S.prefix_expand(fuzzy_index, ["ca"], max_expansions=2)
    assert got == {"cart": 1.0, "cap": 1.0}
    full = S.prefix_expand(fuzzy_index, ["ca"], max_expansions=50)
    assert set(full) == {"cat", "cap", "car", "cart"}


def test_prefix_boosts_sum_across_prefixes(fuzzy_index):
    """A term selected by two prefixes carries boost 2.0 (two OR
    clauses), and a literal query term that is also prefix-selected sums
    again in search_prefix."""
    got = S.prefix_expand(fuzzy_index, ["ca", "car"], max_expansions=50)
    assert got["cart"] == pytest.approx(2.0)
    assert got["car"] == pytest.approx(2.0)
    assert got["cat"] == pytest.approx(1.0)
    # literal 'cart' + prefix 'cart*' → weight 2 vs plain weight 1
    one = {r.doc_id: r.score
           for r in S.search_prefix(fuzzy_index, ["cart"], ["cart"],
                                    k=None).collect()}
    plain = {r.doc_id: r.score
             for r in S.search_prefix(fuzzy_index, ["cart"], [],
                                      k=None).collect()}
    for d in plain:
        assert one[d] == pytest.approx(2.0 * plain[d])


def test_prefix_no_match_and_no_literal_empty(fuzzy_index):
    assert S.prefix_expand(fuzzy_index, ["zz"], 5) == {}
    assert S.search_prefix(fuzzy_index, [], ["zz"], k=10).count() == 0


def test_prefix_only_query_equals_expanded_or(fuzzy_index):
    """'ca*' scores identically to the expanded boolean-OR free-text
    query over its matched terms (all four, each weight 1)."""
    got = {r.doc_id: round(r.score, 9)
           for r in S.search_prefix(fuzzy_index, [], ["ca"], k=None,
                                    max_expansions=50).collect()}
    want = {r.doc_id: round(r.score, 9)
            for r in S.search_freetext_tokens(
                fuzzy_index, ["cat", "cap", "car", "cart"],
                k=None).collect()}
    assert got == want


def test_prefix_validation(fuzzy_index):
    with pytest.raises(ValueError, match="non-empty"):
        S.prefix_candidates(fuzzy_index, ["ca", ""])
    with pytest.raises(ValueError, match="non-empty"):
        S.prefix_candidates(fuzzy_index, [])
    with pytest.raises(ValueError, match="max_expansions"):
        S.prefix_candidates(fuzzy_index, ["ca"], max_expansions=0)


def test_executor_prefix_parsing_and_refusals(built_index):
    """'tok*' routes through search_prefix in the executor; the
    composition refusal matrix and the kernel guard hold."""
    from search_engine_spark.operators import executor, maxscore
    from search_engine_spark.plans import planner

    # prefix of a vocabulary word scores docs; same as manual call
    vocab_term = built_index.term_stats.orderBy("term").limit(1) \
        .collect()[0].term
    q = f"{vocab_term[:2]}*"
    got = [(r.doc_id, round(r.score, 9))
           for r in executor.execute(built_index, q, k=10).collect()]
    plan = planner.classify(q, built_index.analyzer)
    want = [(r.doc_id, round(r.score, 9))
            for r in S.search_prefix(built_index, plan.terms,
                                     plan.prefixes, k=10).collect()]
    assert got == want and got
    for kwargs, msg in [
        (dict(rm3_alpha=0.5), "RM3"),
        (dict(fuzzy_max_dist=1), "fuzzy"),
        (dict(adaptive=True), "adaptive"),
        (dict(model="vsm"), "vsm"),
    ]:
        with pytest.raises(ValueError, match=msg):
            executor.execute(built_index, q, k=10, **kwargs)
    with pytest.raises(ValueError, match="free-text"):
        executor.execute(built_index, f'{q} "some phrase"', k=10)
    # kernel eligibility refuses prefix plans (shared serving guard)
    assert not maxscore.kernel_eligible(
        planner.classify(q, built_index.analyzer))
    # no-star queries are untouched: prefixes list stays empty
    p = planner.classify("plain words", built_index.analyzer)
    assert p.prefixes == []
