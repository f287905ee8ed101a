"""Serving-kernel contract on operators.maxscore, the block-max
pruning kernel whose all-non-essential case is Block-Max WAND's range
skip: identical to the relational BM25 path and the oracle at the exact
uncapped fetch, on fuzzed queries and on a 5k-doc index (exactness
despite pruning); the mini-index LRU; the impact-ordered fetch cap; k
<= 0 and refusals; and exact static-prior blending.

tests/test_maxscore.py covers the default-cap identity, pruning
telemetry, the golden rankings and the serving surfaces."""

import pytest

from search_engine_spark.operators import maxscore as MS
from search_engine_spark.operators import search as S
from search_engine_spark.sources import catalog
from tests import oracle
from tests.test_maxscore import QUERIES, _fuzz_freetext, _toy_prior


@pytest.mark.parametrize("q", QUERIES)
def test_wand_vs_oracle(seg_index, oracle_index, q):
    """The exact uncapped fetch (max_blocks_per_term=None) matches the
    oracle; test_maxscore_vs_oracle pins the default cap."""
    o_index, doc_sizes = oracle_index
    want = oracle.search_freetext(o_index, doc_sizes, q, k=20, model="bm25")
    got = MS.search_maxscore(seg_index, q, k=20, max_blocks_per_term=None)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


def test_wand_vs_relational(seg_index):
    q = "germany economy china"
    rel = [(r.doc_id, r.score)
           for r in S.search_freetext(seg_index, q, k=20).collect()]
    wd = MS.search_maxscore(seg_index, q, k=20)
    assert [d for d, _ in wd] == [d for d, _ in rel]
    for (_, a), (_, b) in zip(wd, rel):
        assert a == pytest.approx(b, abs=1e-9)


def test_wand_k_larger_than_hits(seg_index, oracle_index):
    o_index, doc_sizes = oracle_index
    got = MS.search_maxscore(seg_index, "germani", k=10_000)
    want = oracle.search_freetext(o_index, doc_sizes, "germani", k=10_000)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_mini_index_cache_identity_and_warmth(seg_index):
    import time

    q = "market price growth"
    seg_index._mini.clear()
    cold = MS.search_maxscore(seg_index, q, k=20)
    assert set(seg_index._mini) >= {"market", "price", "growth"}
    t0 = time.perf_counter()
    warm = MS.search_maxscore(seg_index, q, k=20)
    warm_sec = time.perf_counter() - t0
    assert warm == cold
    # warm path = driver numpy only (no Spark job): generous bound that
    # still catches an accidental re-fetch (a Spark job is >100ms)
    assert warm_sec < 0.1


def test_mini_index_negative_cache(seg_index):
    seg_index._mini.clear()
    assert MS.search_maxscore(seg_index, "zzzqq", k=5) == []
    # negative entries are universal (cap_used=None): any later cap is served
    assert seg_index._mini.get("zzzqq") == (0, [], None)


def test_mini_index_lru_eviction(seg_index):
    seg_index._mini.clear()
    seg_index._mini_cap = 2
    try:
        MS.search_maxscore(seg_index, "market", k=5)
        MS.search_maxscore(seg_index, "price", k=5)
        MS.search_maxscore(seg_index, "growth", k=5)
        assert len(seg_index._mini) <= 2
        assert "growth" in seg_index._mini
        # evicted term still answers correctly (re-fetch)
        again = MS.search_maxscore(seg_index, "market", k=5)
        assert again == MS.search_maxscore(seg_index, "market", k=5)
    finally:
        seg_index._mini_cap = 4096


def test_mini_index_full_cache_mixed_hit_miss(seg_index):
    """Regression: with a FULL cache, a query mixing the oldest cached
    term with a new term must not evict the hit before reading it
    (KeyError on the serving path)."""
    seg_index._mini.clear()
    seg_index._mini_cap = 2
    try:
        MS.search_maxscore(seg_index, "market", k=5)
        MS.search_maxscore(seg_index, "price", k=5)  # cache full; market oldest
        hits = MS.search_maxscore(seg_index, "market growth", k=5)
        assert hits  # no KeyError, real results
        assert "market" in seg_index._mini and "growth" in seg_index._mini
        # query wider than the cache: all its terms still served
        wide = MS.search_maxscore(seg_index, "market price growth bank", k=5)
        assert wide
    finally:
        seg_index._mini_cap = 4096
        seg_index._mini.clear()


def test_impact_ordered_cap_exact_when_loose(seg_index):
    q = "market price"
    exact = MS.search_maxscore(seg_index, q, k=20)
    capped = MS.search_maxscore(seg_index, q, k=20, max_blocks_per_term=10_000)
    assert capped == exact


def test_impact_ordered_cap_is_safe_approximation(seg_index):
    q = "market price growth"
    exact = dict(MS.search_maxscore(seg_index, q, k=1000))
    approx = MS.search_maxscore(seg_index, q, k=20, max_blocks_per_term=2)
    assert approx  # still answers
    for d, s in approx:
        # dropped blocks can only LOWER a doc's score, never raise it
        assert s <= exact[d] + 1e-12


@pytest.mark.parametrize("q", _fuzz_freetext())
def test_wand_fuzz_vs_oracle(seg_index, oracle_index, q):
    o_index, doc_sizes = oracle_index
    want = oracle.search_freetext(o_index, doc_sizes, q, k=30, model="bm25")
    got = MS.search_maxscore(seg_index, q, k=30)
    assert [d for d, _ in got] == [d for d, _ in want], q
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9), q


@pytest.fixture(scope="module")
def seg_index_5k(tmp_path_factory, spark):
    """Durable index over 5k synthesized web docs — block/codec behavior
    at a scale where every term spans many blocks and buckets."""
    from pyspark.sql import functions as F

    from search_engine_spark.functions.analyzer import make_extract_text_udf
    from search_engine_spark.sources import corpus as C

    web = C.ingest_filters(C.with_dense_doc_ids(
        C.synthesize_web_corpus(spark, 5000)))
    prepared = web.select(
        "doc_id", make_extract_text_udf()(F.col("html")).alias("text"))
    d = str(tmp_path_factory.mktemp("kernel5k") / "index")
    catalog.build_durable_index(spark, prepared, d, buckets=16,
                                block_span=256)
    return catalog.load_index(spark, d)


@pytest.mark.parametrize("q", ["market price", "germany economy china",
                               "bank report growth inflation", "stock",
                               "energy crisis government policy search"])
def test_wand_vs_relational_5k(seg_index_5k, q):
    rel = [(r.doc_id, r.score)
           for r in S.search_freetext(seg_index_5k, q, k=100).collect()]
    wd = MS.search_maxscore(seg_index_5k, q, k=100)
    assert [d for d, _ in wd] == [d for d, _ in rel], q
    for (_, a), (_, b) in zip(wd, rel):
        assert a == pytest.approx(b, abs=1e-9), q


def test_wand_k_zero_and_negative(seg_index):
    assert MS.search_maxscore(seg_index, "market", k=0) == []
    assert MS.search_maxscore(seg_index, "market", k=-3) == []


def test_wand_requires_segment_index(spark, corpus_sdf):
    from search_engine_spark import engine
    from search_engine_spark.functions.analyzer import AnalyzerConfig

    mem = engine.build_index(corpus_sdf, AnalyzerConfig.full(), cache=False)
    with pytest.raises(TypeError, match="SegmentIndex"):
        MS.search_maxscore(mem, "market", k=5)


def test_default_cap_bounds_head_term_fetch(seg_index, monkeypatch):
    """The OUT-OF-BOX path must bound what the driver keeps: with the
    auto cap tightened to 2, a head-term query under the DEFAULT
    arguments keeps at most 2 blocks per term in the LRU, and an
    explicit opt-in to None still keeps the full exact set."""
    monkeypatch.setattr(MS, "FETCH_CAP", 2)
    seg_index._mini.clear()
    MS.search_maxscore(seg_index, "market price", k=5)  # defaults
    for t in ("market", "price"):
        df, blks, cap_used = seg_index._mini[t]
        assert cap_used == 2 and len(blks) <= 2
        # exact df still rides along despite the truncated fetch
        exact_df = seg_index.term_stats.filter(
            seg_index.term_stats.term == t).collect()[0].df
        assert df == int(exact_df)
    # explicit exact opt-in refetches full (cap_used=None, all blocks)
    exact = MS.search_maxscore(seg_index, "market price", k=5,
                             max_blocks_per_term=None)
    assert seg_index._mini["market"][2] is None
    assert exact
    seg_index._mini.clear()


def test_wand_refuses_non_freetext_and_bad_cap(seg_index):
    """Phrase/boolean/proximity queries have no kernel semantics — the
    analyzer would strip the operators and silently score bag-of-words;
    refuse instead. cap<1 would negative-cache in-vocabulary terms as
    OOV (poisoning later exact lookups) — also refused."""
    for q in ('"market price"', "market AND price", "#3(market, price)"):
        with pytest.raises(ValueError, match="bag-of-words"):
            MS.search_maxscore(seg_index, q, k=5)
    with pytest.raises(ValueError, match="cap"):
        seg_index.mini_index(["market"], cap=0)
    assert MS.search_maxscore(seg_index, "market", k=5,
                            max_blocks_per_term=1)  # cap=1 is legal


def test_cap_cache_remembers_complete_fetch(seg_index):
    """A term that comes back from the capped fetch with FEWER than cap
    blocks was fetched COMPLETE (the ranked fetch truncates only past
    the cap) — it must be cached as uncapped so a later exact request
    is a cache hit instead of a refetch."""
    from pyspark.sql import functions as F

    span = seg_index.meta["block_span"]
    counts = {r.term: r.cnt
              for r in seg_index.postings.groupBy("term").agg(
                  F.countDistinct(F.floor(F.col("doc_id") / span))
                  .alias("cnt")).collect()}
    head = max(counts, key=counts.get)
    tail = min(counts, key=counts.get)
    cap = counts[tail] + 1  # tail fits under the cap, head exceeds it
    assert counts[head] > cap
    seg_index._mini.clear()
    seg_index.mini_index([head, tail], cap=cap)
    assert seg_index._mini[head][2] == cap
    assert len(seg_index._mini[head][1]) == cap
    tail_entry = seg_index._mini[tail]
    assert tail_entry[2] is None  # complete fetch → uncapped entry
    # exact request now covered by the cache: same tuple, no refetch
    seg_index.mini_index([tail], cap=None)
    assert seg_index._mini[tail] is tail_entry
    seg_index._mini.clear()


def test_default_auto_cap_rank_identical_on_bench_queries(seg_index, oracle_index):
    """With the real FETCH_CAP (256), no fixture term exceeds the cap,
    so the default path is rank- and score-identical to the exact opt-in
    across the bench query set."""
    seg_index._mini.clear()
    for q in QUERIES:
        assert (MS.search_maxscore(seg_index, q, k=20)
                == MS.search_maxscore(seg_index, q, k=20,
                                    max_blocks_per_term=None)), q


def test_capped_fetch_ships_at_most_cap_blocks(seg_index):
    """The impact-ordered cap bounds what the driver KEEPS, not just
    what gets scored: the fetch must keep <= cap blocks per term, the
    top ones by (block_max_tf desc, block_id asc), with the term's
    EXACT df alongside."""
    fetched = seg_index._fetch_blocks(["market", "price"], 2)
    per_term = {t: len(blks) for t, (_, blks, _) in fetched.items()}
    assert per_term and all(v <= 2 for v in per_term.values())
    full = seg_index._fetch_blocks(["market", "price"], None)
    for t, (_, blks, cap_used) in fetched.items():
        order = sorted(full[t][1], key=lambda b: (-b.block_max_tf,
                                                  b.block_id))
        assert cap_used == 2 and len(full[t][1]) > 2
        assert [b.block_id for b in blks] == [b.block_id
                                               for b in order[:2]]
    exact = {r.term: r.df for r in seg_index.term_stats.filter(
        seg_index.term_stats.term.isin(["market", "price"])).collect()}
    dfs = {t: df for t, (df, _, _) in fetched.items()}
    assert dfs == {t: int(exact[t]) for t in dfs}


# -------------------------------------------------- static prior blending

@pytest.mark.parametrize("q", ["market price growth", "market",
                               "germany economy china"])
def test_wand_prior_matches_relational(spark, seg_index, q):
    """Kernel+prior == relational+prior, rank-identical with matching
    scores, at the exact uncapped fetch (the round-3 verdict's done
    criterion). k=10 with lam=0.3 exercises the iterative-deepening
    expansion: floor-prior demotion (~8.3) exceeds the bm25 spread, so
    the first K'=40 window is usually not final."""
    from search_engine_spark.operators import executor as EX

    prior = _toy_prior(spark, 150)
    for k in (10, 50):
        rel = [(r.doc_id, r.score)
               for r in EX.execute(seg_index, q, k=k, prior=prior,
                                   prior_lam=0.3).collect()]
        wd = MS.search_maxscore(seg_index, q, k=k, prior=prior,
                              prior_lam=0.3, max_blocks_per_term=None)
        assert [d for d, _ in wd] == [d for d, _ in rel], (q, k)
        for (_, a), (_, b) in zip(wd, rel):
            assert a == pytest.approx(b, abs=1e-9)


def test_wand_prior_exhausts_candidates_when_needed(spark, seg_index):
    """A term with fewer matches than the first K' window: the blend
    must return all matches (exhaustion stop), identical to relational."""
    from search_engine_spark.operators import executor as EX

    prior = _toy_prior(spark, 150)
    rel = [(r.doc_id, r.score)
           for r in EX.execute(seg_index, "germani", k=10_000, prior=prior,
                               prior_lam=0.5).collect()]
    wd = MS.search_maxscore(seg_index, "germani", k=10_000, prior=prior,
                          prior_lam=0.5)
    assert [d for d, _ in wd] == [d for d, _ in rel]


def test_wand_prior_gt_one_keeps_exactness(spark, seg_index):
    """Priors above 1 (ln > 0 boosts) flip the pruning bound's sign: the
    kernel must widen its stop condition by lam*ln(max_prior) and stay
    exact vs the relational blend."""
    from search_engine_spark.operators import executor as EX

    prior = spark.createDataFrame(
        [(d, 5.0 if d % 3 == 0 else 0.5) for d in range(1, 151)],
        "node long, rank double")
    q = "market price growth"
    rel = [(r.doc_id, r.score)
           for r in EX.execute(seg_index, q, k=25, prior=prior,
                               prior_lam=0.4).collect()]
    wd = MS.search_maxscore(seg_index, q, k=25, prior=prior, prior_lam=0.4,
                          max_blocks_per_term=None)
    assert [d for d, _ in wd] == [d for d, _ in rel]
    for (_, a), (_, b) in zip(wd, rel):
        assert a == pytest.approx(b, abs=1e-9)
