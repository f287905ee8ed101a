"""Next-word (bigram) phrase index (catalog.build_phrase_index +
SegmentIndex.bigram_lookup + the phrase_occurrences fast path) —
Williams & Zobel 2004 "Fast phrase querying with combined indexes".

Gates: ground-truth consecutive counts on a handmade corpus; phrase
ranking identity with-vs-without the artifact (the artifact only
changes the plan); coverage fallback for uncovered pairs; executor
integration; tombstone exclusion on the fast path.
"""

from __future__ import annotations

import re

import pytest

from search_engine_spark.operators import executor as X
from search_engine_spark.operators import phrase as PH
from search_engine_spark.sources import catalog


@pytest.fixture(scope="module")
def tiny_phrase_index(tmp_path_factory, spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta"),
            (2, "alpha gamma beta"),
            (3, "beta beta beta"),
            (4, "gamma gamma alpha"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path_factory.mktemp("tinyphrase") / "idx")
    catalog.build_durable_index(spark, docs, d, buckets=8, block_span=16)
    catalog.build_phrase_index(spark, d, min_df=1)
    return catalog.load_index(spark, d)


def _pairs(idx, t1, t2):
    df = idx.bigram_lookup(t1, t2)
    assert df is not None
    return sorted((r.doc_id, r.tf) for r in df.collect())


def test_bigram_ground_truth(tiny_phrase_index):
    idx = tiny_phrase_index
    assert _pairs(idx, "alpha", "beta") == [(1, 2)]
    assert _pairs(idx, "beta", "alpha") == [(1, 1)]
    assert _pairs(idx, "alpha", "gamma") == [(2, 1)]
    assert _pairs(idx, "gamma", "beta") == [(2, 1)]
    assert _pairs(idx, "beta", "beta") == [(3, 2)]
    assert _pairs(idx, "gamma", "gamma") == [(4, 1)]
    # both words known, zero adjacency anywhere -> empty frame, not None
    assert _pairs(idx, "beta", "gamma") == []


def test_bigram_carries_dl_for_join_free_scoring(tiny_phrase_index):
    df = tiny_phrase_index.bigram_lookup("alpha", "beta")
    assert "dl" in df.columns
    [row] = df.collect()
    assert row.dl == 4


@pytest.fixture(scope="module")
def phrase_indexes(tmp_path_factory, spark, corpus_sdf):
    d = str(tmp_path_factory.mktemp("phraseidx") / "idx")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=16,
                                block_span=64)
    before = catalog.load_index(spark, d)  # no phrase artifact yet
    assert before.bigram_lookup("market", "price") is None
    catalog.build_phrase_index(spark, d, min_df=5)
    after = catalog.load_index(spark, d)
    return before, after


def test_phrase_ranking_identity(phrase_indexes):
    before, after = phrase_indexes
    assert after.bigram_lookup("market", "price") is not None
    want = [(r.doc_id, round(r.score, 9)) for r in
            PH.search_phrase(before, ["market", "price"], k=50).collect()]
    got = [(r.doc_id, round(r.score, 9)) for r in
           PH.search_phrase(after, ["market", "price"], k=50).collect()]
    assert got == want


def test_phrase_identity_lm_model(phrase_indexes):
    before, after = phrase_indexes
    want = [(r.doc_id, round(r.score, 9)) for r in
            PH.search_phrase(before, ["market", "price"], k=50,
                             model="lm-dirichlet").collect()]
    got = [(r.doc_id, round(r.score, 9)) for r in
           PH.search_phrase(after, ["market", "price"], k=50,
                            model="lm-dirichlet").collect()]
    assert got == want


def test_uncovered_pair_falls_back(phrase_indexes):
    _, after = phrase_indexes
    # find a term below the coverage threshold
    rare = next(t for t in
                [r.term for r in after.term_stats.filter("df < 5")
                 .limit(5).collect()])
    assert after.bigram_lookup("market", rare) is None
    # fallback still answers (positional path)
    PH.search_phrase(after, ["market", rare], k=5).collect()


def _plan(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.mark.parametrize("positional", [False, True])
def test_relational_lookups_run_no_python(tiny_phrase_index, positional):
    """Unigram and bigram lookups are plain filters over bucket-
    partitioned postings tables: their plans hold no Python node (no
    MapInPandas decode, no Arrow UDF), and scan the staged postings and
    the phrase postings respectively."""
    idx = tiny_phrase_index
    unigram = _plan(idx.lookup(["alpha", "beta"], positional=positional))
    bigram = _plan(idx.bigram_lookup("alpha", "beta",
                                     positional=positional))
    for plan in (unigram, bigram):
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
        assert re.search(r"PartitionFilters: \[.*bucket", plan)
    assert "postings_stage" in unigram
    assert "phrase_postings" in bigram


def test_executor_phrase_goes_through_fast_path(phrase_indexes):
    before, after = phrase_indexes
    want = [(r.doc_id, round(r.score, 9)) for r in
            X.execute(before, '"market price"', k=20).collect()]
    got = [(r.doc_id, round(r.score, 9)) for r in
           X.execute(after, '"market price"', k=20).collect()]
    assert got == want


def test_longer_phrase_identity_with_artifact(phrase_indexes):
    """3-word ranked phrase search: chain-served when every consecutive
    pair is covered (round-5 W&Z §4 chaining), unigram positional path
    otherwise — identical rank+score REGARDLESS of which path served."""
    before, after = phrase_indexes
    terms = ["market", "price", "growth"]
    want = [(r.doc_id, round(r.score, 9)) for r in
            PH.search_phrase(before, terms, k=20).collect()]
    got = [(r.doc_id, round(r.score, 9)) for r in
           PH.search_phrase(after, terms, k=20).collect()]
    assert got == want


def test_fast_path_excludes_tombstones(tmp_path, spark, corpus_sdf):
    d = str(tmp_path / "idx")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=8,
                                block_span=64)
    catalog.build_phrase_index(spark, d, min_df=5)
    idx = catalog.load_index(spark, d)
    full = idx.bigram_lookup("market", "price").collect()
    assert full, "fixture corpus should contain the phrase"
    victim = full[0].doc_id
    catalog.delete_docs(spark, d, [victim])
    idx2 = catalog.load_index(spark, d)
    remaining = {r.doc_id for r in
                 idx2.bigram_lookup("market", "price").collect()}
    assert victim not in remaining
    assert remaining == {r.doc_id for r in full} - {victim}


def test_build_refuses_nonpositional(tmp_path, spark, corpus_sdf):
    d = str(tmp_path / "np")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=8,
                                block_span=64, positional=False)
    with pytest.raises(ValueError, match="positional"):
        catalog.build_phrase_index(spark, d, min_df=5)


def test_coverage_cap_top_k_by_df(tmp_path, spark):
    """max_terms bounds coverage to the df HEAD of the vocabulary: the
    driver list / JSON artifact are O(max_terms) at any vocabulary size.
    Covered pairs serve identical counts; uncovered pairs fall back."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta"),
            (2, "alpha gamma beta"),
            (3, "beta beta beta"),
            (4, "gamma gamma alpha"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "idx")
    catalog.build_durable_index(spark, docs, d, buckets=8, block_span=16)
    # dfs: alpha 3, beta 3, gamma 2 → top-2 by (df desc, term asc) is
    # {alpha, beta}; gamma passes min_df but falls past the cap
    info = catalog.build_phrase_index(spark, d, min_df=1, max_terms=2)
    assert info["n_common_terms"] == 2
    assert sorted(info["terms"]) == ["alpha", "beta"]
    idx = catalog.load_index(spark, d)
    got = idx.bigram_lookup("alpha", "beta")
    assert got is not None
    assert sorted((r.doc_id, r.tf) for r in got.collect()) == [(1, 2)]
    # uncovered pair → None → positional fallback (identical results,
    # different plan — the artifact never changes answers)
    assert idx.bigram_lookup("alpha", "gamma") is None
    PH.search_phrase(idx, ["alpha", "gamma"], k=5).collect()


def test_coverage_cap_rejects_degenerate(tmp_path, spark, corpus_sdf):
    d = str(tmp_path / "idx")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=8,
                                block_span=64)
    with pytest.raises(ValueError, match="max_terms"):
        catalog.build_phrase_index(spark, d, min_df=1, max_terms=1)


# ---------------------------------------------------------------------------
# round-5: k-word phrases over the bigram chain (Williams & Zobel §4)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def chain_index(tmp_path_factory, spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta gamma"),
            (2, "alpha beta alpha gamma"),
            (3, "beta gamma alpha beta"),
            (4, "alpha alpha beta beta gamma"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path_factory.mktemp("chainidx") / "idx")
    catalog.build_durable_index(spark, docs, d, buckets=8, block_span=16)
    catalog.build_phrase_index(spark, d, min_df=1)
    return catalog.load_index(spark, d)


def _occ(idx, terms):
    return sorted((r.doc_id, r.phrase_tf) for r in
                  PH.phrase_occurrences(idx, terms).collect())


def test_kword_chain_ground_truth(chain_index):
    idx = chain_index
    # the chain must actually engage (positional bigram coverage)
    assert idx.bigram_lookup("alpha", "beta", positional=True) is not None
    assert _occ(idx, ["alpha", "beta", "gamma"]) == [(1, 2)]
    assert _occ(idx, ["beta", "beta", "gamma"]) == [(4, 1)]
    # four words chain three bigrams
    assert _occ(idx, ["alpha", "beta", "gamma", "alpha"]) == [(1, 1)]
    # no match anywhere -> empty
    assert _occ(idx, ["gamma", "beta", "alpha"]) == []


def test_kword_chain_through_uncovered_word(tmp_path, spark):
    """A k-word phrase whose chain has one uncovered word (df below the
    phrase index's min_df) takes the unigram positional path, and
    answers what the chain would."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta delta alpha beta gamma"),
            (2, "alpha beta alpha gamma"),
            (3, "beta gamma alpha beta"),
            (4, "alpha alpha beta beta gamma"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "idx")
    catalog.build_durable_index(spark, docs, d, buckets=8, block_span=16)
    catalog.build_phrase_index(spark, d, min_df=2)
    idx = catalog.load_index(spark, d)
    assert idx.bigram_lookup("alpha", "beta", positional=True) is not None
    assert idx.bigram_lookup("beta", "delta", positional=True) is None
    assert _occ(idx, ["alpha", "beta", "delta"]) == [(1, 1)]
    assert _occ(idx, ["beta", "delta", "alpha", "beta"]) == [(1, 1)]
    # the covered chain on the same index
    assert _occ(idx, ["alpha", "beta", "gamma"]) == [(1, 1)]


def test_phrase_row_without_table_is_no_artifact(tmp_path, spark):
    """A phrase_index row committed before the phrase_postings layout
    (it names no table) is treated as no artifact: phrases take the
    positional path with identical answers, index_stats says to
    rebuild, and the rebuild removes the dead phrase_segments/ and
    serves again."""
    import json
    import os

    from jobs.index_stats import collect_stats

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha beta"), (2, "alpha gamma beta")],
        "doc_id long, text string")
    d = str(tmp_path / "idx")
    catalog.build_durable_index(spark, docs, d, buckets=8, block_span=16)
    catalog.build_phrase_index(spark, d, min_df=1)
    want = _occ(catalog.load_index(spark, d), ["alpha", "beta"])
    assert want == [(1, 2)]

    # the old layout: a row without "table", data in phrase_segments/
    path = catalog._manifest_path(d, "phrase_index")
    with open(path) as f:
        row = json.load(f)
    del row["table"]
    with open(path, "w") as f:
        json.dump(row, f)
    os.rename(os.path.join(d, "phrase_postings"),
              os.path.join(d, "phrase_segments"))

    idx = catalog.load_index(spark, d)
    assert not idx.bigram_covered("alpha", "beta")
    assert idx.bigram_lookup("alpha", "beta") is None
    assert _occ(idx, ["alpha", "beta"]) == want
    rep = collect_stats(spark, d)
    assert "phrase_index" not in rep["artifacts"]
    assert rep["rebuild"] and "build_phrase_index" in rep["rebuild"][0]

    catalog.build_phrase_index(spark, d, min_df=1)
    assert not os.path.exists(os.path.join(d, "phrase_segments"))
    idx = catalog.load_index(spark, d)
    assert idx.bigram_lookup("alpha", "beta") is not None
    assert _occ(idx, ["alpha", "beta"]) == want
    assert collect_stats(spark, d)["rebuild"] == []


def test_kword_chain_excludes_tombstones(tmp_path, spark, chain_index):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta gamma"),
            (2, "alpha beta gamma"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "idx")
    catalog.build_durable_index(spark, docs, d, buckets=8, block_span=16)
    catalog.build_phrase_index(spark, d, min_df=1)
    catalog.delete_docs(spark, d, [1])
    idx = catalog.load_index(spark, d)
    assert idx.bigram_lookup("alpha", "beta", positional=True) is not None
    assert _occ(idx, ["alpha", "beta", "gamma"]) == [(2, 1)]


