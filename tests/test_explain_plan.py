"""plans.explain.explain_plan: the plan-choice report must agree with
what the execution paths actually do — it calls the same predicates
(planner.classify, maxscore.kernel_eligible, bigram coverage, trigram
extraction), so these tests pin the report against observed behavior.
"""

from __future__ import annotations

import pytest

from search_engine_spark.plans.explain import explain_plan
from search_engine_spark.sources import catalog


@pytest.fixture(scope="module")
def explain_idx(tmp_path_factory, spark, corpus_sdf):
    d = str(tmp_path_factory.mktemp("explainidx") / "idx")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=8,
                                block_span=64)
    catalog.build_phrase_index(spark, d, min_df=5)
    catalog.build_term_ngram_index(spark, d)
    return catalog.load_index(spark, d)


def test_freetext_kernels_eligible(explain_idx):
    rep = explain_plan(explain_idx, "market price growth")
    assert rep["kind"] == "freetext"
    assert rep["kernels"] == ["maxscore"]
    assert rep["store"] == "tf"


def test_non_bm25_model_reports_no_kernels(explain_idx):
    """/results routes a non-BM25 model relationally (the kernel scores
    BM25 only), so the report must not list a kernel for it."""
    for model in ("vsm", "lm-dirichlet", "bm25-reference"):
        rep = explain_plan(explain_idx, "market price growth", model=model)
        assert rep["kernels"] == []
        assert model in rep["kernels_reason"]


def test_phrase_refuses_kernels_and_reports_fast_path(explain_idx):
    rep = explain_plan(explain_idx, '"market price" growth')
    assert rep["kernels"] == []
    assert "bag-of-words" in rep["kernels_reason"]
    [ph] = rep["artifacts"]["phrases"]
    assert ph["phrase"] == ["market", "price"]
    assert ph["next_word_index"] is True


def test_sloppy_phrase_keeps_positional_path(explain_idx):
    rep = explain_plan(explain_idx, '"market price"~2')
    [ph] = rep["artifacts"]["phrases"]
    assert ph["slop"] == 2
    assert ph["next_word_index"] is False


def test_wildcard_pruning_labels(explain_idx):
    rep = explain_plan(explain_idx, "*ket te?t*")
    per = {p["pattern"]: p for p in rep["artifacts"]["wildcards"]}
    assert per["*ket"]["pruning"] == "trigram-index"
    assert per["*ket"]["trigrams"] == ["et$", "ket"]
    assert per["te?t*"]["pruning"] == "startswith-anchor"


def test_boolean_and_proximity_kinds(explain_idx):
    rep = explain_plan(explain_idx, "market AND price")
    assert rep["kind"] == "boolean"
    assert rep["kernels"] == []
    rep = explain_plan(explain_idx, "#5(market, price)")
    assert rep["kind"] == "proximity"
    assert rep["window"] == 5


def test_in_memory_index_reports_no_kernels(spark, corpus_sdf):
    from search_engine_spark import engine
    from search_engine_spark.functions.analyzer import AnalyzerConfig

    idx = engine.build_index(corpus_sdf, AnalyzerConfig.full(),
                             positional=False, cache=False)
    rep = explain_plan(idx, "market price")
    assert rep["kernels"] == []
    assert "durable" in rep["kernels_reason"]


def test_impact_store_reported(tmp_path, spark, explain_idx):
    qdir = catalog.quantize_index(spark, explain_idx.index_dir,
                                  str(tmp_path / "imp"), bits=8)
    qidx = catalog.load_index(spark, qdir)
    rep = explain_plan(qidx, "market price")
    assert rep["store"] == "impact"
    assert rep["impact_bits"] == 8
    assert rep["kernels"] == ["maxscore"]
