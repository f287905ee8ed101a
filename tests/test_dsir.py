"""DSIR importance resampling (operators/dsir.py, Xie et al. 2023):
planted-distribution enrichment, weight direction, deterministic
Gumbel draws, feature ground truth, validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import dsir


def _corpus(spark):
    fin = ["market", "price", "stock", "bond", "yield", "rate"]
    spo = ["match", "goal", "team", "score", "league", "coach"]

    def doc(i, vocab):
        return (i, " ".join(vocab[(i + j) % len(vocab)]
                            for j in range(12)))

    raw = [doc(i, fin) for i in range(1, 101)] \
        + [doc(i, spo) for i in range(101, 201)]
    target = [doc(i, fin) for i in range(1001, 1021)]
    mk = lambda rows: spark.createDataFrame(rows,
                                            "doc_id long, text string")
    return mk(raw), mk(target)


def test_selection_enriches_target_distribution(spark):
    raw, target = _corpus(spark)
    out = dsir.dsir_select(raw, target, k=30, dim=256,
                           gumbel=False).collect()
    assert len(out) == 30
    finance = sum(1 for r in out if r.doc_id <= 100)
    assert finance >= 27  # hard top-k by weight: finance dominates


def test_weight_direction(spark):
    raw, target = _corpus(spark)
    feats = dsir.hashed_ngram_tf(raw, dim=256)
    lt = dsir.fit_bucket_logprobs(dsir.hashed_ngram_tf(target, dim=256),
                                  256)
    lr = dsir.fit_bucket_logprobs(feats, 256)
    w = {r.doc_id: r.logw for r in
         dsir.importance_weights(feats, lt, lr).collect()}
    fin = [w[i] for i in range(1, 101)]
    spo = [w[i] for i in range(101, 201)]
    assert min(fin) > max(spo)


def test_gumbel_selection_is_deterministic_and_salted(spark):
    raw, target = _corpus(spark)
    a = [(r.doc_id, r.logw, r.key) for r in
         dsir.dsir_select(raw, target, k=25, dim=256).collect()]
    b = [(r.doc_id, r.logw, r.key) for r in
         dsir.dsir_select(raw, target, k=25, dim=256).collect()]
    assert a == b  # no RNG anywhere
    c = {r.doc_id for r in
         dsir.dsir_select(raw, target, k=25, dim=256,
                          salt="epoch2").collect()}
    assert c != {d for d, _, _ in a}  # the salt rotates the draw
    # Gumbel resampling still prefers the target-like slice
    assert sum(1 for d, _, _ in a if d <= 100) >= 20


def test_hashed_ngram_ground_truth(spark):
    docs = spark.createDataFrame([(1, "a b a"), (2, ""), (3, "solo")],
                                 "doc_id long, text string")
    both = dsir.hashed_ngram_tf(docs, dim=64)
    # doc 1: unigrams a,b,a + bigrams "a b","b a" = 5 grams
    assert both.filter(F.col("doc_id") == 1) \
        .agg(F.sum("tf")).collect()[0][0] == 5
    # single-token doc: no bigrams, one unigram
    assert both.filter(F.col("doc_id") == 3) \
        .agg(F.sum("tf")).collect()[0][0] == 1
    # empty doc: no features at all
    assert both.filter(F.col("doc_id") == 2).count() == 0
    uni = dsir.hashed_ngram_tf(docs, dim=64, bigrams=False)
    assert uni.filter(F.col("doc_id") == 1) \
        .agg(F.sum("tf")).collect()[0][0] == 3


def test_validation(spark):
    raw, target = _corpus(spark)
    with pytest.raises(ValueError, match="k must be"):
        dsir.dsir_select(raw, target, k=0)
    with pytest.raises(ValueError, match="dim"):
        dsir.hashed_ngram_tf(raw, dim=0)
    with pytest.raises(ValueError, match="MAX_DIM"):
        dsir.hashed_ngram_tf(raw, dim=dsir.MAX_DIM + 1)
    with pytest.raises(ValueError, match="MAX_DIM"):
        dsir.fit_bucket_logprobs(dsir.hashed_ngram_tf(raw, dim=8),
                                 dsir.MAX_DIM + 1)
    wide = [0.0] * (dsir.MAX_DIM + 1)
    with pytest.raises(ValueError, match="MAX_DIM"):
        dsir.importance_weights(dsir.hashed_ngram_tf(raw, dim=8),
                                wide, wide)
    with pytest.raises(ValueError, match="alpha"):
        dsir.fit_bucket_logprobs(dsir.hashed_ngram_tf(raw, dim=8), 8,
                                 alpha=0.0)
    with pytest.raises(ValueError, match="widths"):
        dsir.importance_weights(dsir.hashed_ngram_tf(raw, dim=8),
                                [0.0] * 8, [0.0] * 9)


def test_curation_funnel_dsir_stage(spark):
    """curate(dsir_target=..., dsir_keep=K) appends DSIR selection as
    the final funnel stage: K survivors, enriched toward the target."""
    from search_engine_spark.operators import curation

    _, target = _corpus(spark)
    # unique texts (a per-doc token) so the funnel's mandatory
    # exact-dedup stage keeps all 200 docs and DSIR sees the full pool
    fin = ["market", "price", "stock", "bond", "yield", "rate"]
    spo = ["match", "goal", "team", "score", "league", "coach"]
    raw = spark.createDataFrame(
        [(i, " ".join([(fin if i <= 100 else spo)[(i + j) % 6]
                       for j in range(12)] + [f"u{i}"]))
         for i in range(1, 201)],
        "doc_id long, text string")
    out, funnel = curation.curate(raw, languages=None,
                                  dsir_target=target, dsir_keep=40,
                                  dsir_dim=256)
    assert funnel[-1]["stage"] == "dsir_select"
    assert funnel[-1]["rows"] == 40
    rows = out.select("doc_id").collect()
    assert len(rows) == 40
    assert sum(1 for r in rows if r.doc_id <= 100) >= 32

    with pytest.raises(ValueError, match="dsir_keep"):
        curation.curate(raw, languages=None, dsir_target=target)


def test_text_only_target(spark):
    """A target frame with only text (no doc_id) selects exactly what
    the same target with ids does."""
    raw, target = _corpus(spark)
    kw = dict(k=30, dim=256, salt="t")
    want = dsir.dsir_select(raw, target, **kw).collect()
    got = dsir.dsir_select(raw, target.select("text"), **kw).collect()
    assert got == want and len(got) == 30


def test_dim_mismatch_is_diagnosed(spark):
    raw, _ = _corpus(spark)
    feats512 = dsir.hashed_ngram_tf(raw, dim=512)
    with pytest.raises(ValueError, match="SAME dim"):
        dsir.fit_bucket_logprobs(feats512, 256)
