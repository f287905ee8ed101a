"""Quantized-impact store (catalog.quantize_index + the MaxScore impact
branch + search.search_quantized).

Gates:
* the exact-int64 quantizer: numpy == Spark column == Fraction ground
  truth, and the dequantized weight is within (k1+1)/(2·maxq) of the
  BM25 tf/dl part computed at the pinned milli-avgdl;
* the store's impacts table == scoring.quantize_impacts of the source's
  staged postings, bit for bit;
* serving identity: MaxScore-on-impact-store == relational
  search_quantized (rank AND score), pruned == exhaustive kernel;
* accuracy vs exact BM25: per-doc error within the theoretical bound;
* phrase queries still work on a quantized store (positions, tf and dl
  all resolve from the source sidecar; the impacts table carries no
  positions at all);
* merge/vacuum refuse impact stores (stats are baked — re-quantize), and
  a store written before the impacts table does not open;
* the kernel reads fewer bytes on the impact store than on its source.
"""

from __future__ import annotations

import numpy as np
import pytest

from search_engine_spark.operators import maxscore as MS
from search_engine_spark.operators import scoring
from search_engine_spark.operators import search as S
from search_engine_spark.sources import catalog


# ---------------------------------------------------------------------------
# quantizer exactness
# ---------------------------------------------------------------------------

def test_quantizer_matches_fraction_ground_truth():
    from fractions import Fraction

    rng = np.random.default_rng(11)
    n_docs, total_len = 1777, 211_004
    am = scoring.avgdl_milli(n_docs, total_len)
    for bits in (4, 8, 16):
        maxq = (1 << bits) - 1
        tfs = rng.integers(1, 400, size=300)
        dls = rng.integers(1, 5000, size=300)
        got = scoring.quantize_impacts(tfs, dls, n_docs, total_len, bits)
        for tf, dl, q in zip(tfs, dls, got):
            # w/(k1+1) at avgdl = am/1000, as an exact rational
            x = Fraction(int(tf)) / (
                Fraction(int(tf)) + Fraction(3, 10)
                + Fraction(9, 10) * Fraction(int(dl) * 1000, am))
            want = int(maxq * x + Fraction(1, 2))  # floor(maxq·x + ½)
            assert q == want
            assert 0 <= q <= maxq


def test_quantizer_error_bound():
    rng = np.random.default_rng(13)
    n_docs, total_len = 903, 88_831
    am = scoring.avgdl_milli(n_docs, total_len)
    bits = 8
    maxq = (1 << bits) - 1
    tfs = rng.integers(1, 1000, size=500)
    dls = rng.integers(1, 8000, size=500)
    q = scoring.quantize_impacts(tfs, dls, n_docs, total_len, bits)
    w = (tfs * 2.2) / (tfs + 1.2 * (0.25 + 0.75 * dls / (am / 1000.0)))
    w_hat = 2.2 * q / maxq
    assert np.max(np.abs(w_hat - w)) <= 2.2 / (2 * maxq) + 1e-12


def test_quantizer_spark_column_identity(spark):
    rng = np.random.default_rng(17)
    n_docs, total_len = 1234, 150_077
    rows = [(int(tf), int(dl)) for tf, dl in
            zip(rng.integers(1, 300, 400), rng.integers(1, 4000, 400))]
    sdf = spark.createDataFrame(rows, "tf int, dl int")
    got = [r.impact for r in
           sdf.select(scoring.quantized_impact_col(n_docs, total_len, 8))
           .collect()]
    want = scoring.quantize_impacts(
        np.array([t for t, _ in rows]), np.array([d for _, d in rows]),
        n_docs, total_len, 8)
    assert got == want.tolist()


def test_quantizer_rejects_bad_bits():
    with pytest.raises(ValueError, match="bits"):
        scoring.quantize_impacts([1], [1], 10, 100, bits=1)
    with pytest.raises(ValueError, match="bits"):
        scoring.quantized_impact_col(10, 100, bits=17)


# ---------------------------------------------------------------------------
# end-to-end: quantize_index + serving kernels
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def indexes(tmp_path_factory, spark, corpus_sdf):
    base = tmp_path_factory.mktemp("impactidx")
    src = str(base / "index")
    # small blocks so queries cross many blocks and pruning is exercised
    catalog.build_durable_index(spark, corpus_sdf, src, buckets=16,
                                block_span=16)
    quant = catalog.quantize_index(spark, src, str(base / "impact"),
                                   bits=8)
    return catalog.load_index(spark, src), catalog.load_index(spark, quant)


# search_quantized has no query-tf multiplicity, so the relational
# identity uses deduped queries; the repeated-term shape is covered by
# the kernel-vs-kernel identity below
QUERIES = ["market", "market price growth", "germany economy china",
           "connect bank report"]
KERNEL_QUERIES = QUERIES + ["market market price"]


def test_store_flags(indexes):
    src, quant = indexes
    assert src.store == "tf"
    assert quant.store == "impact"
    assert quant.meta["impact_bits"] == 8
    assert quant.meta["sidecar_dir"] == src.index_dir


@pytest.mark.parametrize("q", QUERIES)
def test_wand_impact_vs_relational_quantized(indexes, q):
    src, quant = indexes
    from search_engine_spark.functions.analyzer import analyze_query

    terms = sorted(set(analyze_query(q, src.analyzer)))
    rel = [(r.doc_id, r.score)
           for r in S.search_quantized(src, terms, k=30, bits=8).collect()]
    got = MS.search_maxscore(quant, q, k=30)
    assert [d for d, _ in got] == [d for d, _ in rel]
    for (_, a), (_, b) in zip(got, rel):
        assert a == pytest.approx(b, abs=1e-9)


@pytest.mark.parametrize("q", KERNEL_QUERIES)
def test_maxscore_impact_identity(indexes, q):
    _, quant = indexes
    stats: dict = {}
    ms = MS.search_maxscore(quant, q, k=30, stats=stats)
    wd = MS.search_maxscore(quant, q, k=1 << 30)[:30]
    # pruned == exhaustive: ids rank-identical; scores to 1e-9 (a
    # different essential split sums a doc's per-term weights in a
    # different order, which differs in the last ulp)
    assert [d for d, _ in ms] == [d for d, _ in wd]
    for (_, a), (_, b) in zip(ms, wd):
        assert a == pytest.approx(b, abs=1e-9)
    assert stats["n_blocks_total"] > 0


def test_maxscore_impact_golden(indexes):
    from tests.test_maxscore import assert_golden

    assert_golden(indexes[1], "impact")


def test_impact_scores_within_bound_of_exact(indexes):
    src, quant = indexes
    q = "market price growth"
    exact = {r.doc_id: r.score
             for r in S.search_freetext(src, q, k=10_000).collect()}
    got = MS.search_maxscore(quant, q, k=50)
    # per-doc error ≤ Σ_t idf_t · (k1+1)/(2·maxq); bound with the
    # largest idf in the corpus (ln(1+(N+0.5)/0.5)) per matched term
    n = src.stats["n_docs"]
    idf_max = float(np.log(1.0 + (n + 0.5) / 0.5))
    bound = 3 * idf_max * 2.2 / (2 * 255)
    assert got, "query should match documents"
    for d, s in got:
        assert d in exact
        assert abs(s - exact[d]) <= bound


def test_wand_rejects_foreign_model_on_impact_store(indexes):
    _, quant = indexes
    with pytest.raises(ValueError, match="bakes"):
        MS.search_maxscore(quant, "market", k=5, k1=1.5)
    with pytest.raises(ValueError, match="bakes"):
        MS.search_maxscore(quant, "market", k=5, b=0.5)


def test_phrase_works_on_impact_store(indexes):
    from search_engine_spark.operators import phrase

    src, quant = indexes
    terms = ["market", "price"]
    want = [(r.doc_id, r.score)
            for r in phrase.search_phrase(src, terms, k=20).collect()]
    got = [(r.doc_id, r.score)
           for r in phrase.search_phrase(quant, terms, k=20).collect()]
    assert got == want


def test_relational_freetext_on_impact_store_is_exact(indexes):
    # relational paths on a quantized handle read the sidecar postings
    # and score EXACT bm25 — documented contract
    src, quant = indexes
    q = "market price"
    want = [(r.doc_id, round(r.score, 9))
            for r in S.search_freetext(src, q, k=20).collect()]
    got = [(r.doc_id, round(r.score, 9))
           for r in S.search_freetext(quant, q, k=20).collect()]
    assert got == want


def test_merge_and_vacuum_refuse_impact_store(tmp_path, spark, indexes):
    _, quant = indexes
    with pytest.raises(ValueError, match="re-quantize"):
        catalog.merge_indexes(spark, [quant.index_dir],
                              str(tmp_path / "out"))
    with pytest.raises(ValueError, match="already an impact store"):
        catalog.quantize_index(spark, quant.index_dir,
                               str(tmp_path / "out2"))


def test_impact_store_is_smaller(indexes):
    """The kernel view of the impact store (doc_id + impact chunks) is
    smaller than its source's (doc_id + tf + dl chunks), over the same
    blocks and postings."""
    src, quant = indexes
    view = {r["step"]: r for r in catalog.lineage_rows(src.index_dir)}[
        "segments"]
    qview = {r["step"]: r for r in catalog.lineage_rows(quant.index_dir)}[
        "quantize_complete"]
    assert (qview["blocks"], qview["postings"]) == \
        (view["blocks"], view["postings"])
    assert 0 < qview["payload_bytes"] < view["payload_bytes"]


def test_impacts_equal_quantize_impacts(spark, indexes):
    """Every impact the store holds is scoring.quantize_impacts of its
    staged posting's tf and dl (the numpy quantizer the varint impact
    blocks were written with), bit for bit, in the posting's bucket; and
    the kernel's impact blocks hold exactly those values."""
    src, quant = indexes
    got = {(r.term, r.doc_id): (r.bucket, r.impact) for r in spark.read
           .parquet(quant.kernel_table).collect()}
    rows = src.postings.select("term", "doc_id", "bucket", "tf",
                               "dl").collect()
    want_q = scoring.quantize_impacts(
        [r.tf for r in rows], [r.dl for r in rows], src.stats["n_docs"],
        src.stats["total_len"], 8)
    want = {(r.term, r.doc_id): (r.bucket, int(q))
            for r, q in zip(rows, want_q)}
    assert got == want and got
    quant._mini.clear()
    for t, (df, blks) in quant.mini_index(["market", "price"]).items():
        assert df == sum(b.n_docs for b in blks)
        for b in blks:
            assert b.block_max_tf == max(b.values[0])
            assert [got[(t, d)][1] for d in b.docs.tolist()] \
                == b.values[0].tolist()


def test_impact_store_without_impacts_table_is_refused(tmp_path, spark,
                                                       indexes):
    """A store whose quantize_complete row names no impacts table (one
    quantized into varint segment blocks) does not open: the kernel no
    longer reads those blocks."""
    import json
    import os
    import shutil

    _, quant = indexes
    old = str(tmp_path / "old_store")
    shutil.copytree(quant.index_dir, old)
    path = catalog._manifest_path(old, "quantize_complete")
    with open(path) as f:
        row = json.load(f)
    del row["table"]
    with open(path, "w") as f:
        json.dump(row, f)
    assert os.path.isdir(os.path.join(old, catalog.IMPACT_TABLE))
    with pytest.raises(ValueError, match="re-quantize from the source"):
        catalog.load_index(spark, old)


def test_quantize_requires_completed_build(tmp_path, spark):
    with pytest.raises(ValueError, match="not a completed index"):
        catalog.quantize_index(spark, str(tmp_path / "nope"),
                               str(tmp_path / "out"))


def test_quantize_missing_stats_is_diagnosed(tmp_path, spark):
    # a committed manifest without stats.json (damaged / half-copied
    # directory) must raise a diagnostic, not a NameError downstream
    d = str(tmp_path / "damaged")
    import os

    os.makedirs(d)
    catalog._record(d, "build_complete")
    with pytest.raises(ValueError, match="stats.json"):
        catalog.quantize_index(spark, d, str(tmp_path / "out"))


def test_impact_store_validates_sidecar_at_open(tmp_path, spark, indexes):
    # sidecar_dir is persisted absolute; a moved/deleted source must be
    # diagnosed at open time, not as an opaque parquet failure later
    import json
    import os
    import shutil

    _, quant = indexes
    broken = str(tmp_path / "qcopy")
    shutil.copytree(quant.index_dir, broken)
    sp = os.path.join(broken, "stats.json")
    with open(sp) as f:
        meta = json.load(f)
    meta["sidecar_dir"] = str(tmp_path / "gone")
    with open(sp, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="sidecar"):
        catalog.load_index(spark, broken)
