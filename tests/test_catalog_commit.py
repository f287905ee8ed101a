"""The catalog's one commit rule: a step's manifest row is its only
commit and its only metadata. A step removes its earlier row before it
rewrites its data and records a new row only after the data is written,
so a rebuild that fails leaves the step with no row and readers serve as
if the artifact were absent — never old metadata over new data. A
directory with no completion row does not open, and a quantized store
reads its tombstones (and every other side table) from its source."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from search_engine_spark.operators import phrase as PH
from search_engine_spark.sources import catalog

DOCS = [
    (1, "alpha beta alpha beta"),
    (2, "alpha gamma beta"),
    (3, "beta beta beta"),
    (4, "gamma gamma alpha"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _build(spark, d):
    return catalog.build_durable_index(spark, _docs(spark), d, buckets=8,
                                       block_span=16)


@pytest.fixture(scope="module")
def base_index(tmp_path_factory, spark):
    return _build(spark, str(tmp_path_factory.mktemp("commit") / "base"))


@pytest.fixture
def index_copy(tmp_path, base_index):
    d = str(tmp_path / "idx")
    shutil.copytree(base_index, d)
    return d


def _fail_after_write(monkeypatch, name):
    """Make the parquet write of table ``name`` land its data, then
    raise — a step that dies between its data and its commit."""
    real = DataFrameWriter.parquet

    def torn(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if os.path.basename(path.rstrip("/")) == name:
            raise OSError(f"lost the commit of {name}")

    monkeypatch.setattr(DataFrameWriter, "parquet", torn)


def _emb(spark):
    return spark.createDataFrame(
        [(i, [float((i * (j + 3) + j * j) % 23) + 1.0 for j in range(16)])
         for i in range(1, 41)],
        "vec_id long, embedding array<double>")


def _ann(spark, d, **kw):
    return catalog.build_ann_index(spark, d, _emb(spark), n_centroids=4,
                                   ivf_iters=3, pq_iters=3, **kw)


def _phrase(spark, d):
    # alpha-gamma is covered at min_df=1 (dfs: alpha 3, beta 3,
    # gamma 2) and uncovered at min_df=3
    want = [(r.doc_id, r.score) for r in PH.search_phrase(
        catalog.load_index(spark, d), ["alpha", "gamma"], k=5).collect()]
    assert want, "the pair occurs in doc 2"
    catalog.build_phrase_index(spark, d, min_df=1)
    return (lambda: catalog.build_phrase_index(spark, d, min_df=3),
            "phrase_postings", want)


def _trigram(spark, d):
    catalog.build_term_ngram_index(spark, d)
    return (lambda: catalog.build_term_ngram_index(spark, d),
            "term_trigrams", None)


def _ann_rebuild(spark, d):
    _ann(spark, d)
    return lambda: _ann(spark, d, pq_m=4), "ann_coded", None


def _requantize(spark, d):
    q = d + "_impact"
    catalog.quantize_index(spark, d, q, bits=8)
    return (lambda: catalog.quantize_index(spark, d, q, bits=4),
            "segments", None)


@pytest.mark.parametrize("step,setup", [
    ("phrase_index", _phrase),
    ("term_ngram_index", _trigram),
    ("ann_index", _ann_rebuild),
    ("quantize_complete", _requantize),
])
def test_failed_rebuild_leaves_no_committed_row(spark, index_copy,
                                                monkeypatch, step, setup):
    rebuild, table, want = setup(spark, index_copy)
    at = index_copy + "_impact" if step == "quantize_complete" \
        else index_copy
    assert catalog._done(at, step)
    _fail_after_write(monkeypatch, table)
    with pytest.raises(OSError, match="lost the commit"):
        rebuild()
    monkeypatch.undo()
    assert not catalog._done(at, step)

    if step == "quantize_complete":
        # the store's one completion row is gone: it does not open
        with pytest.raises(ValueError, match="no completion row"):
            catalog.load_index(spark, at)
        return
    idx = catalog.load_index(spark, at)
    if step == "phrase_index":
        assert not idx.bigram_covered("alpha", "gamma")
        got = [(r.doc_id, r.score) for r in PH.search_phrase(
            idx, ["alpha", "gamma"], k=5).collect()]
        assert got == want
    elif step == "term_ngram_index":
        assert idx.trigram_candidates("*lph*") is None
    else:
        with pytest.raises(ValueError, match="no committed ANN"):
            idx.ann_artifacts()


def test_load_index_refuses_a_build_stopped_after_stats(tmp_path, spark,
                                                        monkeypatch):
    d = str(tmp_path / "half")
    _fail_after_write(monkeypatch, "term_stats")
    with pytest.raises(OSError, match="lost the commit"):
        _build(spark, d)
    monkeypatch.undo()
    assert catalog._done(d, "stats")
    assert not catalog._done(d, "build_complete")
    with pytest.raises(ValueError, match="resume"):
        catalog.load_index(spark, d)
    # the named remedy works: resume finishes the build, which then opens
    _build(spark, d)
    assert catalog.load_index(spark, d).stats["n_docs"] == len(DOCS)


def test_artifact_rows_carry_their_metadata(spark, index_copy):
    catalog.build_phrase_index(spark, index_copy, min_df=3)
    _ann(spark, index_copy)
    rows = {r["step"]: r for r in catalog.lineage_rows(index_copy)}
    assert rows["phrase_index"]["terms"] == ["alpha", "beta"]
    assert rows["phrase_index"]["positional"] is True
    assert rows["ann_index"]["dim"] == 16
    assert rows["ann_index"]["n_vectors"] == 40
    for step in ("phrase_index", "ann_index"):
        assert rows[step]["duration_sec"] >= 0
    # one metadata record per artifact: no second file beside the data
    assert sorted(f for f in os.listdir(index_copy)
                  if f.endswith(".json")) == ["stats.json"]


def test_quantized_store_reports_and_refuses_through_its_source(
        tmp_path, spark, index_copy):
    from jobs.index_stats import collect_stats

    catalog.delete_docs(spark, index_copy, [4])
    q = catalog.quantize_index(spark, index_copy, str(tmp_path / "imp"))
    rep = collect_stats(spark, q)
    assert rep["tombstone_batches"] == [0]
    assert rep["deleted_fraction"] == 0.25
    assert catalog.load_index(spark, q).deleted_ids() == frozenset({4})
    # deletes go to the source: the store itself is refused, by name
    with pytest.raises(ValueError, match="SOURCE"):
        catalog.delete_docs(spark, q, [1])
