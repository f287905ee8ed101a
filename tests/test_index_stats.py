"""jobs/index_stats.py: the store-inspection report — numbers must
agree with the build's own lineage (the kernel view), and impact
artifacts must report their store kind + sidecar."""

from __future__ import annotations

import os

import pytest

from search_engine_spark.sources import catalog


@pytest.fixture(scope="module")
def stats_index(tmp_path_factory, spark, corpus_sdf):
    d = str(tmp_path_factory.mktemp("statsidx") / "idx")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=8,
                                block_span=64)
    return d


def test_report_matches_lineage(spark, stats_index, corpus_sdf):
    from jobs.index_stats import collect_stats

    rep = collect_stats(spark, stats_index)
    assert rep["n_docs"] == corpus_sdf.count()
    seg_rows = [r for r in catalog.lineage_rows(stats_index)
                if r["step"] == "segments"]
    assert seg_rows and rep["blocks"] == seg_rows[0]["blocks"]
    assert rep["postings"] == seg_rows[0]["postings"]
    assert rep["payload_bytes"] == seg_rows[0]["payload_bytes"]
    assert rep["store"] == "tf"
    assert "codec_mix" not in rep
    assert rep["bucket_skew_max_over_mean"] >= 1.0
    assert rep["deleted_fraction"] == 0.0
    assert rep["df_head"][0][1] >= rep["df_head"][-1][1]


def test_report_on_disk_bytes_and_codecs(spark, stats_index):
    # bytes per table directory add up to the whole index, counted the
    # way perfbench counts it; the codecs come from the footers of the
    # kernel's table, the staged postings
    from jobs.index_stats import collect_stats

    rep = collect_stats(spark, stats_index)
    disk = rep["on_disk_bytes"]
    assert set(disk) == {"index"}
    tables = disk["index"]
    assert {"postings_stage", "doc_stats", "term_stats",
            "vsm_norms", "manifest", "stats.json"} == set(tables)
    assert all(b > 0 for b in tables.values())
    walked = sum(os.path.getsize(os.path.join(d, f))
                 for d, _, files in os.walk(stats_index) for f in files)
    assert sum(tables.values()) == walked
    # one chunk per staged column (term, doc_id, tf, dl, positions;
    # bucket is the partition directory) per file; these small files
    # hold one row group each
    n_files = sum(f.endswith(".parquet") for _, _, files in
                  os.walk(os.path.join(stats_index, "postings_stage"))
                  for f in files)
    assert rep["parquet_codecs"] == {"ZSTD": n_files * 5}


def test_report_on_impact_store(tmp_path, spark, stats_index):
    from jobs.index_stats import collect_stats

    qdir = catalog.quantize_index(spark, stats_index,
                                  str(tmp_path / "imp"), bits=8)
    rep = collect_stats(spark, qdir)
    assert rep["store"] == "impact"
    assert rep["impact_bits"] == 8
    assert rep["sidecar_dir"] == stats_index
    source = collect_stats(spark, stats_index)
    assert (rep["blocks"], rep["postings"]) == \
        (source["blocks"], source["postings"])
    assert 0 < rep["payload_bytes"] < source["payload_bytes"]
    # the impact store holds only its impacts; its side tables are the
    # source's, so both directories are sized
    disk = rep["on_disk_bytes"]
    assert {"impacts", "manifest", "stats.json"} == set(disk["index"])
    assert {"postings_stage", "term_stats"} <= set(disk["source"])
    assert set(rep["parquet_codecs"]) == {"ZSTD"}


def test_impact_report_lists_sidecar_artifacts(tmp_path, spark,
                                               stats_index):
    # artifacts resolve through the sidecar at serving time (the impact
    # store shares the source's phrase/trigram/VSM artifacts), so the
    # report must list them for the impact dir too — consistent with its
    # own term_stats fallback
    from jobs.index_stats import collect_stats

    catalog.build_phrase_index(spark, stats_index, min_df=5)
    qdir = catalog.quantize_index(spark, stats_index,
                                  str(tmp_path / "imp2"), bits=8)
    assert "phrase_index" in collect_stats(spark, stats_index)["artifacts"]
    assert "phrase_index" in collect_stats(spark, qdir)["artifacts"]
