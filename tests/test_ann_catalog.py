"""Committed ANN artifacts (catalog.build_ann_index + SegmentIndex
restore + rebuild_artifacts): the IVF centroids, PQ codebooks, and the
cell-partitioned coded table are index state — persisted manifest-gated
under the index dir, restored by load_index bit-identically to the
in-session fit, served via ann_topk, and re-derived after a vacuum from
the recorded source table (round-5, VERDICT r4 item 4).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import similarity
from search_engine_spark.sources import catalog


def _emb(spark, n=120, dim=16):
    # deterministic integer-derived vectors (no RNG — same values every
    # session, so artifact-vs-fresh-fit comparisons are exact)
    return spark.createDataFrame(
        [(i, [float((i * (j + 3) + j * j) % 23) + 1.0
              for j in range(dim)]) for i in range(1, n + 1)],
        "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def ann_index(tmp_path_factory, spark, corpus_sdf):
    base = tmp_path_factory.mktemp("annidx")
    d = str(base / "idx")
    epath = str(base / "emb_parquet")
    emb = _emb(spark)
    emb.write.parquet(epath)
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=8,
                                block_span=64, positional=False)
    info = catalog.build_ann_index(spark, d, emb, embeddings_path=epath,
                                   n_centroids=4, ivf_iters=5, pq_iters=5)
    return d, epath, info


def test_artifact_roundtrips_fit_exactly(spark, ann_index):
    d, epath, info = ann_index
    emb = spark.read.parquet(epath)
    idx = catalog.load_index(spark, d)
    cent, books = idx.ann_artifacts()
    want_cent = similarity.ivf_fit(emb, n_centroids=4, iters=5)
    want_books = similarity.pq_fit(emb, m=8, ksub=16, iters=5)
    # parquet round-trips float64 exactly: loaded == fitted, bit for bit
    assert np.array_equal(cent, want_cent)
    assert np.array_equal(books, want_books)
    assert info["dim"] == 16 and info["n_vectors"] == 120
    # cached: second call returns the same arrays without Spark work
    cent2, _ = idx.ann_artifacts()
    assert cent2 is cent


def test_coded_table_matches_in_session_assign(spark, ann_index):
    d, epath, _ = ann_index
    emb = spark.read.parquet(epath)
    idx = catalog.load_index(spark, d)
    cent, books = idx.ann_artifacts()
    want = {(r.vec_id, r.cell, tuple(r.code)) for r in
            similarity.pq_assign(similarity.ivf_assign(emb, cent), books)
            .select("vec_id", "cell", "code").collect()}
    got = {(r.vec_id, r.cell, tuple(r.code)) for r in
           idx.ann_coded().collect()}
    assert got == want and len(got) == 120


def test_ann_topk_exact_identity_from_loaded_artifact(spark, ann_index):
    d, epath, _ = ann_index
    emb = spark.read.parquet(epath)
    idx = catalog.load_index(spark, d)
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 7).collect()[0].embedding]
    # nprobe covers every cell, refine covers the table → exact top-k
    got = [(r.vec_id, r.cosine) for r in
           idx.ann_topk(q, k=10, nprobe=4, refine=120,
                        embeddings=emb).collect()]
    want = [(r.vec_id, r.cosine) for r in
            similarity.cosine_topk(emb, q, 10).collect()]
    assert got == want


def test_ann_topk_prunes_to_probed_cells(spark, ann_index):
    d, epath, _ = ann_index
    emb = spark.read.parquet(epath)
    idx = catalog.load_index(spark, d)
    cent, _ = idx.ann_artifacts()
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 7).collect()[0].embedding]
    order = ((cent - np.asarray(q)) ** 2).sum(axis=1).argsort()
    probed = {int(c) for c in order[:1]}
    member = {r.vec_id for r in idx.ann_coded()
              .filter(F.col("cell").isin([int(c) for c in probed]))
              .collect()}
    got = {r.vec_id for r in idx.ann_topk(q, k=10, nprobe=1).collect()}
    assert got <= member and got


def test_refine_requires_vectors(spark, ann_index):
    d, _, _ = ann_index
    idx = catalog.load_index(spark, d)
    with pytest.raises(ValueError, match="embeddings"):
        idx.ann_topk([1.0] * 16, k=5, nprobe=4, refine=50)


def test_no_artifact_raises(tmp_path, spark, corpus_sdf):
    d = str(tmp_path / "plain")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=8,
                                block_span=64, positional=False)
    idx = catalog.load_index(spark, d)
    with pytest.raises(ValueError, match="ANN"):
        idx.ann_artifacts()
    with pytest.raises(ValueError, match="ANN"):
        idx.ann_coded()


def test_build_refuses_impact_store(tmp_path, spark, ann_index):
    d, epath, _ = ann_index
    emb = spark.read.parquet(epath)
    qdir = catalog.quantize_index(spark, d, str(tmp_path / "imp"))
    with pytest.raises(ValueError, match="SOURCE"):
        catalog.build_ann_index(spark, qdir, emb)
    # ...but the impact handle RESTORES the source's artifact via the
    # sidecar, like the phrase/trigram indexes
    qidx = catalog.load_index(spark, qdir)
    cent, _ = qidx.ann_artifacts()
    assert cent.shape == (4, 16)


def test_rebuild_after_vacuum_refits_from_recorded_source(
        tmp_path, spark, corpus_sdf, ann_index):
    src, epath, _ = ann_index
    # make an independent copy of the source index to delete from (the
    # module fixture must stay pristine for the other tests)
    work = str(tmp_path / "work")
    catalog.build_durable_index(spark, corpus_sdf, work, buckets=8,
                                block_span=64, positional=False)
    emb = spark.read.parquet(epath)
    catalog.build_ann_index(spark, work, emb, embeddings_path=epath,
                            n_centroids=4, ivf_iters=5, pq_iters=5)
    # a victim inside the embedding id range, so the exclusion must bite
    victim = int(corpus_sdf.filter(F.col("doc_id") <= 120)
                 .select("doc_id").first()[0])
    catalog.delete_docs(spark, work, [victim])
    out = str(tmp_path / "v2")
    catalog.vacuum_index(spark, work, out)
    rebuilt = catalog.rebuild_artifacts(spark, work, out)
    assert "ann_index" in rebuilt
    oidx = catalog.load_index(spark, out)
    # the vacuumed docs stay DEAD on the ANN surface: the refit
    # excludes the source's tombstoned ids even though the recorded
    # table still holds their vectors (and the new index carries no
    # tombstones to mask them at read time)
    assert victim not in {r.vec_id for r in oidx.ann_coded().collect()}
    # deterministic fit == a fresh fit over the live-vector table
    live = emb.filter(F.col("vec_id") != victim)
    b = oidx.ann_artifacts()
    assert np.array_equal(
        b[0], similarity.ivf_fit(live, n_centroids=4, iters=5))
    assert np.array_equal(
        b[1], similarity.pq_fit(live, m=8, ksub=16, iters=5))


def test_rebuild_with_missing_source_table_raises(tmp_path, spark,
                                                  corpus_sdf):
    src = str(tmp_path / "src")
    catalog.build_durable_index(spark, corpus_sdf, src, buckets=8,
                                block_span=64, positional=False)
    epath = str(tmp_path / "emb_gone")
    emb = _emb(spark, n=40)
    emb.write.parquet(epath)
    catalog.build_ann_index(spark, src, emb, embeddings_path=epath,
                            n_centroids=4, ivf_iters=3, pq_iters=3)
    import shutil

    shutil.rmtree(epath)
    out = str(tmp_path / "v2")
    catalog.vacuum_index(spark, src, out)
    with pytest.raises(ValueError, match="embedding table"):
        catalog.rebuild_artifacts(spark, src, out)


def test_ann_served_over_http(spark, ann_index):
    """GET /ann serves the committed artifact: full-probe + full-refine
    equals exact cosine top-k; ADC-only answers without the vector
    table; misuse surfaces as 400."""
    import json as _json
    import threading
    import urllib.error
    import urllib.request

    from jobs.serve import create_server

    d, epath, _ = ann_index
    emb = spark.read.parquet(epath)
    idx = catalog.load_index(spark, d)
    srv = create_server(idx, port=0, embeddings=emb)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()

    def _get(url):
        with urllib.request.urlopen(url, timeout=120) as r:
            return r.status, _json.loads(r.read())

    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        status, body = _get(base + "/ann?vec_id=7&k=10&nprobe=4&refine=120")
        assert status == 200
        q = [float(x) for x in
             emb.filter(F.col("vec_id") == 7).collect()[0].embedding]
        want = [(r.vec_id, round(r.cosine, 9)) for r in
                similarity.cosine_topk(emb, q, 10).collect()]
        got = [(h["vec_id"], round(h["cosine"], 9))
               for h in body["results"]]
        assert got == want
        # ADC-only probe with an inline vector
        status, adc = _get(base + "/ann?k=5&nprobe=1&vec="
                           + ",".join(str(x) for x in q))
        assert status == 200 and 0 < adc["number_of_results"] <= 5
        # unknown vec_id → 404
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base + "/ann?vec_id=999999")
        assert e.value.code == 404
        for path in (
            "/ann",                              # no vector
            "/ann?vec_id=7&k=0",                 # bad k
            "/ann?vec_id=7&nprobe=0",            # bad nprobe
            "/ann?vec_id=7&k=10&refine=5",       # refine < k
        ):
            with pytest.raises(urllib.error.HTTPError) as e:
                _get(base + path)
            assert e.value.code == 400, path
    finally:
        srv.shutdown()
        srv.server_close()
    # no embeddings loaded: refine and vec_id lookup refuse, ADC works
    bare = create_server(idx, port=0)
    t2 = threading.Thread(target=bare.serve_forever, daemon=True)
    t2.start()
    try:
        base = f"http://127.0.0.1:{bare.server_address[1]}"
        vec = ",".join(str(x) for x in q)
        status, _ = _get(base + f"/ann?k=5&nprobe=4&vec={vec}")
        assert status == 200
        for path in (f"/ann?k=5&refine=10&vec={vec}", "/ann?vec_id=7"):
            with pytest.raises(urllib.error.HTTPError) as e:
                _get(base + path)
            assert e.value.code == 400, path
    finally:
        bare.shutdown()
        bare.server_close()


def test_ann_endpoint_requires_artifact(tmp_path, spark, corpus_sdf):
    import json as _json
    import threading
    import urllib.error
    import urllib.request

    from jobs.serve import create_server

    d = str(tmp_path / "noann")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=8,
                                block_span=64, positional=False)
    srv = create_server(catalog.load_index(spark, d), port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(
                f"http://127.0.0.1:{srv.server_address[1]}"
                "/ann?vec_id=1", timeout=120)
        assert e.value.code == 400
        assert "artifact" in _json.loads(e.value.read())["error"]
    finally:
        srv.shutdown()
        srv.server_close()


def test_ann_excludes_tombstones(tmp_path, spark, corpus_sdf):
    """Tombstoned docs disappear from the ANN surface like every other
    query path (vec_id is doc-keyed by the serving convention)."""
    d = str(tmp_path / "idx")
    epath = str(tmp_path / "emb")
    emb = _emb(spark, n=60)
    emb.write.parquet(epath)
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=8,
                                block_span=64, positional=False)
    catalog.build_ann_index(spark, d, emb, embeddings_path=epath,
                            n_centroids=4, ivf_iters=3, pq_iters=3)
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 7).collect()[0].embedding]
    before = catalog.load_index(spark, d)
    assert 7 in {r.vec_id for r in
                 before.ann_topk(q, k=10, nprobe=4, refine=60,
                                 embeddings=emb).collect()}
    catalog.delete_docs(spark, d, [7])
    after = catalog.load_index(spark, d)
    assert 7 not in {r.vec_id for r in after.ann_coded().collect()}
    assert 7 not in {r.vec_id for r in
                     after.ann_topk(q, k=10, nprobe=4, refine=60,
                                    embeddings=emb).collect()}


def test_rebuild_accepts_single_file_source(tmp_path, spark, corpus_sdf):
    """embeddings_path may be a single parquet FILE (spark.read.parquet
    accepts it); rebuild must not reject it with the directory check."""
    import glob
    import os

    src = str(tmp_path / "src")
    catalog.build_durable_index(spark, corpus_sdf, src, buckets=8,
                                block_span=64, positional=False)
    edir = str(tmp_path / "emb")
    _emb(spark, n=40).coalesce(1).write.parquet(edir)
    part = glob.glob(os.path.join(edir, "part-*.parquet"))[0]
    catalog.build_ann_index(spark, src, spark.read.parquet(part),
                            embeddings_path=part,
                            n_centroids=4, ivf_iters=3, pq_iters=3)
    victim = corpus_sdf.select("doc_id").first()[0]
    catalog.delete_docs(spark, src, [victim])
    out = str(tmp_path / "v2")
    catalog.vacuum_index(spark, src, out)
    assert "ann_index" in catalog.rebuild_artifacts(spark, src, out)


def test_index_stats_reports_ann_artifact(spark, ann_index):
    from jobs.index_stats import collect_stats

    d, _, _ = ann_index
    assert "ann_index" in collect_stats(spark, d)["artifacts"]
