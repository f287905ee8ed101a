"""Segment layer: encode/decode round-trip through Spark, durable build,
kill-resume identity, pruned lookup parity, block-max metadata sanity."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import search as S
from search_engine_spark.operators import segments as SEG
from search_engine_spark.sources import catalog


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, spark, corpus_sdf):
    d = str(tmp_path_factory.mktemp("segidx") / "index")
    catalog.build_durable_index(spark, corpus_sdf, d, shards=4, buckets=16)
    return d


def test_segment_roundtrip(built_index, spark):
    seg = SEG.encode_segments(built_index.postings, buckets=8, block_span=64)
    back = SEG.decode_segments(seg, positional=True)
    want = {
        (r.term, r.doc_id): (r.tf, list(r.positions))
        for r in built_index.postings.collect()
    }
    got = {
        (r.term, r.doc_id): (r.tf, list(r.positions)) for r in back.collect()
    }
    assert got == want


def test_block_span_bounds_group_size(built_index):
    seg = SEG.encode_segments(built_index.postings, buckets=8, block_span=32)
    assert seg.agg(F.max("n_docs")).collect()[0][0] <= 32
    # doc-partitioned blocks: doc range within block respects the span
    bad = seg.filter(
        (F.col("max_doc_id") - F.col("min_doc_id")) >= 32
    ).count()
    assert bad == 0


def test_durable_build_and_load(spark, index_dir, built_index, corpus_sdf):
    idx = catalog.load_index(spark, index_dir, documents=corpus_sdf)
    assert idx.stats["n_docs"] == built_index.stats["n_docs"]
    got = S.search_freetext(idx, "market price growth", k=50).collect()
    want = S.search_freetext(built_index, "market price growth", k=50).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in got] == \
           [(r.doc_id, round(r.score, 9)) for r in want]


def test_pruned_lookup_parity(spark, index_dir, built_index):
    idx = catalog.load_index(spark, index_dir)
    for positional in (False, True):
        got = idx.lookup(["market", "germani"], positional=positional).collect()
        want = built_index.lookup(["market", "germani"], positional=positional).collect()
        key = (lambda r: (r.term, r.doc_id))
        assert sorted([tuple(r) for r in got]) == sorted([tuple(r) for r in want])


def test_lineage_complete(index_dir):
    rows = catalog.lineage_rows(index_dir)
    steps = {r["step"] for r in rows}
    assert "build_complete" in steps
    assert {f"segments_shard_{k}" for k in range(4)} <= steps
    shard_rows = [r for r in rows if r["step"].startswith("segments_shard_")]
    assert all(r["payload_bytes"] > 0 or r["blocks"] == 0 for r in shard_rows)
    assert all("checksum" in r and "duration_sec" in r for r in shard_rows)


def test_kill_resume_identity(spark, corpus_sdf, tmp_path, index_dir):
    """Simulate a crash after shard 1: delete two shard manifests + one
    shard's data; the resumed build must reproduce identical segments."""
    d = str(tmp_path / "index2")
    catalog.build_durable_index(spark, corpus_sdf, d, shards=4, buckets=16)
    ref = {(r.term, r.block_id): (r.n_docs, bytes(r.payload))
           for r in spark.read.parquet(os.path.join(d, "segments")).collect()}

    # "kill": lose shard 2's manifest and data, shard 3's manifest only
    os.remove(catalog._manifest_path(d, "segments_shard_2"))
    os.remove(catalog._manifest_path(d, "segments_shard_3"))
    os.remove(catalog._manifest_path(d, "build_complete"))
    shutil.rmtree(os.path.join(d, "segments", "shard=2"))

    catalog.build_durable_index(spark, corpus_sdf, d, shards=4, buckets=16)
    got = {(r.term, r.block_id): (r.n_docs, bytes(r.payload))
           for r in spark.read.parquet(os.path.join(d, "segments")).collect()}
    assert got == ref

    # completed shards were NOT rebuilt (manifest ts preserved for 0/1)
    rows = {r["step"]: r for r in catalog.lineage_rows(d)}
    assert rows["segments_shard_2"]["ts"] > rows["segments_shard_0"]["ts"]


def test_block_max_consistency(spark, index_dir):
    seg = spark.read.parquet(os.path.join(index_dir, "segments"))
    with open(os.path.join(index_dir, "stats.json")) as f:
        n_docs = json.load(f)["n_docs"]
    # upper bound must dominate every actual BM25 weight in the block
    some = seg.orderBy(F.desc("n_docs")).limit(5).collect()
    idx = catalog.load_index(spark, index_dir)
    ts = {r.term: r.df for r in idx.term_stats.collect()}
    import tests.oracle as O
    dl_map = {r.doc_id: r.dl for r in idx.doc_stats.collect()}
    avgdl = idx.stats["avgdl"]
    for blk in some:
        ub = SEG.bm25_upper_bound(ts[blk.term], n_docs, blk.block_max_tf)
        from search_engine_spark import codec
        docs, tfs = codec.decode_block(bytes(blk.payload))
        for d, tf in zip(docs, tfs):
            w = O.bm25_weight_std(int(tf), dl_map[int(d)], ts[blk.term], n_docs, avgdl)
            assert w <= ub + 1e-12


def test_vsm_norms_build_artifact(spark, index_dir, corpus_sdf):
    """VSM doc norms are precomputed at build time: the segment index
    loads the sidecar (no full-postings re-aggregation per session) and
    VSM results are identical to the in-memory index's lazy path."""
    from search_engine_spark import engine
    from search_engine_spark.functions.analyzer import AnalyzerConfig
    from search_engine_spark.operators.search import search_vsm

    assert os.path.exists(os.path.join(index_dir, "vsm_norms"))
    seg_idx = catalog.load_index(spark, index_dir)
    assert getattr(seg_idx, "_vsm_norms", None) is not None

    mem_idx = engine.build_index(corpus_sdf, AnalyzerConfig.full())
    got = [(r.doc_id, round(r.score, 9))
           for r in search_vsm(seg_idx, "market price", k=25).collect()]
    want = [(r.doc_id, round(r.score, 9))
            for r in search_vsm(mem_idx, "market price", k=25).collect()]
    assert got == want


def test_decode_positional_mismatch_raises_descriptive(spark, corpus_sdf):
    """Requesting positions from a tf-only build must fail with an
    actionable error, not an opaque executor IndexError."""
    import pytest as _pt

    from search_engine_spark.operators import postings as P
    from search_engine_spark.functions.analyzer import AnalyzerConfig

    post = P.build_postings(corpus_sdf.limit(20), AnalyzerConfig.simple(),
                            positional=False)
    seg = SEG.encode_segments(post, buckets=4, block_span=64,
                              positional=False)
    with _pt.raises(Exception, match="positional"):
        SEG.decode_segments(seg, positional=True).collect()


def test_resume_rejects_changed_build_config(spark, corpus_sdf, tmp_path):
    """A resume with a different analyzer/block_span must refuse instead
    of silently mixing incompatible artifacts into one index."""
    import pytest as _pt

    from search_engine_spark.functions.analyzer import AnalyzerConfig

    d = str(tmp_path / "idx")
    catalog.build_durable_index(spark, corpus_sdf.limit(30), d, shards=2,
                                buckets=8, block_span=64)
    with _pt.raises(ValueError, match="DIFFERENT build config"):
        catalog.build_durable_index(spark, corpus_sdf.limit(30), d, shards=2,
                                    buckets=8, block_span=128)
    with _pt.raises(ValueError, match="DIFFERENT build config"):
        catalog.build_durable_index(spark, corpus_sdf.limit(30), d, shards=2,
                                    buckets=8, block_span=64,
                                    conf=AnalyzerConfig.simple())
    # same config: resume is a clean no-op
    catalog.build_durable_index(spark, corpus_sdf.limit(30), d, shards=2,
                                buckets=8, block_span=64)


def test_fused_build_matches_sharded(spark, corpus_sdf, tmp_path, index_dir):
    """shards=1 (fused single-exchange encode, SEG.encode_sorted) must
    produce byte-identical segment blocks to the per-shard
    encode_segments path, per-bucket lineage, and an identical resumed
    rebuild after losing the segments step."""
    d = str(tmp_path / "fused")
    catalog.build_durable_index(spark, corpus_sdf, d, shards=1, buckets=16)

    def n_segment_files():
        return sum(f.endswith(".parquet") for _, _, fs in
                   os.walk(os.path.join(d, "segments")) for f in fs)

    # the layout exchange is data-sized (session shuffle partitions, AQE
    # coalescing): each task writes the buckets its contiguous range
    # covers, so files <= tasks + buckets
    max_files = 16 + 2 * spark.sparkContext.defaultParallelism
    assert 0 < n_segment_files() <= max_files

    key = (lambda r: (r.term, r.block_id))
    val = (lambda r: (r.n_docs, r.min_doc_id, r.max_doc_id, r.block_max_tf,
                      r.bucket, bytes(r.payload), bytes(r.pos_payload)))
    fused = {key(r): val(r) for r in
             spark.read.parquet(os.path.join(d, "segments")).collect()}
    sharded = {key(r): val(r) for r in
               spark.read.parquet(os.path.join(index_dir, "segments")).collect()}
    assert fused == sharded and fused

    # per-bucket lineage with totals and checksums
    rows = {r["step"]: r for r in catalog.lineage_rows(d)}
    seg_row = rows["segments"]
    assert seg_row["blocks"] == len(fused)
    assert seg_row["payload_bytes"] > 0 and seg_row["checksum"] > 0
    per_bucket = seg_row["bucket_lineage"]
    assert sum(b["blocks"] for b in per_bucket.values()) == len(fused)

    # kill after the stage: lose segments data + manifest, resume rebuilds
    # identically through the staged-parquet re-exchange path
    os.remove(catalog._manifest_path(d, "segments"))
    os.remove(catalog._manifest_path(d, "build_complete"))
    shutil.rmtree(os.path.join(d, "segments"))
    catalog.build_durable_index(spark, corpus_sdf, d, shards=1, buckets=16)
    resumed = {key(r): val(r) for r in
               spark.read.parquet(os.path.join(d, "segments")).collect()}
    assert resumed == fused
    assert 0 < n_segment_files() <= max_files

    # end to end: identical ranking through the loaded index
    f_idx = catalog.load_index(spark, d, documents=corpus_sdf)
    s_idx = catalog.load_index(spark, index_dir, documents=corpus_sdf)
    got = [(r.doc_id, round(r.score, 9))
           for r in S.search_freetext(f_idx, "market price growth", k=30).collect()]
    want = [(r.doc_id, round(r.score, 9))
            for r in S.search_freetext(s_idx, "market price growth", k=30).collect()]
    assert got == want and got


def test_encode_sorted_equals_encode_segments(spark, built_index):
    """The shuffle-free consecutive-run encoder over a range-partitioned,
    sorted frame emits exactly the blocks of the groupBy encoder —
    including groups that straddle Arrow batch boundaries (forced tiny
    batches)."""
    from pyspark.sql import functions as F

    post = built_index.postings.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(8)).cast("int")
    ).withColumn("block_id", (F.col("doc_id") / F.lit(64)).cast("long"))
    sorted_post = post.repartitionByRange(4, "bucket", "term", "block_id") \
        .sortWithinPartitions("bucket", "term", "block_id", "doc_id")

    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {(r.term, r.block_id): (r.n_docs, bytes(r.payload),
                                      bytes(r.pos_payload))
               for r in SEG.encode_sorted(sorted_post).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old_batch)
    want = {(r.term, r.block_id): (r.n_docs, bytes(r.payload),
                                   bytes(r.pos_payload))
            for r in SEG.encode_segments(
                built_index.postings, buckets=8, block_span=64).collect()}
    assert got == want and got


def test_merge_indexes_equals_full_build(spark, corpus_sdf, tmp_path):
    """merge_indexes(A, B) must be bit-identical (segments, stats,
    rankings) to one index built over A ∪ B — the engine's analog of the
    reference's external index merge, gated on real artifacts."""
    ids = sorted(r.doc_id for r in corpus_sdf.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    half_a = corpus_sdf.filter(F.col("doc_id") < cut)
    half_b = corpus_sdf.filter(F.col("doc_id") >= cut)

    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    dfull, dm = str(tmp_path / "full"), str(tmp_path / "merged")
    catalog.build_durable_index(spark, half_a, da, buckets=16)
    catalog.build_durable_index(spark, half_b, db, buckets=16)
    catalog.build_durable_index(spark, corpus_sdf, dfull, buckets=16)
    catalog.merge_indexes(spark, [da, db], dm)

    key = (lambda r: (r.term, r.block_id))
    val = (lambda r: (r.n_docs, r.min_doc_id, r.max_doc_id, r.block_max_tf,
                      r.bucket, bytes(r.payload), bytes(r.pos_payload)))
    merged = {key(r): val(r) for r in
              spark.read.parquet(os.path.join(dm, "segments")).collect()}
    full = {key(r): val(r) for r in
            spark.read.parquet(os.path.join(dfull, "segments")).collect()}
    assert merged == full and merged

    with open(os.path.join(dm, "stats.json")) as f:
        sm = json.load(f)
    with open(os.path.join(dfull, "stats.json")) as f:
        sf = json.load(f)
    assert {k: sm[k] for k in ("n_docs", "total_len", "avgdl")} == \
           {k: sf[k] for k in ("n_docs", "total_len", "avgdl")}

    mi = catalog.load_index(spark, dm)
    fi = catalog.load_index(spark, dfull)
    for model in ("bm25", "vsm"):
        fn = (S.search_freetext if model == "bm25"
              else __import__("search_engine_spark.operators.search",
                              fromlist=["search_vsm"]).search_vsm)
        got = [(r.doc_id, round(r.score, 9))
               for r in fn(mi, "market price growth", k=30).collect()]
        want = [(r.doc_id, round(r.score, 9))
                for r in fn(fi, "market price growth", k=30).collect()]
        assert got == want and got, model


def test_merge_indexes_validations(spark, corpus_sdf, tmp_path):
    """Overlapping doc_ids and mismatched build configs must refuse."""
    import pytest as _pt

    d1, d2, d3 = (str(tmp_path / n) for n in ("i1", "i2", "i3"))
    sub = corpus_sdf.limit(40)
    catalog.build_durable_index(spark, sub, d1, buckets=8)
    catalog.build_durable_index(spark, sub, d2, buckets=8)  # same ids
    with _pt.raises(ValueError, match="overlap"):
        catalog.merge_indexes(spark, [d1, d2], str(tmp_path / "out1"))

    other = corpus_sdf.filter(~F.col("doc_id").isin(
        [r.doc_id for r in sub.select("doc_id").collect()])).limit(40)
    catalog.build_durable_index(spark, other, d3, buckets=16)  # diff config
    with _pt.raises(ValueError, match="different build config"):
        catalog.merge_indexes(spark, [d1, d3], str(tmp_path / "out2"))


def test_term_bloom_filter_mechanism(spark, tmp_path):
    """catalog.TERM_BLOOM materializes parquet bloom filters exactly
    when a chunk's vocabulary outgrows dictionary encoding: a
    high-cardinality term column grows by bloom bytes (bounded by
    max.bytes per chunk), a few-term one by a bloom sized to its terms,
    a dictionary-friendly one stays byte-free, and reads with pushed
    equality filters return identical rows.
    Every index build goes through writers that apply TERM_BLOOM, so
    the existing lookup-parity suites already run against bloom-built
    stores; this test pins the option set itself against drift."""
    import glob as _glob
    import os as _os

    def size(d):
        return sum(_os.path.getsize(f)
                   for f in _glob.glob(f"{d}/*.parquet"))

    high = spark.range(200000).selectExpr(
        "md5(cast(id as string)) AS term", "id").coalesce(1)
    p_plain, p_bloom = str(tmp_path / "plain"), str(tmp_path / "bloom")
    high.write.mode("overwrite").parquet(p_plain)
    high.write.options(**catalog.TERM_BLOOM).mode("overwrite") \
        .parquet(p_bloom)
    delta = size(p_bloom) - size(p_plain)
    assert 0 < delta <= 300 * 1024, delta  # bloom present, size-bounded

    low = spark.range(50000).selectExpr("concat('t', id % 100) AS term") \
        .coalesce(1)
    l_plain, l_bloom = str(tmp_path / "lplain"), str(tmp_path / "lbloom")
    low.write.mode("overwrite").parquet(l_plain)
    low.write.options(**catalog.TERM_BLOOM).mode("overwrite") \
        .parquet(l_bloom)
    assert size(l_bloom) == size(l_plain)  # dictionary chunk: zero cost

    # a few unique terms (a small segment file: one row per term, so the
    # chunk leaves dictionary encoding): the adaptive bloom is sized to
    # the chunk's distinct terms, not to the 128 KiB cap
    few = spark.range(4).selectExpr("md5(cast(id as string)) AS term", "id") \
        .coalesce(1)
    f_plain, f_bloom = str(tmp_path / "fplain"), str(tmp_path / "fbloom")
    few.write.mode("overwrite").parquet(f_plain)
    few.write.options(**catalog.TERM_BLOOM).mode("overwrite") \
        .parquet(f_bloom)
    assert 0 < size(f_bloom) - size(f_plain) <= 4 * 1024

    probe = spark.range(5).selectExpr("md5(cast(id as string)) AS term")
    got = (spark.read.parquet(p_bloom)
           .join(probe, "term", "left_semi").count())
    assert got == 5  # pushed-filter reads see every row through the bloom


def test_ef_codec_index_rank_identical(spark, corpus_sdf, tmp_path,
                                       index_dir):
    """block_codec='ef' builds a byte-different, SMALLER segment store
    whose WAND and MaxScore results are rank-identical to the default
    varint index — payloads self-describe (0x00 tag), so every reader
    works unchanged."""
    from search_engine_spark.operators import maxscore as MS
    from search_engine_spark.operators import wand

    d = str(tmp_path / "efidx")
    catalog.build_durable_index(spark, corpus_sdf, d, shards=2, buckets=16,
                                block_span=16, block_codec="ef")
    ef_idx = catalog.load_index(spark, d)
    vb_idx = catalog.load_index(spark, index_dir)
    for q in ("market price", "germany economy china", "market"):
        ef_w = wand.search_wand(ef_idx, q, k=20)
        vb_w = wand.search_wand(vb_idx, q, k=20)
        assert [x for x, _ in ef_w] == [x for x, _ in vb_w], q
        for (_, a), (_, b) in zip(ef_w, vb_w):
            assert a == pytest.approx(b, abs=1e-9)
        ef_m = MS.search_maxscore(ef_idx, q, k=20)
        assert [x for x, _ in ef_m] == [x for x, _ in ef_w], q
    # size claims live in test_codec.test_ef_beats_varint_on_dense_blocks
    # at realistic block occupancy; this fixture's span-16 blocks are
    # header-dominated for EITHER codec and prove only identity
    shutil.rmtree(d, ignore_errors=True)


def test_bad_block_codec_refused(spark, corpus_sdf, tmp_path):
    with pytest.raises(ValueError, match="block_codec"):
        SEG.encode_segments(
            spark.createDataFrame([(1, "t", 1)], "doc_id long, term string, tf long"),
            block_codec="zstd").count()
