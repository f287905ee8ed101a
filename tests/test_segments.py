"""Segment layer: the reference block encoder's round-trip through
Spark, durable build, kill-resume identity, pruned lookup parity,
block-max metadata sanity, and the kernel's blocks read from the staged
postings."""

import json
import os

import pytest
from pyspark.sql import functions as F

from search_engine_spark import codec
from search_engine_spark.operators import maxscore as MS
from search_engine_spark.operators import search as S
from search_engine_spark.operators import segments as SEG
from search_engine_spark.sources import catalog


def kernel_blocks(idx) -> dict:
    """{(term, block_id): (n_docs, block_max_tf, docs, *values)} of
    every vocabulary term, as the serving kernel fetches them (uncapped,
    plain lists)."""
    terms = [r.term for r in idx.term_stats.select("term").collect()]
    return {(b.term, b.block_id): (b.n_docs, b.block_max_tf, b.docs.tolist(),
                                   *(v.tolist() for v in b.values))
            for _, blks, _ in idx._fetch_blocks(terms, None).values()
            for b in blks}


def kernel_view(d) -> dict:
    """The segments row's per-bucket (blocks, postings, checksum): the
    kernel view's content, without the byte count that depends on how
    the files split."""
    row = next(r for r in catalog.lineage_rows(d) if r["step"] == "segments")
    return {b: (v["blocks"], v["postings"], v["checksum"])
            for b, v in row["bucket_lineage"].items()}


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, spark, corpus_sdf):
    d = str(tmp_path_factory.mktemp("segidx") / "index")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=16)
    return d


def test_segment_roundtrip(built_index, spark):
    """Encoded blocks, collected and decoded as the serving kernel
    decodes them (codec.decode_block_full), give back every posting's
    tf and dl."""
    seg = SEG.encode_segments(built_index.postings, buckets=8, block_span=64)
    want = {
        (r.term, r.doc_id): (r.tf, r.dl)
        for r in built_index.postings.collect()
    }
    got = {}
    for r in seg.collect():
        docs, tfs, dls = codec.decode_block_full(bytes(r.payload))
        for d, tf, dl in zip(docs, tfs, dls):
            got[(r.term, int(d))] = (int(tf), int(dl))
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


@pytest.fixture(scope="module")
def impact_dir(tmp_path_factory, spark, index_dir):
    return catalog.quantize_index(
        spark, index_dir, str(tmp_path_factory.mktemp("segimpact") / "q"))


@pytest.mark.parametrize("store", ["tf", "impact"])
def test_pruned_lookup_parity(spark, request, store, built_index):
    """A durable lookup returns the in-memory index's rows, with
    positions and without, on a tf store and on its quantized store
    (which reads its source's staged postings)."""
    d = request.getfixturevalue(
        {"tf": "index_dir", "impact": "impact_dir"}[store])
    idx = catalog.load_index(spark, d)
    assert idx.store == store
    for positional in (False, True):
        got = idx.lookup(["market", "germani"], positional=positional).collect()
        want = built_index.lookup(["market", "germani"], positional=positional).collect()
        key = (lambda r: (r.term, r.doc_id))
        assert sorted([tuple(r) for r in got]) == sorted([tuple(r) for r in want])


def test_lineage_complete(index_dir):
    """The segments row's per-bucket lineage sums to its totals."""
    rows = {r["step"]: r for r in catalog.lineage_rows(index_dir)}
    assert "build_complete" in rows
    seg = rows["segments"]
    assert seg["blocks"] > 0 and seg["payload_bytes"] > 0
    assert "checksum" in seg and "duration_sec" in seg
    per_bucket = seg["bucket_lineage"].values()
    for k in ("blocks", "postings", "payload_bytes", "checksum"):
        assert sum(b[k] for b in per_bucket) == seg[k], k


def test_kill_resume_identity(spark, corpus_sdf, tmp_path):
    """Simulate a crash after the staged postings and doc stats: lose the
    segments and term_stats manifests; the resumed build must record the
    same kernel view (and serve the same blocks) without re-running the
    completed steps."""
    d = str(tmp_path / "index2")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=16)
    ref = kernel_blocks(catalog.load_index(spark, d))
    before = {r["step"]: r for r in catalog.lineage_rows(d)}

    for step in ("segments", "term_stats", "build_complete"):
        os.remove(catalog._manifest_path(d, step))

    catalog.build_durable_index(spark, corpus_sdf, d, buckets=16)
    assert kernel_blocks(catalog.load_index(spark, d)) == ref and ref
    after_seg = {r["step"]: r for r in catalog.lineage_rows(d)}["segments"]
    for k in ("blocks", "postings", "payload_bytes", "checksum",
              "bucket_lineage"):
        assert after_seg[k] == before["segments"][k], k

    # completed steps were NOT re-run (manifest ts preserved)
    after = {r["step"]: r for r in catalog.lineage_rows(d)}
    for step in ("postings_stage", "doc_stats"):
        assert after[step]["ts"] == before[step]["ts"], step
    assert after["segments"]["ts"] > before["segments"]["ts"]


def test_block_max_consistency(spark, index_dir):
    with open(os.path.join(index_dir, "stats.json")) as f:
        n_docs = json.load(f)["n_docs"]
    # upper bound must dominate every actual BM25 weight in the block
    idx = catalog.load_index(spark, index_dir)
    ts = {r.term: r.df for r in idx.term_stats.collect()}
    head = sorted(ts, key=lambda t: (-ts[t], t))[:5]
    some = [b for _, blks in idx.mini_index(head).values() for b in blks]
    import tests.oracle as O
    dl_map = {r.doc_id: r.dl for r in idx.doc_stats.collect()}
    avgdl = idx.stats["avgdl"]
    assert some
    for blk in some:
        ub = SEG.bm25_upper_bound(ts[blk.term], n_docs, blk.block_max_tf)
        docs, (tfs, _) = blk.docs, blk.values
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


def test_resume_rejects_changed_build_config(spark, corpus_sdf, tmp_path):
    """A resume with a different analyzer/block_span must refuse instead
    of silently mixing incompatible artifacts into one index."""
    import pytest as _pt

    from search_engine_spark.functions.analyzer import AnalyzerConfig

    d = str(tmp_path / "idx")
    catalog.build_durable_index(spark, corpus_sdf.limit(30), d,
                                buckets=8, block_span=64)
    with _pt.raises(ValueError, match="DIFFERENT build config"):
        catalog.build_durable_index(spark, corpus_sdf.limit(30), d,
                                    buckets=8, block_span=128)
    with _pt.raises(ValueError, match="DIFFERENT build config"):
        catalog.build_durable_index(spark, corpus_sdf.limit(30), d,
                                    buckets=8, block_span=64,
                                    conf=AnalyzerConfig.simple())
    # same config: resume is a clean no-op
    catalog.build_durable_index(spark, corpus_sdf.limit(30), d,
                                buckets=8, block_span=64)


def test_fused_build_matches_sharded(spark, index_dir):
    """The build writes its one postings table in few files, and its
    segments row records exactly the per-bucket blocks and postings of
    the reference groupBy encoder (SEG.encode_segments) over the same
    staged postings."""
    # the layout exchange is data-sized (session shuffle partitions, AQE
    # coalescing): each task writes the buckets its contiguous range
    # covers, so files <= tasks + buckets
    max_files = 16 + 2 * spark.sparkContext.defaultParallelism
    assert 0 < _parquet_files(os.path.join(index_dir, "postings_stage")) \
        <= max_files
    assert not os.path.exists(os.path.join(index_dir, "segments"))

    staged = spark.read.parquet(os.path.join(index_dir, "postings_stage"))
    ref = {str(r.bucket): (r.blocks, r.postings) for r in SEG.encode_segments(
        staged, buckets=16, block_span=SEG.DEFAULT_BLOCK_SPAN)
        .groupBy("bucket").agg(F.count("*").alias("blocks"),
                               F.sum("n_docs").alias("postings")).collect()}
    got = {b: v[:2] for b, v in kernel_view(index_dir).items()}
    assert got == ref and got


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

    assert kernel_view(dm) == kernel_view(dfull)
    merged = kernel_blocks(catalog.load_index(spark, dm))
    assert merged == kernel_blocks(catalog.load_index(spark, dfull)) \
        and merged

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


def _segment_rows(spark, d):
    """The kernel view of ``d``: its segments row and its blocks."""
    return kernel_view(d), kernel_blocks(catalog.load_index(spark, d))


def _parquet_files(table_dir):
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(table_dir)
               for f in fs)


def _stage_buckets(d):
    return {r["step"]: r for r in catalog.lineage_rows(d)}[
        "postings_stage"]["buckets"]


def test_default_build_sizes_buckets(spark, corpus_sdf, tmp_path):
    """A default build sizes B to its postings — min(64, ceil(postings /
    POSTINGS_PER_BUCKET)) — and records it in the postings_stage row and
    stats.json (the build_config row keeps the request, None); each
    bucket-partitioned table then writes at most B + 2 x
    defaultParallelism files. An explicit count is kept as given."""
    d = str(tmp_path / "sized")
    catalog.build_durable_index(spark, corpus_sdf, d)
    rows = {r["step"]: r for r in catalog.lineage_rows(d)}
    want = min(64, -(-rows["segments"]["postings"]
                     // SEG.POSTINGS_PER_BUCKET))
    assert rows["postings_stage"]["buckets"] == want
    assert rows["postings_stage"]["rows"] == rows["segments"]["postings"]
    assert rows["build_config"]["config"]["buckets"] is None
    with open(os.path.join(d, "stats.json")) as f:
        assert json.load(f)["buckets"] == want
    assert rows["build_complete"]["buckets"] == want
    most = want + 2 * spark.sparkContext.defaultParallelism
    assert 0 < _parquet_files(os.path.join(d, "postings_stage")) <= most

    e = str(tmp_path / "explicit")
    catalog.build_durable_index(spark, corpus_sdf.limit(40), e, buckets=3)
    assert _stage_buckets(e) == 3
    with open(os.path.join(e, "stats.json")) as f:
        assert json.load(f)["buckets"] == 3
    assert {r.bucket for r in spark.read.parquet(
        os.path.join(e, "postings_stage")).select("bucket").distinct()
        .collect()} == {0, 1, 2}
    assert set(kernel_view(e)) == {"0", "1", "2"}


def test_sized_buckets_serve_and_resume(spark, corpus_sdf, built_index,
                                        tmp_path, monkeypatch):
    """With POSTINGS_PER_BUCKET small, a default build spreads over
    several buckets and its lookups still equal the in-memory index's
    rows; a build killed after postings_stage resumes with the recorded
    B even when the rule would now size it differently."""
    monkeypatch.setattr(SEG, "POSTINGS_PER_BUCKET", 1000)
    d = str(tmp_path / "multi")
    catalog.build_durable_index(spark, corpus_sdf, d)
    b = _stage_buckets(d)
    assert b > 1
    idx = catalog.load_index(spark, d)
    assert idx.meta["buckets"] == b
    terms = ["market", "germani", "price"]
    for positional in (False, True):
        got = sorted(tuple(r) for r in
                     idx.lookup(terms, positional=positional).collect())
        want = sorted(tuple(r) for r in built_index.lookup(
            terms, positional=positional).collect())
        assert got == want and got
    ref = _segment_rows(spark, d)

    for step in ("segments", "stats", "term_stats", "vsm_norms",
                 "build_complete"):
        os.remove(catalog._manifest_path(d, step))
    os.remove(os.path.join(d, "stats.json"))
    monkeypatch.setattr(SEG, "POSTINGS_PER_BUCKET", 100_000)
    catalog.build_durable_index(spark, corpus_sdf, d)
    assert _segment_rows(spark, d) == ref
    with open(os.path.join(d, "stats.json")) as f:
        assert json.load(f)["buckets"] == b


def test_merge_sized_indexes_equals_full_build(spark, corpus_sdf, tmp_path,
                                               built_index, monkeypatch):
    """Default-bucket merge: two parts whose sized bucket counts differ
    merge into exactly the fresh sized build of their union (segment
    rows, doc and term stats, rankings)."""
    ids = sorted(r.doc_id for r in corpus_sdf.select("doc_id").collect())
    cut = ids[len(ids) // 3]
    part_a = corpus_sdf.filter(F.col("doc_id") < cut)
    part_b = corpus_sdf.filter(F.col("doc_id") >= cut)
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    dfull, dm = str(tmp_path / "full"), str(tmp_path / "merged")
    total = built_index.postings.count()
    monkeypatch.setattr(SEG, "POSTINGS_PER_BUCKET", -(-total // 7))
    catalog.build_durable_index(spark, corpus_sdf, dfull)
    catalog.build_durable_index(spark, part_a, da)
    catalog.build_durable_index(spark, part_b, db)
    assert len({_stage_buckets(x) for x in (da, db, dfull)}) == 3
    catalog.merge_indexes(spark, [da, db], dm)

    assert _stage_buckets(dm) == _stage_buckets(dfull) == 7
    assert _segment_rows(spark, dm) == _segment_rows(spark, dfull)
    mi, fi = catalog.load_index(spark, dm), catalog.load_index(spark, dfull)
    assert mi.meta == fi.meta
    for table in ("doc_stats", "term_stats"):
        assert sorted(map(tuple, getattr(mi, table).collect())) == \
            sorted(map(tuple, getattr(fi, table).collect())), table
    q = "market price growth"
    got = [(r.doc_id, round(r.score, 9))
           for r in S.search_freetext(mi, q, k=30).collect()]
    want = [(r.doc_id, round(r.score, 9))
            for r in S.search_freetext(fi, q, k=30).collect()]
    assert got == want and got
    assert MS.search_maxscore(mi, q, k=10) == MS.search_maxscore(fi, q, k=10)


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
    catalog.build_durable_index(spark, other, d3, buckets=8,
                                block_span=64)  # diff config
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


def _chunks(root):
    """(relative file, column path, compression, has min/max) of every
    column chunk in every parquet file under ``root``."""
    import glob as _glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(_glob.glob(f"{root}/**/*.parquet", recursive=True)):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(g).column(c)
                st = col.statistics
                out.append((os.path.relpath(f, root), col.path_in_schema,
                            col.compression,
                            st is not None and st.has_min_max))
    return out


def _assert_write_policy(chunks):
    assert chunks
    assert {c[2] for c in chunks} == {"ZSTD"}, \
        sorted({(c[0].split(os.sep)[0], c[2]) for c in chunks})
    blobs = [c for c in chunks if c[1] == "payload"]
    assert not [c for c in blobs if c[3]], "min/max on a varint blob column"
    terms = [c for c in chunks if c[1] == "term"]
    assert terms and all(c[3] for c in terms), "term chunks lost min/max"
    return blobs, terms


def test_index_files_follow_write_policy(seg_index_dir):
    """Every parquet file of a built index carries catalog.WRITE_POLICY:
    zstd pages and min/max kept on ``term`` (the column the Arrow miss
    read and Spark's row-group filter prune on); no table has an opaque
    payload column any more."""
    blobs, terms = _assert_write_policy(_chunks(seg_index_dir))
    tables = {c[0].split(os.sep)[0] for c in terms}
    assert {"postings_stage", "term_stats"} <= tables
    assert "segments" not in tables and blobs == []


def test_snappy_index_opens_resumes_and_vacuums(spark, corpus_sdf, tmp_path,
                                                monkeypatch):
    """An index written before the write policy (snappy pages) needs no
    migration: parquet records the codec per file, so it serves, a
    resumed build re-derives its segments row from the snappy staged
    postings, and a vacuum reads all of its side tables."""
    def segs(d):
        return kernel_blocks(catalog.load_index(spark, d))

    def codecs(d, table):
        return {c[2] for c in _chunks(os.path.join(d, table))}

    d = str(tmp_path / "snappy")
    monkeypatch.setattr(catalog, "WRITE_POLICY", {"compression": "snappy"})
    catalog.build_durable_index(spark, corpus_sdf.limit(40), d, buckets=4,
                                block_span=16)
    monkeypatch.undo()
    assert codecs(d, "postings_stage") == {"SNAPPY"}
    ref = segs(d)
    q = "connect trading market"
    hits = MS.search_maxscore(catalog.load_index(spark, d), q, k=10)
    assert ref and hits

    view = kernel_view(d)
    for step in ("segments", "build_complete"):
        os.remove(catalog._manifest_path(d, step))
    catalog.build_durable_index(spark, corpus_sdf.limit(40), d, buckets=4,
                                block_span=16)
    assert segs(d) == ref and kernel_view(d) == view
    assert codecs(d, "postings_stage") == {"SNAPPY"}
    assert MS.search_maxscore(catalog.load_index(spark, d), q, k=10) == hits

    out = catalog.vacuum_index(spark, d, str(tmp_path / "vacuumed"))
    assert segs(out) == ref
    assert codecs(out, "doc_stats") == {"ZSTD"}
    assert MS.search_maxscore(catalog.load_index(spark, out), q,
                              k=10) == hits


@pytest.mark.parametrize("partition_by", [None, "bucket"])
def test_write_table_applies_policy(spark, tmp_path, partition_by):
    """catalog._write_table over a tiny segment-shaped frame, with and
    without a partition column: the rows round-trip and the files carry
    the write policy."""
    rows = [(f"t{i:02d}", i % 2, i, bytes([1 + i, 2, 3]) * (i + 1))
            for i in range(20)]
    df = spark.createDataFrame(
        rows, "term string, bucket int, block_id long, payload binary")
    out = str(tmp_path / "t")
    catalog._write_table(df.coalesce(1), out, partition_by=partition_by,
                         bloom=True)
    _assert_write_policy(_chunks(out))
    got = sorted(tuple(r) for r in spark.read.parquet(out)
                 .select("term", "bucket", "block_id", "payload")
                 .collect())
    assert got == sorted((t, b, k, bytearray(p)) for t, b, k, p in rows)


def test_json_commit_is_atomic(tmp_path, monkeypatch):
    """stats.json, the artifact metadata and every manifest row commit
    through one temp-file + os.replace helper: when json.dump fails
    mid-write, the previous file stays intact and no partial file (or
    temp) is left behind."""
    import json

    path = tmp_path / "stats.json"
    catalog._write_json(str(path), {"n_docs": 1})
    real_dump = json.dump

    def torn(obj, f):
        f.write('{"n_docs": ')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn)
    with pytest.raises(OSError, match="disk full"):
        catalog._write_json(str(path), {"n_docs": 2})
    with pytest.raises(OSError, match="disk full"):
        catalog._record(str(tmp_path), "stats")
    monkeypatch.setattr(json, "dump", real_dump)
    assert json.loads(path.read_text()) == {"n_docs": 1}
    assert sorted(p.name for p in tmp_path.rglob("*") if p.is_file()) \
        == ["stats.json"]
