"""Durable index catalog: Iceberg-layout segment writer with per-shard
lineage and resumable checkpoints (BASELINE.json north rule).

Layout (parquet in this sandbox; every decision is Iceberg-shaped — a
catalog with the Iceberg runtime jar would swap the ``.write.parquet``
calls for ``writeTo(...).using("iceberg")`` without touching the plan):

    index_dir/
      stats.json                 corpus scalars + build config
      postings_stage/            postings parquet, partitioned by bucket
      doc_stats/  term_stats/    parquet side tables
      segments/bucket=B/         encoded blocks (default fused build;
                                 shards>1 adds a shard=K level above it)
      manifest/<step>.json       one lineage row per completed step, with
                                 per-bucket (fused) or per-shard detail

Resume semantics: each step writes its data, then atomically records a
manifest entry (rows, bytes, checksum, duration). A re-run skips every
step whose manifest entry exists — the anti-join of "work" against
"lineage" from the north rule, realized as a driver-side loop over
independent Spark jobs so a kill between any two steps loses at most one
shard's work. tests/test_segments.py kills mid-build and asserts the
resumed index is identical.
"""

from __future__ import annotations

import json
import math
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analyzer import AnalyzerConfig
from ..operators import postings as P
from ..operators import segments as SEG
from ..operators.search import InvertedIndex


#: parquet bloom filters on the term column of every term-addressed
#: table: a term-IN lookup then skips row groups whose min/max range
#: covers the term but whose chunk does not contain it (the gap min/max
#: stats cannot close once a row group spans a wide vocabulary range).
#: parquet-mr materializes the bloom whenever a chunk leaves dictionary
#: encoding, which segment chunks always do (one row per (term, block)).
#: Adaptive mode sizes each bloom to the chunk's distinct terms (the
#: smallest of 12 halving candidates up to the 128 KiB cap): a 4-term
#: segment file pays ~1 KiB. parquet-mr reads adaptive.enabled only as
#: a global key, and an explicit expected.ndv would turn it off.
TERM_BLOOM = {
    "parquet.bloom.filter.enabled#term": "true",
    "parquet.bloom.filter.adaptive.enabled": "true",
    "parquet.bloom.filter.candidates.number#term": "12",
    "parquet.bloom.filter.max.bytes": str(128 * 1024),
}


def range_layout(df: DataFrame, *keys: str, tiebreak: str | None = None
                 ) -> DataFrame:
    """The index build's one layout exchange: range-partition on
    ``keys``, then sort each partition by ``keys`` (and ``tiebreak``).
    The partition count is the session's shuffle partitions, which AQE
    may coalesce, so small inputs run few tasks and write few files.
    Equal keys land whole in one partition, and coalescing only merges
    neighbouring ranges, so each key's rows stay one consecutive run
    (the invariant ``SEG.encode_sorted`` scans for)."""
    order = keys + ((tiebreak,) if tiebreak else ())
    return df.repartitionByRange(*keys).sortWithinPartitions(*order)


def _manifest_path(index_dir: str, step: str) -> str:
    return os.path.join(index_dir, "manifest", f"{step}.json")


def _record(index_dir: str, step: str, **info) -> None:
    os.makedirs(os.path.join(index_dir, "manifest"), exist_ok=True)
    tmp = _manifest_path(index_dir, step) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"step": step, "ts": time.time(), **info}, f)
    os.replace(tmp, _manifest_path(index_dir, step))  # atomic commit


def _done(index_dir: str, step: str) -> bool:
    return os.path.exists(_manifest_path(index_dir, step))


def build_durable_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    conf: AnalyzerConfig = AnalyzerConfig.full(),
    buckets: int = SEG.DEFAULT_BUCKETS,
    block_span: int = SEG.DEFAULT_BLOCK_SPAN,
    shards: int = 1,
    positional: bool = True,
    resume: bool = True,
    block_codec: str = "vb",
) -> str:
    """Build (or resume building) the segment index under ``index_dir``.

    ``shards=1`` (default) is the FUSED path: one range exchange lays the
    postings out by (bucket, term, block_id); the staged postings table,
    the encoded segments, doc/term stats and VSM norms are all derived
    from that one sorted, persisted exchange — the segment encode is a
    shuffle-free mapInPandas over it (``SEG.encode_sorted``). Lineage is
    per BUCKET (finer than the old per-shard rows). ``shards>1`` keeps
    the per-shard encode jobs (each its own exchange + manifest) for
    bounded re-work on driver loss mid-encode; the fused path's resume
    granularity is the whole segments step, re-derived from the staged
    parquet with one fresh exchange."""
    if not resume and os.path.exists(os.path.join(index_dir, "manifest")):
        import shutil
        shutil.rmtree(index_dir)
    os.makedirs(os.path.join(index_dir, "manifest"), exist_ok=True)

    # Resume must re-run with the SAME build config: skipping completed
    # steps while e.g. the analyzer or block_span changed would mix
    # incompatible artifacts (stats.json would claim the new analyzer
    # against old-analyzer tokens; mixed block spans break WAND's
    # same-block-id-covers-same-doc-range invariant). The config commits
    # to the manifest up front and every re-run validates against it.
    config = {
        "buckets": buckets, "block_span": block_span, "shards": shards,
        "positional": positional, "block_codec": block_codec,
        "analyzer": {"lowercase": conf.lowercase,
                     "remove_stopwords": conf.remove_stopwords,
                     "stem": conf.stem},
    }
    cfg_path = os.path.join(index_dir, "manifest", "build_config.json")
    if os.path.exists(cfg_path):
        with open(cfg_path) as f:
            prev = json.load(f).get("config")
        if prev is not None:
            # indexes recorded before the codec knob existed are varint
            prev.setdefault("block_codec", "vb")
        if prev != config:
            raise ValueError(
                f"resume of {index_dir} with a DIFFERENT build config "
                f"(recorded {prev}, requested {config}) would mix "
                "incompatible artifacts — pass resume=False to rebuild")
    else:
        _record(index_dir, "build_config", config=config)

    from pyspark import StorageLevel

    stage_dir = os.path.join(index_dir, "postings_stage")
    # the fused path's sorted exchange output, persisted for the session:
    # segments/doc_stats/term_stats/vsm_norms all read it cache-hit
    sorted_post: DataFrame | None = None
    post_cache: DataFrame | None = None
    if not _done(index_dir, "postings_stage"):
        t0 = time.perf_counter()
        post = P.build_postings(docs, conf, positional=positional).withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int")
        ).withColumn(
            "block_id",
            (F.col("doc_id") / F.lit(block_span)).cast("long"))
        # Range-partition on (bucket, term, block_id) before the
        # partitionBy write. Four birds: (1) without a pre-partition,
        # every task writes into every bucket dir — file count scales as
        # tasks x buckets and commit overhead WORSENS with more cores;
        # (2) a plain hash repartition(buckets) makes one task per
        # bucket, and Zipf head-term buckets become stragglers that cap
        # scaling — range sampling balances them, and block_id lets one
        # huge term split across tasks in doc-partitioned-block units
        # (the skew handling of the north rule: a key's rows are bounded
        # by block occupancy ≤ block_span); (3) sortWithinPartitions
        # gives term-ordered files whose parquet min/max term stats prune
        # term lookups (the word2byte analog); (4) equal (bucket, term,
        # block_id) keys form one consecutive run (range_layout).
        # persist pre-exchange too: repartitionByRange runs a boundary-
        # SAMPLING job that would otherwise re-execute the whole analysis
        # pipeline (extract+tokenize+stem UDFs) a second time
        post_cache = post.persist(StorageLevel.MEMORY_AND_DISK)
        sorted_post = range_layout(post_cache, "bucket", "term", "block_id",
                                   tiebreak="doc_id") \
            .persist(StorageLevel.MEMORY_AND_DISK)
        # block_id is derivable (doc_id // block_span) — keep the staged
        # files free of it so readers of postings_stage see the plain
        # postings schema
        try:
            sorted_post.drop("block_id").write.mode("overwrite") \
                .options(**TERM_BLOOM) \
                .partitionBy("bucket").parquet(stage_dir)
            n = sorted_post.count()  # cache hit — no parquet re-read job
        except BaseException:
            sorted_post.unpersist()
            raise
        finally:
            post_cache.unpersist()   # its rows live on in sorted_post
            post_cache = None
        _record(index_dir, "postings_stage", rows=n,
                duration_sec=round(time.perf_counter() - t0, 3))

    def _build_doc_stats() -> None:
        if _done(index_dir, "stats"):
            return
        if not _done(index_dir, "doc_stats"):
            # dl already rides on every posting row — deriving doc_stats
            # from the staged postings avoids a SECOND full tokenization
            # pass; docs that produced no tokens are re-added with dl=0
            t0 = time.perf_counter()
            st = _staged()
            ds = st.select("doc_id", "dl").distinct()
            empties = docs.select("doc_id").join(
                ds.select("doc_id"), "doc_id", "left_anti"
            ).withColumn("dl", F.lit(0))
            ds.unionByName(empties).write.mode("overwrite") \
                .parquet(os.path.join(index_dir, "doc_stats"))
            _record(index_dir, "doc_stats",
                    duration_sec=round(time.perf_counter() - t0, 3))
        dsr = spark.read.parquet(os.path.join(index_dir, "doc_stats"))
        row = dsr.agg(F.count("*").alias("n"), F.sum("dl").alias("t")).collect()[0]
        stats = {
            "n_docs": row["n"], "total_len": int(row["t"] or 0),
            "avgdl": (row["t"] / row["n"]) if row["n"] else 0.0,
            "buckets": buckets, "block_span": block_span,
            "positional": positional, "shards": shards,
            "analyzer": {"lowercase": conf.lowercase,
                         "remove_stopwords": conf.remove_stopwords,
                         "stem": conf.stem},
        }
        with open(os.path.join(index_dir, "stats.json"), "w") as f:
            json.dump(stats, f)
        _record(index_dir, "stats")

    def _build_term_stats() -> None:
        if _done(index_dir, "term_stats"):
            return
        t0 = time.perf_counter()
        P.term_stats(_staged()).write.mode("overwrite") \
            .options(**TERM_BLOOM) \
            .parquet(os.path.join(index_dir, "term_stats"))
        _record(index_dir, "term_stats",
                duration_sec=round(time.perf_counter() - t0, 3))

    def _build_vsm_norms() -> None:
        # per-doc VSM norms are a BUILD artifact (the reference
        # precomputes them the same way, vsm_model.py:44-54): computing
        # them lazily would re-aggregate the full postings table once per
        # session on the first VSM query. Depends on stats + term_stats,
        # so runs after the concurrent pool.
        if _done(index_dir, "vsm_norms"):
            return
        t0 = time.perf_counter()
        from ..operators.search import vsm_norms_frame

        with open(os.path.join(index_dir, "stats.json")) as f:
            n = json.load(f)["n_docs"]
        vsm_norms_frame(
            _staged(),
            spark.read.parquet(os.path.join(index_dir, "term_stats")), n,
        ).write.mode("overwrite").parquet(os.path.join(index_dir, "vsm_norms"))
        _record(index_dir, "vsm_norms",
                duration_sec=round(time.perf_counter() - t0, 3))

    def _staged() -> DataFrame:
        # the live sorted exchange when this session just produced it
        # (cache hit, plain postings schema), else the staged parquet
        if sorted_post is not None:
            return sorted_post.drop("block_id")
        return spark.read.parquet(stage_dir)

    def _build_segments_fused() -> None:
        if _done(index_dir, "segments"):
            return
        t0 = time.perf_counter()
        if sorted_post is not None:
            src = sorted_post
        else:
            # resume: the consecutive-run invariant must be
            # re-established — parquet re-reads split/coalesce files
            # arbitrarily, so pay one fresh exchange
            src = range_layout(spark.read.parquet(stage_dir).withColumn(
                "block_id",
                (F.col("doc_id") / F.lit(block_span)).cast("long")),
                "bucket", "term", "block_id", tiebreak="doc_id")
        seg = SEG.encode_sorted(src, positional=positional,
                                block_codec=block_codec) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        out = os.path.join(index_dir, "segments")
        try:
            # encode partitions each cover a narrow contiguous (bucket,
            # term) range, so this write touches 1-2 bucket dirs per task
            # and files stay term-sorted for min/max pruning
            seg.sortWithinPartitions("bucket", "term", "block_id") \
                .write.mode("overwrite").options(**TERM_BLOOM) \
                .partitionBy("bucket").parquet(out)
            # per-BUCKET lineage from the persisted frame (cache hit) —
            # identical rows to the files just written, no re-read job
            lin = seg.groupBy("bucket").agg(
                F.count("*").alias("blocks"),
                F.sum("n_docs").alias("postings"),
                F.sum(F.length("payload")).alias("payload_bytes"),
                F.sum(F.crc32(F.col("payload"))).alias("checksum"),
            ).collect()
        finally:
            seg.unpersist()
        per_bucket = {str(r["bucket"]): {
            "blocks": r["blocks"], "postings": int(r["postings"] or 0),
            "payload_bytes": int(r["payload_bytes"] or 0),
            "checksum": int(r["checksum"] or 0)} for r in lin}
        _record(index_dir, "segments",
                blocks=sum(r["blocks"] for r in lin),
                postings=sum(int(r["postings"] or 0) for r in lin),
                payload_bytes=sum(int(r["payload_bytes"] or 0) for r in lin),
                checksum=sum(int(r["checksum"] or 0) for r in lin),
                bucket_lineage=per_bucket,
                duration_sec=round(time.perf_counter() - t0, 3))

    per_shard = math.ceil(buckets / shards)

    def _build_shard(k: int) -> None:
        step = f"segments_shard_{k}"
        if _done(index_dir, step):
            return
        t0 = time.perf_counter()
        lo, hi = k * per_shard, min((k + 1) * per_shard, buckets)
        part = _staged().filter(
            (F.col("bucket") >= lo) & (F.col("bucket") < hi))
        seg = SEG.encode_segments(part, buckets=buckets, block_span=block_span,
                                  positional=positional,
                                  block_codec=block_codec)
        out = os.path.join(index_dir, "segments", f"shard={k}")
        from pyspark import StorageLevel
        seg = seg.persist(StorageLevel.MEMORY_AND_DISK)  # sampling reuse
        try:
            range_layout(seg, "bucket", "term", "block_id") \
                .write.mode("overwrite").options(**TERM_BLOOM) \
                .partitionBy("bucket").parquet(out)
            # lineage from the persisted frame (cache hit) — identical rows
            # to the files just written, no re-read job
            lineage = seg.agg(
            F.count("*").alias("blocks"),
            F.sum("n_docs").alias("postings"),
            F.sum(F.length("payload")).alias("payload_bytes"),
            F.sum(F.crc32(F.col("payload"))).alias("checksum"),
            ).collect()[0]
        finally:
            seg.unpersist()
        _record(index_dir, step, bucket_lo=lo, bucket_hi=hi,
                blocks=lineage["blocks"], postings=int(lineage["postings"] or 0),
                payload_bytes=int(lineage["payload_bytes"] or 0),
                checksum=int(lineage["checksum"] or 0),
                duration_sec=round(time.perf_counter() - t0, 3))

    try:
        if shards > 1:
            # bounded-rework sharded path: stats + shards concurrently so
            # the scheduler backfills one job's commit/tail with another's
            # tasks (Spark FIFO interleaves jobs from multiple submitter
            # threads). Failures propagate; completed steps keep their
            # manifests (resume).
            from concurrent.futures import ThreadPoolExecutor

            tasks = [(_build_doc_stats, ()), (_build_term_stats, ())] + [
                (_build_shard, (k,)) for k in range(shards)
            ]
            workers = min(6, len(tasks))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                futures = [pool.submit(fn, *args) for fn, args in tasks]
                for f in futures:
                    f.result()
        else:
            # fused path: each of these jobs saturates the cluster on its
            # own (the encode is a map-only scan of the cached exchange),
            # so they run serially — measured on 2 vs 8 cores, concurrent
            # submission only added contention here
            _build_segments_fused()
            _build_doc_stats()
            _build_term_stats()

        _build_vsm_norms()  # needs stats.json + term_stats from above
    finally:
        if sorted_post is not None:
            sorted_post.unpersist()
    _record(index_dir, "build_complete", shards=shards, buckets=buckets)
    return index_dir


def compact_streaming_index(
    spark: SparkSession,
    stream_dir: str,
    out_dir: str,
    conf: AnalyzerConfig = AnalyzerConfig.full(),
    block_span: int = SEG.DEFAULT_BLOCK_SPAN,
    shards: int = 1,
) -> str:
    """Re-encode a streaming index's (batch, bucket)-staged postings into
    the durable segment layout — the job that completes the streaming
    growth story: ``streaming.incremental_index_build`` absorbs new files
    continuously into staging tables that serve queries directly, and a
    periodic compaction turns the accumulated batches into block-encoded,
    WAND-servable segments (this exact ``build_durable_index`` format).

    A pure LAYOUT transform: no re-tokenization, no re-hashing — term
    buckets are reused from the staged partition values (the absorb step
    hashed with the same pmod(xxhash64(term))), the batch dimension is
    dropped by the range-repartition, and doc_stats comes from the staged
    per-batch doc_stats (dl=0 rows included). Everything downstream
    (term_stats, stats, per-shard block encode, vsm_norms) runs through
    build_durable_index's own resumable manifest steps, so a killed
    compaction resumes like a killed build. ``conf`` must be the
    analyzer the ingest used (validated against stream_meta.json).
    """
    meta_path = os.path.join(stream_dir, "manifest", "stream_meta.json")
    if not os.path.exists(meta_path):
        raise ValueError(f"{stream_dir} is not a streaming index "
                         "(no manifest/stream_meta.json)")
    with open(meta_path) as f:
        meta = json.load(f)
    buckets = meta.get("buckets")
    if buckets is None:
        raise ValueError(
            f"{stream_dir} predates bucket-recording ingest metadata; "
            "re-run the ingest (same checkpoint) to refresh stream_meta")
    want = {"lowercase": conf.lowercase,
            "remove_stopwords": conf.remove_stopwords, "stem": conf.stem}
    if meta.get("analyzer") != want:
        raise ValueError(
            f"compaction analyzer {want} != ingest analyzer "
            f"{meta.get('analyzer')} — stats.json would misdeclare the "
            "tokens' provenance")
    if os.path.abspath(out_dir) == os.path.abspath(stream_dir):
        raise ValueError("compact into a NEW dir: the streaming dir's "
                         "(batch, bucket) layout cannot hold the durable "
                         "bucket-only layout (conflicting partition depth)")

    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    stage_out = os.path.join(out_dir, "postings_stage")
    if not _done(out_dir, "postings_stage"):
        t0 = time.perf_counter()
        staged = spark.read.parquet(os.path.join(stream_dir, "postings_stage"))
        cols = [c for c in staged.columns if c != "batch"]
        range_layout(staged.select(*cols), "bucket", "term", "doc_id") \
            .write.mode("overwrite").options(**TERM_BLOOM) \
            .partitionBy("bucket").parquet(stage_out)
        _record(out_dir, "postings_stage", source=os.path.abspath(stream_dir),
                duration_sec=round(time.perf_counter() - t0, 3))
    if not _done(out_dir, "doc_stats"):
        t0 = time.perf_counter()
        ds = spark.read.parquet(os.path.join(stream_dir, "doc_stats"))
        ds.select("doc_id", "dl").distinct().write.mode("overwrite") \
            .parquet(os.path.join(out_dir, "doc_stats"))
        _record(out_dir, "doc_stats",
                duration_sec=round(time.perf_counter() - t0, 3))
    # the staged inputs carry everything build_durable_index's remaining
    # steps need; its docs argument is only read on the (skipped)
    # doc_stats-derivation path
    build_durable_index(
        spark, docs=None, index_dir=out_dir, conf=conf, buckets=buckets,
        block_span=block_span, shards=shards, positional=True, resume=True,
    )
    n_batches = len([m for m in os.listdir(os.path.join(stream_dir, "manifest"))
                     if m.startswith("stream_batch_")])
    _record(out_dir, "compacted_from", stream_dir=os.path.abspath(stream_dir),
            stream_batches=n_batches)
    return out_dir


def lineage_rows(index_dir: str) -> list[dict]:
    mdir = os.path.join(index_dir, "manifest")
    out = []
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
    return out


class SegmentIndex(InvertedIndex):
    """InvertedIndex backed by on-disk segments: term lookups decode only
    the matching blocks (bucket partition pruning + term predicate
    pushdown — the columnar replacement for the reference's word2byte
    byte-range reads, index_loader.py:71-128)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 documents: DataFrame | None = None,
                 max_cached_terms: int = 4096,
                 as_of_batch: int | None = None):
        with open(os.path.join(index_dir, "stats.json")) as f:
            meta = json.load(f)
        a = meta["analyzer"]
        conf = AnalyzerConfig(lowercase=a["lowercase"],
                              remove_stopwords=a["remove_stopwords"],
                              stem=a["stem"])
        self.index_dir = index_dir
        self.meta = meta
        # quantized-impact artifacts (quantize_index) carry only their
        # re-coded segments + stats.json; score-free side tables
        # (postings_stage, doc_stats, term_stats, vsm_norms, tombstones)
        # resolve from the SOURCE index via ``sidecar_dir`` — Iceberg
        # metadata-pointing-at-shared-data-files, not a copy
        sidecar = meta.get("sidecar_dir")
        if sidecar and not _done(sidecar, "build_complete"):
            # the pointer is persisted absolute; a moved/deleted/vacuumed
            # source would otherwise surface later as an opaque parquet
            # read failure on the relational paths (and silently wrong
            # tombstone inheritance) — diagnose it at open time
            raise ValueError(
                f"impact store at {index_dir} points at sidecar "
                f"{sidecar}, which is missing or not a completed index "
                "(moved, deleted, or vacuumed-and-swapped). Re-quantize "
                "from the current source index (jobs/quantize_index.py) "
                "— impact artifacts bake their source's stats and share "
                "its side tables, so they cannot outlive it.")

        def _art(name: str) -> str:
            p = os.path.join(index_dir, name)
            if sidecar and not os.path.isdir(p):
                return os.path.join(sidecar, name)
            return p

        self.segments = spark.read.parquet(os.path.join(index_dir, "segments"))
        # Driver-side mini-index LRU: per-term (df, [blocks]) — the moral
        # equivalent of the reference's startup word2byte dict plus
        # byte-range posting loads warmed by the OS page cache
        # (index_loader.py:71-128). A repeat term costs zero Spark jobs.
        from collections import OrderedDict
        self._mini: OrderedDict[str, tuple[int, list]] = OrderedDict()
        self._mini_cap = max_cached_terms
        super().__init__(
            postings=spark.read.parquet(_art("postings_stage")),
            doc_stats=spark.read.parquet(_art("doc_stats")),
            term_stats=spark.read.parquet(_art("term_stats")),
            stats={k: meta[k] for k in ("n_docs", "total_len", "avgdl")},
            documents=documents,
            analyzer=conf,
        )
        # gate on the MANIFEST entry, not directory existence: a build
        # killed mid-write leaves a partial/unreadable parquet dir whose
        # silent load would drop docs from VSM rankings (or fail the
        # whole index open). Indexes built before the artifact existed
        # (or interrupted before its commit) fall back to lazy compute.
        if _done(index_dir, "vsm_norms"):
            self._vsm_norms = spark.read.parquet(
                os.path.join(index_dir, "vsm_norms"))
        elif sidecar and _done(sidecar, "vsm_norms"):
            self._vsm_norms = spark.read.parquet(
                os.path.join(sidecar, "vsm_norms"))
        # next-word phrase index (build_phrase_index): committed-manifest
        # gated like vsm_norms; quantized artifacts share the source's
        # via the sidecar. Coverage decides DRIVER-SIDE from the stored
        # common-term list — no Spark job to test a pair.
        self._phrase_common: frozenset[str] = frozenset()
        self._phrase_meta: dict = {}
        self._phrase_segments = None
        pdir = next((d for d in (index_dir, sidecar)
                     if d and _done(d, "phrase_index")), None)
        if pdir:
            with open(os.path.join(pdir, PHRASE_INDEX_META)) as f:
                self._phrase_meta = json.load(f)
            self._phrase_common = frozenset(self._phrase_meta["terms"])
            self._phrase_segments = spark.read.parquet(
                os.path.join(pdir, "phrase_segments"))
        # character-trigram vocabulary index (build_term_ngram_index):
        # bounds leading-wildcard / infix pattern expansion
        self._term_trigrams = None
        tdir = next((d for d in (index_dir, sidecar)
                     if d and _done(d, "term_ngram_index")), None)
        if tdir:
            self._term_trigrams = spark.read.parquet(
                os.path.join(tdir, "term_trigrams"))
        # compressed-ANN artifact (build_ann_index): IVF centroids + PQ
        # codebooks restore lazily (driver-sized collects on first use);
        # the cell-partitioned coded table reads like any side table
        self._ann_meta: dict | None = None
        self._ann_dir: str | None = None
        self._ann_centroids = None
        self._ann_codebooks = None
        adir = next((d for d in (index_dir, sidecar)
                     if d and _done(d, "ann_index")), None)
        if adir:
            with open(os.path.join(adir, ANN_INDEX_META)) as f:
                self._ann_meta = json.load(f)
            self._ann_dir = adir
        # Lucene-style live-docs: committed tombstone batches exclude
        # deleted docs from every query path NOW; postings vacuum (and
        # stats refresh) happens at merge_indexes. None when no deletes.
        # as_of_batch time-travels the delete state (batches are
        # immutable, so every past snapshot stays readable): -1 reads
        # the pre-delete index, N applies batches 0..N, None is live.
        self.as_of_batch = as_of_batch
        # a quantized artifact inherits its SOURCE's tombstones (deletes
        # committed against the source after quantization apply here
        # too) unless it has committed batches of its own
        tomb_dir = (sidecar if sidecar and not _tombstone_batches(index_dir)
                    else index_dir)
        self._tombstones = load_tombstones(spark, tomb_dir, as_of_batch)
        self._deleted_set: frozenset[int] | None = None

    @property
    def store(self) -> str:
        """Payload kind of the segment store: "tf" (self-contained
        tf+dl blocks, the build default) or "impact" (quantized impacts,
        quantize_index output — serving kernels score from the impact
        byte, scoring model baked at quantize time)."""
        return self.meta.get("store", "tf")

    #: deleted_ids driver-set bound: ~48 MB of Python ints. Above this
    #: the kernel's live-docs set is itself the memory problem and the
    #: store needs a vacuum, not a bigger driver.
    DELETED_IDS_MAX = 5_000_000

    def deleted_ids(self, max_ids: int | None = None) -> frozenset[int]:
        """Driver-side live-docs set for the WAND kernel (the per-segment
        deleted-docs bitmap of segment-file engines). Collected once per
        index handle, BOUNDED on every call: more than ``max_ids``
        (default ``DELETED_IDS_MAX``) tombstones raises with a vacuum
        recommendation, also when an earlier call with a larger bound
        cached the set — the collect ships at most ``max_ids + 1`` ids.
        Deletes issued with ``auto_vacuum_threshold`` never get near it."""
        if self._tombstones is None:
            return frozenset()
        bound = self.DELETED_IDS_MAX if max_ids is None else max_ids
        ids = self._deleted_set
        if ids is None:
            ids = frozenset(r["doc_id"] for r in
                            self._tombstones.limit(bound + 1).collect())
        if len(ids) > bound:
            raise ValueError(
                f"index at {self.index_dir} has more than {bound} "
                "tombstoned docs — too many to hold as the kernels' "
                "driver-side live-docs set. Vacuum the index "
                "(merge_indexes / delete_docs auto_vacuum_threshold) "
                "to fold tombstones into the postings, or raise "
                "max_ids explicitly if the driver has the memory.")
        self._deleted_set = ids
        return ids

    def _buckets_for(self, terms: list[str]) -> list[int]:
        # must equal pmod(xxhash64(term), buckets): computed driver-side
        # with the pure-Python XXH64 (fuzz-parity-gated against Spark's
        # expression in tests) — a cold term lookup launches no extra
        # Spark job just to hash a handful of strings
        from ..functions.xxhash import spark_bucket

        return sorted({spark_bucket(t, self.meta["buckets"]) for t in terms})

    def bigram_lookup(self, t1: str, t2: str,
                      positional: bool = False) -> DataFrame | None:
        """Next-word index point lookup: (term, doc_id, tf, dl
        [, positions]) rows for the two-word phrase "t1 t2" where tf is
        its consecutive-occurrence count and positions (when requested)
        are the FIRST word's positions of each instance — or None when
        no phrase index is committed, either word is outside its
        common-term coverage, or ``positional=True`` against a
        pre-positional (tf-only) artifact (callers fall back to the
        positional unigram intersection; results are identical either
        way, this only changes the plan). Same bucket/term-pruned scan
        and tombstone exclusion as unigram lookup(). ``positional`` is
        what lets a k-word phrase chain m-1 bigram postings (Williams &
        Zobel §4) instead of decoding m common unigrams."""
        if self._phrase_segments is None or not self._phrase_common:
            return None
        if t1 not in self._phrase_common or t2 not in self._phrase_common:
            return None
        if positional and not self._phrase_meta.get("positional", False):
            return None
        bigram = f"{t1} {t2}"
        blocks = self._phrase_segments.filter(
            F.col("bucket").isin(self._buckets_for([bigram]))
            & (F.col("term") == bigram))
        decoded = SEG.decode_segments(blocks, positional=positional)
        if self._tombstones is not None:
            decoded = decoded.join(F.broadcast(self._tombstones),
                                   "doc_id", "left_anti")
        return decoded

    def trigram_candidates(self, pattern: str) -> DataFrame | None:
        """(term, df) SUPERSET of the vocabulary terms matching a
        wildcard pattern, from the committed trigram index — or None
        when no artifact exists or the pattern has no literal run long
        enough to yield a trigram (callers fall back to the vocabulary
        scan; results are identical either way). The probe prunes to
        the grams' gbucket partitions and keeps terms containing ALL
        required trigrams; the caller still applies the exact LIKE —
        the index only bounds what that LIKE reads."""
        if self._term_trigrams is None:
            return None
        grams = _pattern_trigrams(pattern)
        if not grams:
            return None
        from ..functions.xxhash import spark_bucket

        gbuckets = sorted({spark_bucket(g, TRIGRAM_BUCKETS)
                           for g in grams})
        probe = self._term_trigrams.filter(
            F.col("gbucket").isin(gbuckets) & F.col("gram").isin(grams))
        # (term, gram) rows are DISTINCT by construction (the build
        # dedups before writing), so count(*) == countDistinct(gram)
        # with one aggregate stage instead of two
        return (probe.groupBy("term", "df")
                .agg(F.count("*").alias("_ng"))
                .filter(F.col("_ng") == len(grams))
                .select("term", "df"))

    def ann_artifacts(self):
        """(centroids, codebooks) numpy arrays restored from the
        committed ANN artifact (build_ann_index) — two driver-sized
        collects (n_centroids×dim and m×ksub×dim/m doubles), cached on
        the handle; repeat calls cost zero Spark jobs. Parquet
        round-trips float64 exactly, so these equal the fitted arrays
        bit for bit (identity-gated)."""
        if self._ann_meta is None:
            raise ValueError(
                f"index at {self.index_dir} has no committed ANN "
                "artifact — run catalog.build_ann_index first")
        if self._ann_centroids is None:
            import numpy as np

            spark = self.segments.sparkSession
            meta = self._ann_meta
            cent = np.empty((meta["n_centroids"], meta["dim"]),
                            dtype=np.float64)
            for r in spark.read.parquet(
                    os.path.join(self._ann_dir, "ann_centroids")).collect():
                cent[r["cell"]] = r["centroid"]
            m, ksub = meta["pq_m"], meta["pq_ksub"]
            books = np.empty((m, ksub, meta["dim"] // m), dtype=np.float64)
            for r in spark.read.parquet(
                    os.path.join(self._ann_dir, "ann_codebooks")).collect():
                books[r["subspace"], r["code"]] = r["centroid"]
            self._ann_centroids, self._ann_codebooks = cent, books
        return self._ann_centroids, self._ann_codebooks

    def ann_coded(self) -> DataFrame:
        """The committed (vec_id, cell, code) coded table — the
        corpus-scale ANN scan artifact, partitioned by cell so a probe
        prunes to its nprobe cells. Tombstoned docs are EXCLUDED like
        every other query path (vec_id is doc-keyed by the serving
        convention — jobs/serve.py --embeddings); ids outside the doc
        space are simply never tombstoned, so the anti-join is a no-op
        there."""
        if self._ann_meta is None:
            raise ValueError(
                f"index at {self.index_dir} has no committed ANN "
                "artifact — run catalog.build_ann_index first")
        coded = self.segments.sparkSession.read.parquet(
            os.path.join(self._ann_dir, "ann_coded"))
        if self._tombstones is not None:
            coded = coded.join(
                F.broadcast(self._tombstones.select(
                    F.col("doc_id").alias("vec_id"))),
                "vec_id", "left_anti")
        return coded

    def ann_topk(self, qvec: list[float], k: int = 10, nprobe: int = 2,
                 refine: int | None = None,
                 embeddings: DataFrame | None = None) -> DataFrame:
        """Serve an ANN top-k from the LOADED artifact: IVF cell pruning
        + ADC over the coded table (+ exact ``refine`` when the raw
        vector table is supplied). nprobe >= n_centroids with refine >=
        table size degenerates to the exact brute-force top-k — the
        identity the driver gates pin against the DuckDB oracle."""
        from ..operators import similarity as SIM

        cent, books = self.ann_artifacts()
        emb = None
        if embeddings is not None:
            meta = self._ann_meta
            emb = embeddings.select(
                F.col(meta["id_col"]).alias("vec_id"),
                F.col(meta["vec_col"]).alias("embedding"))
        return SIM.ivfpq_topk(self.ann_coded(), cent, books, qvec, k=k,
                              nprobe=nprobe, refine=refine,
                              embeddings=emb)

    def lookup(self, terms: list[str], positional: bool = False) -> DataFrame:
        if not terms:
            return super().lookup(terms, positional)
        if positional and not self.meta.get("positional", True):
            raise ValueError(
                f"index at {self.index_dir} was built positional=False; "
                "phrase/proximity queries need a positional build")
        if self.store == "impact":
            # tf/dl are not recoverable from quantized blocks — the
            # relational paths (free-text/phrase/boolean/VSM/LM) read
            # the SOURCE postings via the sidecar instead and score
            # EXACT (unquantized) weights; the quantized scores are the
            # serving kernels' (search_wand/search_maxscore) and the
            # explicit search_quantized path. Same bucket pruning as the
            # segment scan — the stage is partitioned by bucket too.
            src = self.postings
            if "bucket" in src.columns:
                src = src.filter(
                    F.col("bucket").isin(self._buckets_for(terms)))
            cols = ["term", "doc_id", "tf"]
            if "dl" in src.columns:
                cols.append("dl")
            if positional and "positions" in src.columns:
                cols.append("positions")
            decoded = src.filter(F.col("term").isin(terms)).select(*cols)
            if self._tombstones is not None:
                decoded = decoded.join(F.broadcast(self._tombstones),
                                       "doc_id", "left_anti")
            return decoded
        blocks = self.segments.filter(
            F.col("bucket").isin(self._buckets_for(terms))
            & F.col("term").isin(terms)
        )
        decoded = SEG.decode_segments(blocks, positional=positional)
        if self._tombstones is not None:
            # broadcast anti-join: every relational query path goes
            # through lookup(), so this one exclusion covers free-text,
            # phrase, boolean, proximity, VSM and LM scoring
            decoded = decoded.join(F.broadcast(self._tombstones),
                                   "doc_id", "left_anti")
        return decoded

    def mini_index(self, terms: list[str], cap: int | None = None,
                   ) -> dict[str, tuple[int, list]]:
        """Serving-path point lookup: {term: (df, [Row(term, block_id,
        block_max_tf, n_docs, payload)])} for in-vocabulary terms,
        through the driver LRU. Misses cost exactly ONE pruned segment
        scan (df derives from the blocks' n_docs); hits cost zero Spark
        jobs.

        ``cap`` bounds what a miss SHIPS to the driver: the
        impact-ordered fetch (operators.wand._capped_blocks) keeps each
        term's top-``cap`` blocks by upper bound, with the EXACT df
        riding along in the plan. Cache entries remember the cap they
        were fetched under: an entry fetched full (cap_used=None) or
        with a looser cap serves any tighter request by driver-side
        truncation (sorted by (block_max_tf desc, block_id asc) — the
        same ordering the plan uses); a tighter entry forces a refetch
        for a looser request."""
        if cap is not None and cap < 1:
            # cap=0 would fetch zero blocks and fall through to the
            # OOV negative cache, poisoning the LRU: later EXACT
            # requests for an in-vocabulary term would return empty
            raise ValueError(f"cap must be >= 1 or None, got {cap}")

        def covers(cap_used, want):
            return cap_used is None or (want is not None and cap_used >= want)

        # Touch cache HITS before any insertion/eviction: otherwise a full
        # cache evicts the oldest entry — which may be one of THIS query's
        # terms — between the insert loop and the read loop below
        # (KeyError on the serving path).
        missing = []
        for t in terms:
            ent = self._mini.get(t)
            if ent is not None and covers(ent[2], cap):
                self._mini.move_to_end(t)
            else:
                missing.append(t)
        if missing:
            if cap is None:
                # ONE pruned scan serves everything: blocks are
                # doc-disjoint, so df(term) = Σ n_docs over the term's
                # blocks — no separate term_stats job
                rows = self.segments.filter(
                    F.col("bucket").isin(self._buckets_for(missing))
                    & F.col("term").isin(missing)
                ).select("term", "block_id", "block_max_tf", "n_docs",
                         "payload").collect()
                fetched: dict[str, list] = {}
                for r in rows:
                    fetched.setdefault(r.term, []).append(r)
                for t, blks in fetched.items():
                    self._mini[t] = (sum(b.n_docs for b in blks), blks, None)
            else:
                # optimistic single scan with a hard driver-transfer
                # budget: if EVERY missing term fits the cap, the limit
                # can't trigger (total ≤ cap·|terms|) and this one scan
                # IS the full fetch — cached as such (cap_used=None).
                # The limit firing proves (pigeonhole) some term exceeds
                # the cap; only then pay the two-phase ranked fetch.
                # Either way the driver never receives more than
                # cap·|terms| block payloads from the optimistic scan.
                budget = cap * len(missing) + 1
                rows = self.segments.filter(
                    F.col("bucket").isin(self._buckets_for(missing))
                    & F.col("term").isin(missing)
                ).select("term", "block_id", "block_max_tf", "n_docs",
                         "payload").limit(budget).collect()
                if len(rows) < budget:
                    fetched = {}
                    for r in rows:
                        fetched.setdefault(r.term, []).append(r)
                    for t, blks in fetched.items():
                        self._mini[t] = (sum(b.n_docs for b in blks),
                                         blks, None)
                else:
                    from ..operators.wand import _capped_blocks

                    dfs, rows = _capped_blocks(self, missing, cap)
                    fetched = {}
                    for r in rows:
                        fetched.setdefault(r.term, []).append(r)
                    for t, blks in fetched.items():
                        # a term that came back with FEWER than cap
                        # blocks was fetched complete (the ranked fetch
                        # truncates only AT the cap) — remember it as
                        # uncapped so a later looser/exact request is a
                        # cache hit instead of a refetch Spark job
                        self._mini[t] = (
                            dfs[t], blks,
                            cap if len(blks) >= cap else None)
            for t in missing:  # negative-cache OOV terms too (universal)
                if t not in self._mini:
                    self._mini[t] = (0, [], None)
            term_set = set(terms)
            while len(self._mini) > self._mini_cap:
                oldest = next(iter(self._mini))
                if oldest in term_set:
                    break  # query wider than the cache: keep its terms
                self._mini.popitem(last=False)
        out = {}
        for t in terms:
            df, blks, _cap_used = self._mini[t]
            self._mini.move_to_end(t)  # LRU touch
            if cap is not None and len(blks) > cap:
                blks = sorted(
                    blks, key=lambda b: (-b.block_max_tf, b.block_id))[:cap]
            if df > 0:
                out[t] = (df, blks)
        return out


def load_index(spark: SparkSession, index_dir: str,
               documents: DataFrame | None = None,
               as_of_batch: int | None = None) -> SegmentIndex:
    """Open a durable index. ``as_of_batch`` gives snapshot-isolation
    time travel over DELETES: only tombstone batches with id <=
    as_of_batch are applied (-1 → before any delete; None → live).
    Builds/merges/vacuums already version by directory (immutable
    layout), so directory + as_of_batch addresses every state the
    store has ever served. Snapshot points: ``tombstone_batches``."""
    return SegmentIndex(spark, index_dir, documents,
                        as_of_batch=as_of_batch)


def _tombstone_batches(index_dir: str) -> list[int]:
    """Batch ids of COMMITTED tombstone batches (manifest-gated, like
    vsm_norms: a delete killed mid-write leaves no manifest row and its
    partial parquet is ignored)."""
    mdir = os.path.join(index_dir, "manifest")
    out = []
    for name in os.listdir(mdir) if os.path.isdir(mdir) else []:
        if name.startswith("tombstones_") and name.endswith(".json"):
            out.append(int(name[len("tombstones_"):-len(".json")]))
    return sorted(out)


def deleted_fraction(spark: SparkSession, index_dir: str) -> float:
    """Fraction of the index's docs that are tombstoned (0.0 when none).
    n_docs comes from stats.json — the PRE-vacuum count, which is exactly
    the population the stale df/idf statistics still describe, so the
    fraction measures how far the scoring stats have drifted from the
    live corpus."""
    t = load_tombstones(spark, index_dir)
    if t is None:
        return 0.0
    with open(os.path.join(index_dir, "stats.json")) as f:
        n_docs = json.load(f)["n_docs"]
    return t.count() / max(n_docs, 1)


def vacuum_index(spark: SparkSession, index_dir: str, out_dir: str,
                 shards: int = 1) -> str:
    """Physically drop tombstoned postings and refresh corpus stats:
    the single-input ``merge_indexes`` named as the operation it is.
    The output at ``out_dir`` carries no tombstones and its df/n_docs/
    avgdl/VSM norms describe only live docs (test-gated identical to a
    fresh build over the live corpus). Immutable-layout engines vacuum
    into a NEW directory — the old index stays readable until the caller
    swaps the serving path, exactly like a segment-file engine's merge."""
    return merge_indexes(spark, [index_dir], out_dir, shards=shards)


def quantize_index(spark: SparkSession, index_dir: str, out_dir: str,
                   bits: int = 8) -> str:
    """Convert a completed tf/dl index into a quantized-IMPACT serving
    artifact (Anh & Moffat impact quantization; Lucene's quantized norms
    are the production analogue — public technique).

    Each posting's BM25 tf/dl part is quantized to ``bits`` bits with
    the exact-int64 quantizer (operators.scoring.quantize_impacts) and
    re-encoded as ~1-byte-per-posting impact blocks
    (codec.encode_block_impact); serving then scores
    idf·(k1+1)·q/maxq with NO doc-length data — smaller payloads,
    fewer decode bytes, and an EXACT per-block bound for WAND/MaxScore
    pruning (block_max_tf holds the block's max impact). Positions pass
    through unchanged, so phrase/proximity queries still work.

    The artifact is segments + stats.json ONLY: score-free side tables
    resolve from the source via ``sidecar_dir`` (SegmentIndex), so
    nothing corpus-sized is copied. The scoring model (k1=1.2, b=0.75)
    and the corpus stats are BAKED IN — after a merge or vacuum of the
    source, re-quantize from the new index (global stats change);
    merge_indexes/vacuum_index refuse impact stores for that reason.

    This is the engine's form of the reference's index converter
    (/root/reference/indexing/index_converter — re-code an existing
    index into a cheaper serving layout without re-tokenizing).
    """
    stats = None
    stats_path = os.path.join(index_dir, "stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            stats = json.load(f)
        if stats.get("store") == "impact":
            raise ValueError(f"{index_dir} is already an impact store — "
                             "quantize from the original tf/dl index")
    if not _done(index_dir, "build_complete"):
        raise ValueError(f"{index_dir} is not a completed index")
    if stats is None:
        # a committed manifest without stats.json means the directory
        # was tampered with or half-copied — fail with a diagnosis, not
        # a NameError when the stats are first used below
        raise ValueError(f"{index_dir} has a build_complete manifest but "
                         "no stats.json — the index directory is damaged "
                         "or was copied without its stats file")
    if os.path.abspath(out_dir) == os.path.abspath(index_dir):
        raise ValueError("quantize output must be a NEW directory")
    from ..operators import segments as SEG

    os.makedirs(out_dir, exist_ok=True)
    t0 = time.perf_counter()
    seg = spark.read.parquet(os.path.join(index_dir, "segments")) \
        .select([f.name for f in SEG.SEGMENT_SCHEMA.fields])
    SEG.quantize_blocks(seg, stats["n_docs"], stats["total_len"],
                        bits=bits) \
        .sortWithinPartitions("bucket", "term", "block_id") \
        .write.mode("overwrite").options(**TERM_BLOOM) \
        .partitionBy("bucket").parquet(os.path.join(out_dir, "segments"))
    from ..operators import scoring

    out_stats = dict(stats)
    out_stats.update({
        "store": "impact", "impact_bits": bits,
        "impact_k1": scoring.IMPACT_K1, "impact_b": scoring.IMPACT_B,
        "sidecar_dir": os.path.abspath(index_dir),
    })
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump(out_stats, f)
    _record(out_dir, "quantize_complete", bits=bits,
            source=os.path.abspath(index_dir),
            duration_sec=round(time.perf_counter() - t0, 3))
    return out_dir


#: artifact file listing the common terms a phrase index covers
PHRASE_INDEX_META = "phrase_index.json"


#: default cap on phrase-index coverage — the TOP-K most frequent terms
#: (ties broken by term for determinism). Bounds the driver-side covered
#: set, the phrase_index.json artifact, and every SegmentIndex open to
#: O(max_terms) regardless of vocabulary size: a web-scale vocabulary
#: (10^8-10^9 terms) admits millions of terms past a bare min_df cut,
#: and the whole point of the artifact (Williams & Zobel 2004) is the
#: HEAD of the vocabulary — rare-word phrases already have a cheap
#: positional path.
PHRASE_INDEX_MAX_TERMS = 32768


def build_phrase_index(spark: SparkSession, index_dir: str,
                       min_df: int = 100,
                       max_terms: int = PHRASE_INDEX_MAX_TERMS) -> dict:
    """Build the NEXT-WORD (bigram) phrase index over a completed
    positional index — Williams & Zobel, "Fast phrase querying with
    combined indexes" (TOIS 2004, public): store postings for two-word
    phrases whose BOTH words are common (df ≥ ``min_df``), because
    common-word phrases ("big data") are exactly the ones whose
    positional intersection is expensive — each side decodes a head
    term's full postings. A covered phrase then serves from ONE pruned
    posting lookup (tf = the consecutive-occurrence count, dl riding
    along join-free), while rare-word phrases keep the cheap positional
    path; phrase rankings are IDENTICAL either way (pytest + driver
    gate), this artifact only changes the plan.

    Build shape (one extra linear pass, no re-tokenize): the staged
    postings of common terms explode to (doc_id, pos, term) rows; a
    self-join on (doc_id, pos+1) yields bigram instances; groupBy
    counts them; the bigram postings are block-encoded with the SAME
    segment machinery (term = "w₁ w₂", bucket = hash(bigram), parquet
    min/max + bloom pruning all apply unchanged). Restricting both
    sides to common terms bounds the explode to the head of the
    vocabulary — the join is on (doc_id, pos), an equi-join Spark
    shuffles on doc_id, never a cross product.

    The covered-term list is stored in ``phrase_index.json`` so serving
    decides coverage DRIVER-SIDE (no Spark job to test a pair); the
    artifact is versioned by its manifest row and read only when
    committed (kill-safe like every other build step). Coverage is
    capped at ``max_terms`` (top-K by df, df-tie broken by term) so the
    driver list, the JSON artifact, and every index open stay
    O(max_terms) at web-scale vocabularies — min_df alone is not a
    bound when the vocabulary has 10^8+ terms.
    """
    stats_path = os.path.join(index_dir, "stats.json")
    meta = {}
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            meta = json.load(f)
        if meta.get("store") == "impact":
            raise ValueError("build the phrase index on the SOURCE tf/dl "
                             "index (quantized artifacts share it via the "
                             "sidecar)")
    if not _done(index_dir, "build_complete"):
        raise ValueError(f"{index_dir} is not a completed index")
    if not meta.get("positional", True):
        raise ValueError("phrase index needs a positional build (the "
                         "bigram counts are consecutive-position counts)")
    from ..operators import segments as SEG

    if max_terms < 2:
        raise ValueError(f"max_terms must be >= 2 (a phrase needs two "
                         f"covered words): {max_terms}")
    t0 = time.perf_counter()
    # coverage = the df HEAD of the vocabulary, doubly bounded: df >=
    # min_df AND top-``max_terms`` by (df desc, term asc). The driver
    # list and the JSON artifact are O(max_terms) no matter how large
    # the vocabulary is; the TakeOrdered collect ships only that head.
    common = sorted(
        r.term for r in
        spark.read.parquet(os.path.join(index_dir, "term_stats"))
        .filter(F.col("df") >= min_df)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_terms).select("term").collect())
    common_df = spark.createDataFrame(
        [(t,) for t in common], schema="term string")
    post = spark.read.parquet(os.path.join(index_dir, "postings_stage"))
    # restrict to common terms via a BROADCAST semi-join, not an isin
    # literal — a head vocabulary of thousands of terms as an In()
    # predicate bloats the plan and defeats codegen (measured 5×
    # slower); the hash-set probe costs one broadcast
    rows = (post.join(F.broadcast(common_df), "term", "left_semi")
            .select("term", "doc_id", "dl",
                    F.explode("positions").alias("pos")))
    a = rows.select(F.col("term").alias("t1"), "doc_id", "dl", "pos")
    b = rows.select(F.col("term").alias("t2"), "doc_id",
                    (F.col("pos") - 1).alias("pos"))
    # positions of each bigram instance (= the FIRST word's position)
    # ride into the artifact: a phrase of m words then serves from the
    # positional intersection of its m-1 bigram postings — Williams &
    # Zobel §4's longer-phrase evaluation — instead of decoding m
    # common unigrams' full positional postings. Two-word phrases keep
    # reading tf only (column pruning skips the positional payload).
    bigrams = (
        a.join(b, ["doc_id", "pos"])
        .groupBy("t1", "t2", "doc_id", "dl")
        .agg(F.count("*").cast("int").alias("tf"),
             F.sort_array(F.collect_list("pos")).alias("positions"))
        .select(F.concat_ws(" ", "t1", "t2").alias("term"),
                "doc_id", "tf", "dl", "positions")
    )
    # fused encode, same shape as the main build: ONE range exchange
    # establishes the consecutive-run layout, then the shuffle-free
    # vectorized encoder. encode_segments' per-group applyInPandas pays
    # a pandas-frame construction per (bigram, block) — bigram
    # vocabularies are an order of magnitude wider than unigram ones
    # (measured: the per-group path was ~30× the rest of this build)
    buckets, block_span = meta["buckets"], meta["block_span"]
    staged = bigrams.withColumn(
        "bucket",
        F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int")
    ).withColumn(
        "block_id", (F.col("doc_id") / F.lit(block_span)).cast("long"))
    seg = SEG.encode_sorted(
        range_layout(staged, "bucket", "term", "block_id", tiebreak="doc_id"),
        positional=True)
    out = os.path.join(index_dir, "phrase_segments")
    seg.sortWithinPartitions("bucket", "term", "block_id") \
        .write.mode("overwrite").options(**TERM_BLOOM) \
        .partitionBy("bucket").parquet(out)
    # "positional": pre-round-5 artifacts stored tf-only bigrams; a
    # loader finding positional=False (or absent) serves two-word
    # phrases but reports longer chains uncovered (positional fallback)
    info = {"min_df": min_df, "max_terms": max_terms,
            "n_common_terms": len(common), "terms": common,
            "positional": True}
    with open(os.path.join(index_dir, PHRASE_INDEX_META), "w") as f:
        json.dump(info, f)
    _record(index_dir, "phrase_index", min_df=min_df, max_terms=max_terms,
            n_common_terms=len(common),
            duration_sec=round(time.perf_counter() - t0, 3))
    return info


#: gram-hash partition count of the term-trigram index (pruning unit)
TRIGRAM_BUCKETS = 64


def _pattern_trigrams(pattern: str) -> list[str]:
    """Required character trigrams of a Lucene wildcard pattern —
    trigrams of every literal run, with '^'/'$' boundary padding when
    the run touches the pattern's start/end (pg_trgm's extraction idea;
    PostgreSQL pg_trgm and Lucene's AutomatonQuery-over-ngrams are the
    public references). Every matching TERM must contain every returned
    trigram, so the trigram index bounds the candidate set; [] means the
    pattern has no run long enough to exploit (caller falls back to the
    vocabulary scan)."""
    runs: list[str] = []
    cur = []
    for c in pattern:
        if c in "*?":
            if cur:
                runs.append("".join(cur))
                cur = []
            runs.append(None)  # type: ignore[arg-type]  # metachar marker
        else:
            cur.append(c)
    if cur:
        runs.append("".join(cur))
    # rebuild with boundary context: a literal run at the very start
    # matches at term start → pad '^'; at the very end → pad '$'
    grams: list[str] = []
    for i, run in enumerate(runs):
        if run is None:
            continue
        s = run
        if i == 0:
            s = "^" + s
        if i == len(runs) - 1:
            s = s + "$"
        grams.extend(s[j:j + 3] for j in range(len(s) - 2))
    return sorted(set(grams))


def build_term_ngram_index(spark: SparkSession, index_dir: str) -> dict:
    """Build the character-TRIGRAM index over the vocabulary — the
    pg_trgm/Lucene-ngram technique that makes LEADING-wildcard and
    infix patterns ('*ing', '*arke*') a bounded lookup instead of a
    full vocabulary scan. At web scale the vocabulary is 10⁸-10⁹ terms;
    anchored patterns already prune via the term-sorted parquet min/max
    (StringStartsWith), but a leading wildcard has no anchor — this
    artifact gives it one.

    Layout: parquet (gram, term, df) partitioned by
    ``gbucket = pmod(xxhash64(gram), 64)`` and gram-sorted within
    partitions — a k-trigram probe prunes to ≤k partitions and rides
    parquet min/max within them, the segment store's own pruning
    pattern applied to the vocabulary. df rides along so the candidate
    cap (top-``max_expansions`` by df) needs no term_stats join.

    Query side: terms containing ALL of the pattern's required trigrams
    (``_pattern_trigrams``) are candidates; the exact LIKE verify runs
    on that bounded set. Results are IDENTICAL to the vocabulary-scan
    path (pytest + driver gate) — the artifact only changes the plan.
    """
    stats_path = os.path.join(index_dir, "stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            if json.load(f).get("store") == "impact":
                raise ValueError(
                    "build the trigram index on the SOURCE tf/dl index "
                    "(quantized artifacts share it via the sidecar)")
    if not _done(index_dir, "build_complete"):
        raise ValueError(f"{index_dir} is not a completed index")
    t0 = time.perf_counter()
    ts = spark.read.parquet(os.path.join(index_dir, "term_stats"))
    padded = F.concat(F.lit("^"), F.col("term"), F.lit("$"))
    grams = (
        ts.select("term", "df", padded.alias("p"))
        .select("term", "df", F.explode(F.expr(
            "transform(sequence(1, length(p) - 2), "
            "i -> substring(p, i, 3))")).alias("gram"))
        .distinct()
        .withColumn("gbucket",
                    F.pmod(F.xxhash64("gram"),
                           F.lit(TRIGRAM_BUCKETS)).cast("int"))
    )
    out = os.path.join(index_dir, "term_trigrams")
    range_layout(grams, "gbucket", "gram", "term") \
        .write.mode("overwrite").partitionBy("gbucket").parquet(out)
    n_grams = spark.read.parquet(out).count()
    _record(index_dir, "term_ngram_index", rows=n_grams,
            duration_sec=round(time.perf_counter() - t0, 3))
    return {"rows": n_grams}


#: artifact file recording the ANN fit parameters + source pointer
ANN_INDEX_META = "ann_index.json"


def build_ann_index(spark: SparkSession, index_dir: str,
                    embeddings: DataFrame, *,
                    embeddings_path: str | None = None,
                    n_centroids: int = 16, ivf_iters: int = 10,
                    pq_m: int = 8, pq_ksub: int = 16, pq_iters: int = 10,
                    sample: int = 10_000,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> dict:
    """Fit and COMMIT the compressed-ANN serving artifacts over an
    embedding table, under a completed index directory — the catalog
    treatment the phrase and trigram indexes get (manifest-gated,
    kill-safe, restored by load_index), applied to IVF+PQ (round-4 left
    the fits per-session driver numpy; at 100 TB the codebooks are index
    state, not session state).

    Committed layout (all under ``index_dir``):
      * ``ann_centroids``  — (cell, centroid array<double>): the IVF
        coarse quantizer, n_centroids×dim doubles (driver-sized).
      * ``ann_codebooks``  — (subspace, code, centroid array<double>):
        the PQ codebooks, m×ksub×(dim/m) doubles (driver-sized).
      * ``ann_coded``      — (vec_id, cell, code array<int>) partitioned
        by cell: the corpus-scale scan artifact. A probe prunes to
        nprobe cell partitions and scans codes only — never vectors.
    ``ann_index.json`` records the fit parameters and (optionally) the
    source table path so rebuild_artifacts can re-derive the artifact
    after a merge/vacuum.

    Determinism: ivf_fit/pq_fit are content-hash-sampled with fixed
    init (no RNG), and parquet round-trips float64 exactly, so a loaded
    artifact serves bit-identically to the in-session fit — the driver
    identity gates run against the LOADED artifact."""
    stats_path = os.path.join(index_dir, "stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            if json.load(f).get("store") == "impact":
                raise ValueError(
                    "build the ANN index on the SOURCE tf/dl index "
                    "(quantized artifacts share it via the sidecar)")
    if not _done(index_dir, "build_complete"):
        raise ValueError(f"{index_dir} is not a completed index")
    from ..operators import similarity as SIM

    t0 = time.perf_counter()
    cent = SIM.ivf_fit(embeddings, n_centroids=n_centroids,
                       iters=ivf_iters, sample=sample,
                       vec_col=vec_col, id_col=id_col)
    books = SIM.pq_fit(embeddings, m=pq_m, ksub=pq_ksub, iters=pq_iters,
                       sample=sample, vec_col=vec_col, id_col=id_col)
    dim = cent.shape[1]
    spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(cent)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(index_dir, "ann_centroids"))
    spark.createDataFrame(
        [(int(j), int(c), [float(x) for x in books[j, c]])
         for j in range(books.shape[0]) for c in range(books.shape[1])],
        "subspace int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(index_dir, "ann_codebooks"))
    coded = SIM.pq_assign(SIM.ivf_assign(embeddings, cent, vec_col),
                          books, vec_col)
    coded.select(F.col(id_col).alias("vec_id"), "cell", "code") \
        .repartition("cell") \
        .write.mode("overwrite").partitionBy("cell") \
        .parquet(os.path.join(index_dir, "ann_coded"))
    n_vecs = spark.read.parquet(
        os.path.join(index_dir, "ann_coded")).count()
    info = {
        "n_centroids": n_centroids, "ivf_iters": ivf_iters,
        "pq_m": pq_m, "pq_ksub": pq_ksub, "pq_iters": pq_iters,
        "sample": sample, "dim": int(dim), "n_vectors": int(n_vecs),
        "vec_col": vec_col, "id_col": id_col,
        "embeddings_path": (os.path.abspath(embeddings_path)
                            if embeddings_path else None),
    }
    with open(os.path.join(index_dir, ANN_INDEX_META), "w") as f:
        json.dump(info, f)
    _record(index_dir, "ann_index", n_vectors=int(n_vecs),
            n_centroids=n_centroids, pq_m=pq_m, pq_ksub=pq_ksub,
            duration_sec=round(time.perf_counter() - t0, 3))
    return info


def rebuild_artifacts(spark: SparkSession, src_dir: str,
                      out_dir: str) -> list[str]:
    """Re-derive the optional serving artifacts a source index had onto
    a freshly built/merged/vacuumed index: the next-word phrase index
    (same min_df/max_terms as the source's phrase_index.json), the
    trigram vocabulary index, and the ANN index (refit from the source
    embedding table recorded in ann_index.json, MINUS the source's
    tombstoned ids — the vacuum folded those deletes, and the ANN
    surface must not resurrect them; keep the embedding table itself in
    step with the corpus across generations, the pointer is a
    convenience for one rebuild hop, not a lineage system). Merge and
    vacuum write
    a NEW directory with fresh corpus-global stats, so artifacts cannot
    be carried over — they are derived data and must be recomputed
    (this is what a segment-file engine's merge policy does with its
    auxiliary files). Returns the list of artifacts rebuilt.

    Quantized-impact stores are NOT rebuilt here: an impact artifact is
    its own directory (re-run quantize_index against ``out_dir``) — the
    old quantized artifact keeps serving the OLD snapshot via its
    sidecar until the caller swaps it."""
    done = []
    if _done(src_dir, "phrase_index"):
        with open(os.path.join(src_dir, PHRASE_INDEX_META)) as f:
            pmeta = json.load(f)
        build_phrase_index(spark, out_dir, min_df=pmeta["min_df"],
                           max_terms=pmeta.get("max_terms",
                                               PHRASE_INDEX_MAX_TERMS))
        done.append("phrase_index")
    if _done(src_dir, "term_ngram_index"):
        build_term_ngram_index(spark, out_dir)
        done.append("term_ngram_index")
    if _done(src_dir, "ann_index"):
        with open(os.path.join(src_dir, ANN_INDEX_META)) as f:
            ameta = json.load(f)
        epath = ameta.get("embeddings_path")
        # exists, not isdir: a single parquet FILE is a valid source
        # (spark.read.parquet accepts it and build_ann_index recorded it)
        if not epath or not os.path.exists(epath):
            raise ValueError(
                f"cannot rebuild the ANN index onto {out_dir}: the "
                f"source embedding table ({epath!r}) is gone. Re-run "
                "build_ann_index with the current table, or delete the "
                "source artifact to drop it.")
        emb = spark.read.parquet(epath)
        # a vacuum FOLDS tombstones into the postings, so the new index
        # carries none — but the recorded embedding table still holds
        # the deleted docs' vectors. Exclude the SOURCE's tombstoned
        # ids before refitting, or the ANN surface of the vacuumed
        # index would resurrect docs every other path dropped (ids
        # outside the doc space are never tombstoned → no-op there).
        tombs = load_tombstones(spark, src_dir)
        if tombs is not None:
            emb = emb.join(
                F.broadcast(tombs.select(
                    F.col("doc_id").alias(ameta["id_col"]))),
                ameta["id_col"], "left_anti")
        build_ann_index(
            spark, out_dir, emb,
            embeddings_path=epath,
            n_centroids=ameta["n_centroids"], ivf_iters=ameta["ivf_iters"],
            pq_m=ameta["pq_m"], pq_ksub=ameta["pq_ksub"],
            pq_iters=ameta["pq_iters"], sample=ameta["sample"],
            vec_col=ameta["vec_col"], id_col=ameta["id_col"])
        done.append("ann_index")
    return done


def delete_docs(spark: SparkSession, index_dir: str, doc_ids,
                auto_vacuum_threshold: float | None = None,
                vacuum_out: str | None = None) -> dict:
    """Tombstone documents in a completed index — Lucene-style logical
    deletion: queries exclude the docs IMMEDIATELY (SegmentIndex applies
    the tombstone set in lookup() and the WAND kernel), while the
    physical postings stay on disk until a ``merge_indexes`` pass (which
    also vacuums a single index) drops them and recomputes corpus stats.

    Until that vacuum, corpus-global statistics (df, n_docs, avgdl) are
    STALE-BY-DESIGN — exactly the trade every segment-file engine makes
    (deleted docs still count toward idf until segments merge). Both the
    relational and WAND paths score with the same stale stats, so they
    stay rank-identical to each other (test-gated).

    ``doc_ids``: a DataFrame with a doc_id column, or an iterable of
    ints. Each call commits one immutable tombstone batch (parquet +
    manifest row with count/checksum); batches accumulate and readers
    union them, so deletes are resumable and append-only like every
    other build artifact.

    ``auto_vacuum_threshold``: when set, the post-commit deleted
    fraction (``deleted_fraction``: tombstones / stats.json n_docs) is
    checked, and if it EXCEEDS the threshold the vacuum runs immediately
    into ``vacuum_out`` (required with the threshold; immutable layout →
    a vacuum is a new directory, the caller swaps serving paths) — the
    policy that bounds how stale df/idf can drift before a refresh, e.g.
    0.1 = never serve stats describing >10% dead docs. The returned dict
    gains ``deleted_fraction`` and, when triggered, ``vacuumed_to``.
    """
    if (auto_vacuum_threshold is not None) and vacuum_out is None:
        raise ValueError("auto_vacuum_threshold needs vacuum_out (the "
                         "vacuumed index is a NEW directory)")
    if not _done(index_dir, "build_complete"):
        raise ValueError(f"{index_dir} is not a completed index — "
                         "tombstones against a mid-build index would race "
                         "the builder's own manifests")
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select("doc_id").distinct()
    else:
        ids_list = sorted({int(i) for i in doc_ids})
        if not ids_list:
            raise ValueError("delete_docs called with no doc_ids")
        ids = spark.createDataFrame([(i,) for i in ids_list],
                                    "doc_id long")
    batches = _tombstone_batches(index_dir)
    nxt = (batches[-1] + 1) if batches else 0
    out = os.path.join(index_dir, "tombstones", f"batch={nxt}")
    agg = ids.agg(F.count("*").alias("n"),
                  F.sum(F.crc32(F.col("doc_id").cast("string")))
                  .alias("checksum")).collect()[0]
    if not agg["n"]:
        raise ValueError("delete_docs called with no doc_ids")
    ids.write.mode("overwrite").parquet(out)
    _record(index_dir, f"tombstones_{nxt}", batch=nxt, rows=agg["n"],
            checksum=int(agg["checksum"] or 0))
    result = {"batch": nxt, "rows": agg["n"]}
    if auto_vacuum_threshold is not None:
        frac = deleted_fraction(spark, index_dir)
        result["deleted_fraction"] = frac
        if frac > auto_vacuum_threshold:
            result["vacuumed_to"] = vacuum_index(spark, index_dir,
                                                 vacuum_out)
    return result


def tombstone_batches(index_dir: str) -> list[int]:
    """Committed tombstone batch ids in commit order — the index's
    delete-snapshot points for ``load_index(as_of_batch=…)`` (each
    batch is an immutable parquet dir + manifest row, so every past
    delete-state stays readable, Iceberg-snapshot style)."""
    return _tombstone_batches(index_dir)


def load_tombstones(spark: SparkSession, index_dir: str,
                    as_of_batch: int | None = None) -> DataFrame | None:
    """Union of committed tombstone batches (doc_id, distinct), or None
    when none apply. ``as_of_batch`` time-travels the delete state:
    only batches with id <= it are applied (-1 → the pre-delete
    snapshot; None → all, the live view)."""
    batches = _tombstone_batches(index_dir)
    if as_of_batch is not None:
        batches = [b for b in batches if b <= as_of_batch]
    if not batches:
        return None
    paths = [os.path.join(index_dir, "tombstones", f"batch={b}")
             for b in batches]
    return spark.read.parquet(*paths).select("doc_id").distinct()


def merge_indexes(spark: SparkSession, index_dirs: list[str],
                  out_dir: str, shards: int = 1) -> str:
    """Merge N durable segment indexes into one — the engine's analog of
    the reference's 2-way external index merge
    (/root/reference/indexing/index_merging/index_merging.py:4-64, which
    zips two term-sorted postings files line by line). Spark-native
    N-way form: the inputs' staged postings tables are unioned and laid
    out by ONE range exchange; corpus-global statistics (df, cf, n_docs,
    avgdl, VSM norms) are recomputed over the union, so the merged index
    is bit-identical to an index built over the union of the corpora
    (test-gated). Runs through ``build_durable_index``'s own manifest
    steps, so a killed merge resumes like a killed build.

    Tombstoned deletes (``delete_docs``) are applied PHYSICALLY here:
    dead postings and doc_stats rows are dropped before the exchange and
    the corpus-global stats (df, cf, n_docs, avgdl, VSM norms) are
    recomputed over the LIVE union — so ``merge_indexes([one_index],
    out)`` is the vacuum operation, and the output carries no
    tombstones. Test-gated identical to a fresh build over the live docs.

    Requirements validated up front: every input finished building
    (build_complete manifest), all inputs share the same analyzer /
    buckets / block_span / positional config (mixing analyzers would mix
    token vocabularies; mixing block spans breaks WAND's block-range
    invariant), and LIVE doc_id sets are pairwise DISJOINT
    (doc-partitioned blocks assume one posting per (term, doc_id);
    merging re-crawled corpora needs a dedup/re-id pass first — see
    sources.corpus with_dense_doc_ids / operators.dedup).
    """
    if len(index_dirs) < 1:
        raise ValueError("merge_indexes needs at least one input index "
                         "(one input = tombstone vacuum / layout rebuild)")
    if os.path.abspath(out_dir) in {os.path.abspath(d) for d in index_dirs}:
        raise ValueError("merge output must be a NEW directory, not an input")

    configs = []
    for d in index_dirs:
        stats_path = os.path.join(d, "stats.json")
        if os.path.exists(stats_path):
            with open(stats_path) as f:
                if json.load(f).get("store") == "impact":
                    raise ValueError(
                        f"{d} is a quantized-impact serving artifact — "
                        "tf/dl are not recoverable from it; merge/vacuum "
                        "the SOURCE indexes and re-quantize the result "
                        "(quantize_index)")
        if not _done(d, "build_complete"):
            raise ValueError(f"{d} is not a completed index "
                             "(no build_complete manifest)")
        with open(_manifest_path(d, "build_config")) as f:
            configs.append(json.load(f)["config"])
    base = {k: v for k, v in configs[0].items() if k != "shards"}
    for d, c in zip(index_dirs[1:], configs[1:]):
        got = {k: v for k, v in c.items() if k != "shards"}
        if got != base:
            raise ValueError(
                f"cannot merge indexes with different build configs: "
                f"{index_dirs[0]} has {base}, {d} has {got}")

    a = base["analyzer"]
    conf = AnalyzerConfig(lowercase=a["lowercase"],
                          remove_stopwords=a["remove_stopwords"],
                          stem=a["stem"])
    buckets, block_span = base["buckets"], base["block_span"]
    positional = base["positional"]

    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)

    # tombstones of every input, applied physically below (the vacuum)
    from functools import reduce

    tombs = [load_tombstones(spark, d) for d in index_dirs]
    live_tombs = [t for t in tombs if t is not None]
    all_tombs = (reduce(lambda x, y: x.unionByName(y), live_tombs)
                 .distinct() if live_tombs else None)

    def drop_dead(df: DataFrame) -> DataFrame:
        if all_tombs is None:
            return df
        return df.join(F.broadcast(all_tombs), "doc_id", "left_anti")

    # LIVE doc_id disjointness: one aggregation over the (small)
    # doc_stats tables, NOT the postings — exact, and cheap relative to
    # the merge
    doc_stats = [drop_dead(spark.read.parquet(os.path.join(d, "doc_stats")))
                 for d in index_dirs]
    all_ids = reduce(lambda x, y: x.unionByName(y),
                     [ds.select("doc_id") for ds in doc_stats])
    dup = all_ids.groupBy("doc_id").count().filter(F.col("count") > 1)
    clash = dup.limit(5).collect()
    if clash:
        raise ValueError(
            "doc_id sets overlap across inputs (e.g. "
            f"{[r['doc_id'] for r in clash]}) — re-id or dedup before "
            "merging (doc-partitioned blocks assume one posting per "
            "(term, doc_id))")

    if not _done(out_dir, "doc_stats"):
        t0 = time.perf_counter()
        reduce(lambda x, y: x.unionByName(y), doc_stats) \
            .write.mode("overwrite") \
            .parquet(os.path.join(out_dir, "doc_stats"))
        _record(out_dir, "doc_stats", merged_from=len(index_dirs),
                duration_sec=round(time.perf_counter() - t0, 3))

    stage_out = os.path.join(out_dir, "postings_stage")
    if not _done(out_dir, "postings_stage"):
        t0 = time.perf_counter()
        staged = drop_dead(reduce(
            lambda x, y: x.unionByName(y),
            [spark.read.parquet(os.path.join(d, "postings_stage"))
             for d in index_dirs]))
        range_layout(staged, "bucket", "term", "doc_id") \
            .write.mode("overwrite").options(**TERM_BLOOM) \
            .partitionBy("bucket").parquet(stage_out)
        _record(out_dir, "postings_stage",
                sources=[os.path.abspath(d) for d in index_dirs],
                duration_sec=round(time.perf_counter() - t0, 3))

    # segments / term_stats / stats.json / vsm_norms run through the
    # normal build with its resumable manifests; docs is only read on
    # the (pre-recorded, skipped) doc_stats derivation path
    build_durable_index(
        spark, docs=None, index_dir=out_dir, conf=conf, buckets=buckets,
        block_span=block_span, shards=shards, positional=positional,
        resume=True,
    )
    _record(out_dir, "merged_from",
            sources=[os.path.abspath(d) for d in index_dirs],
            tombstone_batches_applied=sum(
                len(_tombstone_batches(d)) for d in index_dirs))
    return out_dir


def refresh_index(spark: SparkSession, index_dir: str,
                  main_docs: DataFrame, new_docs: DataFrame,
                  out_dir: str, url_col: str = "url") -> dict:
    """Crawl-refresh upsert: absorb a re-crawl batch into a completed
    index — the web-scale lifecycle a Common-Crawl-style corpus needs
    (every crawl re-fetches a fraction of known urls and discovers new
    ones; reference has no analog — it rebuilds from scratch).

    Composition of three existing primitives, each resumable:

    1. ``delete_docs``: main-index docs whose url reappears in the batch
       are tombstoned (url is the document identity, per input_hint);
       the LIVE index stops serving the stale versions immediately;
    2. a DELTA durable index is built over the batch under
       ``<out_dir>.delta``, with the main index's own recorded build
       config (mixing analyzers is refused by merge anyway) and dense
       doc_ids starting above the main index's max (block ids never
       collide, so merged doc-partitioned blocks stay well-formed);
    3. ``merge_indexes([main, delta], out_dir)``: tombstones vacuum
       physically and corpus-global stats (df, cf, n_docs, avgdl, VSM
       norms) recompute over the live union.

    The result is query-identical (url, score) to a from-scratch build
    over (main_docs − re-crawled urls) ∪ new_docs — test-gated in
    tests/test_refresh.py. Only the delta postings are tokenized and
    encoded from text; the surviving main postings move through one
    layout exchange, so refresh cost scales with |batch| + |index|
    bytes, not with re-analyzing the corpus.

    ``main_docs`` must be the documents table the main index was built
    from (the index dir stores stats, not text); ``new_docs`` must have
    one row per url (a crawl batch with internal re-fetches needs a
    latest-wins cut first — refused here, not guessed). Returns
    ``{"out_dir", "docs_out", "n_stale", "n_new"}`` where ``docs_out``
    is the refreshed documents DataFrame (live main rows + batch rows,
    ids aligned with the merged index) for the caller to persist.
    """
    cfg_path = os.path.join(index_dir, "manifest", "build_config.json")
    if not os.path.exists(cfg_path):
        raise ValueError(f"{index_dir} has no recorded build config — "
                         "not a durable index built here")
    with open(cfg_path) as f:
        cfg = json.load(f)["config"]
    conf = AnalyzerConfig(**cfg["analyzer"])

    n_batch = new_docs.count()
    n_urls = new_docs.select(url_col).distinct().count()
    if n_batch != n_urls:
        raise ValueError(
            f"new_docs has {n_batch} rows over {n_urls} distinct urls — "
            "a refresh batch must be one row per url (apply a "
            "latest-wins cut, e.g. max(warc_ts) per url, first)")

    def _live(docs: DataFrame) -> DataFrame:
        t = load_tombstones(spark, index_dir)
        if t is None:
            return docs
        return docs.join(F.broadcast(t), "doc_id", "left_anti")

    # stale = current LIVE docs whose url is re-crawled in this batch
    # (previously tombstoned ids are already dead; re-tombstoning them
    # would be harmless but inflates batch rows)
    stale = (_live(main_docs)
             .join(new_docs.select(url_col).distinct(), url_col)
             .select("doc_id"))
    # count distributes; the id set itself never moves driver-side
    # (delete_docs takes the DataFrame) — stale can be batch-sized
    n_stale = stale.count()
    if n_stale:
        delete_docs(spark, index_dir, stale)

    start = spark.read.parquet(os.path.join(index_dir, "doc_stats")) \
        .agg(F.max("doc_id").alias("m")).collect()[0]["m"] + 1

    from .corpus import with_dense_doc_ids

    delta_docs = with_dense_doc_ids(new_docs.drop("doc_id"), start=start)
    delta_dir = out_dir.rstrip("/") + ".delta"
    build_durable_index(
        spark, delta_docs, delta_dir, conf=conf, buckets=cfg["buckets"],
        block_span=cfg["block_span"], shards=cfg["shards"],
        positional=cfg["positional"])

    merge_indexes(spark, [index_dir, delta_dir], out_dir,
                  shards=cfg["shards"])

    docs_out = _live(main_docs).unionByName(delta_docs,
                                            allowMissingColumns=True)
    return {"out_dir": out_dir, "docs_out": docs_out,
            "n_stale": n_stale, "n_new": n_batch}
