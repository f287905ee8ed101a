"""Durable index catalog: Iceberg-layout segment writer with per-bucket
lineage and resumable checkpoints (BASELINE.json north rule).

Layout (parquet in this sandbox; every decision is Iceberg-shaped — a
catalog with the Iceberg runtime jar would swap ``_write_table``'s one
``.write.parquet`` call for ``writeTo(...).using("iceberg")`` without
touching the plan):

    index_dir/
      stats.json                 corpus scalars + build config (its
                                 ``buckets`` is the count B every
                                 reader hashes terms with)
      postings_stage/bucket=b/   postings (term, doc_id, tf, dl
                                 [, positions]): the one relational and
                                 positional table (SegmentIndex.lookup)
      doc_stats/  term_stats/  vsm_norms/   parquet side tables
      segments/bucket=b/         tf/dl blocks, no positions: the serving
                                 kernels' tf-only converted index
      phrase_postings/bucket=b/  next-word postings (term = "w1 w2",
                                 doc_id, tf, dl, positions)
                                 (build_phrase_index)
      term_trigrams/gbucket=G/   vocabulary trigrams (build_term_ngram_index)
      ann_centroids/  ann_codebooks/  ann_coded/cell=C/
                                 IVF+PQ artifacts (build_ann_index)
      tombstones/batch=N/        deleted doc ids, one batch per delete_docs
      manifest/<step>.json       one row per committed step; the segments
                                 row carries per-bucket detail

Bucket rule: a term-addressed row lives in ``bucket = pmod(xxhash64(term),
B)``. B is sized to the postings unless the build asks for a count:
``SEG.bucket_count`` gives one bucket per ``SEG.POSTINGS_PER_BUCKET``
postings, at most ``SEG.MAX_BUCKETS`` (64), so a 1k-doc index writes ~9
bucket directories per table and a corpus of ~1M postings or more
writes 64. The build counts the postings it has just analyzed (the job
that persists them), records B in the ``postings_stage`` row and
stats.json, and keeps the requested value (None = sized) in the
``build_config`` row. A merge re-buckets its live union the same way,
so merge, vacuum and refresh equal a fresh build. Indexes built before
sizing recorded ``buckets: 64`` and keep it.

A quantized-impact store (quantize_index) holds only ``segments/``,
``stats.json`` (the source's, plus ``store``, ``impact_bits`` and the
absolute ``sidecar_dir``) and its ``quantize_complete`` row. Everything
else — side tables, artifacts, tombstones — is read from the source
directory ``sidecar_dir`` names (``SegmentIndex.source_dir``).

Write policy: every table above is written by ``_write_table``, with
one set of parquet writer keys (``WRITE_POLICY``): zstd pages, and no
min/max statistics on the segments' ``payload`` column. It holds
opaque varint blobs; no reader filters on it, yet the min/max copies
of such blobs (whole short blobs, in every footer and page index) were
~11% of the segment files' bytes. Statistics stay on the
columns that prune: ``term`` (the Arrow miss read and Spark's
row-group filter) and ``block_id``; ``bucket`` prunes by directory.
The term-addressed tables add the ``TERM_BLOOM`` keys. Parquet records
the codec per file, so an index written with snappy pages still opens,
resumes and merges.

Commit rule: a step's manifest row is its only commit and carries all
of its metadata — its duration, its counts and what readers need (the
phrase index's covered terms, the ANN fit parameters). A step that
writes data first removes any row it committed earlier, then writes,
then records its row (``_step``), so a step that fails at any point is
left with no row. Readers decide what exists from rows only, never from
whether a file or directory is present: ``load_index`` refuses a
directory with no ``build_complete`` (or ``quantize_complete``) row,
and a handle serves an artifact only when its row is committed.

Resume semantics: a re-run skips every build step whose row exists —
the anti-join of "work" against "lineage" from the north rule, realized
as a driver-side loop over independent Spark jobs so a kill between any
two steps loses at most one step's work. tests/test_segments.py kills
mid-build and asserts the resumed index is identical.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import codec
from ..functions.analyzer import AnalyzerConfig
from ..operators import postings as P
from ..operators import scoring
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


#: the parquet writer keys of every catalog table (``_write_table``):
#: zstd pages, and no column-chunk or page min/max on the opaque
#: varint ``payload`` column, which no reader filters on. A key naming
#: a column the table lacks is ignored.
WRITE_POLICY = {
    "compression": "zstd",
    "parquet.column.statistics.enabled#payload": "false",
}


def _write_table(df: DataFrame, path: str, partition_by: str | None = None,
                 bloom: bool = False) -> None:
    """The catalog's one parquet write: overwrite ``path`` with ``df``
    under ``WRITE_POLICY``, partitioned by ``partition_by`` if given,
    with the term bloom filters (``TERM_BLOOM``) if ``bloom``."""
    w = df.write.mode("overwrite").options(**WRITE_POLICY)
    if bloom:
        w = w.options(**TERM_BLOOM)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


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


def _write_json(path: str, obj: dict) -> None:
    """Commit a JSON file atomically: write a sibling temp file, then
    ``os.replace`` it over ``path``. A reader (a lazily opened handle
    reads these from the driver at any time) sees the previous file or
    the new one, never half of one; a failed write leaves no temp."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def _record(index_dir: str, step: str, **info) -> None:
    os.makedirs(os.path.join(index_dir, "manifest"), exist_ok=True)
    _write_json(_manifest_path(index_dir, step),
                {"step": step, "ts": time.time(), **info})


def _done(index_dir: str, step: str) -> bool:
    return os.path.exists(_manifest_path(index_dir, step))


def _row(index_dir: str, step: str) -> dict | None:
    """The committed manifest row of ``step``, or None."""
    try:
        with open(_manifest_path(index_dir, step)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


#: the phrase artifact's table, named in its ``phrase_index`` row
PHRASE_TABLE = "phrase_postings"


def _phrase_row(index_dir: str) -> dict | None:
    """The committed ``phrase_index`` row if it names ``PHRASE_TABLE``,
    else None: a row committed before that table existed describes an
    artifact nothing reads, so the index has no phrase artifact until
    ``build_phrase_index`` runs again."""
    row = _row(index_dir, "phrase_index")
    return row if row is not None and row.get("table") == PHRASE_TABLE \
        else None


@contextmanager
def _step(index_dir: str, step: str):
    """The one commit rule of a step that writes data: remove the
    step's earlier row, run the body (which writes the data and fills
    the yielded dict with the row's metadata), then record one row with
    that metadata and the duration. A body that raises leaves the step
    with no row, so no reader pairs old metadata with new data."""
    try:
        os.remove(_manifest_path(index_dir, step))
    except FileNotFoundError:
        pass
    row: dict = {}
    t0 = time.perf_counter()
    yield row
    _record(index_dir, step, **row,
            duration_sec=round(time.perf_counter() - t0, 3))


def _completed_tf_index(index_dir: str, what: str) -> dict:
    """The precondition of every step that reads a completed tf/dl
    index (quantize, the phrase/trigram/ANN artifacts, merge, deletes
    and refresh). Checks, in order: not an impact store, a committed
    ``build_complete`` row, a ``stats.json``. Returns the stats."""
    if _done(index_dir, "quantize_complete"):
        raise ValueError(
            f"{what} needs a tf/dl index, and {index_dir} is already an "
            "impact store: it holds only quantized segments and reads "
            "everything else from its SOURCE index. Run it on the source "
            "index, then re-quantize (quantize_index).")
    if not _done(index_dir, "build_complete"):
        raise ValueError(f"{index_dir} is not a completed index (no "
                         "build_complete row) — resume its build first")
    path = os.path.join(index_dir, "stats.json")
    if not os.path.exists(path):
        raise ValueError(f"{index_dir} has a build_complete row but no "
                         "stats.json — the index directory is damaged or "
                         "was copied without its stats file")
    with open(path) as f:
        return json.load(f)


def _build_config(index_dir: str) -> dict | None:
    """The build config committed in the ``build_config`` row (None
    before a build records one): what resume validates against and what
    merge and refresh rebuild with (``_build_args``)."""
    row = _row(index_dir, "build_config")
    return None if row is None else row["config"]


def _build_args(cfg: dict) -> dict:
    """``build_durable_index`` keyword arguments of a recorded config."""
    return {"conf": AnalyzerConfig(**cfg["analyzer"]),
            "buckets": cfg["buckets"], "block_span": cfg["block_span"],
            "positional": cfg["positional"]}


def _bucket_col(buckets: int):
    """The bucket of a term-addressed row: ``pmod(xxhash64(term), B)``
    (``SegmentIndex._buckets_for`` computes the same on the driver)."""
    return F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int")


def build_durable_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    conf: AnalyzerConfig = AnalyzerConfig.full(),
    buckets: int | None = None,
    block_span: int = SEG.DEFAULT_BLOCK_SPAN,
    positional: bool = True,
    resume: bool = True,
) -> str:
    """Build (or resume building) the segment index under ``index_dir``.

    One range exchange lays the postings out by (bucket, term,
    block_id); the staged postings table, the encoded segments, doc/term
    stats and VSM norms are all derived from that one sorted, persisted
    exchange — the segment encode is a shuffle-free mapInPandas over it
    (``SEG.encode_sorted``). The segments step records per-BUCKET
    lineage. Resume granularity is the step: an interrupted segments
    step is re-derived from the staged parquet with one fresh
    exchange.

    ``buckets=None`` (the default) sizes the bucket count to the
    postings (``SEG.bucket_count``), counted on the persisted postings
    before the exchange; an explicit count is kept as given. The count
    used is recorded in the ``postings_stage`` row and in stats.json
    (what every reader takes), and a resumed build takes it from the
    row. The ``build_config`` row keeps the requested value; a resume
    that requests None adopts the recorded one."""
    if buckets is not None and buckets < 1:
        raise ValueError(f"buckets must be >= 1 or None, got {buckets}")
    if not resume and os.path.exists(os.path.join(index_dir, "manifest")):
        shutil.rmtree(index_dir)
    os.makedirs(os.path.join(index_dir, "manifest"), exist_ok=True)

    # Resume must re-run with the SAME build config: skipping completed
    # steps while e.g. the analyzer or block_span changed would mix
    # incompatible artifacts (stats.json would claim the new analyzer
    # against old-analyzer tokens; mixed block spans break the kernel's
    # same-block-id-covers-same-doc-range invariant). The config commits
    # to the manifest up front and every re-run validates against it.
    # (a resume that asks for no particular bucket count keeps the
    # recorded one)
    prev = _build_config(index_dir)
    if buckets is None and prev is not None:
        buckets = prev["buckets"]
    config = {
        "buckets": buckets, "block_span": block_span,
        "positional": positional,
        "analyzer": {"lowercase": conf.lowercase,
                     "remove_stopwords": conf.remove_stopwords,
                     "stem": conf.stem},
    }
    if prev is None:
        _record(index_dir, "build_config", config=config)
    elif prev != config:
        raise ValueError(
            f"resume of {index_dir} with a DIFFERENT build config "
            f"(recorded {prev}, requested {config}) would mix "
            "incompatible artifacts — pass resume=False to rebuild")

    from pyspark import StorageLevel

    stage_dir = os.path.join(index_dir, "postings_stage")
    # the sorted exchange output, persisted for the session:
    # segments/doc_stats/term_stats/vsm_norms all read it cache-hit
    sorted_post: DataFrame | None = None
    stage_row = _row(index_dir, "postings_stage")
    if stage_row is None:
        with _step(index_dir, "postings_stage") as row:
            post = P.build_postings(docs, conf, positional=positional) \
                .withColumn("block_id", (F.col("doc_id")
                                         / F.lit(block_span)).cast("long"))
            # Range-partition on (bucket, term, block_id) before the
            # partitionBy write. Four birds: (1) without a pre-partition,
            # every task writes into every bucket dir — file count scales
            # as tasks x buckets and commit overhead WORSENS with more
            # cores; (2) a plain hash repartition(buckets) makes one task
            # per bucket, and Zipf head-term buckets become stragglers
            # that cap scaling — range sampling balances them, and
            # block_id lets one huge term split across tasks in
            # doc-partitioned-block units (the skew handling of the north
            # rule: a key's rows are bounded by block occupancy ≤
            # block_span); (3) sortWithinPartitions gives term-ordered
            # files whose parquet min/max term stats prune term lookups
            # (the word2byte analog); (4) equal (bucket, term, block_id)
            # keys form one consecutive run (range_layout).
            # persist pre-exchange too: repartitionByRange runs a
            # boundary-SAMPLING job that would otherwise re-execute the
            # whole analysis pipeline (extract+tokenize+stem UDFs) a
            # second time. The count is the job that materializes it,
            # and sizes the bucket count before any row is bucketed.
            post_cache = post.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                n_postings = post_cache.count()
                n_buckets = buckets or SEG.bucket_count(n_postings)
                sorted_post = range_layout(
                    post_cache.withColumn("bucket", _bucket_col(n_buckets)),
                    "bucket", "term", "block_id", tiebreak="doc_id") \
                    .persist(StorageLevel.MEMORY_AND_DISK)
                # block_id is derivable (doc_id // block_span) — keep the
                # staged files free of it so readers of postings_stage see
                # the plain postings schema
                _write_table(sorted_post.drop("block_id"), stage_dir,
                             partition_by="bucket", bloom=True)
            except BaseException:
                if sorted_post is not None:
                    sorted_post.unpersist()
                raise
            finally:
                post_cache.unpersist()   # its rows live on in sorted_post
            row.update(rows=n_postings, buckets=n_buckets)
        stage_row = row
    # the bucket count the staged postings were written with; rows
    # committed before it was recorded used the configured count
    n_buckets = stage_row.get("buckets", buckets)

    def _build_doc_stats() -> None:
        if _done(index_dir, "stats"):
            return
        if not _done(index_dir, "doc_stats"):
            # dl already rides on every posting row — deriving doc_stats
            # from the staged postings avoids a SECOND full tokenization
            # pass; docs that produced no tokens are re-added with dl=0
            with _step(index_dir, "doc_stats"):
                ds = _staged().select("doc_id", "dl").distinct()
                empties = docs.select("doc_id").join(
                    ds.select("doc_id"), "doc_id", "left_anti"
                ).withColumn("dl", F.lit(0))
                _write_table(ds.unionByName(empties),
                             os.path.join(index_dir, "doc_stats"))
        row = spark.read.parquet(os.path.join(index_dir, "doc_stats")).agg(
            F.count("*").alias("n"), F.sum("dl").alias("t")).collect()[0]
        stats = {"n_docs": row["n"], "total_len": int(row["t"] or 0),
                 "avgdl": (row["t"] / row["n"]) if row["n"] else 0.0,
                 **config, "buckets": n_buckets}
        _write_json(os.path.join(index_dir, "stats.json"), stats)
        _record(index_dir, "stats")

    def _build_term_stats() -> None:
        if _done(index_dir, "term_stats"):
            return
        with _step(index_dir, "term_stats"):
            _write_table(P.term_stats(_staged()),
                         os.path.join(index_dir, "term_stats"), bloom=True)

    def _build_vsm_norms() -> None:
        # per-doc VSM norms are a BUILD artifact (the reference
        # precomputes them the same way, vsm_model.py:44-54): computing
        # them lazily would re-aggregate the full postings table once per
        # session on the first VSM query. Depends on stats + term_stats,
        # so runs after both.
        if _done(index_dir, "vsm_norms"):
            return
        from ..operators.search import vsm_norms_frame

        with _step(index_dir, "vsm_norms"):
            with open(os.path.join(index_dir, "stats.json")) as f:
                n = json.load(f)["n_docs"]
            _write_table(vsm_norms_frame(
                _staged(),
                spark.read.parquet(os.path.join(index_dir, "term_stats")),
                n,
            ), os.path.join(index_dir, "vsm_norms"))

    def _staged() -> DataFrame:
        # the live sorted exchange when this session just produced it
        # (cache hit, plain postings schema), else the staged parquet
        if sorted_post is not None:
            return sorted_post.drop("block_id")
        return spark.read.parquet(stage_dir)

    def _build_segments() -> None:
        if _done(index_dir, "segments"):
            return
        with _step(index_dir, "segments") as row:
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
            seg = SEG.encode_sorted(src).persist(StorageLevel.MEMORY_AND_DISK)
            try:
                # encode partitions each cover a narrow contiguous
                # (bucket, term) range, so this write touches 1-2 bucket
                # dirs per task and files stay term-sorted for min/max
                # pruning
                _write_table(
                    seg.sortWithinPartitions("bucket", "term", "block_id"),
                    os.path.join(index_dir, "segments"),
                    partition_by="bucket", bloom=True)
                # per-BUCKET lineage from the persisted frame (cache hit)
                # — identical rows to the files just written, no re-read
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
            for k in ("blocks", "postings", "payload_bytes", "checksum"):
                row[k] = sum(b[k] for b in per_bucket.values())
            row["bucket_lineage"] = per_bucket

    try:
        # each of these jobs saturates the cluster on its own (the encode
        # is a map-only scan of the cached exchange), so they run
        # serially — measured on 2 vs 8 cores, concurrent submission only
        # added contention here
        _build_segments()
        _build_doc_stats()
        _build_term_stats()
        _build_vsm_norms()  # needs stats.json + term_stats from above
    finally:
        if sorted_post is not None:
            sorted_post.unpersist()
    _record(index_dir, "build_complete", buckets=n_buckets)
    return index_dir



def lineage_rows(index_dir: str) -> list[dict]:
    """Every committed manifest row of the index, by step name."""
    rows = (_row(index_dir, name[:-len(".json")]) for name in
            sorted(os.listdir(os.path.join(index_dir, "manifest")))
            if name.endswith(".json"))
    return [r for r in rows if r is not None]  # None: retracted meanwhile


class MiniBlock:
    """One posting block in the driver mini-index: the segment row's
    metadata and payload bytes, plus the block's decoded arrays,
    memoized on first use so a cached term is decoded once rather than
    once per request. The arrays are read-only (every request shares
    them; tombstone masking makes per-request copies) and are evicted
    with the term's LRU entry. Decoded, a posting costs at most 24 B
    (int64 doc, tf and dl) against ~4 B as varints. The memo is
    idempotent: two threads racing on it decode the same arrays."""

    __slots__ = ("term", "block_id", "block_max_tf", "n_docs", "payload",
                 "_decoded")

    def __init__(self, term: str, block_id: int, block_max_tf: int,
                 n_docs: int, payload: bytes):
        self.term = term
        self.block_id = block_id
        self.block_max_tf = block_max_tf
        self.n_docs = n_docs
        self.payload = payload
        self._decoded = None

    def _memo(self, decode):
        if self._decoded is None:
            arrays = []
            for a in decode(self.payload):
                if a is not None:
                    if a.base is not None:
                        # tf, dl and impact runs are views into the
                        # whole decoded varint stream: own just the run
                        a = a.copy()
                    a.flags.writeable = False
                arrays.append(a)
            self._decoded = tuple(arrays)
        return self._decoded

    def full(self):
        """codec.decode_block_full of the payload: (docs, tfs, dls|None)."""
        return self._memo(codec.decode_block_full)

    def impact(self):
        """codec.decode_block_impact of the payload: (docs, impacts)."""
        return self._memo(codec.decode_block_impact)


#: segment columns a mini-index miss ships to the driver, in
#: ``MiniBlock`` constructor order
_MINI_COLUMNS = ("term", "block_id", "block_max_tf", "n_docs", "payload")


def _read_doc_ids(paths: list[str], limit: int) -> frozenset[int]:
    """Distinct ``doc_id`` values of the parquet dirs at ``paths``, read
    on the driver through Arrow. Stops once ``limit`` distinct ids are
    held, so it holds at most ``limit`` ids plus one Arrow batch."""
    import pyarrow.dataset as pads

    ids: set[int] = set()
    for p in paths:
        for batch in pads.dataset(p, format="parquet").to_batches(
                columns=["doc_id"]):
            ids.update(batch.column(0).to_pylist())
            if len(ids) >= limit:
                return frozenset(ids)
    return frozenset(ids)


class SegmentIndex(InvertedIndex):
    """InvertedIndex backed by a durable catalog. Relational term
    lookups read the staged postings' matching rows (bucket partition
    pruning + term predicate pushdown — the columnar replacement for
    the reference's word2byte byte-range reads, index_loader.py:71-128);
    the serving kernels read the tf-only segment blocks.

    Opening is lazy. The constructor reads only the JSON manifests
    (stats.json and manifest rows) on the driver; each Spark frame —
    segments, postings, doc_stats, term_stats, VSM norms, the phrase and
    trigram tables, tombstones — is created on first use. The serving
    kernels read segments and tombstones through Arrow on the driver
    (``mini_index``, ``deleted_ids``), so a handle that only serves them
    never starts a Spark job. The driver must see ``index_dir``, as it
    must to read the manifests."""

    #: terms the driver-side mini-index LRU holds
    MAX_CACHED_TERMS = 4096

    def __init__(self, spark: SparkSession, index_dir: str,
                 documents: DataFrame | None = None,
                 as_of_batch: int | None = None):
        if not (_done(index_dir, "build_complete")
                or _done(index_dir, "quantize_complete")):
            raise ValueError(
                f"index at {index_dir} has no completion row "
                "(build_complete, or quantize_complete for a quantized "
                "store): its build stopped part-way. Resume the build "
                "(build_durable_index with resume=True, the default of "
                "jobs/build_index.py) or re-run quantize_index.")
        with open(os.path.join(index_dir, "stats.json")) as f:
            meta = json.load(f)
        self.spark = spark
        self.index_dir = index_dir
        self.meta = meta
        self.stats = {k: meta[k] for k in ("n_docs", "total_len", "avgdl")}
        self.documents = documents
        self.analyzer = AnalyzerConfig(**meta["analyzer"])
        # quantized-impact artifacts (quantize_index) carry only their
        # re-coded segments + stats.json; every side table, artifact and
        # tombstone batch resolves from the SOURCE index — Iceberg
        # metadata-pointing-at-shared-data-files, not a copy
        sidecar = meta.get("sidecar_dir")
        if sidecar and not _done(sidecar, "build_complete"):
            # the pointer is persisted absolute; a moved/deleted/vacuumed
            # source would otherwise surface later as an opaque parquet
            # read failure on the relational paths (and silently missing
            # tombstones) — diagnose it at open time
            raise ValueError(
                f"impact store at {index_dir} points at sidecar "
                f"{sidecar}, which is missing or not a completed index "
                "(moved, deleted, or vacuumed-and-swapped). Re-quantize "
                "from the current source index (jobs/quantize_index.py) "
                "— impact artifacts bake their source's stats and share "
                "its side tables, so they cannot outlive it.")
        #: the directory of every side table, artifact and tombstone
        #: batch this handle reads: the index's own, or its source's
        self.source_dir = src = sidecar or index_dir

        # Driver-side mini-index LRU: per-term (df, [MiniBlock], cap_used)
        # — the moral equivalent of the reference's startup word2byte
        # dict plus byte-range posting loads warmed by the OS page cache
        # (index_loader.py:71-128). A repeat term costs zero reads and,
        # once scored, zero block decodes.
        from collections import OrderedDict
        self._mini: OrderedDict[str, tuple[int, list]] = OrderedDict()
        self._mini_cap = self.MAX_CACHED_TERMS
        self._segment_files = None
        #: cumulative mini-index traffic of this handle: term lookups
        #: served from the LRU (hits) or fetched (misses), payload blocks
        #: shipped and seconds spent in fetches
        self.mini_counters = {"hits": 0, "misses": 0, "blocks_fetched": 0,
                              "fetch_s": 0.0}
        # every optional artifact is gated on its manifest row, never on
        # its directory: a step killed mid-write (or a rebuild in
        # progress) leaves data but no row, and must not load.
        # next-word phrase index (build_phrase_index): its row carries
        # the covered common terms, so coverage is decided DRIVER-SIDE —
        # no Spark job to test a pair. A row that does not name the
        # table layout (one committed before phrase_postings/ existed)
        # is no artifact: phrases take the positional path
        self._phrase_meta = _phrase_row(src)
        self._phrase_common: frozenset[str] = frozenset(
            self._phrase_meta["terms"] if self._phrase_meta else ())
        # character-trigram vocabulary index (build_term_ngram_index):
        # bounds leading-wildcard / infix pattern expansion
        self._has_trigrams = _done(src, "term_ngram_index")
        # compressed-ANN artifact (build_ann_index): its row carries the
        # fit parameters; IVF centroids + PQ codebooks restore lazily
        # (driver-sized collects on first use), the cell-partitioned
        # coded table reads like any side table
        self._ann_meta = _row(src, "ann_index")
        self._ann_centroids = None
        self._ann_codebooks = None
        # Lucene-style live-docs: committed tombstone batches exclude
        # deleted docs from every query path NOW; postings vacuum (and
        # stats refresh) happens at merge_indexes. No paths when no
        # deletes. as_of_batch time-travels the delete state (batches
        # are immutable, so every past snapshot stays readable): -1 reads
        # the pre-delete index, N applies batches 0..N, None is live.
        # The batch list is fixed at open, so the relational paths and
        # the kernels see the same deletes however late each first reads.
        # A quantized store reads its source's batches (delete_docs
        # refuses the store itself).
        self.as_of_batch = as_of_batch
        self._tomb_paths = _tombstone_paths(src, as_of_batch)
        self._deleted_set: frozenset[int] | None = None
        # (the deleted_ids set it was built from, its sorted array)
        self._deleted_arr: tuple | None = None

    def __repr__(self) -> str:
        # the dataclass repr would read every lazy frame
        return f"SegmentIndex({self.index_dir!r})"

    def table_path(self, name: str) -> str:
        """Directory of side table or artifact ``name`` (postings_stage,
        doc_stats, term_stats, ...), resolved in ``source_dir``."""
        return os.path.join(self.source_dir, name)

    @cached_property
    def segments(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir,
                                                    "segments"))

    @cached_property
    def postings(self) -> DataFrame:
        return self.spark.read.parquet(self.table_path("postings_stage"))

    @cached_property
    def doc_stats(self) -> DataFrame:
        return self.spark.read.parquet(self.table_path("doc_stats"))

    @cached_property
    def term_stats(self) -> DataFrame:
        return self.spark.read.parquet(self.table_path("term_stats"))

    @cached_property
    def _vsm_norms(self) -> DataFrame:
        # a build step before build_complete, so every openable index
        # has them (search.vsm_doc_norms computes them for in-memory
        # indexes)
        return self.spark.read.parquet(self.table_path("vsm_norms"))

    @cached_property
    def _phrase_postings(self) -> DataFrame | None:
        if self._phrase_meta is None:
            return None
        return self.spark.read.parquet(self.table_path(PHRASE_TABLE))

    @cached_property
    def _term_trigrams(self) -> DataFrame | None:
        if not self._has_trigrams:
            return None
        return self.spark.read.parquet(self.table_path("term_trigrams"))

    @cached_property
    def _tombstones(self) -> DataFrame | None:
        if not self._tomb_paths:
            return None
        return self.spark.read.parquet(*self._tomb_paths) \
            .select("doc_id").distinct()

    def vocabulary_size(self) -> int:
        """Number of distinct terms: the row count of term_stats, read
        from its parquet footers (no Spark job, no data pages)."""
        import pyarrow.dataset as pads

        return pads.dataset(self.table_path("term_stats"),
                            format="parquet").count_rows()

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
        """Driver-side live-docs set for the serving kernels (the
        per-segment deleted-docs bitmap of segment-file engines), read
        from the committed tombstone batches through Arrow — no Spark
        job. Read once per index handle, BOUNDED on every call: more
        than ``max_ids`` (default ``DELETED_IDS_MAX``) tombstones raises
        with a vacuum recommendation, also when an earlier call with a
        larger bound cached the set — the read stops after ``max_ids +
        1`` distinct ids. Deletes issued with ``auto_vacuum_threshold``
        never get near it."""
        if not self._tomb_paths:
            return frozenset()
        bound = self.DELETED_IDS_MAX if max_ids is None else max_ids
        ids = self._deleted_set
        if ids is None:
            ids = _read_doc_ids(self._tomb_paths, bound + 1)
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

    def deleted_id_array(self):
        """``deleted_ids()`` as a sorted int64 array (None when nothing
        is deleted), the form the kernel masks blocks with. The set is
        checked against its bound on every call, as ``deleted_ids``
        does; the array is built once per set, not once per request."""
        import numpy as np

        ids = self.deleted_ids()
        if not ids:
            return None
        memo = self._deleted_arr
        if memo is None or memo[0] is not ids:
            arr = np.fromiter(ids, dtype=np.int64, count=len(ids))
            arr.sort()
            arr.flags.writeable = False
            memo = self._deleted_arr = (ids, arr)
        return memo[1]

    def _buckets_for(self, terms: list[str]) -> list[int]:
        # must equal pmod(xxhash64(term), buckets): computed driver-side
        # with the pure-Python XXH64 (fuzz-parity-gated against Spark's
        # expression in tests) — a cold term lookup launches no extra
        # Spark job just to hash a handful of strings
        from ..functions.xxhash import spark_bucket

        return sorted({spark_bucket(t, self.meta["buckets"]) for t in terms})

    def bigram_covered(self, t1: str, t2: str) -> bool:
        """True iff the committed phrase index serves "t1 t2" (both words
        in its common-term coverage). Decided from the driver-side
        metadata: no Spark job."""
        return (self._phrase_meta is not None
                and t1 in self._phrase_common and t2 in self._phrase_common)

    def bigram_lookup(self, t1: str, t2: str,
                      positional: bool = False) -> DataFrame | None:
        """Next-word index point lookup: (term, doc_id, tf, dl
        [, positions]) rows for the two-word phrase "t1 t2" where tf is
        its consecutive-occurrence count and positions (when requested)
        are the FIRST word's positions of each instance — or None when
        ``bigram_covered`` is False: no phrase index is committed, or
        either word is outside its common-term coverage (callers fall
        back to the positional unigram intersection; results are
        identical either way, this only changes the plan). Same
        bucket/term-pruned scan
        and tombstone exclusion as unigram lookup() (``_term_rows``).
        ``positional`` is what lets a k-word phrase chain m-1 bigram
        postings (Williams & Zobel §4) instead of reading m common
        unigrams' positions."""
        if not self.bigram_covered(t1, t2):
            return None
        return self._term_rows(self._phrase_postings, [f"{t1} {t2}"],
                               positional)

    def _term_rows(self, table: DataFrame, terms: list[str],
                   positional: bool) -> DataFrame:
        """(term, doc_id, tf, dl[, positions]) rows of ``terms`` in a
        bucket-partitioned postings table, deleted docs excluded: the
        bucket partition filter and the term pushdown prune the scan,
        and a broadcast anti-join drops tombstoned docs. Every
        relational query path (free-text, phrase, boolean, proximity,
        VSM, LM) reads its postings through here."""
        rows = table.filter(
            F.col("bucket").isin(self._buckets_for(terms))
            & F.col("term").isin(terms)
        ).select("term", "doc_id", "tf", "dl",
                 *(["positions"] if positional else []))
        if self._tombstones is not None:
            rows = rows.join(F.broadcast(self._tombstones), "doc_id",
                             "left_anti")
        return rows

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

            spark = self.spark
            meta = self._ann_meta
            cent = np.empty((meta["n_centroids"], meta["dim"]),
                            dtype=np.float64)
            for r in spark.read.parquet(
                    self.table_path("ann_centroids")).collect():
                cent[r["cell"]] = r["centroid"]
            m, ksub = meta["pq_m"], meta["pq_ksub"]
            books = np.empty((m, ksub, meta["dim"] // m), dtype=np.float64)
            for r in spark.read.parquet(
                    self.table_path("ann_codebooks")).collect():
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
        coded = self.spark.read.parquet(self.table_path("ann_coded"))
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
        # the staged postings (the source's, on an impact store) are the
        # one relational table, so the relational paths score EXACT
        # tf/dl weights on either store; the quantized scores are the
        # serving kernel's (search_maxscore) and search_quantized's
        return self._term_rows(self.postings, terms, positional)

    def mini_index(self, terms: list[str], cap: int | None = None,
                   stats: dict | None = None,
                   ) -> dict[str, tuple[int, list]]:
        """Serving-path point lookup: {term: (df, [MiniBlock(term,
        block_id, block_max_tf, n_docs, payload)])} for in-vocabulary
        terms, through the driver LRU. Hits cost nothing; the misses of
        one call cost one driver-side Arrow read of segments/
        (``_fetch_blocks``) and no Spark job.

        ``cap`` bounds what a miss SHIPS to the driver: each term keeps
        its top-``cap`` blocks by upper bound (block_max_tf desc,
        block_id asc), with the EXACT df alongside. Cache entries
        remember the cap they were fetched under: an entry fetched full
        (cap_used=None) or with a looser cap serves any tighter request
        by driver-side truncation in the same order; a tighter entry
        forces a refetch for a looser request. ``stats`` (optional dict)
        receives this call's ``mini_hits`` and ``mini_misses`` (terms);
        ``mini_counters`` accumulates them over the handle's life."""
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
        counters = self.mini_counters
        counters["hits"] += len(terms) - len(missing)
        counters["misses"] += len(missing)
        if stats is not None:
            stats["mini_hits"] = len(terms) - len(missing)
            stats["mini_misses"] = len(missing)
        if missing:
            t0 = time.perf_counter()
            self._mini.update(self._fetch_blocks(missing, cap))
            counters["fetch_s"] += time.perf_counter() - t0
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

    def _fetch_blocks(self, terms: list[str], cap: int | None
                      ) -> dict[str, tuple[int, list, int | None]]:
        """LRU entries {term: (df, [MiniBlock], cap_used)} for the
        in-vocabulary ``terms``, from one driver-side Arrow read of
        segments/ (the reference's word2byte byte-range loads,
        index_loader.py:71-128). The read prunes files on the hive
        ``bucket=`` partitions and row groups on term min/max. It reads
        block metadata first: blocks are doc-disjoint, so a term's df is
        the sum of its blocks' n_docs, and a term with more than ``cap``
        blocks keeps its top ``cap`` by (block_max_tf desc, block_id
        asc) — the BM25 upper bound is monotone in block_max_tf for a
        fixed term. Payloads are then read for the selected blocks only.
        cap_used is ``cap`` for a truncated term and None for one fetched
        complete, so a later exact request is a hit."""
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        if self._segment_files is None:
            self._segment_files = pads.dataset(
                os.path.join(self.index_dir, "segments"), format="parquet",
                partitioning="hive")
        files = self._segment_files
        if "term" not in files.schema.names:
            return {}  # an index with no postings wrote no segment files
        in_buckets = pads.field("bucket").isin(self._buckets_for(terms))
        meta = files.to_table(
            columns=["term", "block_id", "block_max_tf", "n_docs"],
            filter=in_buckets & pads.field("term").isin(terms))
        dfs: dict[str, int] = {}
        capped: set[str] = set()
        want = None
        for t in dict.fromkeys(terms):
            blocks = meta.filter(pc.equal(meta["term"], t))
            if not blocks.num_rows:
                continue
            dfs[t] = pc.sum(blocks["n_docs"]).as_py()
            sel = pads.field("term") == t
            if cap is not None and blocks.num_rows > cap:
                top = pc.sort_indices(blocks, sort_keys=[
                    ("block_max_tf", "descending"),
                    ("block_id", "ascending")])[:cap]
                sel = sel & pads.field("block_id").isin(
                    blocks["block_id"].take(top).to_pylist())
                capped.add(t)
            want = sel if want is None else want | sel
        if want is None:
            return {}
        rows = files.to_table(columns=list(_MINI_COLUMNS),
                              filter=in_buckets & want)
        self.mini_counters["blocks_fetched"] += rows.num_rows
        out = {t: (df, [], cap if t in capped else None)
               for t, df in dfs.items()}
        for rec in zip(*(rows[c].to_pylist() for c in _MINI_COLUMNS)):
            out[rec[0]][1].append(MiniBlock(*rec))
        return out


def load_index(spark: SparkSession, index_dir: str,
               documents: DataFrame | None = None,
               as_of_batch: int | None = None) -> SegmentIndex:
    """Open a durable index lazily: only its JSON manifests are read
    here, and no Spark job runs (SegmentIndex). A directory without a
    ``build_complete`` row (``quantize_complete`` for a quantized store)
    is refused: its build stopped part-way and must be resumed.
    ``as_of_batch`` gives
    snapshot-isolation time travel over DELETES: only tombstone batches
    with id <= as_of_batch are applied (-1 → before any delete; None →
    live).
    Builds/merges/vacuums already version by directory (immutable
    layout), so directory + as_of_batch addresses every state the
    store has ever served. Snapshot points: ``tombstone_batches``."""
    return SegmentIndex(spark, index_dir, documents,
                        as_of_batch=as_of_batch)


def tombstone_batches(index_dir: str) -> list[int]:
    """Committed tombstone batch ids in commit order — the index's
    delete-snapshot points for ``load_index(as_of_batch=…)`` (each
    batch is an immutable parquet dir + manifest row, so every past
    delete-state stays readable, Iceberg-snapshot style). Row-gated: a
    delete killed mid-write leaves no row and its partial parquet is
    ignored."""
    mdir = os.path.join(index_dir, "manifest")
    return sorted(int(n[len("tombstones_"):-len(".json")])
                  for n in (os.listdir(mdir) if os.path.isdir(mdir) else ())
                  if n.startswith("tombstones_") and n.endswith(".json"))


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


def vacuum_index(spark: SparkSession, index_dir: str, out_dir: str) -> str:
    """Physically drop tombstoned postings and refresh corpus stats:
    the single-input ``merge_indexes`` named as the operation it is.
    The output at ``out_dir`` carries no tombstones and its df/n_docs/
    avgdl/VSM norms describe only live docs (test-gated identical to a
    fresh build over the live corpus). Immutable-layout engines vacuum
    into a NEW directory — the old index stays readable until the caller
    swaps the serving path, exactly like a segment-file engine's merge."""
    return merge_indexes(spark, [index_dir], out_dir)


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
    fewer decode bytes, and an EXACT per-block bound for MaxScore
    pruning (block_max_tf holds the block's max impact). Phrase and
    proximity queries read positions from the source's staged postings.

    The artifact is segments + stats.json + its ``quantize_complete``
    row ONLY: every side table, artifact and tombstone batch resolves
    from the source via ``sidecar_dir`` (``SegmentIndex.source_dir``),
    so nothing corpus-sized is copied; artifact builds, deletes and
    merges refuse the store and point at its SOURCE. Re-quantizing into
    an existing ``out_dir`` first removes its ``quantize_complete`` row,
    so a failed re-quantize leaves a store ``load_index`` refuses, never
    new blocks under old stats. The scoring model (k1=1.2, b=0.75) and
    the corpus stats are BAKED IN — after a merge or vacuum of the
    source, re-quantize from the new index (global stats change);
    merge_indexes/vacuum_index refuse impact stores for that reason.

    This is the engine's form of the reference's index converter
    (/root/reference/indexing/index_converter — re-code an existing
    index into a cheaper serving layout without re-tokenizing).
    """
    stats = _completed_tf_index(index_dir, "quantize_index")
    if os.path.abspath(out_dir) == os.path.abspath(index_dir):
        raise ValueError("quantize output must be a NEW directory")
    with _step(out_dir, "quantize_complete") as row:
        seg = spark.read.parquet(os.path.join(index_dir, "segments")) \
            .select([f.name for f in SEG.SEGMENT_SCHEMA.fields])
        _write_table(
            SEG.quantize_blocks(seg, stats["n_docs"], stats["total_len"],
                                bits=bits)
            .sortWithinPartitions("bucket", "term", "block_id"),
            os.path.join(out_dir, "segments"),
            partition_by="bucket", bloom=True)
        _write_json(os.path.join(out_dir, "stats.json"), {
            **stats, "store": "impact", "impact_bits": bits,
            "impact_k1": scoring.IMPACT_K1, "impact_b": scoring.IMPACT_B,
            "sidecar_dir": os.path.abspath(index_dir)})
        row.update(bits=bits, source=os.path.abspath(index_dir))
    return out_dir


#: default cap on phrase-index coverage — the TOP-K most frequent terms
#: (ties broken by term for determinism). Bounds the driver-side covered
#: set, the phrase_index row, and every SegmentIndex open to
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
    positional intersection is expensive — each side reads a head
    term's full postings. A covered phrase then serves from ONE pruned
    posting lookup (tf = the consecutive-occurrence count, dl riding
    along join-free), while rare-word phrases keep the cheap positional
    path; phrase rankings are IDENTICAL either way (pytest + driver
    gate), this artifact only changes the plan.

    Build shape (one extra linear pass, no re-tokenize): the staged
    postings of common terms explode to (doc_id, pos, term) rows; a
    self-join on (doc_id, pos+1) yields bigram instances; groupBy
    counts them; the bigram postings (term = "w₁ w₂", doc_id, tf, dl,
    positions) are laid out and written the way merge writes the staged
    postings (bucket = hash(bigram), one range exchange, parquet
    min/max + bloom pruning), so ``bigram_lookup`` is the same filter
    as ``lookup``. Restricting both
    sides to common terms bounds the explode to the head of the
    vocabulary — the join is on (doc_id, pos), an equi-join Spark
    shuffles on doc_id, never a cross product.

    The covered-term list is stored in the ``phrase_index`` manifest
    row so serving decides coverage DRIVER-SIDE (no Spark job to test a
    pair); the artifact is read only when that row is committed, and a
    rebuild removes the row first (kill-safe like every other step).
    Coverage is capped at ``max_terms`` (top-K by df, df-tie broken by
    term) so the driver list, the row, and every index open stay
    O(max_terms) at web-scale vocabularies — min_df alone is not a
    bound when the vocabulary has 10^8+ terms.
    """
    meta = _completed_tf_index(index_dir, "build_phrase_index")
    if not meta["positional"]:
        raise ValueError("phrase index needs a positional build (the "
                         "bigram counts are consecutive-position counts)")
    if max_terms < 2:
        raise ValueError(f"max_terms must be >= 2 (a phrase needs two "
                         f"covered words): {max_terms}")
    with _step(index_dir, "phrase_index") as row:
        # coverage = the df HEAD of the vocabulary, doubly bounded: df >=
        # min_df AND top-``max_terms`` by (df desc, term asc). The driver
        # list and the manifest row are O(max_terms) no matter how large
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
        # Zobel §4's longer-phrase evaluation — instead of reading m
        # common unigrams' full positional postings. Two-word phrases keep
        # reading tf only (column pruning skips the positions column).
        bigrams = (
            a.join(b, ["doc_id", "pos"])
            .groupBy("t1", "t2", "doc_id", "dl")
            .agg(F.count("*").cast("int").alias("tf"),
                 F.sort_array(F.collect_list("pos")).alias("positions"))
            .select(F.concat_ws(" ", "t1", "t2").alias("term"),
                    "doc_id", "tf", "dl", "positions")
        )
        # the staged postings' layout: bucket-partitioned, term-sorted
        # files (min/max + bloom pruning), one range exchange
        staged = bigrams.withColumn("bucket", _bucket_col(meta["buckets"]))
        _write_table(
            range_layout(staged, "bucket", "term", "doc_id"),
            os.path.join(index_dir, PHRASE_TABLE),
            partition_by="bucket", bloom=True)
        # the block-encoded artifact of earlier builds: nothing reads it
        shutil.rmtree(os.path.join(index_dir, "phrase_segments"),
                      ignore_errors=True)
        # the row is the artifact's only metadata: readers take the
        # table from "table" (_phrase_row) and coverage from "terms";
        # "positional" says the bigram positions are stored
        row.update(table=PHRASE_TABLE, min_df=min_df, max_terms=max_terms,
                   n_common_terms=len(common), terms=common,
                   positional=True)
    return row


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
    _completed_tf_index(index_dir, "build_term_ngram_index")
    with _step(index_dir, "term_ngram_index") as row:
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
        _write_table(range_layout(grams, "gbucket", "gram", "term"), out,
                     partition_by="gbucket")
        row["rows"] = spark.read.parquet(out).count()
    return row


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
    The ``ann_index`` manifest row records the fit parameters and
    (optionally) the source table path, so load_index can restore the
    artifact and rebuild_artifacts can re-derive it after a
    merge/vacuum.

    Determinism: ivf_fit/pq_fit are content-hash-sampled with fixed
    init (no RNG), and parquet round-trips float64 exactly, so a loaded
    artifact serves bit-identically to the in-session fit — the driver
    identity gates run against the LOADED artifact."""
    _completed_tf_index(index_dir, "build_ann_index")
    from ..operators import similarity as SIM

    with _step(index_dir, "ann_index") as row:
        cent = SIM.ivf_fit(embeddings, n_centroids=n_centroids,
                           iters=ivf_iters, sample=sample,
                           vec_col=vec_col, id_col=id_col)
        books = SIM.pq_fit(embeddings, m=pq_m, ksub=pq_ksub,
                           iters=pq_iters, sample=sample,
                           vec_col=vec_col, id_col=id_col)
        _write_table(spark.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in enumerate(cent)],
            "cell int, centroid array<double>",
        ).coalesce(1), os.path.join(index_dir, "ann_centroids"))
        _write_table(spark.createDataFrame(
            [(int(j), int(c), [float(x) for x in books[j, c]])
             for j in range(books.shape[0]) for c in range(books.shape[1])],
            "subspace int, code int, centroid array<double>",
        ).coalesce(1), os.path.join(index_dir, "ann_codebooks"))
        coded = SIM.pq_assign(SIM.ivf_assign(embeddings, cent, vec_col),
                              books, vec_col)
        out = os.path.join(index_dir, "ann_coded")
        _write_table(coded.select(F.col(id_col).alias("vec_id"), "cell",
                                  "code").repartition("cell"),
                     out, partition_by="cell")
        row.update(
            n_centroids=n_centroids, ivf_iters=ivf_iters, pq_m=pq_m,
            pq_ksub=pq_ksub, pq_iters=pq_iters, sample=sample,
            dim=int(cent.shape[1]),
            n_vectors=spark.read.parquet(out).count(),
            vec_col=vec_col, id_col=id_col,
            embeddings_path=(os.path.abspath(embeddings_path)
                             if embeddings_path else None))
    return row


def rebuild_artifacts(spark: SparkSession, src_dir: str,
                      out_dir: str) -> list[str]:
    """Re-derive the optional serving artifacts a source index had onto
    a freshly built/merged/vacuumed index: the next-word phrase index
    (same min_df/max_terms as the source's phrase_index row), the
    trigram vocabulary index, and the ANN index (refit from the source
    embedding table recorded in its ann_index row, MINUS the source's
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
    # a legacy row (no table name) still carries the parameters to
    # rebuild with
    pmeta = _row(src_dir, "phrase_index")
    if pmeta is not None:
        build_phrase_index(spark, out_dir, min_df=pmeta["min_df"],
                           max_terms=pmeta["max_terms"])
        done.append("phrase_index")
    if _done(src_dir, "term_ngram_index"):
        build_term_ngram_index(spark, out_dir)
        done.append("term_ngram_index")
    ameta = _row(src_dir, "ann_index")
    if ameta is not None:
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
    the tombstone set in lookup() and the MaxScore kernel), while the
    physical postings stay on disk until a ``merge_indexes`` pass (which
    also vacuums a single index) drops them and recomputes corpus stats.

    Until that vacuum, corpus-global statistics (df, n_docs, avgdl) are
    STALE-BY-DESIGN — exactly the trade every segment-file engine makes
    (deleted docs still count toward idf until segments merge). Both the
    relational and kernel paths score with the same stale stats, so they
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
    _completed_tf_index(index_dir, "delete_docs")
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select("doc_id").distinct()
    else:
        ids_list = sorted({int(i) for i in doc_ids})
        if not ids_list:
            raise ValueError("delete_docs called with no doc_ids")
        ids = spark.createDataFrame([(i,) for i in ids_list],
                                    "doc_id long")
    batches = tombstone_batches(index_dir)
    nxt = (batches[-1] + 1) if batches else 0
    out = os.path.join(index_dir, "tombstones", f"batch={nxt}")
    agg = ids.agg(F.count("*").alias("n"),
                  F.sum(F.crc32(F.col("doc_id").cast("string")))
                  .alias("checksum")).collect()[0]
    if not agg["n"]:
        raise ValueError("delete_docs called with no doc_ids")
    with _step(index_dir, f"tombstones_{nxt}") as row:
        _write_table(ids, out)
        row.update(batch=nxt, rows=agg["n"],
                   checksum=int(agg["checksum"] or 0))
    result = {"batch": nxt, "rows": agg["n"]}
    if auto_vacuum_threshold is not None:
        frac = deleted_fraction(spark, index_dir)
        result["deleted_fraction"] = frac
        if frac > auto_vacuum_threshold:
            result["vacuumed_to"] = vacuum_index(spark, index_dir,
                                                 vacuum_out)
    return result


def load_tombstones(spark: SparkSession, index_dir: str,
                    as_of_batch: int | None = None) -> DataFrame | None:
    """Union of committed tombstone batches (doc_id, distinct), or None
    when none apply. ``as_of_batch`` time-travels the delete state:
    only batches with id <= it are applied (-1 → the pre-delete
    snapshot; None → all, the live view)."""
    paths = _tombstone_paths(index_dir, as_of_batch)
    if not paths:
        return None
    return spark.read.parquet(*paths).select("doc_id").distinct()


def _tombstone_paths(index_dir: str, as_of_batch: int | None) -> list[str]:
    """Parquet dirs of the committed tombstone batches applied at
    ``as_of_batch`` (all when None)."""
    return [os.path.join(index_dir, "tombstones", f"batch={b}")
            for b in tombstone_batches(index_dir)
            if as_of_batch is None or b <= as_of_batch]


def merge_indexes(spark: SparkSession, index_dirs: list[str],
                  out_dir: str) -> str:
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

    The union is re-bucketed: inputs may have different bucket counts,
    and the output's is the inputs' common requested count, else (and
    for sized inputs) ``SEG.bucket_count`` of the live union's exact
    postings count — what a fresh build over the live union would use.

    Requirements validated up front: every input finished building
    (build_complete manifest), all inputs share the same analyzer /
    block_span / positional config (mixing analyzers would mix
    token vocabularies; mixing block spans breaks the kernel's block-range
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
        _completed_tf_index(d, "merge_indexes")
        configs.append(_build_config(d))

    def layout(cfg: dict) -> dict:
        # everything but the bucket count, which the merge recomputes
        return {k: v for k, v in cfg.items() if k != "buckets"}

    base = configs[0]
    for d, got in zip(index_dirs[1:], configs[1:]):
        if layout(got) != layout(base):
            raise ValueError(
                f"cannot merge indexes with different build configs: "
                f"{index_dirs[0]} has {base}, {d} has {got}")
    requested = {c["buckets"] for c in configs}
    base = {**base, "buckets": requested.pop() if len(requested) == 1
            else None}

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
        with _step(out_dir, "doc_stats") as row:
            _write_table(reduce(lambda x, y: x.unionByName(y), doc_stats),
                         os.path.join(out_dir, "doc_stats"))
            row["merged_from"] = len(index_dirs)

    if not _done(out_dir, "postings_stage"):
        with _step(out_dir, "postings_stage") as row:
            staged = drop_dead(reduce(
                lambda x, y: x.unionByName(y),
                [spark.read.parquet(os.path.join(d, "postings_stage"))
                 for d in index_dirs]))
            # only a sized merge counts the live union
            n_buckets = (base["buckets"]
                         or SEG.bucket_count(staged.count()))
            _write_table(range_layout(
                staged.withColumn("bucket", _bucket_col(n_buckets)),
                "bucket", "term", "doc_id"),
                os.path.join(out_dir, "postings_stage"),
                partition_by="bucket", bloom=True)
            row.update(sources=[os.path.abspath(d) for d in index_dirs],
                       buckets=n_buckets)

    # segments / term_stats / stats.json / vsm_norms run through the
    # normal build with its resumable manifests; docs is only read on
    # the (pre-recorded, skipped) doc_stats derivation path
    build_durable_index(spark, None, out_dir, **_build_args(base))
    _record(out_dir, "merged_from",
            sources=[os.path.abspath(d) for d in index_dirs],
            tombstone_batches_applied=sum(
                len(tombstone_batches(d)) for d in index_dirs))
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
    _completed_tf_index(index_dir, "refresh_index")

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
    build_durable_index(spark, delta_docs, delta_dir,
                        **_build_args(_build_config(index_dir)))

    merge_indexes(spark, [index_dir, delta_dir], out_dir)

    docs_out = _live(main_docs).unionByName(delta_docs,
                                            allowMissingColumns=True)
    return {"out_dir": out_dir, "docs_out": docs_out,
            "n_stale": n_stale, "n_new": n_batch}
