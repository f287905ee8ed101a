"""Posting-segment encode: delta+varint blocks with block-max
metadata (SURVEY §2.4 C1-C5; reference compression.py:48-65 +
index_hasher word2byte, replaced by columnar layout + pruning).

Layout decisions (scale rationale):

* ``bucket = pmod(xxhash64(term), B)`` — the segment table is written
  partitioned by bucket, so a query's term lookup prunes to |q| partitions
  (the Spark-native ``word2byte``: file-level pruning instead of byte
  offsets). B follows the postings (``bucket_count``): one bucket per
  ``POSTINGS_PER_BUCKET`` postings, at most ``MAX_BUCKETS``, so a small
  index (or a refresh delta) writes a few larger files instead of 64
  small ones, each with its own footer, checksum file and commit.
* ``block_id = doc_id // block_span`` — DOC-partitioned blocks, assigned
  arithmetically BEFORE any grouping. A stopword term's postings land in
  many independent (term, block_id) groups of bounded size, so the encode
  groupBy has no skewed reducer — this is the salting of the north rule,
  derived from the data instead of a random salt so block membership stays
  deterministic and doc-ordered.
* per-block ``max_tf`` and ``max_score`` (BM25 upper bound at dl→0:
  idf·(k1+1)·tf_max/(tf_max+k1·(1−b))) enable Block-Max WAND pruning.
* payload = varint([n, doc₀, Δdocs…, tfs…, dls…]). Blocks carry no
  positions: the staged postings table is the one positional table
  (catalog.SegmentIndex.lookup reads it), so segments are the
  kernel's tf-only converted index (reference index_converter.py).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

from .. import codec

SEGMENT_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("bucket", IntegerType()),
    StructField("block_id", LongType()),
    StructField("n_docs", IntegerType()),
    StructField("min_doc_id", LongType()),
    StructField("max_doc_id", LongType()),
    StructField("block_max_tf", IntegerType()),
    StructField("payload", BinaryType()),
])

#: the bucket count of a large index, and the cap of a sized one
MAX_BUCKETS = 64
#: postings per bucket of a build sized to its data (``bucket_count``):
#: ~1M postings and above get ``MAX_BUCKETS``
POSTINGS_PER_BUCKET = 16_384
DEFAULT_BLOCK_SPAN = 1 << 17  # 131072 doc ids per block


def bucket_count(n_postings: int) -> int:
    """Bucket count of an index holding ``n_postings`` postings:
    ``min(MAX_BUCKETS, max(1, ceil(n_postings / POSTINGS_PER_BUCKET)))``."""
    return min(MAX_BUCKETS, max(1, -(-n_postings // POSTINGS_PER_BUCKET)))


def bm25_upper_bound(df: int, n_docs: int, max_tf: int,
                     k1: float = 1.2, b: float = 0.75) -> float:
    """Per-block BM25 score ceiling (dl→0 bound), used by block-max
    pruning."""
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * (k1 + 1.0) * max_tf / (max_tf + k1 * (1.0 - b))


def encode_segments(postings: DataFrame, buckets: int = MAX_BUCKETS,
                    block_span: int = DEFAULT_BLOCK_SPAN) -> DataFrame:
    """postings (term, doc_id, tf[, dl]) → segment blocks.

    One shuffle (groupBy term, block_id — bounded groups), Arrow-batched
    encode in applyInPandas. The reference encoder: no build runs it;
    tests compare ``encode_sorted``'s blocks against it.
    """
    has_dl = "dl" in postings.columns
    cols = ["term", "doc_id", "tf"] + (["dl"] if has_dl else [])
    base = postings.select(*cols).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets)).cast(IntegerType())
    ).withColumn("block_id", (F.col("doc_id") / F.lit(block_span)).cast(LongType()))

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        docs = pdf["doc_id"].to_numpy()
        tfs = pdf["tf"].to_numpy()
        dls = pdf["dl"].to_numpy() if has_dl else None
        payload = codec.encode_block(docs, tfs, dls)
        return pd.DataFrame([{
            "term": pdf["term"].iloc[0],
            "bucket": int(pdf["bucket"].iloc[0]),
            "block_id": int(pdf["block_id"].iloc[0]),
            "n_docs": len(docs),
            "min_doc_id": int(docs[0]),
            "max_doc_id": int(docs[-1]),
            "block_max_tf": int(tfs.max()),
            "payload": payload,
        }])

    return base.groupBy("term", "block_id").applyInPandas(encode, SEGMENT_SCHEMA)


def encode_sorted(postings: DataFrame) -> DataFrame:
    """Shuffle-FREE segment encoder for postings that are already
    range-partitioned by (bucket, term, block_id) and sorted within
    partitions by (bucket, term, block_id, doc_id) — the exact layout the
    durable build's ONE stage exchange produces.

    ``encode_segments`` pays a second full shuffle of every posting row
    plus one pandas-DataFrame construction per (term, block) group
    (applyInPandas); at 150k docs / 11M postings that group overhead was
    ~2/3 of the whole index build and scaled at only ~0.4 efficiency
    from 2→8 cores. This encoder is a mapInPandas pass: groups are
    CONSECUTIVE runs in the sorted partitions, detected vectorized, with
    the trailing (possibly incomplete) run carried across Arrow batch
    boundaries within a partition. Range partitioning keeps every row of
    one (bucket, term, block_id) key in one partition, so no group ever
    straddles a partition boundary; group size is bounded by block
    occupancy ≤ block_span (the doc-partitioned-block skew bound).

    Requires columns: term, doc_id, tf, bucket, block_id [, dl]. Rows within each group must be doc_id-ascending
    (delta encoding depends on it) — guaranteed by the sort.
    """
    import numpy as np

    has_dl = "dl" in postings.columns
    cols = ["term", "bucket", "block_id", "doc_id", "tf"] \
        + (["dl"] if has_dl else [])

    def encode_stream(batches):
        carry: pd.DataFrame | None = None

        def encode_runs(pdf: pd.DataFrame, starts: "np.ndarray"):
            docs_all = pdf["doc_id"].to_numpy()
            tfs_all = pdf["tf"].to_numpy()
            dls_all = pdf["dl"].to_numpy() if has_dl else None
            terms = pdf["term"].to_numpy()
            buckets_ = pdf["bucket"].to_numpy()
            blocks_ = pdf["block_id"].to_numpy()
            out = {k: [] for k in ("term", "bucket", "block_id", "n_docs",
                                   "min_doc_id", "max_doc_id",
                                   "block_max_tf", "payload")}
            bounds = list(starts) + [len(pdf)]
            for s, e in zip(bounds[:-1], bounds[1:]):
                docs, tfs = docs_all[s:e], tfs_all[s:e]
                payload = codec.encode_block(
                    docs, tfs, dls_all[s:e] if has_dl else None)
                out["term"].append(terms[s])
                out["bucket"].append(int(buckets_[s]))
                out["block_id"].append(int(blocks_[s]))
                out["n_docs"].append(e - s)
                out["min_doc_id"].append(int(docs[0]))
                out["max_doc_id"].append(int(docs[-1]))
                out["block_max_tf"].append(int(tfs.max()))
                out["payload"].append(payload)
            return pd.DataFrame(out)

        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            terms = pdf["term"].to_numpy()
            blocks_ = pdf["block_id"].to_numpy()
            change = (terms[1:] != terms[:-1]) | (blocks_[1:] != blocks_[:-1])
            starts = np.concatenate(
                [[0], np.flatnonzero(change) + 1]).astype("int64")
            # the last run may continue in the next Arrow batch of this
            # partition — hold it back
            carry = pdf.iloc[starts[-1]:]
            body = pdf.iloc[: starts[-1]]
            if len(body):
                yield encode_runs(body, starts[:-1])
        if carry is not None and len(carry):
            yield encode_runs(carry.reset_index(drop=True),
                              np.zeros(1, dtype="int64"))

    return postings.select(*cols).mapInPandas(encode_stream, SEGMENT_SCHEMA)


def quantize_blocks(segments: DataFrame, n_docs: int, total_len: int,
                    bits: int = 8) -> DataFrame:
    """tf/dl segment blocks → quantized-impact blocks (same schema).

    mapInPandas over block rows: decode each payload (must be
    self-contained, i.e. carry the dl run — the durable build's shape),
    quantize with scoring.quantize_impacts (exact int64 arithmetic), and
    re-encode via codec.encode_block_impact. Structure is preserved 1:1
    — same (term, bucket, block_id, n_docs, min/max doc) — so every
    pruning path (bucket partitions, parquet min/max + bloom, the
    impact-ordered cap) works unchanged on the quantized store.
    ``block_max_tf`` becomes the block's max IMPACT: for impact stores
    the kernels' range bound is idf·(k1+1)·max_impact/maxq — EXACT for
    the quantized scores (tighter than the tf store's dl→0 bound)."""
    from . import scoring

    if not 2 <= bits <= 16:
        raise ValueError(f"impact bits must be in [2, 16]: {bits}")

    def convert(batches):
        from .. import codec as C

        for pdf in batches:
            payloads, maxima = [], []
            for payload in pdf["payload"]:
                docs, tfs, dls = C.decode_block_full(bytes(payload))
                if dls is None:
                    raise ValueError(
                        "quantize_blocks needs self-contained blocks "
                        "(payloads carrying dl — the durable build's "
                        "shape); this store was encoded without dl")
                q = scoring.quantize_impacts(tfs, dls, n_docs, total_len,
                                             bits)
                payloads.append(C.encode_block_impact(docs, q))
                maxima.append(int(q.max()) if len(q) else 0)
            import numpy as np

            out = pdf.copy()
            out["payload"] = payloads
            out["block_max_tf"] = np.asarray(maxima, dtype="int32")
            yield out

    return segments.mapInPandas(convert, SEGMENT_SCHEMA)
