"""Posting-block layout: buckets, doc-partitioned blocks and the
block-max bound (SURVEY §2.4 C1-C5; reference compression.py:48-65 +
index_hasher word2byte, replaced by columnar layout + pruning), plus
the reference varint block encoder.

Layout decisions (scale rationale):

* ``bucket = pmod(xxhash64(term), B)`` — every term-addressed table is
  written partitioned by bucket, so a query's term lookup prunes to |q|
  partitions (the Spark-native ``word2byte``: file-level pruning
  instead of byte offsets). B follows the postings (``bucket_count``):
  one bucket per ``POSTINGS_PER_BUCKET`` postings, at most
  ``MAX_BUCKETS``, so a small index (or a refresh delta) writes a few
  larger files instead of 64 small ones, each with its own footer,
  checksum file and commit.
* ``block_id = doc_id // block_span`` — DOC-partitioned blocks, derived
  arithmetically from the doc id. A stopword term's postings fall in
  many independent (term, block_id) blocks of bounded size (the
  salting of the north rule, derived from the data so block membership
  stays deterministic and doc-ordered). The build's layout exchange
  splits a huge term across tasks in these units, and the serving
  kernel splits a term's staged postings into them on the driver
  (catalog.SegmentIndex.mini_index): nothing stores a block.
* per-block ``max_tf`` gives the BM25 upper bound at dl→0
  (``bm25_upper_bound``) that Block-Max WAND / MaxScore prune with.

``encode_segments`` is the reference's C1-C4 block encoder (delta +
varint, ``codec.encode_block``). No build runs it: tests compare the
kernel's blocks, read from the staged postings, against its blocks
decoded with ``codec.decode_block_full``.
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
    """postings (term, doc_id, tf[, dl]) → varint segment blocks.

    One shuffle (groupBy term, block_id — bounded groups), Arrow-batched
    encode in applyInPandas. The reference encoder: no build runs it;
    tests compare the serving kernel's blocks against it.
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
