"""Batch index build job (reference indexing/main.py:22-29 equivalent).

spark-submit --py-files dist/engine.zip jobs/build_index.py \
    --input /data/documents_parquet --output /data/index \
    [--buckets N] [--block-span 131072] [--no-positions] \
    [--analyzer full|simple] [--text-col text] [--html] [--resume/--no-resume] \
    [--phrase-index-min-df 100] [--ann-embeddings /data/emb_parquet]

Input: parquet with (doc_id, text, ...) — or, with --html, the input_hint
web shape (url, warc_ts, html, ...) where doc_id is derived via
xxhash64(url) and text is extracted from html by the vectorized UDF.
The build is resumable: per-step lineage manifests make a re-run skip
completed steps (see sources/catalog.py). Without --buckets the bucket
count is sized to the postings (one per 16,384, at most 64; see
operators/segments.bucket_count); a resume keeps the recorded count.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=None,
                    help="term-hash buckets per table (default: sized "
                         "to the postings, at most 64)")
    ap.add_argument("--block-span", type=int, default=1 << 17)
    ap.add_argument("--no-positions", action="store_true")
    ap.add_argument("--analyzer", choices=["full", "simple"], default="full")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--html", action="store_true",
                    help="input is the web shape: derive doc_id/text")
    ap.add_argument("--write-documents",
                    help="also write a days(warc_ts)-partitioned documents "
                         "table here — the layout serving date filters "
                         "prune (directory-level) instead of scanning; "
                         "the index then builds FROM that table, so html "
                         "extraction runs once")
    ap.add_argument("--phrase-index-min-df", type=int,
                    help="after the build, also build the next-word "
                         "(bigram) phrase index over words with df >= "
                         "this value — two-word phrases of common words "
                         "then serve from one posting lookup "
                         "(catalog.build_phrase_index)")
    ap.add_argument("--ann-embeddings",
                    help="(vec_id, embedding) parquet: after the build, "
                         "fit + commit the compressed-ANN artifacts "
                         "(IVF centroids, PQ codebooks, cell-partitioned "
                         "coded table) under the index dir "
                         "(catalog.build_ann_index); the path is "
                         "recorded so merge/vacuum rebuilds can refit")
    ap.add_argument("--ann-centroids", type=int, default=16,
                    help="IVF cell count for --ann-embeddings")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--checkpoint-dir",
                    help="reliable checkpoint dir (HDFS/object store) for "
                         "the dense-id assignment: with it, executor loss "
                         "mid-build recovers from replicated checkpoint "
                         "blocks; without it localCheckpoint is used and "
                         "an executor loss fails the job (retryable)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from search_engine_spark.functions.analyzer import (AnalyzerConfig,
                                                        make_extract_text_udf)
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import catalog, corpus

    spark = get_spark("build_index")
    docs = spark.read.parquet(args.input)
    if args.html:
        # dense ids: the segment layer's doc-partitioned blocks need
        # bounded occupancy (hash ids would put every posting in its own
        # block — see sources/corpus.with_dense_doc_ids)
        reliable = bool(args.checkpoint_dir)
        if reliable:
            spark.sparkContext.setCheckpointDir(args.checkpoint_dir)
        docs = corpus.ingest_filters(corpus.with_dense_doc_ids(
            docs, reliable_checkpoint=reliable))
        docs = docs.withColumn(
            "text", make_extract_text_udf()(F.col("html"))).drop("html")
    elif args.text_col != "text":
        docs = docs.withColumnRenamed(args.text_col, "text")

    if args.write_documents:
        if "warc_ts" not in docs.columns:
            ap.error("--write-documents needs a warc_ts column for the "
                     "days() partition layout")
        # resume-safe: a COMPLETED store (parquet _SUCCESS marker) is
        # reused, never rewritten — dense doc_ids depend on the input's
        # partition layout, so a re-run could assign different ids and
        # silently desynchronize the store from already-staged postings
        # (and re-running extraction over the whole corpus is the most
        # expensive stage anyway)
        success = os.path.join(args.write_documents, "_SUCCESS")
        if args.no_resume or not os.path.exists(success):
            corpus.write_documents_partitioned(docs, args.write_documents)
        # build from the written store: extraction ran once during the
        # write; the index and the serving doc table share provenance
        docs = corpus.read_documents_partitioned(spark, args.write_documents)

    conf = AnalyzerConfig.full() if args.analyzer == "full" else AnalyzerConfig.simple()
    catalog.build_durable_index(
        spark, docs, args.output, conf=conf, buckets=args.buckets,
        block_span=args.block_span,
        positional=not args.no_positions, resume=not args.no_resume,
    )
    if args.phrase_index_min_df is not None:
        catalog.build_phrase_index(spark, args.output,
                                   min_df=args.phrase_index_min_df)
    if args.ann_embeddings:
        catalog.build_ann_index(
            spark, args.output, spark.read.parquet(args.ann_embeddings),
            embeddings_path=args.ann_embeddings,
            n_centroids=args.ann_centroids)
    for row in catalog.lineage_rows(args.output):
        print(row)


if __name__ == "__main__":
    main()
