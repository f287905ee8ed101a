"""Streaming-index compaction job: re-encode the (batch, bucket)-staged
postings a streaming ingest accumulates into the durable block-encoded
segment layout (kernel-servable, identical to jobs/build_index.py output).

spark-submit --py-files dist/engine.zip jobs/compact_index.py \
    --stream-index /data/stream_idx --output /data/index \
    [--block-span 131072] [--shards 1] [--analyzer full|simple]

Pure layout transform: no re-tokenization, no re-hashing (term buckets
are reused from the ingest); resumable via the same per-step manifests
as the batch build.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stream-index", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--block-span", type=int, default=1 << 17)
    ap.add_argument("--shards", type=int, default=1)
    ap.add_argument("--analyzer", choices=["full", "simple"], default="full",
                    help="must match the streaming ingest's analyzer "
                         "(validated against stream_meta.json)")
    args = ap.parse_args()

    from search_engine_spark.functions.analyzer import AnalyzerConfig
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import catalog

    spark = get_spark("compact_index")
    conf = (AnalyzerConfig.full() if args.analyzer == "full"
            else AnalyzerConfig.simple())
    catalog.compact_streaming_index(
        spark, args.stream_index, args.output, conf=conf,
        block_span=args.block_span, shards=args.shards,
    )
    for row in catalog.lineage_rows(args.output):
        print(row)


if __name__ == "__main__":
    main()
