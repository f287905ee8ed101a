"""Impact-quantization job: re-code a completed tf/dl index into a
quantized-impact serving artifact (Anh & Moffat impact quantization;
the engine's form of the reference's index converter,
/root/reference/indexing/index_converter).

spark-submit --py-files dist/engine.zip jobs/quantize_index.py \
    /data/index --output /data/index_impact [--bits 8]

The output holds re-coded segments, stats.json and its quantize_complete
row only — ~1 byte per posting instead of the tf+dl varint pair; every
side table, artifact and tombstone resolves from the source index
(sidecar_dir). Serving kernels (MaxScore) score idf·(k1+1)·q/maxq with
an EXACT per-block bound; the scoring model (k1=1.2, b=0.75) and corpus
stats are baked in, so re-quantize after any merge/vacuum of the source.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("input", help="completed tf/dl index dir")
    ap.add_argument("--output", required=True)
    ap.add_argument("--bits", type=int, default=8,
                    help="impact width in bits, 2-16 (default 8)")
    args = ap.parse_args()

    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import catalog

    spark = get_spark("quantize_index")
    catalog.quantize_index(spark, args.input, args.output, bits=args.bits)
    for row in catalog.lineage_rows(args.output):
        print(row)


if __name__ == "__main__":
    main()
