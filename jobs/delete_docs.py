"""Tombstone-delete job: logically delete documents from a completed
durable index. Queries exclude the docs immediately (lookup anti-join +
kernel live-docs mask); run jobs/merge_index.py with a single input to
vacuum the postings physically and refresh corpus stats.

spark-submit --py-files dist/engine.zip jobs/delete_docs.py \
    --index /data/index --ids 17,42,99
spark-submit ... jobs/delete_docs.py --index /data/index \
    --ids-parquet /data/deleted_ids.parquet   # needs a doc_id column
spark-submit ... jobs/delete_docs.py --index /data/index --ids 17,42 \
    --auto-vacuum 0.1 --vacuum-out /data/index_v2   # vacuum when >10% dead
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--ids", help="comma-separated doc_ids")
    g.add_argument("--ids-parquet", help="parquet with a doc_id column")
    ap.add_argument("--auto-vacuum", type=float, default=None,
                    metavar="FRAC",
                    help="vacuum into --vacuum-out when the deleted "
                         "fraction exceeds FRAC after this commit")
    ap.add_argument("--vacuum-out", default=None,
                    help="output dir for the auto-vacuumed index "
                         "(required with --auto-vacuum)")
    args = ap.parse_args()

    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import catalog

    spark = get_spark("delete_docs")
    ids = (spark.read.parquet(args.ids_parquet) if args.ids_parquet
           else [int(x) for x in args.ids.split(",") if x.strip()])
    print(catalog.delete_docs(spark, args.index, ids,
                              auto_vacuum_threshold=args.auto_vacuum,
                              vacuum_out=args.vacuum_out))


if __name__ == "__main__":
    main()
