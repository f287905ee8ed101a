"""Index-merge job: combine N completed durable indexes into one, as if
built over the union of their corpora (the reference's 2-way external
index merge, indexing/index_merging/index_merging.py:4-64, generalized
to an N-way Spark range exchange).

spark-submit --py-files dist/engine.zip jobs/merge_index.py \
    --output /data/index_merged /data/index_a /data/index_b [...]

Inputs must share the same build config (analyzer, block_span,
positional) and have pairwise-disjoint doc_id sets — both validated up
front. Their bucket counts may differ: the union is re-bucketed, with
the inputs' common requested count or else one sized to the live
postings, as a fresh build would. Corpus-global stats (df, cf, n_docs,
avgdl, VSM norms) are recomputed over the union; resumable via the same
per-step manifests as the batch build.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("inputs", nargs="+", help="two or more index dirs")
    ap.add_argument("--output", required=True)
    ap.add_argument("--rebuild-artifacts", action="store_true",
                    help="re-derive the FIRST input's optional serving "
                         "artifacts (phrase index, trigram vocabulary "
                         "index) on the merged output; quantized stores "
                         "need an explicit quantize_index run")
    args = ap.parse_args()

    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import catalog

    spark = get_spark("merge_index")
    catalog.merge_indexes(spark, args.inputs, args.output)
    if args.rebuild_artifacts:
        print({"artifacts": catalog.rebuild_artifacts(
            spark, args.inputs[0], args.output)})
    for row in catalog.lineage_rows(args.output):
        print(row)


if __name__ == "__main__":
    main()
