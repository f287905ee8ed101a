"""Index-store inspection job: one JSON report of a durable index's
health — the operational "segments API" a 100 TB store needs before
anyone debugs a slow query or plans a merge.

spark-submit --py-files dist/engine.zip jobs/index_stats.py /data/index

Reports: corpus scalars + store kind (tf / impact bits), committed
optional artifacts (VSM norms, phrase index, trigram index) and the
artifacts to rebuild (a phrase index committed before its
``phrase_postings`` table, which queries no longer read), tombstone
batches + deleted fraction, per-bucket segment balance (blocks,
postings, payload bytes, and the max/mean SKEW factor — the number
that says whether the bucket hash still spreads the term mass), the
payload codec mix (varint / impact, from the
self-describing payload tags), and the head of the df distribution.
Everything is DataFrame aggregates over segment metadata and side
tables — no payload decode, so the report is cheap even on a huge
store (the codec mix reads 2 bytes per block payload). Three fields are
driver-side reads with no Spark job: the bytes on disk of each table
directory (``on_disk_bytes``: the index's, and for a quantized store
also its source's), the parquet files of each table directory
(``parquet_files``, next to ``buckets``: a bucket-partitioned table
writes at least one file per bucket) and the parquet page codecs of the
segment files, counted per column chunk from their footers
(``parquet_codecs``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (parquet, checksums, markers),
    the way perfbench's ``dir_bytes`` counts an index."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def on_disk_bytes(index_dir: str) -> dict:
    """Bytes on disk of each entry of ``index_dir`` (the tables, the
    manifest, stats.json); they sum to ``dir_bytes(index_dir)``."""
    return {name: dir_bytes(os.path.join(index_dir, name))
            for name in sorted(os.listdir(index_dir))}


def parquet_files(index_dir: str) -> dict:
    """Parquet files under each table directory of ``index_dir``."""
    return {name: sum(f.endswith(".parquet") for _, _, fs in
                      os.walk(os.path.join(index_dir, name)) for f in fs)
            for name in sorted(os.listdir(index_dir))
            if os.path.isdir(os.path.join(index_dir, name))
            and name != "manifest"}


def parquet_codecs(table_dir: str) -> dict:
    """Column chunks per page codec over every parquet footer under
    ``table_dir`` (footers only, no page is read)."""
    import pyarrow.parquet as pq

    counts: dict = {}
    for d, _, files in os.walk(table_dir):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(d, f))
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    codec = rg.column(c).compression
                    counts[codec] = counts.get(codec, 0) + 1
    return dict(sorted(counts.items()))


def collect_stats(spark, index_dir: str) -> dict:
    from pyspark.sql import functions as F

    from search_engine_spark.sources import catalog

    # every path resolves through the catalog's handle (zero-job open):
    # a quantized store's term stats, artifacts and tombstones are its
    # source's (``source_dir``)
    idx = catalog.load_index(spark, index_dir)
    meta, src = idx.meta, idx.source_dir
    seg = idx.segments

    per_bucket = (seg.groupBy("bucket").agg(
        F.count("*").alias("blocks"),
        F.sum("n_docs").alias("postings"),
        F.sum(F.length("payload")).alias("payload_bytes"))
        .orderBy("bucket").collect())
    postings = [int(r.postings or 0) for r in per_bucket]
    mean_p = (sum(postings) / len(postings)) if postings else 0.0

    # codec mix from the self-describing payload tag: varint payloads
    # never start with 0x00; tagged formats are 0x00 + a format letter
    # ('I' impact) — 2 bytes per block
    tag = F.hex(F.expr("substring(payload, 1, 2)"))
    mix_rows = (seg.select(
        F.when(~tag.startswith("00"), "vb")
        .when(tag == "0049", "impact")
        .otherwise("unknown").alias("codec"))
        .groupBy("codec").count().collect())

    # a phrase row that names no table was committed before the
    # phrase_postings layout: no query reads it until it is rebuilt
    stale = (["phrase_index"] if catalog._done(src, "phrase_index")
             and catalog._phrase_row(src) is None else [])

    head = [(r.term, int(r.df)) for r in idx.term_stats
            .orderBy(F.desc("df"), F.asc("term")).limit(10).collect()]

    report = {
        "index_dir": os.path.abspath(index_dir),
        "store": meta.get("store", "tf"),
        "impact_bits": meta.get("impact_bits"),
        "n_docs": meta["n_docs"],
        "total_len": meta["total_len"],
        "avgdl": round(meta["avgdl"], 2),
        "buckets": meta["buckets"],
        "parquet_files": parquet_files(index_dir),
        "block_span": meta["block_span"],
        "positional": meta.get("positional", True),
        "n_terms": idx.vocabulary_size(),
        "blocks": sum(int(r.blocks) for r in per_bucket),
        "postings": sum(postings),
        "payload_bytes": sum(int(r.payload_bytes or 0) for r in per_bucket),
        "bucket_skew_max_over_mean":
            round(max(postings) / mean_p, 3) if mean_p else None,
        "codec_mix": {r.codec: int(r["count"]) for r in mix_rows},
        "artifacts": sorted(
            a for a in ("vsm_norms", "phrase_index", "term_ngram_index",
                        "ann_index")
            if catalog._done(src, a) and a not in stale),
        "rebuild": [f"{a}: run catalog.build_{a} again" for a in stale],
        "tombstone_batches": catalog.tombstone_batches(src),
        "deleted_fraction":
            round(catalog.deleted_fraction(spark, src), 4),
        "df_head": head,
        "on_disk_bytes": {"index": on_disk_bytes(index_dir)},
        "parquet_codecs": parquet_codecs(os.path.join(index_dir,
                                                      "segments")),
    }
    if meta.get("sidecar_dir"):
        report["sidecar_dir"] = meta["sidecar_dir"]
        report["on_disk_bytes"]["source"] = on_disk_bytes(src)
    return report


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("index", help="durable index dir")
    args = ap.parse_args()

    from search_engine_spark.session import get_spark

    spark = get_spark("index_stats")
    print(json.dumps(collect_stats(spark, args.index)))


if __name__ == "__main__":
    main()
