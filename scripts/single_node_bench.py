"""Engine vs reference-proxy single-node throughput (the task's
"matches-or-beats the reference's single-node throughput at the same
data scale" criterion, made measurable in-sandbox).

The reference cannot run here (needs nltk/psycopg2/Django + Postgres),
but tests/oracle.py is the pinned faithful transcription of its
single-threaded dict pipeline (index_extender / helpers.apply_
preprocessing semantics, same analyzer code object) — so the oracle's
wall-clock IS the reference-architecture number, minus its Postgres
inserts and JSON dumps (excluded work that would only slow it further:
the comparison is conservative in the reference's favor).

Usage: python scripts/single_node_bench.py [--docs 100000] [--queries 50]
Appends a measured block to BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QUERY_TERMS = ["market price", "germany economy", "bank report", "stock trade",
               "growth inflation", "energy crisis", "government policy",
               "search index", "connect relation", "world china"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100000)
    ap.add_argument("--queries", type=int, default=50)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from search_engine_spark.functions.analyzer import (AnalyzerConfig,
                                                        extract_text,
                                                        make_extract_text_udf)
    from search_engine_spark.operators import maxscore as MS
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import catalog, corpus
    from tests import oracle

    spark = get_spark("single-node-bench", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    src = os.path.join(ROOT, ".bench_tmp", f"scaling_web_{args.docs}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        corpus.synthesize_web_corpus(spark, args.docs, partitions=64) \
            .write.mode("overwrite").parquet(src)
    web = spark.read.parquet(src)

    def quiesce(max_load1: float = 4.0, max_wait: int = 240) -> None:
        waited = 0
        while os.getloadavg()[0] > max_load1 and waited < max_wait:
            time.sleep(10)
            waited += 10

    # ---- reference proxy: one thread, dict index, per-doc loop ----------
    # Durable-output scope matched to the engine: the proxy also writes
    # the term-sorted JSON-lines index + doc_sizes sidecar ONCE
    # (index_writer.py / index_build.py:201 semantics). Still conservative
    # in the reference's favor — the real pipeline re-reads and re-writes
    # that file three more times (merge, word2byte hash, tf-conversion,
    # compression), all excluded here.
    html_rows = [r.html for r in web.select("html").collect()]
    quiesce()
    t0 = time.perf_counter()
    docs = {i + 1: extract_text(h) for i, h in enumerate(html_rows)}
    o_index, o_sizes = oracle.build_index(docs)
    ref_dir = tempfile.mkdtemp(prefix="snb_ref_")
    with open(os.path.join(ref_dir, "index.jsonl"), "w") as f:
        for term in sorted(o_index):
            f.write(json.dumps({term: o_index[term]}) + "\n")
    with open(os.path.join(ref_dir, "doc_sizes.json"), "w") as f:
        json.dump({str(k): v for k, v in o_sizes.items()}, f)
    ref_build = time.perf_counter() - t0
    shutil.rmtree(ref_dir)
    queries = [QUERY_TERMS[i % len(QUERY_TERMS)] for i in range(args.queries)]
    t0 = time.perf_counter()
    for q in queries:
        oracle.search_freetext(o_index, o_sizes, q, k=100)
    ref_q = (time.perf_counter() - t0) / len(queries)
    del o_index, o_sizes, docs

    # ---- engine: durable segment build + MaxScore serving ---------------
    def prepared(df):
        w = corpus.ingest_filters(corpus.with_dense_doc_ids(df))
        return w.select(
            "doc_id", make_extract_text_udf()(F.col("html")).alias("text"))

    tmp = tempfile.mkdtemp(prefix="snb_")
    # warm-up (JIT) on 5%
    catalog.build_durable_index(spark, prepared(web.limit(args.docs // 20)),
                                os.path.join(tmp, "warm"), block_span=4096)
    quiesce()
    t0 = time.perf_counter()
    idx_dir = os.path.join(tmp, "idx")
    catalog.build_durable_index(spark, prepared(web), idx_dir,
                                block_span=4096)
    eng_build = time.perf_counter() - t0
    idx = catalog.load_index(spark, idx_dir)
    # warm the mini-index for every distinct query: the oracle side holds
    # its whole index in process memory, so warm-vs-warm is the
    # apples-to-apples state (the reference re-reads its mini index per
    # query from disk/GCS — excluded from its number too)
    for q in set(queries):
        MS.search_maxscore(idx, q, k=100)
    t0 = time.perf_counter()
    for q in queries:
        MS.search_maxscore(idx, q, k=100)
    eng_q = (time.perf_counter() - t0) / len(queries)
    shutil.rmtree(tmp)

    out = {
        "docs": args.docs,
        "ref_proxy_build_sec": round(ref_build, 2),
        "ref_proxy_docs_per_sec": round(args.docs / ref_build, 1),
        "engine_build_sec": round(eng_build, 2),
        "engine_docs_per_sec": round(args.docs / eng_build, 1),
        "build_speedup": round(ref_build / eng_build, 2),
        "ref_proxy_query_sec": round(ref_q, 4),
        "engine_query_sec_warm": round(eng_q, 4),
        "query_speedup": round(ref_q / eng_q, 2),
        "load1_at_start": round(os.getloadavg()[0], 2),
    }
    print(json.dumps(out))

    with open(os.path.join(ROOT, "BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\n## Engine vs reference-proxy single node ({args.docs} docs)\n\n"
            f"Reference proxy = tests/oracle.py, the pinned single-threaded\n"
            f"transcription of the reference pipeline, plus ONE term-sorted\n"
            f"JSON-lines index write + doc_sizes sidecar (index_writer.py\n"
            f"semantics). Conservative in its favor: the real pipeline also\n"
            f"re-reads/re-writes that file for merge, word2byte hashing,\n"
            f"tf-conversion and compression, plus per-doc Postgres inserts —\n"
            f"all excluded. Engine side is the FULL durable segment build\n"
            f"(positional varint blocks, stats, lineage). Queries warm-vs-warm\n"
            f"(both sides score from in-process posting data).\n\n"
            f"| metric | reference proxy | engine (local[32]) | speedup |\n"
            f"|---|---|---|---|\n"
            f"| index build | {out['ref_proxy_docs_per_sec']} docs/s "
            f"| {out['engine_docs_per_sec']} docs/s "
            f"| **{out['build_speedup']}×** |\n"
            f"| BM25 top-100 query (warm) | {out['ref_proxy_query_sec']*1000:.0f} ms "
            f"| {out['engine_query_sec_warm']*1000:.1f} ms "
            f"| **{out['query_speedup']}×** |\n"
        )


if __name__ == "__main__":
    main()
