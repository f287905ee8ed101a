"""Warm serving-latency distribution (p50/p95) per query kind — the
SURVEY §7 step-5 latency evidence in distribution form (bench.py
records single best-of samples; this sweeps repetitions).

Builds the in-memory index over $SPARK_GRAFT_SF_DIR (default sf0.1) and
a durable segment index over the same docs for the MaxScore line,
derives a deterministic query set from the corpus vocabulary
(head/mid/tail df terms), and runs each query kind R times (default 20)
after a warm-up.
Prints one JSON line:

    {"metric": "query_latency_ms", "kinds": {kind: {"p50": .., "p95": ..,
     "n": R}}, "sf": .., "cpus": ..}

Usage: python scripts/latency_bench.py [--reps 20]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

if os.path.isdir("/dev/shm"):
    _shm = os.path.join("/dev/shm", "lat_local")
    os.makedirs(_shm, exist_ok=True)
    os.environ.setdefault("SPARK_LOCAL_DIRS", _shm)


def pctl(xs: list[float], q: float) -> float:
    ys = sorted(xs)
    i = min(int(round(q * (len(ys) - 1))), len(ys) - 1)
    return ys[i]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=20)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from search_engine_spark import engine
    from search_engine_spark.functions.analyzer import AnalyzerConfig
    from search_engine_spark.operators import executor, maxscore
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import catalog, corpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("latency-bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = corpus.read_documents(spark, sf_dir)
    idx = engine.build_index(docs, AnalyzerConfig.full())
    idx.postings.count()  # materialize caches before timing

    # deterministic vocabulary probes: head / mid / tail df terms
    ts = idx.term_stats.orderBy(F.desc("df"), F.asc("term")).collect()
    head = [r.term for r in ts[:4]]
    mid = [r.term for r in ts[len(ts) // 2: len(ts) // 2 + 4]]
    tail = [r.term for r in ts[-8:-4]]

    seg_dir = tempfile.mkdtemp(prefix="lat_seg_",
                               dir=os.environ.get("SPARK_LOCAL_DIRS"))
    catalog.build_durable_index(
        spark, docs.select("doc_id", "text"), os.path.join(seg_dir, "idx"))
    seg = catalog.load_index(spark, os.path.join(seg_dir, "idx"))

    from search_engine_spark.operators import search as S_mod

    # next-word phrase index over the durable store: `seg` was loaded
    # BEFORE the artifact committed (positional path), `seg_ph` after
    # (bigram fast path) — the same phrase through both plans
    catalog.build_phrase_index(spark, os.path.join(seg_dir, "idx"),
                               min_df=10)
    seg_ph = catalog.load_index(spark, os.path.join(seg_dir, "idx"))

    kinds = {
        "free_head": lambda i: executor.execute(
            idx, f"{head[i % 4]} {head[(i + 1) % 4]}").count(),
        "free_mid": lambda i: executor.execute(
            idx, f"{mid[i % 4]} {mid[(i + 1) % 4]}").count(),
        "free_tail": lambda i: executor.execute(idx, tail[i % 4]).count(),
        "phrase": lambda i: executor.execute(
            idx, f'"{head[i % 4]} {mid[i % 4]}"').count(),
        "boolean": lambda i: executor.execute(
            idx, f"{head[i % 4]} AND ({mid[i % 4]} OR {tail[i % 4]})"
        ).count(),
        "proximity": lambda i: executor.execute(
            idx, f"#5({head[i % 4]}, {mid[i % 4]})").count(),
        "lm_pyp": lambda i: executor.execute(
            idx, f"{head[i % 4]} {mid[i % 4]}", model="lm-pyp").count(),
        "vsm": lambda i: executor.execute(
            idx, f"{head[i % 4]} {mid[i % 4]}", model="vsm").count(),
        # round-4 query kinds: prefix expansion + sloppy chain matcher
        "prefix": lambda i: executor.execute(
            idx, f"{head[i % 4]} {mid[i % 4][:3]}*").count(),
        # wildcard expansion (anchored LIKE over the vocabulary)
        "wildcard": lambda i: executor.execute(
            idx, f"{head[i % 4][0]}?{head[i % 4][2:]}").count(),
        "sloppy_phrase": lambda i: executor.execute(
            idx, f'"{head[i % 4]} {mid[i % 4]}"~3').count(),
        # cursor page 2 of a head-term query (filtered top-k depth)
        "page2": lambda i: executor.execute(
            idx, f"{head[i % 4]} {head[(i + 1) % 4]}", k=50,
            after=(1.0, 100)).count(),
        # MaxScore over the durable store: i%4==0 repeats a term set
        # (LRU hit, zero Spark jobs), the rest rotate (mini-index misses)
        "maxscore": lambda i: len(maxscore.search_maxscore(
            seg, f"{head[i % 4]} {mid[i % 4]}", k=100)),
        # the same two-word phrase over the durable store: positional
        # intersection (pre-artifact handle) vs ONE bigram lookup
        "phrase_seg": lambda i: executor.execute(
            seg, f'"{head[i % 4]} {mid[i % 4]}"').count(),
        "phrase_nextword": lambda i: executor.execute(
            seg_ph, f'"{head[i % 4]} {mid[i % 4]}"').count(),
        # regexp automaton expansion (anchored rlike over the vocab)
        "regexp": lambda i: executor.execute(
            idx, f"/{head[i % 4][:2]}[a-z]+/").count(),
        # DisjunctionMax over two clauses (best-aspect combiner)
        "dismax": lambda i: S_mod.search_dismax(
            idx, [[head[i % 4], mid[i % 4]], [tail[i % 4]]],
            tie_breaker=0.3, k=100).count(),
    }

    out = {}
    for kind, fn in kinds.items():
        fn(0)  # warm-up: caches, codegen, LRU
        lat = []
        for i in range(args.reps):
            t0 = time.perf_counter()
            fn(i)
            lat.append((time.perf_counter() - t0) * 1000.0)
        out[kind] = {"p50": round(pctl(lat, 0.50), 1),
                     "p95": round(pctl(lat, 0.95), 1),
                     "n": args.reps}

    print(json.dumps({
        "metric": "query_latency_ms",
        "kinds": out,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": cpus,
        "load1_at_start": round(os.getloadavg()[0], 2),
    }))


if __name__ == "__main__":
    main()
