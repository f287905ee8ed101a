"""Benchmark harness — one JSON line on stdout (driver contract).

Phases:
  1. index build over $SPARK_GRAFT_SF_DIR/documents.parquet (full analyzer,
     positional postings, salted term stats) → build_sec, docs/sec;
  2. web-scale build over a deterministically synthesized input_hint corpus
     (url, warc_ts, html, binary→text extraction UDF, tf postings) →
     web_docs_per_sec — the BASELINE.json headline metric shape;
  3. warm-index query latencies for every query kind.

Each line is the median of ``samples[line]`` samples (SAMPLES, or 1 for a
line that times a first call): per-call wall seconds under ``queries``,
per-call CPU seconds of the engine's process tree under
``queries_cpu_sec``. A repeated line's sample calls it until the sample
spans MIN_SAMPLE_S.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_WEB_DOCS (default 20000) — web corpus size.

For the N→4N scaling evidence run scripts/scaling_bench.py (spawns this at
local[8] and local[32] and reports efficiency into BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

LOAD1_AT_START = round(os.getloadavg()[0], 2)

#: quiet-host guard (round-5): a co-tenant burst silently halves every
#: number (BENCH/BASELINE.md replication study), so the official capture
#: should start on a quiet host. Above this load1 the bench WAITS (up to
#: BENCH_QUIET_TIMEOUT sec, default 600) for the host to settle rather
#: than recording numbers that need adjudication prose; if it never
#: settles, it runs anyway and flags ``host_busy`` in the output.
QUIET_LOAD1 = float(os.environ.get("BENCH_QUIET_LOAD1", "2.0"))
QUIET_TIMEOUT = float(os.environ.get("BENCH_QUIET_TIMEOUT", "600"))

#: runs per bench line; the line reports their median
SAMPLES = 3

#: a sample of a repeated line (n > 1) calls ``fn`` until it spans this
#: much wall time, so a 10 ms /proc CPU tick cannot swamp a ~1 ms call
MIN_SAMPLE_S = 0.1


def wait_for_quiet_host() -> tuple[float, float]:
    """Block until load1 <= QUIET_LOAD1 or QUIET_TIMEOUT elapses.
    Returns (load1 when released, seconds waited)."""
    waited = 0.0
    poll = 15.0
    while os.getloadavg()[0] > QUIET_LOAD1 and waited < QUIET_TIMEOUT:
        time.sleep(poll)
        waited += poll
    return round(os.getloadavg()[0], 2), waited

# Shuffle/scratch to tmpfs when available — same protocol as
# scripts/scaling_bench.py (BENCH/BASELINE.md "Scaling investigation"):
# this sandbox's virtual disk throttles in multi-minute bursts (measured
# 13 MB/s vs 550 MB/s minutes apart), which buries engine time under
# I/O stalls no real cluster has (executor shuffle goes to local NVMe).
# An explicit SPARK_LOCAL_DIRS in the environment still wins.
if os.path.isdir("/dev/shm"):
    _shm = os.path.join("/dev/shm", "bench_local")
    os.makedirs(_shm, exist_ok=True)
    os.environ.setdefault("SPARK_LOCAL_DIRS", _shm)
    os.environ.setdefault("TMPDIR", "/dev/shm")


def main() -> None:
    from pyspark.sql import functions as F

    from search_engine_spark import engine
    from search_engine_spark.functions.analyzer import AnalyzerConfig
    from search_engine_spark.operators import executor
    from search_engine_spark.operators import postings as P
    from search_engine_spark.operators import search as S
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import corpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_web = int(os.environ.get("BENCH_WEB_DOCS", "20000"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    load1_at_run, quiet_wait = wait_for_quiet_host()

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from perfbench.host import tree_cpu_s

    def others_cpu_s() -> float:
        """CPU seconds of the JVM and the Python workers: the process
        tree's /proc ticks minus the driver's own, read right after."""
        tree = tree_cpu_s(os.getpid())
        with open("/proc/self/stat") as f:
            st = f.read().rsplit(")", 1)[1].split()  # fields from 3 on
        return tree - (int(st[11]) + int(st[12])) / os.sysconf("SC_CLK_TCK")

    timings: dict[str, float] = {}
    cpu_timings: dict[str, float] = {}
    samples: dict[str, int] = {}

    def timed(name, fn, n=SAMPLES):
        """Take ``n`` samples of ``fn``; record the median per-call wall
        seconds in ``timings[name]`` and the median per-call CPU seconds
        of the process tree (driver, JVM, Python workers) in
        ``cpu_timings[name]``. /proc counts CPU in 10 ms ticks, so the
        driver's own share comes from process_time() (ns resolution) and
        only the rest from ticks; with n > 1 a sample repeats ``fn`` until
        it spans MIN_SAMPLE_S, so one background tick adds at most ~10% to
        a short call. The host throttles wall time in bursts
        (BENCH/BASELINE.md) while CPU time stays flat, so the two go side
        by side. The line's Spark jobs carry its name as their job
        description. Build lines pass a factory that makes each call
        genuinely cold (fresh output dir / fresh handle); a line that
        measures a first call passes n=1 and is called exactly once.
        Returns the LAST call's result (logically identical across calls)."""
        sc = spark.sparkContext
        wall_s, cpu_s, out = [], [], None
        sc.setJobDescription(name)
        try:
            for _ in range(n):
                c0, p0 = others_cpu_s(), time.process_time()
                t0 = time.perf_counter()
                k = 0
                while True:
                    out = fn()
                    k += 1
                    wall = time.perf_counter() - t0
                    if n == 1 or wall >= MIN_SAMPLE_S:
                        break
                p1 = time.process_time()
                wall_s.append(wall / k)
                cpu_s.append((p1 - p0 + others_cpu_s() - c0) / k)
        finally:
            sc.setJobDescription(None)
        timings[name] = round(statistics.median(wall_s), 4)
        cpu_timings[name] = round(statistics.median(cpu_s), 4)
        samples[name] = n
        return out

    # -- phase 1: index build on the driver documents table -----------------
    docs = corpus.read_documents(spark, sf_dir)
    n_docs = docs.count()

    _prev_idx = []

    def build():
        # each run constructs FRESH frames (cold build); the previous
        # run's caches are dropped so run 2 can't read run 1's work
        for old in _prev_idx:
            for f in (old.postings, old.doc_stats, old.term_stats):
                f.unpersist()
        _prev_idx.clear()
        idx = engine.build_index(docs, AnalyzerConfig.full())
        idx.postings.count()  # materialize the cache
        _prev_idx.append(idx)
        return idx

    idx = timed("build_index", build)
    build_dps = n_docs / timings["build_index"]

    # -- phase 2: web-corpus (input_hint shape) build -----------------------
    # Generation is timed separately from indexing: the headline docs/sec
    # measures the engine (extract UDF + analysis + aggregation), not the
    # synthetic-data generator.
    from search_engine_spark.functions.analyzer import make_extract_text_udf

    scratch = ("/dev/shm" if os.path.isdir("/dev/shm")
               else os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 ".bench_tmp"))
    web_dir = os.path.join(scratch, "bench_web", f"web_{n_web}")

    def web_gen():
        if not os.path.exists(os.path.join(web_dir, "_SUCCESS")):
            corpus.synthesize_web_corpus(spark, n_web, partitions=cpus * 2) \
                .write.mode("overwrite").parquet(web_dir)
        return spark.read.parquet(web_dir)

    web = timed("web_gen", web_gen, n=1)  # later runs read the cache

    def web_build():
        w = corpus.ingest_filters(corpus.with_hash_doc_ids(web))
        extracted = w.select(
            "doc_id", make_extract_text_udf()(F.col("html")).alias("text")
        )
        post = P.build_postings(extracted, AnalyzerConfig.full(), positional=False)
        return post.groupBy().agg(
            F.count("*").alias("postings"), F.sum("tf").alias("tokens")
        ).collect()[0]

    web_row = timed("web_build", web_build)
    web_dps = n_web / timings["web_build"]

    # -- phase 2b: durable segment build + MaxScore serving path -----------
    import shutil
    import tempfile

    from search_engine_spark.operators import maxscore as MS
    from search_engine_spark.sources import catalog

    seg_dir = tempfile.mkdtemp(prefix="bench_seg_")
    _seg_n = [0]

    def seg_build():
        # a FRESH output dir per run — build_durable_index's resume
        # manifests would otherwise turn run 2 into a no-op
        out = os.path.join(seg_dir, f"idx{_seg_n[0]}")
        if _seg_n[0]:
            shutil.rmtree(os.path.join(seg_dir, f"idx{_seg_n[0] - 1}"),
                          ignore_errors=True)
        _seg_n[0] += 1
        w = corpus.ingest_filters(corpus.with_dense_doc_ids(web))
        prepared = w.select(
            "doc_id", make_extract_text_udf()(F.col("html")).alias("text")
        )
        # the durable build: one range exchange, one postings table
        catalog.build_durable_index(spark, prepared, out, block_span=4096)
        return catalog.load_index(spark, out)

    seg_idx = timed("segment_build", seg_build)
    seg_dps = n_web / timings["segment_build"]

    def q_ms():
        return len(MS.search_maxscore(seg_idx, "market price growth",
                                      k=100))

    # cold = mini-index miss (driver Arrow fetch); warm = pure driver
    # kernel time over the LRU's cached block arrays
    timed("q_maxscore_cold", q_ms, n=1)
    timed("q_maxscore_warm", q_ms)

    # quantized-impact serving artifact (catalog.quantize_index): the
    # impacts-table write, then MaxScore over 8-bit impacts — one
    # impact column per posting with the exact quantized block bound
    def seg_quantize():
        out = os.path.join(seg_dir, "impact")
        shutil.rmtree(out, ignore_errors=True)
        return catalog.load_index(
            spark, catalog.quantize_index(spark, seg_idx.index_dir, out))

    imp_idx = timed("quantize_index", seg_quantize, n=1)

    def q_imp():
        return len(MS.search_maxscore(imp_idx, "market price growth",
                                      k=100))

    timed("q_impact_cold", q_imp, n=1)
    timed("q_impact_warm", q_imp)

    # next-word phrase index (catalog.build_phrase_index): the same
    # two-word phrase through the positional intersection vs ONE bigram
    # posting lookup — the Williams-Zobel common-phrase speedup
    from search_engine_spark.functions.analyzer import analyze_query
    from search_engine_spark.operators import phrase as PH

    ph_terms = analyze_query("market price", seg_idx.analyzer)
    ph3_terms = analyze_query("market price growth", seg_idx.analyzer)

    def q_ph_pos():
        return PH.search_phrase(seg_idx, ph_terms, k=100).count()

    timed("q_phrase_positional", q_ph_pos)

    def q_ph3_pos():
        return PH.search_phrase(seg_idx, ph3_terms, k=100).count()

    timed("q_phrase3_positional", q_ph3_pos)

    def ph_build():
        # cut at min(200, probe-term dfs): head-terms-only keeps this
        # optional-artifact line from dominating e2e, while clamping to
        # the probe terms' own dfs guarantees the measured phrases are
        # covered at every SF the driver runs
        dfs = [r.df for r in seg_idx.term_stats
               .filter(F.col("term").isin(ph3_terms)).collect()]
        cut = max(1, min([200] + dfs))
        return catalog.build_phrase_index(spark, seg_idx.index_dir,
                                          min_df=cut)

    timed("phrase_index_build", ph_build, n=1)
    ph_idx = catalog.load_index(spark, seg_idx.index_dir)
    if ph_idx.bigram_lookup(*ph_terms) is None:
        raise RuntimeError("bench phrase pair not covered by the phrase "
                           "index — q_phrase_nextword would silently "
                           "measure the fallback")
    if any(ph_idx.bigram_lookup(a, b, positional=True) is None
           for a, b in zip(ph3_terms, ph3_terms[1:])):
        raise RuntimeError("bench 3-word phrase not chain-covered — "
                           "q_phrase3_chain would silently measure the "
                           "fallback")

    def q_ph_fast():
        return PH.search_phrase(ph_idx, ph_terms, k=100).count()

    timed("q_phrase_nextword", q_ph_fast)

    # round-5: the same 3-word phrase through the W&Z §4 bigram CHAIN
    # (two rare bigram postings) vs the 3-unigram positional
    # intersection above
    def q_ph3_chain():
        return PH.search_phrase(ph_idx, ph3_terms, k=100).count()

    timed("q_phrase3_chain", q_ph3_chain)

    # default serving path through the HTTP surface (round-5 auto
    # routing: with no kernel parameter, an eligible request serves from
    # the MaxScore kernel) — one warm request end-to-end, asserting the
    # path actually taken so a routing regression fails the bench
    # instead of silently timing the slow path
    import threading
    import urllib.request

    from jobs.serve import create_server

    srv = create_server(ph_idx, port=0)
    _srv_t = threading.Thread(target=srv.serve_forever, daemon=True)
    _srv_t.start()
    _base = f"http://127.0.0.1:{srv.server_address[1]}"

    def q_serve_default():
        with urllib.request.urlopen(
                _base + "/results?query=market%20price%20growth&k=100",
                timeout=300) as r:
            body = json.loads(r.read())
        if body["path"] != "maxscore":
            raise RuntimeError(
                f"default /results path was {body['path']!r}, expected "
                "the maxscore kernel (auto routing regressed)")
        return body["number_of_results"]

    q_serve_default()  # cold: warms the mini-index through the server
    timed("q_serve_default_warm", q_serve_default)
    srv.shutdown()
    srv.server_close()
    shutil.rmtree(seg_dir, ignore_errors=True)

    # -- phase 3: warm query latencies --------------------------------------
    # Query terms are drawn from the TESTDATA corpus's own vocabulary
    # (join/hash/scan/...; ~9k postings per head term at sf0.1). Rounds
    # 1-3 queried web-generator vocabulary ("market price growth") that
    # the driver tables do not contain, so every phase-3 line measured
    # the EMPTY-RESULT path — pruned scans + job overhead, zero scoring
    # rows. Round-4 numbers are therefore slower AND honest; the web-
    # vocabulary lines live on in phase 2b (q_maxscore*) where the index IS
    # the web corpus. Documented in BENCH/BASELINE.md.
    from search_engine_spark.operators import batchsearch as BS

    _bt = ["join", "hash", "scan", "batch", "filter", "merge",
           "stream", "column"]
    batch_qf = spark.createDataFrame(
        [(qid, _bt[(qid + j) % len(_bt)])
         for qid in range(32) for j in range(3)],
        "query_id long, term string")
    # federated routing tables are index-time artifacts: built once per
    # index, cached — q_cori_routed times the per-query work only (the
    # |q|·|S| CORI routing job + retrieval restricted to the top shards)
    from search_engine_spark.operators import federation as fed

    _fts, _fsz = fed.shard_stats(idx.postings, idx.doc_stats,
                                 fed.assign_shards(idx.doc_stats, 8))
    _fts, _fsz = _fts.cache(), _fsz.cache()
    _fts.count(), _fsz.count()
    queries = {
        "q_free_single": lambda: executor.execute(idx, "join").count(),
        "q_free_multi": lambda: executor.execute(idx, "join hash scan").count(),
        "q_phrase": lambda: executor.execute(idx, '"merge hash"').count(),
        "q_boolean": lambda: executor.execute(idx, "join AND (hash OR scan)").count(),
        "q_proximity": lambda: executor.execute(idx, "#5(join, hash)").count(),
        "q_lm": lambda: executor.execute(idx, "join hash", model="lm-pyp").count(),
        # q_vsm pays the one-time doc-norms materialization (a full-postings
        # aggregate, cached on the handle); q_vsm_warm is the steady-state
        # serving latency — a single Spark job since the in-plan query
        # weights rewrite
        "q_vsm": lambda: executor.execute(idx, "join hash", model="vsm").count(),
        "q_vsm_warm": lambda: executor.execute(idx, "join hash", model="vsm").count(),
        # typo'd tokens (deletion/substitution typos at Levenshtein 1):
        # the expansion pass + boosted scoring
        "q_fuzzy": lambda: S.search_fuzzy(idx, ["joi", "hask"],
                                          k=100).count(),
        "q_mlt": lambda: S.more_like_this(idx, 3, k=100).count(),
        # prefix query: 2 vocabulary expansions + literal term, one OR
        "q_prefix": lambda: S.search_prefix(
            idx, ["join"], ["ha", "sc"], k=100).count(),
        # sloppy phrase: ordered-window chain matcher at slop 3
        "q_sloppy_phrase": lambda: executor.execute(
            idx, '"merge hash"~3', k=100).count(),
        # minimum-should-match: ≥2 of 3 distinct terms, folded into the
        # score aggregate
        "q_min_match": lambda: executor.execute(
            idx, "join hash scan", min_should_match=2).count(),
        # wildcard terms: anchored LIKE expansion + boolean-OR scoring
        "q_wildcard": lambda: executor.execute(
            idx, "jo?n sc*n").count(),
        # query-time synonym expansion (driver-side fold, one OR query)
        "q_synonym": lambda: executor.execute(
            idx, "join scan", synonyms={"join": ["merge"]},
            synonym_weight=0.5).count(),
        # batch retrieval: 32 three-term queries ranked in ONE job — the
        # per-query cost amortizes to a single postings pass + per-query
        # windows (compare against 32× q_free_multi)
        "q_batch32": lambda: BS.batch_topk(idx, batch_qf, k=10).count(),
        # selective search: CORI-route to the top-2 of 8 hash shards,
        # then BM25 with global stats over the selected docs only —
        # compare q_free_multi (the unrouted 3-term query)
        "q_cori_routed": lambda: fed.search_routed(
            idx, ["join", "hash", "scan"], _fts, _fsz,
            n_shards=8, m=2).count(),
    }
    for name, fn in queries.items():
        # q_vsm is single-pass: it pays the one-time norms build
        timed(name, fn, n=1 if name == "q_vsm" else SAMPLES)

    # -- phase 4: training-data pipeline ops (first-class per task brief) ---
    from search_engine_spark.operators import (corpusstats, decontam, dedup,
                                               graph, hosts, packing,
                                               sampling, similarity,
                                               textquality, urls)

    docs = corpus.read_documents(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = [float(x) for x in emb.limit(1).collect()[0].embedding]
    pipeline_ops = {
        "p_exact_dedup": lambda: dedup.exact_dedup(docs).count(),
        "p_minhash_dedup": lambda: dedup.minhash_dedup(docs, threshold=0.7).count(),
        "p_simhash": lambda: dedup.simhash_pairs(dedup.simhash64(docs),
                                                 max_hamming=8).count(),
        "p_language_id": lambda: textquality.language_id(docs).count(),
        "p_quality_score": lambda: textquality.quality_score(docs).count(),
        "p_cosine_topk": lambda: similarity.cosine_topk(emb, qvec, 10).count(),
        "p_near_dups_lsh": lambda: similarity.embedding_near_dups(
            emb, threshold=0.9).count(),
        "p_train_split": lambda: sampling.assign_splits(docs)
        .groupBy("split").count().count(),
        "p_pii_scrub": lambda: textquality.pii_scrub(docs)
        .agg(F.sum("n_email")).count(),
        "p_repetition_stats": lambda: textquality.repetition_stats(docs)
        .count(),
        "p_pack_sequences": lambda: packing.pack_sequences(
            textquality.token_count(docs).select("doc_id", "n_tokens"),
            budget=512, n_chunks=16).count(),
        "p_decontaminate": lambda: decontam.decontaminate(
            docs, docs.filter(F.col("doc_id") % 97 == 0), n=13).count(),
        "p_shuffle_shards": lambda: sampling.shuffle_shards(docs, 32)
        .agg(F.max("pos")).count(),
        "p_unigram_logprob": lambda: textquality.unigram_logprob(docs)
        .agg(F.avg("bits_per_token")).count(),
        "p_url_dedup": lambda: urls.url_dedup(
            docs.select("doc_id",
                        F.concat(F.lit("https://www."), F.col("source"),
                                 F.lit(".example.com/p/"),
                                 (F.col("doc_id") % 997).cast("string"),
                                 F.lit("/?utm_source=x&b=2&a=1#f"))
                        .alias("url"))).count(),
        "p_pagerank": lambda: graph.pagerank(
            graph.synth_edges(docs.select("doc_id"), n_docs),
            n_iter=5).agg(F.sum("rank")).count(),
        "p_host_stats": lambda: hosts.host_stats(
            docs.select("doc_id",
                        F.concat(F.lit("https://www."), F.col("source"),
                                 F.lit(".example.com/p/"),
                                 (F.col("doc_id") % 997).cast("string"))
                        .alias("url"))).count(),
        "p_top_bigrams": lambda: corpusstats.top_ngrams(docs, n=2, k=50)
        .count(),
        "p_anchor_fielded": lambda: _anchor_fielded(docs, n_docs),
        # compressed-ANN serving: codebook fit + code assign + JVM ADC
        # scan + exact refine (the pq_refine_identity path, end-to-end)
        "p_pq_refine": lambda: _pq_refine(emb, qvec),
        # BPE trainer: distributed word counts -> capped table -> driver
        # merge loop -> learned-merges token bill back over the corpus
        "p_bpe_train": lambda: _bpe_train(docs),
        # SemDeDup: IVF cells + per-cell near-dup pruning
        "p_semdedup": lambda: similarity.semantic_dedup(
            emb, threshold=0.9, n_centroids=8).count(),
        # winnowing passage-reuse pairs (fingerprint + bounded fp join)
        "p_winnow_pairs": lambda: dedup.winnow_overlap_pairs(
            docs, min_shared=2).count(),
        # self-trained interpolated bigram LM over the corpus
        "p_bigram_lm": lambda: textquality.bigram_logprob(docs)
        .agg(F.avg("bits_per_token")).count(),
        # RM3 expanded query (pass 1 + feedback + weighted pass 2)
        "p_rm3_query": lambda: _rm3(idx),
        # learned quality filter: feature pass + 5 GD iterations + the
        # serving sigmoid scan (labels derived from the rule-based score)
        "p_quality_clf": lambda: _quality_clf(docs),
        # exact duplicate-span removal (ExactSubstr at word windows)
        "p_dup_spans": lambda: dedup.strip_dup_spans(docs, w=8)
        .agg(F.sum("n_tokens_dropped")).count(),
        # index-free topic clustering: feature-hash every doc to a dense
        # 128-dim vector, 3 distributed Lloyd's iterations at k=8, then
        # the assignment scan (vectorize + clustering end-to-end)
        "p_hash_kmeans": lambda: _hash_kmeans(docs),
        # recency-weighted activity over the events table
        "p_decayed_counts": lambda: _events_decayed(),
        # PMI collocations (phrase mining) over the corpus
        "p_collocations": lambda: corpusstats.collocations(
            docs, k=50, min_count=5).count(),
        # hybrid sparse+dense: BM25 top-100 + cosine top-100 fused (RRF)
        "q_hybrid": lambda: _hybrid(emb, qvec),
        # true BM25F over body + synthesized anchor field
        "q_bm25f": lambda: _bm25f(docs, n_docs),
        # Lucene-style per-term score explain (point lookup)
        "q_explain": lambda: S.explain_scores(
            idx, ["join", "hash", "scan"], 3).count(),
        # significant-terms aggregation over the 'join' match set
        "p_sig_terms": lambda: _sig_terms(),
        # freshness-decayed BM25 (one date join + JVM decay)
        "q_recency": lambda: _recency(docs),
        # monthly results-over-time facet for the 'join' match set
        "p_date_histogram": lambda: _date_hist(docs),
        # Gopher rule battery (7 rules, pure JVM expressions)
        "p_gopher_rules": lambda: textquality.gopher_quality(docs)
        .filter(F.col("gopher_pass")).count(),
        # C4 page cleanup (line rules + kill chain, row-local)
        "p_c4_cleanup": lambda: textquality.c4_line_filter(
            docs, min_words_per_line=35, min_kept_lines=1,
            require_terminal_punct=False)
        .filter(F.col("killed_by").isNull()).count(),
        # within-session event-type co-occurrence + lift
        "p_session_cooc": lambda: _session_cooc(),
        # DSIR target-distribution resampling (hashed n-gram fits +
        # broadcast log-ratio weights + deterministic Gumbel-top-k)
        "p_dsir_select": lambda: _dsir(docs),
    }
    def _hash_kmeans(docs_df):
        from search_engine_spark.operators import clustering, vectorize

        vec = vectorize.hashed_vectors(docs_df, dim=128).persist()
        try:
            cents = clustering.kmeans_train(vec, k=8, iters=3,
                                            vec_col="x", id_col="doc_id")
            return clustering.kmeans_assign(
                vec, cents, vec_col="x", id_col="doc_id").count()
        finally:
            vec.unpersist()

    def _events_decayed():
        from search_engine_spark.operators import events as EV2

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return EV2.decayed_counts(ev, half_life_minutes=1440.0).count()

    def _session_cooc():
        from search_engine_spark.operators import events as EV2

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return EV2.session_cooccurrence(ev, 30, min_sessions=2).count()

    def _dsir(docs_df):
        from search_engine_spark.operators import dsir as DS

        target = docs_df.filter(F.col("source") == "src0")
        return DS.dsir_select(docs_df, target,
                              k=max(1, n_docs // 10), dim=2048).count()

    def _quality_clf(docs_df):
        from search_engine_spark.operators import classifier

        q = textquality.quality_score(docs_df)
        feats = classifier.doc_features(q).persist()
        labels = q.select(
            "doc_id", (F.col("quality") >= 0.6).cast("int").alias("label"))
        try:
            w = classifier.train_quality_classifier(
                feats, labels, iters=5, lr=1.0)
            return classifier.classifier_scores(feats, w).count()
        finally:
            feats.unpersist()

    def _rm3(idx_):
        from search_engine_spark.operators import search as S2

        return S2.search_rm3(idx_, ["market", "price"], k=100,
                             alpha=0.6).count()
    def _pq_refine(emb_df, qv):
        books = similarity.pq_fit(emb_df, m=8, ksub=16, iters=5)
        coded = similarity.pq_assign(emb_df, books)
        return similarity.pq_topk(coded, books, qv, 10, refine=100).count()

    def _bpe_train(docs_df):
        from search_engine_spark.operators import bpe

        merges, _ = bpe.learn_bpe(docs_df, n_merges=50, max_words=20_000)
        return bpe.bpe_token_count(docs_df, merges) \
            .agg(F.sum("n_bpe_tokens")).count()
    def _anchor_fielded(docs_df, n):
        from search_engine_spark.operators import search as S

        edges = graph.synth_edges(docs_df.select("doc_id"), n).withColumn(
            "anchor",
            F.concat(F.lit("link w"),
                     ((F.col("src") + F.col("dst")) % 13).cast("string")))
        aidx = graph.anchor_index(edges, cache=False)
        return S.search_fielded(idx, aidx, ["market", "w3", "link"],
                                k=100, w_anchor=0.5).count()

    def _hybrid(emb_df, qv):
        from search_engine_spark.operators import fusion

        return fusion.search_hybrid(idx, emb_df, ["join", "hash"], qv,
                                    k=10, depth=100).count()

    def _bm25f(docs_df, n):
        from search_engine_spark.operators import search as S

        edges = graph.synth_edges(docs_df.select("doc_id"), n).withColumn(
            "anchor",
            F.concat(F.lit("link w"),
                     ((F.col("src") + F.col("dst")) % 13).cast("string")))
        aidx = graph.anchor_index(edges, cache=False)
        return S.search_bm25f([(idx, 1.0, 0.75), (aidx, 0.5, 0.6)],
                              ["join", "w3", "link"], k=100).count()

    def _sig_terms():
        from search_engine_spark.operators import serp

        hits = idx.postings.filter(F.col("term") == "join").select("doc_id")
        return serp.significant_terms(idx.postings, idx.term_stats,
                                      idx.stats["n_docs"], hits,
                                      k=25).count()

    def _dated(docs_df):
        return docs_df.select(
            "doc_id",
            F.date_add(F.lit("2022-01-01").cast("date"),
                       (F.col("doc_id") % 90).cast("int"))
            .alias("warc_date"))

    def _recency(docs_df):
        from datetime import date as _d

        from search_engine_spark.operators import search as S

        agg = S.search_freetext_tokens(idx, ["join", "hash"], k=None)
        return S.topk(S.blend_recency(agg, _dated(docs_df), _d(2022, 4, 1)),
                      100).count()

    def _date_hist(docs_df):
        from search_engine_spark.operators import serp

        hits = idx.postings.filter(F.col("term") == "join").select("doc_id")
        return serp.date_histogram(hits, _dated(docs_df)).count()

    for name, fn in pipeline_ops.items():
        timed(name, fn)

    total = round(sum(timings.values()), 4)
    print(json.dumps({
        "metric": "e2e_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cpu_sec": cpu_timings,
        "samples": samples,
        "sf": sf,
        "n_docs": n_docs,
        "build_docs_per_sec": round(build_dps, 1),
        "web_corpus_docs": n_web,
        "web_build_docs_per_sec": round(web_dps, 1),
        "segment_build_docs_per_sec": round(seg_dps, 1),
        "web_postings": int(web_row["postings"]),
        "web_tokens": int(web_row["tokens"]),
        "cpus": cpus,
        # host-health context: a stray JVM or co-tenant load silently
        # halves these numbers (see BENCH/BASELINE.md replication study).
        # The quiet-host guard waited quiet_wait_sec for load1 to drop
        # to <= BENCH_QUIET_LOAD1; host_busy means it never did and the
        # numbers below were captured on a contended host anyway.
        "load1_at_start": LOAD1_AT_START,
        "load1_at_run": load1_at_run,
        "quiet_wait_sec": quiet_wait,
        "host_busy": load1_at_run > QUIET_LOAD1,
    }))


if __name__ == "__main__":
    main()
