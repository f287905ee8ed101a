"""Physical-plan audit: print .explain("formatted") for the engine's key
plans and assert the properties that matter at 100 TB:

* staged term lookup — bucket partition pruning + term predicate
  pushdown reach the postings scan; the positions column is NOT read
  for tf-only lookups (column pruning); no Python node decodes rows;
* BM25 scoring — term_stats joined via BroadcastHashJoin; no doc_stats
  join (dl rides in postings); top-k is TakeOrderedAndProject;
* postings build — exactly the intended shuffles (partial agg before
  exchange), WholeStageCodegen around the relational stages.

Writes the annotated plans to ``--out`` (default BENCH/PLANS.md, the
committed dump), with the audit's temp dirs written as ``<tmp>/audit_*``
so the dump carries no per-run paths. Exit code 1 if an assertion
fails.

    python scripts/explain_audit.py [--out PATH]
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    import tempfile

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH", "PLANS.md"),
                    help="where to write the annotated plans")
    out = ap.parse_args().out

    from pyspark.sql import functions as F

    from search_engine_spark import engine
    from search_engine_spark.functions.analyzer import AnalyzerConfig
    from search_engine_spark.operators import postings as P
    from search_engine_spark.operators import search as S
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import catalog, corpus

    spark = get_spark("explain-audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = corpus.read_documents(spark, "/root/testdata/sf0.001")

    sections: list[tuple[str, str, list[tuple[str, bool]]]] = []
    failures = 0

    def check(title: str, plan: str, asserts: list[tuple[str, str, bool]]):
        nonlocal failures
        results = []
        for desc, pattern, want in asserts:
            ok = bool(re.search(pattern, plan)) == want
            results.append((desc, ok))
            if not ok:
                failures += 1
        sections.append((title, plan, results))

    # 1. relational term lookup: a filter over the staged postings
    tmp = tempfile.mkdtemp(prefix="audit_idx_")
    catalog.build_durable_index(spark, docs, os.path.join(tmp, "idx"),
                                buckets=16, block_span=64)
    idx = catalog.load_index(spark, os.path.join(tmp, "idx"))
    lookup = idx.lookup(["market", "price"])
    check(
        "Staged term lookup (tf-only)", plan_of(lookup),
        [
            ("scan reads the staged postings", r"idx/postings_stage", True),
            ("bucket partition filter present", r"PartitionFilters: \[.*bucket", True),
            ("term predicate pushed to scan", r"PushedFilters: \[.*[Ii]n\(term", True),
            ("positions NOT in read schema", r"ReadSchema:.*positions", False),
            ("no Python UDF node (no decode)",
             r"MapInPandas|ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # 2. BM25 scoring plan on the segment index
    scored = S.search_freetext(idx, "market price growth", k=100)
    p2 = plan_of(scored)
    check(
        "BM25 top-k over segment index", p2,
        [
            ("broadcast join for term stats", r"BroadcastHashJoin|BroadcastExchange", True),
            ("top-k is TakeOrderedAndProject", r"TakeOrderedAndProject", True),
            ("no SortMergeJoin in the query path", r"SortMergeJoin", False),
        ],
    )

    # 3. postings build plans: (term, tf, positions) groups are computed
    # INSIDE the analyzer pandas UDF (per-document local data), so the
    # whole build must be shuffle-free map work — one Arrow UDF, one
    # Generate (explode), NO Exchange and NO Aggregate. The former
    # groupBy+collect_list formulation shuffled every exploded token and
    # fell back to sort-based ObjectHashAggregate (measured ~9× the rest
    # of the build at 150k docs).
    post = P.build_postings(docs, AnalyzerConfig.full())
    p3 = plan_of(post)
    check(
        "Postings build (positional)", p3,
        [
            ("arrow-batched analysis UDF", r"ArrowEvalPython|MapInPandas", True),
            ("analysis UDF evaluated exactly once",
             r"\(\d+\) ArrowEvalPython[\s\S]*\(\d+\) ArrowEvalPython", False),
            ("map-side only: no shuffle in the postings build",
             r"\bExchange\b", False),
            ("map-side only: no aggregate in the postings build",
             r"Aggregate\b", False),
        ],
    )
    post_tf = P.build_postings(docs, AnalyzerConfig.full(), positional=False)
    check(
        "Postings build (tf-only)", plan_of(post_tf),
        [
            ("analysis UDF evaluated exactly once",
             r"\(\d+\) ArrowEvalPython[\s\S]*\(\d+\) ArrowEvalPython", False),
            ("map-side only: no shuffle in the postings build",
             r"\bExchange\b", False),
            ("map-side only: no aggregate in the postings build",
             r"Aggregate\b", False),
        ],
    )

    # 3b. fused index build: postings -> sorted exchange -> shuffle-free
    # segment encode. The WHOLE chain must contain exactly ONE Exchange
    # (the range repartition that lays out (bucket, term, block_id)) —
    # the encode itself is a mapInPandas over those partitions, no
    # second shuffle, no per-group applyInPandas aggregate. The exchange
    # is the build's own catalog.range_layout.
    from search_engine_spark.operators import segments as SEGOP

    sorted_post = catalog.range_layout(post.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(16)).cast("int")
    ).withColumn("block_id", (F.col("doc_id") / F.lit(4096)).cast("long")),
        "bucket", "term", "block_id", tiebreak="doc_id")
    p3b = plan_of(SEGOP.encode_sorted(sorted_post))
    check(
        "Fused segment encode (postings -> segments)", p3b,
        [
            ("exactly one exchange in the whole chain",
             r"\(\d+\) Exchange\b[\s\S]*\(\d+\) Exchange\b", False),
            ("the one range exchange is present", r"rangepartitioning", True),
            ("encode is mapInPandas (no per-group aggregate)",
             r"MapInPandas", True),
            ("no FlatMapGroupsInPandas in the fused path",
             r"FlatMapGroupsInPandas", False),
        ],
    )

    # 4. date-range filter on a days(warc_ts)-partitioned documents table
    # → directory-level partition pruning, no full scan (the reference's
    # date2doc reverse map replaced by table layout)
    from datetime import date as _date

    from search_engine_spark.operators import executor as EX

    web = corpus.with_hash_doc_ids(corpus.synthesize_web_corpus(spark, 500))
    part_dir = os.path.join(tmp, "docs_by_date")
    corpus.write_documents_partitioned(web, part_dir)
    part_docs = corpus.read_documents_partitioned(spark, part_dir)
    p_date = plan_of(EX.date_candidates(
        part_docs, _date(2022, 1, 5), _date(2022, 1, 9)))
    check(
        "Date filter via partition pruning", p_date,
        [
            ("warc_date partition filter present",
             r"PartitionFilters: \[.*warc_date", True),
            ("no data-level filter remains (pruning handles it all)",
             r"PushedFilters: \[.+\]|\(\d+\) Filter", False),
            ("only doc_id in read schema",
             r"ReadSchema: struct<doc_id:bigint>", True),
        ],
    )

    # 5. in-memory index path: doc_stats join eliminated (dl in postings)
    mem = engine.build_index(docs, AnalyzerConfig.full(), cache=False)
    p4 = plan_of(S.search_freetext(mem, "market price", k=10))
    check(
        "Scoring without doc_stats join", p4,
        [
            ("single scan of postings source", r"Scan", True),
        ],
    )

    # 6. mixed free-text + phrase query: the inner score frames must be
    # UNRANKED — exactly ONE TakeOrderedAndProject, carrying the USER's k
    # (a per-frame top-k with k=n_docs is a full global sort at scale)
    p5 = plan_of(EX.execute(mem, '"market price" growth', k=7))
    check(
        "Mixed free-text+phrase: single final top-k", p5,
        [
            ("a TakeOrderedAndProject is present", r"TakeOrderedAndProject", True),
            # tree form is "TakeOrderedAndProject (36)"; the details
            # section repeats it as "(36) TakeOrderedAndProject" — count
            # tree-form occurrences only
            ("only ONE TakeOrderedAndProject in the plan",
             r"TakeOrderedAndProject \(\d+\)[\s\S]*TakeOrderedAndProject \(\d+\)",
             False),
            ("top-k limit is the user's k", r"Arguments: 7,", True),
        ],
    )

    # 7. VSM: the whole query is ONE Spark action — query weights and
    # qnorm resolve in-plan (broadcast of term_stats + a 1-row broadcast
    # aggregate), no per-query driver collect
    p6 = plan_of(S.search_vsm(mem, "market price", k=10))
    check(
        "VSM single-action (in-plan query weights)", p6,
        [
            ("broadcast query-weight/qnorm frames", r"BroadcastExchange", True),
            ("qnorm crossJoin is broadcast, not cartesian",
             r"CartesianProduct", False),
            ("single final top-k", r"TakeOrderedAndProject", True),
        ],
    )

    # 8. embedding near-dup band join ships ids only: the posexplode
    # output must not carry the vector column (shuffle bytes independent
    # of n_tables × dim); vectors re-join after candidate dedup
    from search_engine_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p7 = plan_of(SIM.embedding_near_dups(emb, threshold=0.9))
    check(
        "Embedding near-dup band join (ids only)", p7,
        [
            ("band posexplode present", r"\bGenerate\b", True),
            ("vectors NOT carried through the explode",
             r"\(\d+\) Generate\nInput \[\d+\]: \[[^\]]*embedding", False),
        ],
    )

    # 9. sequence packing: the global running sum must execute as
    # per-chunk windows + a broadcast offset join — never a single-task
    # global ordered window (the naive Window.orderBy form)
    from search_engine_spark.operators import packing as PK
    from search_engine_spark.operators import textquality as TQ

    toks = TQ.token_count(docs).select("doc_id", "n_tokens")
    p8 = plan_of(PK.pack_sequences(toks, budget=512, n_chunks=8))
    check(
        "Sequence packing: distributed prefix sum", p8,
        [
            ("running-sum window partitioned by chunk",
             r"windowspecdefinition\(_chunk", True),
            ("no partition-less global window",
             r"windowspecdefinition\((?!_chunk)", False),
            ("prefix offsets joined via broadcast",
             r"BroadcastHashJoin", True),
            ("no sort-merge join for the tiny offset table",
             r"SortMergeJoin", False),
        ],
    )

    # 10. split assignment + PII scrub: pure narrow projections — a
    # 100 TB pass must read and write without ANY exchange
    from search_engine_spark.operators import sampling as SA

    p9 = plan_of(SA.assign_splits(docs))
    p10 = plan_of(TQ.pii_scrub(docs))
    check(
        "Split assignment (shuffle-free)", p9,
        [("no Exchange anywhere in the plan", r"\bExchange\b", False)],
    )
    check(
        "PII scrub (shuffle-free)", p10,
        [("no Exchange anywhere in the plan", r"\bExchange\b", False)],
    )

    # 11. decontamination: the corpus side n-grams narrowly (Generate),
    # the small eval hash set arrives via broadcast — a shuffle of the
    # exploded corpus grams (SortMergeJoin) would be the 100 TB killer
    from search_engine_spark.operators import decontam as DC

    p11 = plan_of(DC.decontaminate(docs, docs.filter(F.col("doc_id") % 97 == 0),
                                   n=3))
    check(
        "Benchmark decontamination", p11,
        [
            ("corpus grams explode narrowly (Generate)", r"\bGenerate\b", True),
            ("eval hash set joined via broadcast", r"BroadcastHashJoin", True),
            ("no shuffle join of exploded corpus grams", r"SortMergeJoin", False),
            ("no cartesian product", r"CartesianProduct", False),
        ],
    )

    # 12b. URL canonicalization must be a pure narrow projection (no
    # UDF, no exchange); url_dedup adds exactly the one group-agg
    # exchange its contract requires
    from search_engine_spark.operators import urls as UR

    surls = docs.select(
        "doc_id",
        F.concat(F.lit("https://www."), F.col("source"),
                 F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
                 F.lit("/?utm_source=x&b=2&a=1#f")).alias("url"))
    p12a = plan_of(surls.select(UR.canonical_url(F.col("url"))))
    check(
        "URL canonicalization (narrow, JVM-only)", p12a,
        [
            ("no exchange", r"\bExchange\b", False),
            ("no Python UDF", r"BatchEvalPython|ArrowEvalPython", False),
        ],
    )
    p12b = plan_of(UR.url_dedup(surls))
    check(
        "URL dedup (single group-agg)", p12b,
        [
            ("partial aggregation before exchange", r"partial_min|partial_first", True),
            ("no Python UDF", r"BatchEvalPython|ArrowEvalPython", False),
            ("no join anywhere", r"Join", False),
        ],
    )

    # 12c. host stats: one agg pipeline, JVM-only; blocklist filter is a
    # broadcast anti-join — the corpus side must NOT hash-exchange
    from search_engine_spark.operators import hosts as HO

    p12c = plan_of(HO.host_stats(surls))
    check(
        "Host stats (JVM-only agg)", p12c,
        [
            ("no Python UDF", r"BatchEvalPython|ArrowEvalPython", False),
            ("codegen-capable HashAggregate", r"\bHashAggregate\b", True),
        ],
    )
    p12d = plan_of(HO.domain_filter(surls, ["example.com"]))
    check(
        "Domain blocklist filter (broadcast anti-join)", p12d,
        [
            ("broadcast anti-join", r"BroadcastHashJoin.*LeftAnti|LeftAnti BuildRight", True),
            ("corpus side not hash-exchanged", r"Exchange hashpartitioning", False),
            ("no sort-merge join", r"SortMergeJoin", False),
        ],
    )

    # 12e. corpus-wide top n-grams: narrow gram enumeration (Generate),
    # partial count before the exchange, and the top-k must be a
    # TakeOrderedAndProject — never a global Sort
    from search_engine_spark.operators import corpusstats as CS

    p12e = plan_of(CS.top_ngrams(docs, n=2, k=50))
    check(
        "Top n-grams (heavy hitters)", p12e,
        [
            ("grams enumerate narrowly (Generate)", r"\bGenerate\b", True),
            ("partial count before exchange", r"partial_count", True),
            ("top-k is TakeOrderedAndProject", r"TakeOrderedAndProject", True),
            ("no global Sort node", r"\bSort\b \(", False),
        ],
    )

    # 12f. unigram corpus-LM quality: gram/token work is JVM HOFs (no
    # UDF), and no cartesian product sneaks in via the 1-row total
    from search_engine_spark.operators import textquality as TQ2

    p12f = plan_of(TQ2.unigram_logprob(docs))
    check(
        "Unigram corpus-LM quality (JVM-only)", p12f,
        [
            ("no Python UDF", r"BatchEvalPython|ArrowEvalPython", False),
            ("1-row total arrives via broadcast", r"BroadcastExchange", True),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 12g. PageRank iteration: the per-iteration rank join must reuse
    # the persisted weighted-edge frame (InMemoryTableScan), and the
    # dangling-mass scalar must broadcast, not shuffle
    from search_engine_spark.operators import graph as GR

    pr_edges = GR.synth_edges(docs.select("doc_id"), 500)
    p12g = plan_of(GR.pagerank(pr_edges, n_iter=2))
    GR.release_caches()
    check(
        "PageRank (persisted edges, broadcast dangling mass)", p12g,
        [
            ("weighted edges read from cache", r"InMemoryTableScan", True),
            ("dangling scalar broadcast", r"BroadcastExchange|BroadcastNestedLoopJoin", True),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 12h. fielded body+anchor: the two field frames union-sum into ONE
    # final top-k; term stats broadcast on both sides, no sort-merge join
    a_edges = GR.synth_edges(docs.select("doc_id"), 500).withColumn(
        "anchor",
        F.concat(F.lit("link w"),
                 ((F.col("src") + F.col("dst")) % 13).cast("string")))
    aidx = GR.anchor_index(a_edges, cache=False)
    p12h = plan_of(S.search_fielded(mem, aidx, ["market", "price"], k=10))
    check(
        "Fielded body+anchor ranking", p12h,
        [
            ("single final top-k",
             r"TakeOrderedAndProject \(\d+\)[\s\S]*TakeOrderedAndProject \(\d+\)",
             False),
            ("a TakeOrderedAndProject is present", r"TakeOrderedAndProject", True),
            ("term stats broadcast", r"BroadcastHashJoin|BroadcastExchange", True),
            ("no sort-merge join", r"SortMergeJoin", False),
        ],
    )

    # 12. training-order shuffle: pos must come from a window
    # partitioned BY SHARD — a partition-less ordered window would pull
    # the whole corpus through one task
    p12 = plan_of(SA.shuffle_shards(docs, 8))
    check(
        "Training-order shuffle (shard, pos)", p12,
        [
            ("row_number window partitioned by shard",
             r"windowspecdefinition\(shard", True),
            ("no single-partition global sort/window", r"SinglePartition", False),
        ],
    )

    # 13. PQ ADC serving scan: once codes are materialized, scoring is
    # literal lookup tables + element_at — pure JVM, no Python eval, one
    # TakeOrderedAndProject, and the scan reads ONLY (id, code) — the
    # raw vector column must be pruned out of the compressed path
    from search_engine_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = SIM.pq_fit(emb, m=8, ksub=16, iters=3)
    pq_dir = tempfile.mkdtemp(prefix="audit_pq_")
    SIM.pq_assign(emb, books).write.parquet(os.path.join(pq_dir, "coded"))
    coded = spark.read.parquet(os.path.join(pq_dir, "coded"))
    qv = [float(x) for x in emb.limit(1).collect()[0].embedding]
    p13 = plan_of(SIM.pq_topk(coded, books, qv, 10))
    check(
        "PQ ADC compressed ANN scan", p13,
        [
            ("no Python UDF in the serving scan",
             r"BatchEvalPython|ArrowEvalPython", False),
            ("top-k is TakeOrderedAndProject", r"TakeOrderedAndProject", True),
            ("vector column pruned from ReadSchema",
             r"ReadSchema:[^\n]*embedding", False),
        ],
    )

    # 14. bigram corpus-LM: all-JVM (array-slice bigrams, no Python), the
    # 1-row total broadcast, count sides joined without a cartesian
    from search_engine_spark.operators import textquality as TQ3

    p14 = plan_of(TQ3.bigram_logprob(docs))
    check(
        "Bigram corpus-LM (JVM-only)", p14,
        [
            ("no Python UDF", r"BatchEvalPython|ArrowEvalPython", False),
            ("1-row total arrives via broadcast", r"BroadcastExchange", True),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 15. winnowing pair join: the max_df cut must be a partial-agged
    # count before the exchange, and the fp self-join is a hash join,
    # never a cartesian/nested-loop over docs
    from search_engine_spark.operators import dedup as DD

    p15 = plan_of(DD.winnow_overlap_pairs(docs, min_shared=2))
    check(
        "Winnowing overlap pairs (bounded fp join)", p15,
        [
            ("fp df-cut partial-aggregates before exchange",
             r"partial_count", True),
            ("no CartesianProduct", r"CartesianProduct", False),
            ("no BroadcastNestedLoopJoin", r"BroadcastNestedLoopJoin", False),
        ],
    )

    # 16. semantic dedup: per-cell self-join (hash join on cell), vectors
    # cast once, anti-join returns survivors — no cartesian anywhere
    p16 = plan_of(SIM.semantic_dedup(emb, threshold=0.4, n_centroids=8))
    check(
        "Semantic dedup (per-cell join)", p16,
        [
            ("no CartesianProduct", r"CartesianProduct", False),
            ("survivors via anti-join", r"LeftAnti", True),
        ],
    )

    # 17. HITS: the double self-reference per half-step makes an
    # unmaterialized chain grow the LOGICAL plan ~4x per iteration — the
    # per-half-step localCheckpoint must pin the final plan to
    # checkpointed RDDs and keep its size CONSTANT in n_iter (measured
    # 2 vs 4 iterations, not just asserted in prose)
    h2 = GR.hits(pr_edges, n_iter=2)
    ph2 = plan_of(h2)
    GR.release_caches()
    h4 = GR.hits(pr_edges, n_iter=4)
    ph4 = plan_of(h4)
    GR.release_caches()
    ratio = len(ph4) / max(len(ph2), 1)
    p17 = (f"-- plan-size growth 2 -> 4 iterations: {len(ph2)} -> "
           f"{len(ph4)} chars, ratio {ratio:.2f} "
           "(unmaterialized would be ~16x)\n" + ph4)
    check(
        "HITS (checkpointed half-steps, broadcast L2 norm)", p17,
        [
            ("final plan reads checkpointed RDDs, not the join chain",
             r"Scan ExistingRDD", True),
            ("plan size constant in iteration count (ratio < 3)",
             r"ratio [0-2]\.", True),
            ("no CartesianProduct", r"CartesianProduct", False),
            ("no Python UDF", r"BatchEvalPython|ArrowEvalPython", False),
        ],
    )

    # 18. connected components: one edges-joins-labels + min-agg per
    # round, lineage truncated by the periodic checkpoint/persist — the
    # converged frame must read from materialized storage and carry no
    # cartesian anywhere
    cc = GR.connected_components(pr_edges)
    p18 = plan_of(cc)
    GR.release_caches()
    check(
        "Connected components (hash-min label propagation)", p18,
        [
            ("converged labels read from materialized storage",
             r"InMemoryTableScan|Scan ExistingRDD", True),
            ("no CartesianProduct", r"CartesianProduct", False),
            ("no Python UDF", r"BatchEvalPython|ArrowEvalPython", False),
        ],
    )

    # 19. corpus-wide duplicate-line removal: lines explode narrowly
    # (Generate), the distinct-doc count partial-aggregates map-side
    # (the 'Home' skew absorber), boilerplate lines hit the corpus via
    # an ANTI join of only the above-threshold set, all JVM
    p19 = plan_of(TQ.dedup_lines(docs, min_docs=2))
    check(
        "Duplicate-line removal (3 keyed shuffles)", p19,
        [
            ("lines explode narrowly (Generate)", r"\bGenerate\b", True),
            ("partial aggregation before the count exchange",
             r"partial_count|partial_first", True),
            ("boilerplate removed via anti-join", r"LeftAnti", True),
            ("no CartesianProduct", r"CartesianProduct", False),
            ("no Python UDF", r"BatchEvalPython|ArrowEvalPython", False),
        ],
    )

    # 20. per-doc tf-idf keywords: one enrich join + one window RANK
    # partitioned by doc_id — the window's sort must be partition-local
    # (billions of tiny per-doc partitions at scale), never a global sort
    p20 = plan_of(CS.doc_keywords(mem.postings, mem.term_stats,
                                  mem.stats["n_docs"], m=5))
    check(
        "Per-doc tf-idf keywords (per-doc window)", p20,
        [
            ("window partitioned by doc_id",
             r"windowspecdefinition\(doc_id", True),
            ("no partition-less window",
             r"windowspecdefinition\((?!doc_id)", False),
            ("window sort is partition-local (global=false)",
             r"Sort \[[^\n]*\], true, 0", False),
        ],
    )

    # 21. exact duplicate-span removal (ExactSubstr at word windows):
    # gram hashing is pure JVM array expressions (no Python UDF), the
    # over-threshold hash set reaches the gram stream via a semi-join of
    # 16-char hashes only, and the cover pass is ONE doc_id-partitioned
    # window whose sort is partition-local — never a global sort, never
    # an all-pairs join of tokens against spans
    p21 = plan_of(DD.strip_dup_spans(docs, w=8, min_count=2))
    check(
        "Duplicate-span removal (running-max cover)", p21,
        [
            ("gram hashing is JVM-only (no Python UDF)",
             r"BatchEvalPython|ArrowEvalPython", False),
            ("partial aggregation before the gram-count exchange",
             r"partial_count|partial_first", True),
            ("duplicated grams reach tokens via semi-join",
             r"LeftSemi", True),
            ("cover window partitioned by doc_id",
             r"windowspecdefinition\(doc_id", True),
            ("window sort is partition-local (global=false)",
             r"Sort \[[^\n]*\], true, 0", False),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 22. fuzzy query expansion: the |q|-row token frame reaches the
    # vocabulary via a BROADCAST hash join keyed on the shared prefix
    # (an equi-key — never a CartesianProduct/BroadcastNestedLoop over
    # the vocabulary), Levenshtein is the JVM builtin, and the per-token
    # cap is a window over |q| tiny partitions, its sort partition-local
    p22 = plan_of(S.fuzzy_candidates(idx, ["vectr", "joinn"],
                                     max_dist=1, max_expansions=5))
    check(
        "Fuzzy expansion (vocabulary scan)", p22,
        [
            ("query tokens broadcast to the vocabulary",
             r"BroadcastExchange", True),
            ("prefix key makes it a hash join, not nested-loop",
             r"BroadcastHashJoin", True),
            ("no CartesianProduct / nested-loop over the vocabulary",
             r"CartesianProduct", False),
            ("no Python UDF (JVM levenshtein)",
             r"BatchEvalPython|ArrowEvalPython", False),
            ("cap window partitioned by query token",
             r"windowspecdefinition\(qt", True),
            ("window sort is partition-local (global=false)",
             r"Sort \[[^\n]*\], true, 0", False),
        ],
    )
    # ...and the fuzzy scoring pass reuses the literal-lookup plan:
    # variant IN-list pushed into the postings scan on the segment
    # store, one TakeOrderedAndProject
    p22b = plan_of(S.search_fuzzy(idx, ["vectr", "joinn"], k=10,
                                  max_expansions=5))
    check(
        "Fuzzy scoring (literal-lookup reuse)", p22b,
        [
            ("variant IN-list pushed to the segment scan",
             r"PushedFilters: \[.*[Ii]n\(term", True),
            ("single top-k operator", r"TakeOrderedAndProject", True),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 23. more-like-this: term selection filters postings to ONE doc,
    # enriches via a broadcast join, and cuts with a single
    # TakeOrderedAndProject; the scoring pass pushes the term IN-list to
    # the parquet scan, and the source-doc exclusion is the first filter
    # ABOVE the block decode (the payload is varint-encoded binary — a
    # doc_id predicate cannot reach parquet, by design; block-level
    # pruning is the term/bucket predicates' job)
    p23 = plan_of(S.mlt_terms_frame(mem, 3, max_query_terms=10))
    check(
        "More-like-this term selection", p23,
        [
            ("source-doc postings broadcast to term_stats",
             r"BroadcastHashJoin|BroadcastExchange", True),
            ("term cut is a single TakeOrderedAndProject",
             r"TakeOrderedAndProject", True),
            ("no SortMergeJoin", r"SortMergeJoin", False),
        ],
    )
    p23b = plan_of(S.more_like_this(idx, 3, k=10))
    check(
        "More-like-this scoring", p23b,
        [
            ("selected terms pushed to the segment scan",
             r"PushedFilters: \[.*[Ii]n\(term", True),
            ("source-doc exclusion filters the decoded stream",
             r"NOT \(doc_id#\d+L? = 3\)", True),
            ("single top-k operator", r"TakeOrderedAndProject", True),
        ],
    )

    # 24. learned quality classifier: the per-iteration gradient is ONE
    # aggregate over features ⋈ labels with map-side partial combine
    # (only a d-vector crosses to the driver), weights ride as literals
    # (no Python UDF beyond quality_score's single Arrow feature pass),
    # and the serving sigmoid scan is shuffle-free
    from search_engine_spark.operators import classifier as CLF
    from search_engine_spark.operators import textquality as TQ

    qf = CLF.doc_features(TQ.quality_score(docs))
    lbl = TQ.quality_score(docs).select(
        "doc_id", (F.col("quality") >= 0.6).cast("int").alias("label"))
    w0 = [0.0] * len(CLF.FEATURE_NAMES)
    err = CLF._dot_sigmoid(w0) - F.col("label").cast("double")
    grad_frame = qf.join(lbl, "doc_id").agg(*[
        F.avg(err * F.col("x").getItem(j)).alias(f"g{j}")
        for j in range(len(w0))
    ])
    p24 = plan_of(grad_frame)
    check(
        "Quality-classifier gradient step", p24,
        [
            ("map-side partial aggregation before the exchange",
             r"partial_avg", True),
            # formatted plans print every node twice (tree + detail), so
            # count the "(N) ArrowEvalPython" detail entries: one per
            # join side (features, labels) is the expected shape — a
            # third would mean a second Python pass snuck into the path
            ("at most one Arrow pass per join side (no third Python UDF)",
             r"(?:\(\d+\) ArrowEvalPython[\s\S]*){3}",
             False),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )
    p24b = plan_of(CLF.classifier_scores(qf, [-6.0, 0.8, 2.0, 1.5, 0.5]))
    check(
        "Quality-classifier serving scan", p24b,
        [
            ("shuffle-free scoring (no Exchange)", r"\bExchange\b", False),
            ("sigmoid is JVM column math (no BatchEvalPython)",
             r"BatchEvalPython", False),
        ],
    )

    # 25. distributed k-means: the assignment pass is a shuffle-free JVM
    # projection (centroids ride as literals — no Python, no join, no
    # exchange); the update step is ONE map-side-combined aggregate whose
    # output is k rows (only k×(dim+2) numbers cross to the driver)
    from search_engine_spark.operators import clustering as KM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [[float(x) for x in r.embedding]
             for r in emb.filter(F.col("vec_id").isin([0, 17])).collect()]
    p25 = plan_of(KM.kmeans_assign(emb, cents))
    check(
        "K-means assignment scan", p25,
        [
            ("shuffle-free (no Exchange)", r"\bExchange\b", False),
            ("no Python UDF (centroids are literals)",
             r"EvalPython", False),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )
    assigned = KM.kmeans_assign(emb, cents).join(
        emb.select("vec_id", "embedding"), "vec_id")
    upd = assigned.groupBy("cluster").agg(
        F.count("*").alias("n"),
        *[F.avg(F.col("embedding").getItem(j)).alias(f"m{j}")
          for j in range(len(cents[0]))])
    check(
        "K-means centroid update", plan_of(upd),
        [
            ("map-side partial aggregation before the exchange",
             r"partial_(avg|count)", True),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 26. feature hashing: explode → ONE map-side-combined count agg,
    # all-JVM (the md5 bucket is column math); the dense scatter adds
    # exactly one more keyed exchange (groupBy doc_id)
    from search_engine_spark.operators import vectorize as VZ

    p26 = plan_of(VZ.hashed_tf(docs, dim=128))
    check(
        "Feature-hashed term counts", p26,
        [
            ("map-side partial count before the exchange",
             r"partial_count", True),
            ("no Python UDF (md5 bucket is JVM column math)",
             r"EvalPython", False),
            ("generate (explode) stays narrow — before the exchange",
             r"Generate", True),
        ],
    )
    p26b = plan_of(VZ.hashed_vectors(docs, dim=128))
    check(
        "Feature-hashed dense vectors", p26b,
        [
            ("no Python UDF", r"EvalPython", False),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 27. decayed event counts: one map-side-combined aggregate; the
    # decay weight is JVM column math over exact integer-µs ages
    from search_engine_spark.operators import events as EVT

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p27 = plan_of(EVT.decayed_counts(ev, half_life_minutes=1440.0))
    check(
        "Decayed event counts", p27,
        [
            ("map-side partial aggregation before the exchange",
             r"partial_(sum|count)", True),
            ("no Python UDF", r"EvalPython", False),
        ],
    )

    # 29. PMI collocations: bigram counts partial-agg before the
    # exchange; the min_count cut lands BEFORE the unigram joins (the
    # filter bounds the join input); no Python UDF anywhere
    from search_engine_spark.operators import corpusstats as CS

    p29 = plan_of(CS.collocations(docs, k=30, min_count=3))
    check(
        "PMI collocations", p29,
        [
            ("map-side partial count before the exchange",
             r"partial_count", True),
            ("min_count filter precedes the unigram joins "
             r"(Filter on n_ab below the join in the tree)",
             r"n_ab.* >= 3", True),
            ("no CartesianProduct", r"CartesianProduct", False),
            ("no Python UDF", r"EvalPython", False),
        ],
    )

    # 28. prefix-query expansion: each prefix is a LITERAL startswith
    # predicate pushed to the term_stats parquet scan (file-level min/max
    # pruning, the autocomplete pushdown serving a ranked query), and the
    # per-prefix cap is a window over tiny partitions — no global sort of
    # the vocabulary, no join (so no CartesianProduct possible)
    p28 = plan_of(S.prefix_candidates(idx, ["mar", "pri"],
                                      max_expansions=5))
    check(
        "Prefix-query vocabulary expansion", p28,
        [
            ("startswith predicate pushed to the term_stats scan",
             r"PushedFilters: \[.*StringStartsWith\(term", True),
            ("no CartesianProduct", r"CartesianProduct", False),
            ("no Python UDF", r"EvalPython", False),
        ],
    )

    # 30. sloppy phrase: the ordered-window chain is pure JVM array
    # expressions over the SAME per-term positional joins as the exact
    # phrase — no Python, no cartesian, term predicates pushed
    from search_engine_spark.operators import phrase as PHR

    p30 = plan_of(PHR.sloppy_occurrences(idx, ["market", "price"], 3))
    check(
        "Sloppy-phrase chain matcher", p30,
        [
            ("term predicates pushed to the segment scan",
             r"PushedFilters: \[.*(?:[Ii]n|EqualTo)\(term", True),
            ("no Python beyond the payload decode pUDF "
             "(chain is JVM array math — exactly 2 Arrow passes, "
             "one per term lookup)",
             r"(?:\(\d+\) (?:Arrow|Batch)EvalPython[\s\S]*){3}", False),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 31. cursor pagination: page N+1 is ONE filtered TakeOrderedAndProject
    # — the cursor predicate sits under a single top-k, no Exchange-backed
    # global sort, no offset buffering
    from search_engine_spark.operators import search as SRCH

    paged = SRCH.topk(
        SRCH.page_after(S.search_freetext(idx, "market price", k=None),
                        1.5, 10), 10)
    p31 = plan_of(paged)
    check(
        "Cursor pagination (page 2 top-k)", p31,
        [
            ("exactly one TakeOrderedAndProject",
             r"(?:TakeOrderedAndProject[\s\S]*){3}", False),
            ("a top-k exists (not a global Sort+Limit)",
             r"TakeOrderedAndProject", True),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 32. crawl diff: the full outer join shuffles (key, md5 digest)
    # only — the text column is projected away BEFORE the exchange
    from search_engine_spark.operators import crawldiff as CD

    p32 = plan_of(CD.crawl_diff(docs.select("doc_id", "text"),
                                docs.select("doc_id", "text")))
    check(
        "Crawl diff digest join", p32,
        [
            ("no text column crosses an exchange (digests only)",
             r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*text#", False),
            ("no CartesianProduct", r"CartesianProduct", False),
            ("no Python UDF", r"EvalPython", False),
        ],
    )

    # 33. batch multi-query retrieval: per-query rank window partitions
    # by query_id (millions of small independent partitions) — NEVER a
    # global sort (no rangepartitioning, no TakeOrderedAndProject over
    # the whole batch); under the term cap the batch vocabulary reaches
    # the postings scan as a pushed IN-list
    from search_engine_spark.operators import batchsearch as BSRCH

    qf = spark.createDataFrame(
        [(1, "market"), (1, "price"), (2, "growth")],
        "query_id long, term string")
    p33 = plan_of(BSRCH.batch_topk(idx, qf, k=10))
    check(
        "Batch multi-query top-k", p33,
        [
            ("rank window partitions by query_id",
             r"hashpartitioning\(query_id", True),
            ("no global sort (rangepartitioning)",
             r"rangepartitioning", False),
            ("no global TakeOrderedAndProject",
             r"TakeOrderedAndProject", False),
            ("batch term IN-list pushed to the segment scan",
             r"PushedFilters: \[.*[Ii]n\(term", True),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 35. wildcard expansion: the pattern's literal anchor reaches the
    # term_stats scan as a pushed StringStartsWith (file-level min/max
    # pruning on the term-sorted vocabulary); the LIKE residue is a JVM
    # filter above it — no Python, no cartesian
    p35 = plan_of(S.wildcard_candidates(idx, ["mar*et", "pr?ce"],
                                        max_expansions=5))
    check(
        "Wildcard-query vocabulary expansion", p35,
        [
            ("anchored prefix pushed to the term_stats scan",
             r"PushedFilters: \[.*StringStartsWith\(term", True),
            ("no CartesianProduct", r"CartesianProduct", False),
            ("no Python UDF", r"EvalPython", False),
        ],
    )

    # 34. minimum-should-match: the distinct-term count folds into the
    # existing score aggregate — same joins as the plain query (no extra
    # join or shuffle stage beyond the score groupBy), mm applied as a
    # post-aggregate filter
    mm_plan = plan_of(S.search_freetext_tokens(
        idx, ["market", "price", "growth"], k=100, min_should_match=2))
    plain_plan = plan_of(S.search_freetext_tokens(
        idx, ["market", "price", "growth"], k=100))
    mm_joins = len(re.findall(r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin"
                              r"|ShuffledHashJoin)", mm_plan))
    plain_joins = len(re.findall(r"\(\d+\) (?:BroadcastHashJoin|"
                                 r"SortMergeJoin|ShuffledHashJoin)",
                                 plain_plan))
    check(
        "Minimum-should-match scoring", mm_plan,
        [
            ("same join count as the plain query "
             f"(mm {mm_joins} vs plain {plain_joins})",
             r".", mm_joins == plain_joins),
            ("top-k is TakeOrderedAndProject", r"TakeOrderedAndProject",
             True),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 36. hybrid RRF fusion: both runs cut distributed (two
    # TakeOrderedAndProject) BEFORE the single-partition rank windows —
    # the windows only ever see O(depth) rows; dense cosine is pure JVM
    # column math (no Python UDF anywhere in the fused plan)
    from search_engine_spark.operators import fusion as FUS

    emb001 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv36 = [float(x) for x in emb001.limit(1).collect()[0].embedding]
    p36 = plan_of(FUS.search_hybrid(mem, emb001, ["market", "price"],
                                    qv36, k=10, depth=50))
    n_top36 = len(set(re.findall(r"TakeOrderedAndProject \((\d+)\)", p36)))
    check(
        "Hybrid RRF fusion (sparse+dense)", p36,
        [
            ("both runs + the fuse cut via TakeOrderedAndProject "
             f"(found {n_top36})", r".", n_top36 == 3),
            # the corpus-build lineage keeps the (mandated) Arrow
            # analyzer pUDF; what must NOT appear is row-at-a-time Python
            ("no row-at-a-time Python UDF", r"BatchEvalPython", False),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 37. true BM25F: per-field frames union into ONE (term, doc_id)
    # aggregate; document-presence df re-joined BROADCAST; exactly one
    # final top-k
    p37 = plan_of(S.search_bm25f([(mem, 1.0, 0.75), (aidx, 0.5, 0.6)],
                                 ["market", "w3", "link"], k=10))
    n_top37 = len(set(re.findall(r"TakeOrderedAndProject \((\d+)\)", p37)))
    check(
        "BM25F single-saturation fielded ranking", p37,
        [
            ("single final top-k (one TakeOrderedAndProject, "
             f"found {n_top37})", r".", n_top37 == 1),
            ("document-presence df joined broadcast",
             r"BroadcastHashJoin", True),
            ("no sort-merge join", r"SortMergeJoin", False),
            ("no row-at-a-time Python UDF", r"BatchEvalPython", False),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 38. significant terms: the match set restricts postings via a
    # LEFT-SEMI join; |hits| enters as a broadcast 1-row aggregate (the
    # BroadcastNestedLoopJoin below is that single-row crossJoin, not a
    # pairwise blowup); background df comes from the PRE-AGGREGATED
    # term_stats table, so the corpus never re-aggregates at query time
    from search_engine_spark.operators import serp as SERP

    hits38 = mem.postings.filter(F.col("term") == "market").select("doc_id")
    p38 = plan_of(SERP.significant_terms(
        mem.postings, mem.term_stats, mem.stats["n_docs"], hits38, k=25))
    check(
        "Significant-terms aggregation", p38,
        [
            ("hit-set semi join restricts the postings side",
             r"LeftSemi", True),
            ("|hits| is a broadcast 1-row aggregate",
             r"BroadcastNestedLoopJoin", True),
            ("no row-at-a-time Python UDF", r"BatchEvalPython", False),
        ],
    )

    # 39. score explain: the term IN-list reaches the postings scan as a
    # pushed filter — a point lookup, O(|q|) rows to the driver
    p39 = plan_of(S.explain_scores(idx, ["market", "price"], 3))
    check(
        "Per-term score explain (point lookup)", p39,
        [
            ("query terms pushed to the segment scan",
             r"PushedFilters: \[.*[Ii]n\(term", True),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 40. recency decay: ONE date join above the aggregated candidate
    # frame (never against postings) + pure JVM decay math; final cut
    # stays a TakeOrderedAndProject
    from datetime import date as _d40

    dated40 = docs.select(
        "doc_id",
        F.date_add(F.lit("2022-01-01").cast("date"),
                   (F.col("doc_id") % 90).cast("int")).alias("warc_date"))
    agg40 = S.search_freetext_tokens(mem, ["market", "price"], k=None)
    p40 = plan_of(S.topk(
        S.blend_recency(agg40, dated40, _d40(2022, 4, 1)), 10))
    check(
        "Recency-decayed ranking", p40,
        [
            ("decay join sits above the score aggregate "
             "(one HashAggregate below the date join)",
             r"HashAggregate", True),
            ("final cut is TakeOrderedAndProject",
             r"TakeOrderedAndProject", True),
            ("no row-at-a-time Python UDF", r"BatchEvalPython", False),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 41. date histogram: the facet_counts shape with a JVM date_trunc —
    # hit dedup + one join + one group-agg, no Python
    p41 = plan_of(SERP.date_histogram(hits38, dated40))
    check(
        "Date-histogram facet", p41,
        [
            ("one facet group-agg", r"HashAggregate", True),
            ("no row-at-a-time Python UDF", r"BatchEvalPython", False),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 42. CORI resource selection: the routing tables are index-time
    # artifacts — persisted here so the audit sees the serving shape.
    # Query-time cost is |q|·|S| rows: the term filter pushes into the
    # routing-table scan, cf and shard sizes are broadcast.
    from search_engine_spark.operators import federation as FED

    tmp42 = tempfile.mkdtemp(prefix="audit_cori_")
    asg42 = FED.assign_shards(docs, 4)
    ts_mem, sz_mem = FED.shard_stats(mem.postings, mem.doc_stats, asg42)
    ts_mem.write.parquet(os.path.join(tmp42, "ts"))
    sz_mem.write.parquet(os.path.join(tmp42, "sizes"))
    ts42 = spark.read.parquet(os.path.join(tmp42, "ts"))
    sz42 = spark.read.parquet(os.path.join(tmp42, "sizes"))
    p42 = plan_of(FED.cori_scores(ts42, sz42, ["market", "price"]))
    check(
        "CORI shard resource selection", p42,
        [
            ("query terms pushed to the routing-table scan",
             r"PushedFilters: \[.*[Ii]n\(term", True),
            ("cf / shard-size joins are broadcast",
             r"BroadcastHashJoin", True),
            ("no SortMergeJoin on the |q|·|S| frame", r"SortMergeJoin", False),
            ("no row-at-a-time Python UDF", r"BatchEvalPython", False),
        ],
    )

    # 43. routed search over hash shards: the shard restriction is a
    # pure deterministic-expression FILTER — it adds NO join and no
    # exchange relative to the unrouted query plan, so routing costs
    # nothing beyond skipping (S-m)/S of the postings
    sub43 = FED.restrict_index_hash(mem, 4, [0, 2])
    p43 = plan_of(S.search_freetext_tokens(sub43, ["market", "price"], k=100))
    check(
        "CORI-routed search (hash-shard restriction)", p43,
        [
            ("restriction is a filter, not a join (no semi join)",
             r"LeftSemi", False),
            ("final cut is TakeOrderedAndProject",
             r"TakeOrderedAndProject", True),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 44. within-session co-occurrence: membership dedup BEFORE the
    # pair self-join bounds it by the type alphabet; the per-type count
    # frames broadcast into the lift join
    from search_engine_spark.operators import events as EV

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p44 = plan_of(EV.session_cooccurrence(ev, 30, min_sessions=2))
    check(
        "Session co-occurrence + lift", p44,
        [
            ("per-type counts broadcast into the lift join",
             r"BroadcastHashJoin", True),
            ("no CartesianProduct", r"CartesianProduct", False),
            ("no row-at-a-time Python UDF", r"BatchEvalPython", False),
        ],
    )

    # 45/46. Gopher rules + C4 cleanup: row-local projections — the
    # whole rule battery must stay shuffle-free and JVM-side
    from search_engine_spark.operators import textquality as TQ

    p45 = plan_of(TQ.gopher_quality(docs))
    check(
        "Gopher quality rules", p45,
        [
            ("shuffle-free (no Exchange)", r"Exchange", False),
            ("no Python in the plan", r"EvalPython", False),
        ],
    )
    p46 = plan_of(TQ.c4_line_filter(docs))
    check(
        "C4 page cleanup", p46,
        [
            ("shuffle-free (no Exchange)", r"Exchange", False),
            ("no Python in the plan", r"EvalPython", False),
        ],
    )

    # 47. regexp vocabulary expansion: the literal-prefix anchor must
    # reach the parquet term_stats scan as StringStartsWith (the rlike
    # itself cannot push — the anchor is what prunes files)
    p47 = plan_of(S.regexp_candidates(idx, ["mark.t", "pri.*e"]))
    check(
        "Regexp vocabulary expansion", p47,
        [
            ("literal anchor pushed as StringStartsWith",
             r"PushedFilters: \[.*StringStartsWith", True),
            ("no row-at-a-time Python UDF", r"BatchEvalPython", False),
        ],
    )

    # 48. DisjunctionMax: clause aggregates union into ONE combine
    # aggregate and a single final top-k
    p48 = plan_of(S.search_dismax(idx, [["market", "price"], ["growth"]],
                                  tie_breaker=0.3, k=100))
    check(
        "DisjunctionMax combiner", p48,
        [
            ("single final TakeOrderedAndProject",
             r"TakeOrderedAndProject", True),
            ("no CartesianProduct", r"CartesianProduct", False),
            ("no SortMergeJoin in the query path", r"SortMergeJoin", False),
        ],
    )

    # 49. LTR feature block: one postings pass computes every scorer
    # column; the per-query candidate cut is a query-partitioned window
    # (no global TakeOrdered), query frames broadcast
    from search_engine_spark.operators import ltr as LTR

    qf49 = spark.createDataFrame(
        [(1, "market"), (1, "price"), (2, "growth")],
        "query_id long, term string")
    p49 = plan_of(LTR.extract_features(idx, qf49, k=10))
    check(
        "LTR feature extraction", p49,
        [
            ("query-term frame joins broadcast", r"BroadcastHashJoin", True),
            ("batch terms pushed into the postings scan",
             r"PushedFilters: \[.*[Ii]n\(term", True),
            ("no global top-k (window cut per query)",
             r"TakeOrderedAndProject", False),
            ("no CartesianProduct", r"CartesianProduct", False),
        ],
    )

    # 50. quantized-impact store: the re-code pass is ONE mapInPandas
    # over the segment scan (no shuffle — structure is preserved 1:1),
    # and the relational quantized scorer is pure JVM integer
    # arithmetic (no Python in the scoring path) with the standard
    # broadcast + single-top-k shape
    from search_engine_spark.operators import segments as SEGOP

    seg50 = spark.read.parquet(os.path.join(tmp, "idx", "segments"))
    qpass = SEGOP.quantize_blocks(
        seg50.select([fld.name for fld in SEGOP.SEGMENT_SCHEMA.fields]),
        idx.stats["n_docs"], idx.stats["total_len"], bits=8)
    check(
        "Impact quantize pass (segment re-code)", plan_of(qpass),
        [
            ("one Arrow mapInPandas pass", r"MapInPandas", True),
            ("no shuffle (structure preserved 1:1)", r"\bExchange\b", False),
            ("no aggregate", r"Aggregate\b", False),
        ],
    )
    p50 = plan_of(S.search_quantized(idx, ["market", "price"], k=100))
    check(
        "Quantized relational top-k", p50,
        [
            ("integer quantizer stays JVM-side (no Python eval)",
             r"BatchEvalPython|ArrowEvalPython", False),
            ("broadcast join for term stats",
             r"BroadcastHashJoin|BroadcastExchange", True),
            ("top-k is TakeOrderedAndProject", r"TakeOrderedAndProject", True),
        ],
    )

    # 51. next-word phrase index: a covered two-word phrase is ONE
    # bucket/term-pruned scan of the phrase postings — no decode, no
    # join, no shuffle (the positional path it replaces pays one hash
    # join per term)
    info51 = catalog.build_phrase_index(spark, os.path.join(tmp, "idx"),
                                        min_df=3)
    idx51 = catalog.load_index(spark, os.path.join(tmp, "idx"))
    t1, t2 = info51["terms"][0], info51["terms"][1]
    p51 = plan_of(idx51.bigram_lookup(t1, t2))
    check(
        "Next-word phrase lookup", p51,
        [
            ("scan reads phrase_postings", r"idx/phrase_postings", True),
            ("bucket partition filter present",
             r"PartitionFilters: \[.*bucket", True),
            ("bigram term pushed to scan",
             r"PushedFilters: \[.*[Ee]qual[Tt]o\(term", True),
            ("no join (single posting lookup)",
             r"Join", False),
            ("no shuffle", r"\bExchange\b", False),
            ("no Python UDF node (no decode)",
             r"MapInPandas|ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # 52. trigram vocabulary index: a leading-wildcard probe prunes to
    # the grams' gbucket partitions with the gram list pushed to the
    # scan — never a full vocabulary pass
    catalog.build_term_ngram_index(spark, os.path.join(tmp, "idx"))
    idx52 = catalog.load_index(spark, os.path.join(tmp, "idx"))
    p52 = plan_of(idx52.trigram_candidates("*et"))
    check(
        "Trigram leading-wildcard probe", p52,
        [
            ("gbucket partition filter present",
             r"PartitionFilters: \[.*gbucket", True),
            ("gram predicate pushed to scan",
             r"PushedFilters: \[.*(In|EqualTo)\(gram", True),
            ("map-side partial agg before exchange",
             r"HashAggregate", True),
        ],
    )

    # 53. fuzzy count filter over the same trigram artifact: the
    # vocabulary side is the pruned gram probe (partition filter +
    # pushed gram list), with levenshtein applied only to the bounded
    # candidate set — never a full first-char vocabulary scan
    p53 = plan_of(S.fuzzy_candidates(idx52, ["market"], max_dist=1))
    check(
        "Fuzzy expansion via trigram count filter", p53,
        [
            ("gbucket partition filter present",
             r"PartitionFilters: \[.*gbucket", True),
            ("gram list pushed to scan",
             r"PushedFilters: \[.*[Ii]n\(gram", True),
            ("exact levenshtein verify stays JVM-side",
             r"levenshtein", True),
        ],
    )

    # 54. chained k-word phrase (round-5, W&Z §4): a 3-word covered
    # phrase intersects TWO bigram postings from the phrase artifact —
    # every scan reads phrase_postings (never the unigram postings or
    # segments), the chain reads their positions column, bucket pruning
    # + bigram term pushdown apply unchanged
    three = None
    for a in info51["terms"]:
        for b in info51["terms"]:
            for c in info51["terms"]:
                if (idx51.bigram_lookup(a, b, positional=True) is not None
                        and idx51.bigram_lookup(b, c, positional=True)
                        is not None):
                    three = [a, b, c]
                    break
            if three:
                break
        if three:
            break
    assert three, "audit corpus must cover some 3-word chain"
    p54 = plan_of(PHR.phrase_occurrences(idx51, three))
    check(
        "Chained 3-word phrase over the next-word index", p54,
        [
            ("bucket partition filter present",
             r"PartitionFilters: \[.*bucket", True),
            ("bigram terms (with space) pushed to scan",
             r"PushedFilters: \[.*[Ee]qual[Tt]o\(term,[^)]+ ", True),
            ("scans read the phrase artifact only",
             r"phrase_postings", True),
            ("no unigram postings or segment scan",
             r"idx/(segments|postings_stage)", False),
        ],
    )

    # 55. ANN serving from the committed catalog artifact (round-5):
    # an nprobe=1 probe prunes to ONE cell partition of the coded
    # table and the ADC scan reads codes only — never the vectors
    emb = spark.createDataFrame(
        [(i, [float((i * (j + 3) + j) % 13) + 1.0 for j in range(8)])
         for i in range(1, 65)],
        "vec_id long, embedding array<double>")
    catalog.build_ann_index(spark, os.path.join(tmp, "idx"), emb,
                            n_centroids=4, ivf_iters=3, pq_iters=3)
    idx55 = catalog.load_index(spark, os.path.join(tmp, "idx"))
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 3).collect()[0].embedding]
    p55 = plan_of(idx55.ann_topk(qv, k=5, nprobe=1))
    check(
        "ANN probe over the committed coded table", p55,
        [
            ("cell partition filter present",
             r"PartitionFilters: \[.*cell", True),
            ("codes-only scan (vectors never read)",
             r"ReadSchema:.*embedding", False),
            ("top-k is TakeOrderedAndProject",
             r"TakeOrderedAndProject", True),
        ],
    )

    # 56. DSIR importance weights (round-5): the log-ratio vector joins
    # the sparse hashed features as a BROADCAST table (O(dim) bytes,
    # never a dim-wide literal plan) and the per-doc weight is one
    # map-side-combined aggregate — no sort-merge join, no Python
    from search_engine_spark.operators import dsir as DSIR

    feats56 = DSIR.hashed_ngram_tf(docs, dim=256)
    lt56 = DSIR.fit_bucket_logprobs(
        DSIR.hashed_ngram_tf(docs.limit(50), dim=256), 256)
    lr56 = DSIR.fit_bucket_logprobs(feats56, 256)
    p56 = plan_of(DSIR.importance_weights(feats56, lt56, lr56))
    check(
        "DSIR importance weights", p56,
        [
            ("log-ratio table joins as broadcast",
             r"BroadcastHashJoin|BroadcastExchange", True),
            ("no sort-merge join", r"SortMergeJoin", False),
            ("map-side partial aggregate", r"HashAggregate", True),
            ("no Python in the weight pass",
             r"ArrowEvalPython|BatchEvalPython|MapInPandas", False),
        ],
    )

    # mkdtemp dirs end in 8 random characters: drop them with the temp root
    tmp_dir = re.compile(re.escape(tempfile.gettempdir())
                         + r"/(audit_[a-z]+)_[a-z0-9_]{8}")
    with open(out, "w") as f:
        f.write("# Physical-plan audit (`scripts/explain_audit.py`)\n\n"
                "Key plans with the properties asserted for 100 TB scale.\n")
        for title, plan, results in sections:
            f.write(f"\n## {title}\n\n")
            for desc, ok in results:
                f.write(f"- {'✅' if ok else '❌'} {desc}\n")
            plan = tmp_dir.sub(r"<tmp>/\1", plan.strip()[:6000])
            f.write("\n```\n" + plan + "\n```\n")
    for title, _, results in sections:
        for desc, ok in results:
            print(f"{'OK  ' if ok else 'FAIL'} {title}: {desc}")
    print(f"written {out}; failures={failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
