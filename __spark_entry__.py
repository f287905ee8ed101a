"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 top-k over sf0.001 documents.
``queries()`` / ``oracle_sql()`` — one pair per SQL-expressible operator
from SURVEY.md §2; DuckDB runs the SQL on the same parquet (views are
pre-registered by the driver).

Column-name & value parity rules used throughout:
* every computed column aliased identically on both sides;
* doubles rounded to 4-5 decimals on both sides before comparison;
* top-k ordered by (rounded score desc, doc_id asc) on both sides.

The oracle-gated text queries use the ``simple`` analyzer (tokenize+fold
only) so the chain stays ANSI-SQL-expressible; the full reference chain
(stopwords + Porter) is covered by pytest rank-identity tests against
tests/oracle.py, which SQL cannot express.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark import engine
from search_engine_spark.functions.analyzer import AnalyzerConfig
from search_engine_spark.operators import postings as P
from search_engine_spark.operators import search as S
from search_engine_spark.sources import corpus

SIMPLE = AnalyzerConfig.simple()

# Tokenization used by the oracle SQL (text is single-space-joined lowercase
# words in the driver tables — verified equal to the Python regex analyzer).
_TOK = "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents"

_BM25_QUERY_TERMS = ["spark", "query", "join"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.read_documents(spark, sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 documents and run a
    BM25 top-k free-text query end-to-end."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    idx = engine.build_index(docs, AnalyzerConfig.full())
    return S.search_freetext(idx, "spark query join fast", k=100, model="bm25")


# ---------------------------------------------------------------------------
# queries() — each callable: (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def q_term_doc_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    post = P.build_postings(_docs(spark, sf_dir), SIMPLE, positional=False)
    return post.select("term", "doc_id", "tf")


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    post = P.build_postings(_docs(spark, sf_dir), SIMPLE, positional=False)
    return P.term_stats(post).select(
        "term", F.col("df").cast("long").alias("df"), F.col("cf").cast("long").alias("cf")
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ds = P.doc_stats(_docs(spark, sf_dir), SIMPLE)
    return ds.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
        F.round(F.avg("dl"), 4).alias("avgdl"),
    )


def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.doc_stats(_docs(spark, sf_dir), SIMPLE).select(
        "doc_id", F.col("dl").cast("long").alias("dl")
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    terms = _BM25_QUERY_TERMS
    scored = S._scored_frame(idx, terms, "bm25")
    agg = scored.groupBy("doc_id").agg(F.round(F.sum("weight"), 4).alias("score"))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(100)


def q_bm25_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor pagination (search.page_after): page 2 of the bm25_topk
    ranking — the page-1 last row (rank 10) is echoed as the cursor and
    the next 10 rows come from ONE filtered TakeOrderedAndProject; the
    oracle derives the same page as rank rows 11-20, so the gate pins
    cursor-paging == offset-paging row-for-row."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    scored = S._scored_frame(idx, _BM25_QUERY_TERMS, "bm25")
    agg = scored.groupBy("doc_id").agg(
        F.round(F.sum("weight"), 4).alias("score"))
    page1 = agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    last = page1[-1]
    return (S.page_after(agg, last.score, last.doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


def q_boolean_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    post = P.build_postings(_docs(spark, sf_dir), SIMPLE, positional=False)
    a = post.filter(F.col("term") == "spark").select("doc_id")
    b = post.filter(F.col("term") == "vector").select("doc_id")
    return a.join(b, "doc_id", "left_semi")


def q_boolean_or_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(spark OR vector) AND NOT dup — set algebra as joins (Q10)."""
    post = P.build_postings(_docs(spark, sf_dir), SIMPLE, positional=False)
    a = post.filter(F.col("term") == "spark").select("doc_id")
    b = post.filter(F.col("term") == "vector").select("doc_id")
    c = post.filter(F.col("term") == "dup").select("doc_id")
    return a.union(b).distinct().join(c, "doc_id", "left_anti")




def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs containing the phrase "big data" (Q8 positional intersection)."""
    from search_engine_spark.operators import phrase as PH

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=True, cache=False)
    return PH.phrase_occurrences(idx, ["big", "data"]).select(
        "doc_id", F.col("phrase_tf").cast("long").alias("phrase_tf")
    )


def q_bigram_phrase_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEXT-WORD phrase index (catalog.build_phrase_index, Williams
    & Zobel 2004): "big data" served from ONE bigram posting lookup must
    reproduce the positional-intersection phrase_match oracle row for
    row — the artifact only changes the plan, never the counts."""
    import shutil
    import tempfile

    from search_engine_spark.sources import catalog

    docs = _docs(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="phraseidx_contract_")
    try:
        d = tmp + "/idx"
        catalog.build_durable_index(spark, docs, d, conf=SIMPLE,
                                    buckets=16, block_span=64)
        catalog.build_phrase_index(spark, d, min_df=1)
        idx = catalog.load_index(spark, d)
        rows = idx.bigram_lookup("big", "data").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(int(r.doc_id), int(r.tf)) for r in rows],
        "doc_id long, phrase_tf long")


def q_chained_phrase_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: a THREE-word phrase ("big data merge") served from the
    Williams & Zobel §4 bigram CHAIN — positions("big data") ∩
    (positions("data merge") − 1) over the committed next-word index —
    must reproduce the 3-way positional-intersection oracle row for
    row. The artifact only changes the plan (two rare bigram lookups
    instead of three common unigram decodes), never the counts."""
    import shutil
    import tempfile

    from search_engine_spark.operators import phrase as PH
    from search_engine_spark.sources import catalog

    docs = _docs(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="chainphrase_contract_")
    try:
        d = tmp + "/idx"
        catalog.build_durable_index(spark, docs, d, conf=SIMPLE,
                                    buckets=16, block_span=64)
        catalog.build_phrase_index(spark, d, min_df=1)
        idx = catalog.load_index(spark, d)
        # the chain must actually ENGAGE (silently timing the fallback
        # would make this gate vacuous)
        assert idx.bigram_lookup("big", "data", positional=True) \
            is not None
        rows = PH.phrase_occurrences(
            idx, ["big", "data", "merge"]).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(int(r.doc_id), int(r.phrase_tf)) for r in rows],
        "doc_id long, phrase_tf long")


def q_trigram_wildcard_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-wildcard expansion through the character-TRIGRAM
    vocabulary index (catalog.build_term_ngram_index — the pg_trgm /
    Lucene-ngram technique): '*ta' probes the grams' pruned partitions
    for a bounded candidate set, the exact LIKE verifies, and the
    capped expansion must equal the full-vocabulary-scan oracle row for
    row — the artifact only changes the plan."""
    import shutil
    import tempfile

    from search_engine_spark.sources import catalog

    docs = _docs(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="trgm_contract_")
    try:
        d = tmp + "/idx"
        catalog.build_durable_index(spark, docs, d, conf=SIMPLE,
                                    buckets=16, block_span=64,
                                    positional=False)
        catalog.build_term_ngram_index(spark, d)
        idx = catalog.load_index(spark, d)
        assert idx.trigram_candidates("*er") is not None
        rows = S.wildcard_candidates(idx, ["*er", "*an", "*ta"]).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame([(r.qt, r.term) for r in rows],
                                 "qt string, term string")


def q_sloppy_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs matching "big data"~2 in the ordered-window semantics
    (phrase.sloppy_occurrences): 'data' at most 2 extra positions after
    'big', phrase_tf = start positions with a valid greedy chain."""
    from search_engine_spark.operators import phrase as PH

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=True, cache=False)
    return PH.sloppy_occurrences(idx, ["big", "data"], slop=2).select(
        "doc_id", F.col("phrase_tf").cast("long").alias("phrase_tf")
    )


def q_proximity_w5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#5(spark, value): |pos1-pos2| <= 5 (Q9)."""
    from search_engine_spark.operators import phrase as PH

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=True, cache=False)
    return PH.proximity_docs(idx, "spark", "value", 5)


def q_vsm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """full VSM cosine over ALL matching docs (k unbounded → boundary-free
    hash compare), scores rounded to 4 (Q12)."""
    from search_engine_spark.operators.search import search_vsm

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    out = search_vsm(idx, "spark vector dup", k=1 << 30)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def q_lm_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet LM scores over all matching docs, rounded to 4 (Q13;
    quirk 5: cf==df)."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    out = S.search_freetext(idx, "spark query", k=1 << 30, model="lm-dirichlet")
    return out.select("doc_id", F.round("score", 4).alias("score"))


def q_lm_mixed_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed free-text + phrase under the LM model, end-to-end through
    executor.execute: the phrase frame carries the LM phrase weight
    ln((phrase_tf/µ)·(L_c/phrase_df)+1) with NO doc prior
    (language_model.py:53-63,259-270), the single-term frame the Dirichlet
    weight + doc prior, union-summed with one final top-k."""
    from search_engine_spark.operators import executor as EX

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=True, cache=False)
    out = EX.execute(idx, 'spark "big data"', k=1 << 30, model="lm-dirichlet")
    return out.select("doc_id", F.round("score", 4).alias("score"))


def q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation pipeline (operators/curation.py):
    language filter → quality/length filter → exact dedup (min-id
    survivors), the deterministic SQL-expressible subset — the composed
    oracle re-derives every stage from the same per-op oracle SQL."""
    from search_engine_spark.operators import curation

    cur, _ = curation.curate(
        _docs(spark, sf_dir), languages=("en",), min_quality=0.5,
        min_tokens=20, max_tokens=1000, minhash_threshold=None,
        collect_funnel=False,
    )
    return cur.select("doc_id")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.operators import dedup

    return dedup.exact_dedup(_docs(spark, sf_dir)).select(
        "text_hash", "doc_id", F.col("dup_count").cast("long").alias("dup_count")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact bigram Jaccard >= 0.5 for same-source pairs (the dedup ground
    truth; blocking key bounds the pair fan-out)."""
    from search_engine_spark.operators import dedup

    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), block_col="source", n=2, threshold=0.5
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.operators import textquality

    return textquality.token_count(_docs(spark, sf_dir)).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_subwords",
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brute-force cosine top-10 against the vec_id=0 embedding."""
    from search_engine_spark.operators import similarity
    from search_engine_spark.sources.corpus import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    out = similarity.cosine_topk(emb, q, k=10)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.operators import events as EV
    from search_engine_spark.sources.corpus import read_testdata

    ev = read_testdata(spark, sf_dir, "events")
    return EV.tumbling_counts(ev, 60)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.operators import events as EV
    from search_engine_spark.sources.corpus import read_testdata

    ev = read_testdata(spark, sf_dir, "events")
    return EV.sessionize(ev, 30).select(
        "user_id", F.col("session_id").cast("long").alias("session_id"),
        "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"), "total_value",
    )


def q_session_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session event-type co-occurrence with lift
    (operators/events.py) — min_sessions=2 prunes noise pairs; the
    oracle replays the session CTE + pair self-join + lift in SQL."""
    from search_engine_spark.operators import events as EV
    from search_engine_spark.sources.corpus import read_testdata

    ev = read_testdata(spark, sf_dir, "events")
    return EV.session_cooccurrence(ev, 30, min_sessions=2).select(
        "type_a", "type_b",
        F.col("n_sessions").cast("long").alias("n_sessions"), "lift")


def q_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.operators import events as EV
    from search_engine_spark.sources.corpus import read_testdata

    return EV.user_stats(read_testdata(spark, sf_dir, "events")).select(
        "user_id", F.col("n_events").cast("long").alias("n_events"),
        F.col("n_types").cast("long").alias("n_types"),
        "mean_value", "max_value", "p50_value", "p95_value",
    )


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.operators import events as EV
    from search_engine_spark.sources.corpus import read_testdata

    ev = read_testdata(spark, sf_dir, "events")
    return EV.sliding_topk(ev, 60, 3).select(
        "window_start", "event_type", F.col("n").cast("long").alias("n"),
        F.col("rnk").cast("long").alias("rnk"),
    )


def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_pairs_exact(emb, threshold=0.4)


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.operators import textquality

    return textquality.quality_score(_docs(spark, sf_dir)).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "distinct_ratio", "stopword_ratio", "mean_token_len", "quality",
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.operators import textquality

    return textquality.language_id(_docs(spark, sf_dir))


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule features + pass flag (textquality.gopher_quality,
    Rae et al. 2021 §A1.1 thresholds). The synthetic corpus fails the
    ≥2-function-words rule corpus-wide, so the gate's discrimination
    comes from the per-doc FEATURE columns (n_words 10–99, mean word
    length, ratios); the pass-flag semantics are pinned per-rule by
    hand-built docs in tests/test_analysis.py."""
    from search_engine_spark.operators import textquality

    return textquality.gopher_quality(_docs(spark, sf_dir))


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page cleanup (textquality.c4_line_filter, Raffel et al. 2020
    §2.2). The synthetic corpus has no sentence punctuation, so the
    driver gate runs the documented no-punctuation parameterization
    (require_terminal_punct=False, min_words_per_line=35,
    min_kept_lines=1): the word-count line rule splits the corpus
    358 survivors / 142 killed and the rebuilt text varies per doc;
    the punctuation/javascript/brace/lorem rules are pinned by
    hand-built docs in tests/test_analysis.py."""
    from search_engine_spark.operators import textquality

    return textquality.c4_line_filter(
        _docs(spark, sf_dir).select("doc_id", "text"),
        min_words_per_line=35, min_kept_lines=1,
        require_terminal_punct=False,
    ).select("doc_id", "text", "n_lines", "n_lines_kept", "killed_by")


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-IMPACT BM25 top-k (Anh & Moffat impact quantization —
    operators/scoring.py quantize block, search.quantized_scored_frame).
    The per-posting impact q = floor(maxq·(w/(k1+1)) + ½) is DEFINED in
    exact int64 arithmetic (milli-avgdl pinning, SQL ``div``), so the
    DuckDB oracle reproduces every stored impact bit-for-bit and the
    gate hashes the full quantized ranking — weight =
    idf·(k1+1)·q/maxq at 8 bits."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    scored = S.quantized_scored_frame(idx, _BM25_QUERY_TERMS, bits=8)
    agg = scored.groupBy("doc_id").agg(
        F.round(F.sum("weight"), 4).alias("score"))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(100)


def q_impact_maxscore_identity(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """End-to-end quantized-store serving: build the durable tf/dl
    index, re-code it with catalog.quantize_index (8-bit impact blocks,
    ~1 byte/posting, codec tag 0x00'I'), and serve with the MaxScore
    kernel's impact branch (score = qtf·idf·(k1+1)·q/maxq from the
    stored impact byte; per-block bound EXACT for the quantized
    scores). Gated against the
    SAME integer-quantizer SQL oracle as quantized_topk — converter +
    impact kernel == relational quantized scoring, hash-exact."""
    import shutil
    import tempfile

    from search_engine_spark.operators import maxscore as MS
    from search_engine_spark.sources import catalog

    docs = _docs(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="impact_contract_")
    try:
        d = tmp + "/idx"
        catalog.build_durable_index(spark, docs, d, conf=SIMPLE,
                                    buckets=16, block_span=64,
                                    positional=False)
        qdir = catalog.quantize_index(spark, d, tmp + "/impact", bits=8)
        qidx = catalog.load_index(spark, qdir)
        hits = MS.search_maxscore(qidx, " ".join(_BM25_QUERY_TERMS),
                                  k=1 << 30)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    raw = spark.createDataFrame(
        [(int(doc), float(s)) for doc, s in hits], "doc_id long, raw double")
    return (raw.select("doc_id", F.round("raw", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_maxscore_bm25_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end durable-index serving path: build the durable index on
    disk, run the MaxScore kernel (operators/maxscore.py) over the
    blocks it reads from the staged postings, and gate the result against
    the SAME BM25 SQL oracle as the relational path — the north rule's
    top-k rank-identity check, from the on-disk index. k is exhaustive
    (every block scored;
    pruning at small k is pinned by tests/test_maxscore.py), so final
    selection happens on ROUNDED scores in the DataFrame (Spark's
    HALF_UP round == DuckDB's; Python's round() is banker's)."""
    import shutil
    import tempfile

    from search_engine_spark.operators import maxscore as MS
    from search_engine_spark.sources import catalog

    docs = _docs(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ms_contract_")
    try:
        d = tmp + "/idx"
        catalog.build_durable_index(spark, docs, d, conf=SIMPLE,
                                    buckets=16, block_span=64,
                                    positional=False)
        idx = catalog.load_index(spark, d)
        hits = MS.search_maxscore(idx, " ".join(_BM25_QUERY_TERMS),
                                  k=1 << 30)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    raw = spark.createDataFrame(
        [(int(doc), float(s)) for doc, s in hits], "doc_id long, raw double")
    return (raw.select("doc_id", F.round("raw", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (collapsed representation). The md5-based
    hash construction is reproduced bit-for-bit by the DuckDB oracle, so
    this path is fully value-hash gated (no rows-only weakening)."""
    from search_engine_spark.operators import dedup

    h = dedup.simhash64(_docs(spark, sf_dir))
    return dedup.simhash_pairs(h, max_hamming=8)


def q_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH dedup survivors vs the EXACT shingle-Jaccard oracle.

    rows_per_band=2 (32 bands) makes candidate recall effectively
    exhaustive — P[missing a J>=0.7 pair] <= (1-0.7^2)^32 ≈ 4.4e-10 — and
    the verify stage is already exact, so the survivor set equals the
    exact-Jaccard survivor set DuckDB computes by brute force."""
    from search_engine_spark.operators import dedup

    return dedup.minhash_dedup(_docs(spark, sf_dir), threshold=0.7,
                               rows_per_band=2)


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment — content-derived
    md5 bucket, no shuffle, shard/growth-stable (operators/sampling.py)."""
    from search_engine_spark.operators import sampling

    return sampling.assign_splits(_docs(spark, sf_dir)) \
        .select("doc_id", "split")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: global token offsets in doc_id
    order + the budget-512 training sequences each doc spans. Exercises
    the distributed prefix sum (operators/packing.py) against DuckDB's
    single-threaded global window."""
    from search_engine_spark.operators import packing, textquality

    toks = textquality.token_count(_docs(spark, sf_dir)) \
        .select("doc_id", "n_tokens")
    return packing.pack_sequences(toks, budget=512, n_chunks=16)


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join: 5 nearest corpus embeddings for each of the
    first 5 query vectors (broadcast + window rank)."""
    from search_engine_spark.operators import similarity
    from search_engine_spark.sources.corpus import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    out = similarity.knn_pairs(emb.filter(F.col("vec_id") < 5), emb, k=5)
    return out.select("q_id", "c_id", "cosine",
                      F.col("rank").cast("long").alias("rank"))


def q_ivf_topk_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN end-to-end served from the COMMITTED catalog artifact
    (round-5: catalog.build_ann_index persists the centroids + cell
    assignments under the index dir; load_index restores them): with
    nprobe = n_centroids the probe set covers every cell, so exact
    cosine within the probed cells must equal the straight SQL cosine
    top-k — gating fit → persist → load → probe the way
    maxscore_bm25_identity gates the MaxScore kernel."""
    import shutil
    import tempfile

    from search_engine_spark.operators import similarity
    from search_engine_spark.sources import catalog
    from search_engine_spark.sources.corpus import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 1).collect()[0].embedding]
    tmp = tempfile.mkdtemp(prefix="annidx_contract_")
    try:
        d = tmp + "/idx"
        catalog.build_durable_index(spark, _docs(spark, sf_dir), d,
                                    conf=SIMPLE, buckets=16,
                                    block_span=64, positional=False)
        catalog.build_ann_index(spark, d, emb, n_centroids=8,
                                ivf_iters=5, pq_iters=5)
        idx = catalog.load_index(spark, d)
        cent, _ = idx.ann_artifacts()
        # exact cosine within the loaded artifact's cells (the coded
        # table supplies the committed cell assignment; vectors rejoin
        # from the source table — the IVF serving shape without PQ)
        assigned = idx.ann_coded().select("vec_id", "cell") \
            .join(emb, "vec_id")
        out = similarity.ivf_topk(assigned, cent, q, k=10, nprobe=8)
        rows = out.select(
            "vec_id", F.round("cosine", 4).alias("cosine")).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(int(r.vec_id), float(r.cosine)) for r in rows],
        "vec_id long, cosine double")


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (graph.hits, 5 iterations, L2 half-step
    normalization) over the same deterministic synthetic link graph as
    the pagerank entry — value-hashed against the mutual reinforcement
    unrolled as a DuckDB CTE chain (graph.hits_oracle_sql, shared edge
    formula)."""
    from search_engine_spark.operators import graph

    docs = _docs(spark, sf_dir)
    n = docs.count()
    out = graph.hits(graph.synth_edges(docs.select("doc_id"), n), n_iter=5)
    return out.select("node", F.round("hub", 6).alias("hub"),
                      F.round("authority", 6).alias("authority"))


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints (dedup.winnow_fingerprints, k=5
    w=4): per-doc distinct window-min gram hashes — value-hashed against
    DuckDB recomputing md5 k-gram hashes and lexicographic window
    minima. The overlap-pair join and its selection guarantee (shared
    runs >= w+k−1 always share a fingerprint) are pytest-gated."""
    from search_engine_spark.operators import dedup

    return dedup.winnow_fingerprints(_docs(spark, sf_dir))


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram corpus-LM quality (textquality.bigram_logprob,
    λ=0.8): the KenLM-filter stand-in one modeling step up from
    unigram_logprob, value-hashed against DuckDB recomputing the same
    p = λ·cb/hist + (1−λ)·cf/N per bigram position."""
    from search_engine_spark.operators import textquality

    return textquality.bigram_logprob(_docs(spark, sf_dir))


def q_rm3_alpha1_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance feedback (search.search_rm3) at alpha=1:
    the interpolation keeps only the original unnormalized query-tf
    weights and drops zero-weight expansion terms before pass 2, so the
    result must equal plain BM25 top-k EXACTLY — the same oracle as
    bm25_topk. Expansion behavior (alpha<1) is pytest-gated on a corpus
    with planted co-occurrence structure (tests/test_rm3.py)."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    agg = S.search_rm3(idx, _BM25_QUERY_TERMS, k=None, alpha=1.0)
    agg = agg.select("doc_id", F.round("score", 4).alias("score"))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(100)


def q_rm3_dates_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 composed with a date range (round-4: the refusal became
    candidate-restricted feedback). Dates are synthesized
    deterministically from doc_id (warc_date = 2022-01-01 + doc_id % 90
    days) so the oracle can reproduce the candidate set as a pure
    doc_id predicate; at alpha=1 the result must equal plain BM25
    restricted to the in-range docs, with GLOBAL df/avgdl (a date
    filter restricts scoring, never corpus statistics). The alpha<1
    feedback-restriction behavior is pytest-gated (tests/test_rm3.py)."""
    from search_engine_spark.operators import executor as EX

    docs = _docs(spark, sf_dir)
    dated = docs.withColumn(
        "warc_date",
        F.date_add(F.lit("2022-01-01").cast("date"),
                   (F.col("doc_id") % 90).cast("int")))
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    from datetime import date as _d

    cand = EX.date_candidates(dated, _d(2022, 1, 1), _d(2022, 2, 14))
    agg = S.search_rm3(idx, _BM25_QUERY_TERMS, k=None, alpha=1.0,
                       candidates=cand)
    agg = agg.select("doc_id", F.round("score", 4).alias("score"))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(100)


def q_maxscore_prior_identity(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """MaxScore + static-prior serving parity: the kernel's
    iterative-deepening blend must
    equal score + 0.3·ln(prior) computed by SQL, with odd docs carrying
    a deterministic pagerank-shaped probability 1/(doc_id+2) and even
    docs ABSENT from the prior frame (both paths apply the shared 1e-12
    floor). k is exhaustive so final selection happens on ROUNDED
    scores DataFrame-side, as in maxscore_bm25_identity."""
    import shutil
    import tempfile

    from search_engine_spark.operators import maxscore as MS
    from search_engine_spark.sources import catalog

    docs = _docs(spark, sf_dir)
    prior = (docs.filter(F.col("doc_id") % 2 == 1)
             .select(F.col("doc_id").alias("node"),
                     (F.lit(1.0) / (F.col("doc_id") + 2)).alias("rank")))
    tmp = tempfile.mkdtemp(prefix="prior_contract_")
    try:
        d = tmp + "/idx"
        catalog.build_durable_index(spark, docs, d, conf=SIMPLE,
                                    buckets=16, block_span=64,
                                    positional=False)
        idx = catalog.load_index(spark, d)
        hits = MS.search_maxscore(idx, " ".join(_BM25_QUERY_TERMS),
                                  k=1 << 30, prior=prior, prior_lam=0.3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    raw = spark.createDataFrame(
        [(int(doc), float(s)) for doc, s in hits], "doc_id long, raw double")
    return (raw.select("doc_id", F.round("raw", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_vacuum_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone → auto-vacuum → refreshed stats, end to end (round-4
    policy): deleting every doc_id % 7 == 0 (~14% > the 0.10 threshold)
    triggers the vacuum at delete commit; BM25 over the VACUUMED index
    must equal SQL BM25 recomputed over only the live docs — df, n_docs
    and avgdl all refreshed, the exact property stale-stats serving
    lacks until vacuum. Result is materialized driver-side so the
    temporary index directories can be removed eagerly."""
    import shutil
    import tempfile

    from search_engine_spark.sources import catalog

    docs = _docs(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="vacuum_contract_")
    try:
        d = tmp + "/idx"
        vac = tmp + "/vacuumed"
        catalog.build_durable_index(spark, docs, d, conf=SIMPLE,
                                    buckets=16, block_span=64,
                                    positional=False)
        victims = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        out = catalog.delete_docs(spark, d, victims,
                                  auto_vacuum_threshold=0.10,
                                  vacuum_out=vac)
        assert out.get("vacuumed_to") == vac, out
        idx = catalog.load_index(spark, vac)
        agg = S.search_freetext_tokens(idx, _BM25_QUERY_TERMS, k=None)
        rows = (agg.select("doc_id", F.round("score", 4).alias("score"))
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(100)
                .collect())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame([(int(r.doc_id), float(r.score))
                                  for r in rows],
                                 "doc_id long, score double")


def q_semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (similarity.semantic_dedup): cluster
    the embedding space, drop any vector whose cell holds a lower-id
    neighbor at cosine >= threshold. With n_centroids=1 the cell covers
    the table, so the survivor set must equal the exact pairwise SQL rule
    — the clustered path's recall is pytest-gated separately."""
    from search_engine_spark.operators import similarity
    from search_engine_spark.sources.corpus import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, threshold=0.4, n_centroids=1)


def q_bpe_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed stage of BPE tokenizer training (operators/bpe.py
    word_counts → deterministic top cap): corpus-wide pre-token
    frequencies, heaviest 100. The driver-side merge loop on top of this
    table is gated in pytest against an independent reference trainer
    (not SQL-expressible — iterative)."""
    from search_engine_spark.operators import bpe

    return (bpe.word_counts(_docs(spark, sf_dir))
            .orderBy(F.desc("cnt"), F.asc("word")).limit(100))


def q_pq_refine_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end-to-end (per-subspace k-means fit →
    code assign → JVM-side ADC lookup-table scan → exact refine): with
    refine >= table size the exact re-rank covers every ADC candidate, so
    the result must equal the straight SQL cosine top-k — gating the
    fit/assign/ADC/refine plumbing the way ivf_topk_identity gates IVF.
    The ADC approximation itself is pytest-gated (exact-representability
    identity + recall bound, tests/test_pipeline_ops.py)."""
    import shutil
    import tempfile

    from search_engine_spark.sources import catalog
    from search_engine_spark.sources.corpus import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 2).collect()[0].embedding]
    n = emb.count()
    tmp = tempfile.mkdtemp(prefix="pqidx_contract_")
    try:
        d = tmp + "/idx"
        catalog.build_durable_index(spark, _docs(spark, sf_dir), d,
                                    conf=SIMPLE, buckets=16,
                                    block_span=64, positional=False)
        # round-5: the codebooks/centroids are COMMITTED catalog
        # artifacts (build_ann_index) and the gate serves from the
        # LOADED artifact — nprobe covers every cell and refine covers
        # the whole table, so the result must equal exact cosine top-k
        catalog.build_ann_index(spark, d, emb, n_centroids=8,
                                ivf_iters=5, pq_iters=5)
        idx = catalog.load_index(spark, d)
        rows = idx.ann_topk(q, k=10, nprobe=8, refine=n,
                            embeddings=emb) \
            .select("vec_id", F.round("cosine", 4).alias("cosine")) \
            .collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(int(r.vec_id), float(r.cosine)) for r in rows],
        "vec_id long, cosine double")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails/IPv4/phones) — the scrubbed text column is
    value-hashed against DuckDB applying the same RE2-safe patterns, so
    any regex-semantics divergence between engines breaks the gate."""
    from search_engine_spark.operators import textquality

    return textquality.pii_scrub(_docs(spark, sf_dir)) \
        .select("doc_id", "text", "n_email", "n_ip", "n_phone")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-line ratio, top-bigram
    fraction) over the documents table."""
    from search_engine_spark.operators import textquality

    return textquality.repetition_stats(_docs(spark, sf_dir))


def q_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture downsample: src0/src1/src2 at
    50/30/20 — row-level survivor set vs the oracle recomputing the
    same N = min(count/weight) cuts."""
    from search_engine_spark.operators import sampling

    out = sampling.rebalance_mixture(
        _docs(spark, sf_dir), {"src0": 0.5, "src1": 0.3, "src2": 0.2})
    return out.select("doc_id", "source")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing a word 3-gram with the
    synthetic eval set (doc_id % 97 == 0) are dropped; survivors are
    value-checked row-for-row (operators/decontam.py)."""
    from search_engine_spark.operators import decontam

    docs = _docs(spark, sf_dir)
    evals = docs.filter(F.col("doc_id") % 97 == 0)
    return decontam.decontaminate(docs, evals, n=3).select("doc_id")


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle as (shard, pos):
    contiguous hash ranges + per-shard row numbers must equal DuckDB's
    single-threaded window over the same md5 order key."""
    from search_engine_spark.operators import sampling

    return sampling.shuffle_shards(_docs(spark, sf_dir), 8) \
        .select("doc_id", "shard", "pos")


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level crawl dedup: deterministic URL spellings synthesized
    from (doc_id, source) — three variants exercising every
    canonicalization rule (case, www., default ports, fragments,
    tracking params, param order, trailing slash) — collapse to one
    min-doc_id survivor per canonical URL (operators/urls.py)."""
    from search_engine_spark.operators import urls

    m = (F.col("doc_id") % 40).cast("string")
    src = F.col("source")
    v = F.col("doc_id") % 3
    url = (
        F.when(v == 0, F.concat(
            F.lit("HTTPS://WWW."), src, F.lit(".Example.COM:443/p/"), m,
            F.lit("/?utm_source=x&b=2&a=1#f")))
        .when(v == 1, F.concat(
            F.lit("http://"), src, F.lit(".example.com:80/p/"), m,
            F.lit("?b=2&a=1")))
        .otherwise(F.concat(
            F.lit("https://"), src, F.lit(".EXAMPLE.com/p/"), m))
    )
    frame = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return urls.url_dedup(frame)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-unigram-LM quality signal
    (operators/textquality.py unigram_logprob)."""
    from search_engine_spark.operators import textquality

    return textquality.unigram_logprob(_docs(spark, sf_dir)).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "bits_per_token",
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the deterministic synthetic link
    graph (operators/graph.py), checked rank-for-rank at 6 decimals
    against the unrolled DuckDB power-iteration CTE chain."""
    from search_engine_spark.operators import graph

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    ranks = graph.pagerank(graph.synth_edges(docs, n), n_iter=5)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _synth_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url) with deterministic host/path variety for the
    host-level contract entries: host cycles through four shapes
    (plain, subdomain, www-prefixed .org, deep co.uk subdomain) and the
    path repeats every 40 ids so hosts accumulate duplicate canonical
    URLs. Mirrored verbatim by _SYNTH_URL_SQL."""
    m = (F.col("doc_id") % 40).cast("string")
    src = F.col("source")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://"), src, F.lit(".keep.com/p/"), m,
            F.lit("?utm_source=x&b=2&a=1")))
        .when(v == 1, F.concat(
            F.lit("HTTPS://Sub."), src, F.lit(".spam.co.uk:443/p/"), m,
            F.lit("/")))
        .when(v == 2, F.concat(
            F.lit("http://www."), src, F.lit(".block.org:80/p/"), m,
            F.lit("#frag")))
        .otherwise(F.concat(
            F.lit("https://deep."), src, F.lit(".keep.com/p/"), m))
    )
    return _docs(spark, sf_dir).select("doc_id", url.alias("url"))


_SYNTH_URL_SQL = """
    SELECT doc_id, CASE doc_id % 4
        WHEN 0 THEN 'https://' || source || '.keep.com/p/'
                    || (doc_id % 40) || '?utm_source=x&b=2&a=1'
        WHEN 1 THEN 'HTTPS://Sub.' || source || '.spam.co.uk:443/p/'
                    || (doc_id % 40) || '/'
        WHEN 2 THEN 'http://www.' || source || '.block.org:80/p/'
                    || (doc_id % 40) || '#frag'
        ELSE 'https://deep.' || source || '.keep.com/p/' || (doc_id % 40)
        END AS url FROM documents
"""


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-redundancy stats over the synthetic URL table
    (operators/hosts.py host_stats): docs per host, distinct canonical
    URLs, and the fraction URL canonicalization alone collapses."""
    from search_engine_spark.operators import hosts

    return hosts.host_stats(_synth_urls(spark, sf_dir))


def q_domain_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain blocklist filter (operators/hosts.py
    domain_filter): blocking spam.co.uk / block.org must also drop
    their subdomains (sub.*.spam.co.uk, www.*.block.org) while keeping
    both keep.com host shapes."""
    from search_engine_spark.operators import hosts

    return hosts.domain_filter(
        _synth_urls(spark, sf_dir), ["spam.co.uk", "block.org"]
    ).select("doc_id")


def q_bm25_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 blended with the PageRank static prior (the classic
    web-ranking mixture): score = bm25 + 0.3·ln(rank) over the
    deterministic synthetic link graph, single final top-100
    (search.blend_doc_prior; oracle = the bm25 CTEs spliced with the
    unrolled power-iteration chain)."""
    from search_engine_spark.operators import graph

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    n = idx.stats["n_docs"]
    ranks = graph.pagerank(
        graph.synth_edges(docs.select("doc_id"), n), n_iter=5)
    scored = S._scored_frame(idx, _BM25_QUERY_TERMS, "bm25")
    agg = scored.groupBy("doc_id").agg(F.sum("weight").alias("score"))
    blended = S.blend_doc_prior(agg, ranks, lam=0.3)
    out = (blended.select("doc_id", F.round("score", 4).alias("score"))
           .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))
    # materialize before releasing the pagerank caches the plan reads
    rows = out.collect()
    graph.release_caches()
    return spark.createDataFrame(rows, "doc_id long, score double")


def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact top-50 word bigrams — the boilerplate-discovery
    heavy-hitter list (operators/corpusstats.py), ties broken by gram
    text so the ranking is fully deterministic."""
    from search_engine_spark.operators import corpusstats

    return corpusstats.top_ngrams(_docs(spark, sf_dir), n=2, k=50)


def q_bpe_pretokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE pre-tokenizer counts (textquality.bpe_pretoken_count): the
    GPT-style regex pre-token count per doc, shared pattern constant
    generating both engines' expressions."""
    from search_engine_spark.operators import textquality

    return textquality.bpe_pretoken_count(_docs(spark, sf_dir))


def q_snippets_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERP snippets for the BM25 top-20: ±60-char window around the
    first query-term hit, ellipsized (search.snippets); window math
    mirrored in SQL via strpos/substr."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    scored = S._scored_frame(idx, _BM25_QUERY_TERMS, "bm25")
    agg = scored.groupBy("doc_id").agg(
        F.round(F.sum("weight"), 4).alias("score"))
    hits = agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
    return S.snippets(hits, docs, _BM25_QUERY_TERMS, width=60)


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level duplicate-line removal: lines occurring
    in >=2 distinct docs are deleted everywhere, texts rebuilt in
    original order, value-hashed cross-engine
    (textquality.dedup_lines)."""
    from search_engine_spark.operators import textquality

    return textquality.dedup_lines(_docs(spark, sf_dir), min_docs=2) \
        .select("doc_id", "text", "n_lines_dropped")


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al ExactSubstr dedup at word windows: every 8-token
    window whose exact string occurs 2+ times corpus-wide is stripped
    from EVERY occurrence, texts rebuilt in order, value-hashed
    cross-engine (dedup.strip_dup_spans)."""
    from search_engine_spark.operators.dedup import strip_dup_spans

    return strip_dup_spans(_docs(spark, sf_dir), w=8, min_count=2) \
        .select("doc_id", "text", "n_tokens_dropped")


#: pinned serving weights for the quality-classifier driver gate —
#: scoring with FIXED weights is exactly reproducible cross-engine;
#: training itself is pytest-gated (float-sum order, see classifier.py)
QUALITY_CLF_W = [-6.0, 0.8, 2.0, 1.5, 0.5]


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (classifier.classifier_scores): σ(w·x)
    over the quality_score feature vector with pinned weights — the
    FineWeb-style classifier's serving pass, value-hashed cross-engine;
    train_quality_classifier is gated by tests/test_classifier.py."""
    from search_engine_spark.operators import classifier, textquality

    q = textquality.quality_score(_docs(spark, sf_dir))
    feats = classifier.doc_features(q)
    return classifier.classifier_scores(feats, QUALITY_CLF_W)


#: centroid seed rows for the kmeans_assign driver gate — derived from
#: fixed vec_ids (like cosine_topk's vec_id=0 query) so the entry works
#: unchanged at every scale factor
KMEANS_SEED_IDS = [0, 17, 42, 99]


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spherical k-means ASSIGNMENT (clustering.kmeans_assign)
    with centroids pinned to the vec_id∈{0,17,42,99} embeddings: argmax
    round-6 cosine, ties → lowest cluster — exactly reproducible
    cross-engine; kmeans_train (float-sum centroid updates) is gated by
    tests/test_clustering.py, the classifier-training precedent.

    The gate compares (vec_id, cluster) — the assignment IS the
    contract. The raw cosine is deliberately excluded: its 6dp→4dp
    double-rounding can differ by one ulp-at-the-boundary between
    engines (observed once in 2000 values) without ever moving an
    argmax, and the per-centroid cosine VALUES are already gated by
    cosine_topk/ivf/pq entries."""
    from search_engine_spark.operators import clustering
    from search_engine_spark.sources.corpus import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    seeds = {r.vec_id: [float(x) for x in r.embedding]
             for r in emb.filter(F.col("vec_id").isin(KMEANS_SEED_IDS)).collect()}
    centroids = [seeds[i] for i in KMEANS_SEED_IDS]
    out = clustering.kmeans_assign(emb, centroids)
    return out.select("vec_id", F.col("cluster").cast("long").alias("cluster"))


def q_hashed_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed term counts (vectorize.hashed_tf, dim=128): the
    HashingTF sparse form — md5-bucketed tokens, integer tf, exactly
    SQL-reproducible (the sampling.hash_bucket trick)."""
    from search_engine_spark.operators import vectorize

    return vectorize.hashed_tf(_docs(spark, sf_dir), dim=128)


def q_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed event counts (events.decayed_counts,
    half-life 1 day, anchored at max(ts)) — the freshness signal."""
    from search_engine_spark.operators import events as EV
    from search_engine_spark.sources.corpus import read_testdata

    ev = read_testdata(spark, sf_dir, "events")
    return EV.decayed_counts(ev, half_life_minutes=1440.0).select(
        "user_id", "event_type",
        F.col("n_events").cast("long").alias("n_events"), "decayed_n",
    )


def q_curated_corpus_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel WITH the learned quality-classifier stage
    (curation.curate(classifier_weights=…)): the deterministic pipeline
    of curated_corpus plus the σ(w·x) ≥ 0.19 filter at pinned weights
    (the threshold sits inside the corpus's observed prob range, so the
    stage genuinely splits the survivors) —
    the whole composed funnel stays SQL-expressible."""
    from search_engine_spark.operators import curation

    cur, _ = curation.curate(
        _docs(spark, sf_dir), languages=("en",), min_quality=0.5,
        min_tokens=20, max_tokens=1000,
        classifier_weights=QUALITY_CLF_W, min_clf_prob=0.19,
        minhash_threshold=None, collect_funnel=False,
    )
    return cur.select("doc_id")


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl drift (crawldiff.crawl_diff): the 'second crawl' is derived
    deterministically from the same documents table — doc_id % 7 == 0
    dropped (removed), % 11 == 0 text-rewritten (changed), and a +100000
    shadow of % 13 == 0 appended (added); both engines derive it
    identically, so the per-key status frame value-hashes."""
    from search_engine_spark.operators import crawldiff

    old = _docs(spark, sf_dir).select("doc_id", "text")
    kept = old.filter(F.col("doc_id") % 7 != 0)
    new = kept.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0,
               F.concat(F.col("text"), F.lit(" updated"))).otherwise(
            F.col("text")).alias("text"))
    added = old.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    return crawldiff.crawl_diff(old, new.unionByName(added))


def q_curated_kills(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc curation lineage (curation.curate_with_lineage): every
    doc labeled with the FIRST stage that dropped it — language →
    quality → quality_clf → exact_dedup — or 'survived'; the oracle
    re-derives the same labels as one CASE chain, with the exact-dedup
    keeper computed among the docs alive at that stage."""
    from search_engine_spark.operators import curation

    _, _, lineage = curation.curate_with_lineage(
        _docs(spark, sf_dir), languages=("en",), min_quality=0.5,
        min_tokens=20, max_tokens=1000,
        classifier_weights=QUALITY_CLF_W, min_clf_prob=0.19,
        minhash_threshold=None, collect_funnel=False,
    )
    return lineage


def q_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy retrieval (search.search_fuzzy): each misspelled query
    token expands to vocabulary terms within Levenshtein 1 sharing its
    first character, capped at 5 per token by (boost DESC, df DESC,
    term ASC) — the tight cap makes the window cut itself part of the
    cross-engine contract — then BM25 with the per-variant similarity
    boost 1 − d/min(|q|,|v|)."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    agg = S.search_fuzzy(idx, ["sparkk", "qery", "joinn"], k=None,
                         max_dist=1, prefix_len=1, max_expansions=5)
    agg = agg.select("doc_id", F.round("score", 4).alias("score"))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(100)


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (corpusstats.collocations): top-30 adjacent
    pairs with count >= 3 by ln((n_ab/B)/((n_a/N)(n_b/N))), rank key
    rounded to 6 dp (the engine's convention), value-compared at 4."""
    from search_engine_spark.operators import corpusstats

    out = corpusstats.collocations(_docs(spark, sf_dir), k=30, min_count=3)
    return out.select("w1", "w2", "n_ab", F.round("pmi", 4).alias("pmi"))


def q_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix retrieval (search.search_prefix): 'so*'/'vec*' expand to
    their top-3 vocabulary terms by (df DESC, term ASC) — the tight cap
    makes the rewrite cut part of the cross-engine contract — and score
    with the literal term 'hash' as one boolean-OR BM25 query (a term
    hit by two clauses sums both contributions)."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    agg = S.search_prefix(idx, ["hash"], ["so", "vec"], k=None,
                          max_expansions=3)
    agg = agg.select("doc_id", F.round("score", 4).alias("score"))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(100)


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-document retrieval (search.more_like_this): doc 3's ten
    highest-tf·idf terms (rounded to 6 dp before the cut, ties by term)
    run as an unweighted BM25 OR query, the source doc excluded."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    agg = S.more_like_this(idx, 3, k=None, max_query_terms=10)
    agg = agg.select("doc_id", F.round("score", 4).alias("score"))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(100)


def q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters: connected components (hash-min label
    propagation, graph.connected_components) over a deterministic
    hub-and-spoke pair graph — every member maps to its component's
    min-id representative; the oracle recomputes components with a
    recursive reachability CTE."""
    from search_engine_spark.operators import graph

    docs = _docs(spark, sf_dir).select("doc_id")
    a = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") % 40).alias("doc_b"))
    b = docs.filter(F.col("doc_id") % 3 == 1).select(
        F.col("doc_id").alias("doc_a"),
        ((F.col("doc_id") * F.col("doc_id")) % 35).alias("doc_b"))
    clusters = graph.dup_clusters(a.unionByName(b))
    rows = clusters.collect()  # materialize before releasing graph caches
    graph.release_caches()
    return spark.createDataFrame(rows, "doc_id long, rep long")


def q_anchor_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fielded web ranking: body BM25 + 0.5 × anchor-field BM25
    (search.search_fielded over graph.anchor_index), each field scored
    against its own df/dl/avgdl. Anchors are synthesized per edge of the
    deterministic link graph ('link w{(src+dst)%13}'), so the anchor
    index has both a stopword-like term and a spread of rarer ones."""
    from search_engine_spark.operators import graph

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    n = idx.stats["n_docs"]
    edges = graph.synth_edges(docs.select("doc_id"), n).withColumn(
        "anchor",
        F.concat(F.lit("link w"),
                 ((F.col("src") + F.col("dst")) % 13).cast("string")))
    aidx = graph.anchor_index(edges)
    merged = S.search_fielded(idx, aidx, ["spark", "w3", "link"],
                              k=None, w_anchor=0.5)
    return (merged.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix autocomplete from the index vocabulary (serp.autocomplete):
    top-20 's'-prefixed terms by collection frequency, cf desc / term
    asc — the completion surface next to the reference's vocabulary
    spellchecker."""
    from search_engine_spark.operators import serp

    idx = engine.build_index(_docs(spark, sf_dir), SIMPLE,
                             positional=False, cache=False)
    return serp.autocomplete(idx.term_stats, "s", k=20)


def q_host_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-collapsed SERP (serp.diversify_by_host): BM25 top-50 with at
    most 2 results per host over the synthetic URL table — one window
    keyed on host, then a single global top-k."""
    from search_engine_spark.operators import hosts, serp

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    scored = S._scored_frame(idx, _BM25_QUERY_TERMS, "bm25")
    agg = scored.groupBy("doc_id").agg(
        F.round(F.sum("weight"), 4).alias("score"))
    doc_hosts = _synth_urls(spark, sf_dir).select(
        "doc_id", hosts.host_of(F.col("url")).alias("host"))
    return serp.diversify_by_host(agg, doc_hosts, per_host=2, k=50)


def q_facet_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet histogram (serp.facet_counts): language counts over the
    'spark' match set — the SERP sidebar aggregation, one join + one
    group-agg."""
    from search_engine_spark.operators import serp

    docs = _docs(spark, sf_dir)
    post = P.build_postings(docs, SIMPLE, positional=False)
    hits = post.filter(F.col("term") == "spark").select("doc_id")
    return serp.facet_counts(hits, docs, "lang")


def q_stats_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric extended_stats facet (serp.stats_facet): n_chars stats
    over the 'spark' match set — sum-of-squares population variance so
    the oracle's var_pop agrees at 6dp."""
    from search_engine_spark.operators import serp

    docs = _docs(spark, sf_dir)
    post = P.build_postings(docs, SIMPLE, positional=False)
    hits = post.filter(F.col("term") == "spark").select("doc_id")
    return serp.stats_facet(hits, docs, "n_chars")


def q_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc term vectors (serp.term_vectors): (term, tf, df) for
    three fixed docs — the ES _termvectors point lookup."""
    from search_engine_spark.operators import serp

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    return serp.term_vectors(idx, [3, 17, 42])


def q_mmr_lambda1_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification at λ=1 (similarity.mmr_rerank) degenerates
    to pure relevance: rank-identical to cosine_topk against the same
    vec_id=0 query — the identity that pins the greedy loop's scoring,
    rounding, and tie-break. Diversity behavior (λ<1) is pinned by
    hand-built cases in tests/test_pipeline_ops.py."""
    from search_engine_spark.operators import similarity
    from search_engine_spark.sources.corpus import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    out = similarity.mmr_rerank(emb, q, k=10, lam=1.0, fetch_k=10)
    return out.select("vec_id", F.round("mmr_score", 4).alias("cosine"),
                      "rank")


def q_pruned_bm25_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static index pruning (operators/pruning.py) at per_term_keep ≥
    max df degenerates to the full index: the same BM25 oracle as
    bm25_topk pins that the pruning window + handle plumbing change
    nothing when nothing is pruned. The subset-with-identical-scores
    property at small keep is pinned in tests/test_pruning.py."""
    from search_engine_spark.operators import pruning

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    small = pruning.pruned_index(idx, per_term_keep=1 << 30)
    scored = S.search_freetext_tokens(small, _BM25_QUERY_TERMS, k=None)
    return (scored.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap XML parser (operators/robots.py parse_sitemaps) over a
    fixture covering urlset entries with/without lastmod, whitespace
    inside <loc>, extra elements (changefreq), a sitemapindex child
    with a full W3C timestamp (date-precision subset taken), and NULL
    content. Golden oracle (protocol-derived expected rows)."""
    from search_engine_spark.operators import robots as RB

    xml = ("<?xml version=\"1.0\"?>\n<urlset>\n"
           "  <url><loc>https://a.com/p1</loc>"
           "<lastmod>2022-02-01</lastmod></url>\n"
           "  <url>\n    <loc> https://a.com/p2 </loc>\n"
           "    <changefreq>daily</changefreq>\n  </url>\n</urlset>")
    idx = ("<sitemapindex><sitemap><loc>https://a.com/s1.xml</loc>"
           "<lastmod>2022-03-05T10:00:00Z</lastmod></sitemap>"
           "</sitemapindex>")
    sm = spark.createDataFrame(
        [("a.com", xml), ("a.com", idx), ("b.com", None)],
        "host string, content string")
    # lastmod rides as a ''-coalesced string: the driver compare sorts
    # raw tuples and a NULL date is not orderable against a date there
    return RB.parse_sitemaps(sm).select(
        "host", "kind", "loc",
        F.coalesce(F.col("lastmod").cast("string"), F.lit(""))
        .alias("lastmod"))


def q_sitemap_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-driven recrawl scheduling end-to-end: the synthetic URL
    table (doc_id < 40 — the unique-URL prefix) is rendered INTO
    per-host sitemap XML, parsed back, and diffed against a crawl state
    where even doc_ids were fetched on 2022-01-20 — odd URLs come back
    'new', even URLs with lastmod (2022-01-01 + doc_id) after the
    crawl date come back 'modified'. The oracle computes the same
    verdicts RELATIONALLY from the synth rule, never touching XML — so
    the gate verifies render + parse + diff against an independent
    encoding."""
    from search_engine_spark.operators import robots as RB
    from search_engine_spark.operators.hosts import host_of

    urls = _synth_urls(spark, sf_dir).filter(F.col("doc_id") < 40)
    dated = urls.withColumn(
        "lastmod", F.date_add(F.lit("2022-01-01").cast("date"),
                              F.col("doc_id").cast("int")))
    block = F.concat(F.lit("<url><loc>"), F.col("url"),
                     F.lit("</loc><lastmod>"),
                     F.col("lastmod").cast("string"),
                     F.lit("</lastmod></url>"))
    site = (dated.withColumn("host", host_of(F.col("url")))
            .groupBy("host")
            .agg(F.concat(F.lit("<urlset>"),
                          F.concat_ws("\n", F.collect_list(block)),
                          F.lit("</urlset>")).alias("content")))
    parsed = RB.parse_sitemaps(site)
    crawled = (urls.filter(F.col("doc_id") % 2 == 0)
               .select("url", F.lit("2022-01-20 00:00:00")
                       .cast("timestamp").alias("warc_ts")))
    return RB.sitemap_refresh_candidates(parsed, crawled)


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc tf-idf keyword annotation (corpusstats.doc_keywords):
    top-3 terms per doc by tf·ln(N/df), per-doc-local window rank (no
    global sort)."""
    from search_engine_spark.operators import corpusstats

    idx = engine.build_index(_docs(spark, sf_dir), SIMPLE,
                             positional=False, cache=False)
    return corpusstats.doc_keywords(
        idx.postings.select("term", "doc_id", "tf"), idx.term_stats,
        idx.stats["n_docs"], m=3)


def q_top_bigrams_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory/bounded-shuffle heavy hitters
    (corpusstats.top_ngrams_approx) in its provably-exact regime
    (capacity ≥ any partition's distinct grams → err = 0): hash-gated
    against the SAME oracle as the exact operator, while the tight-
    capacity eviction regime is property-gated in pytest."""
    from search_engine_spark.operators import corpusstats

    out = corpusstats.top_ngrams_approx(
        _docs(spark, sf_dir), n=2, k=50, capacity=400_000)
    rows = out.select("gram", "cnt").collect()  # materialize, then drop
    corpusstats.release_caches()                # the summary cache
    return spark.createDataFrame(rows, "gram string, cnt long")


#: the 3-query batch fixture (query 3 repeats 'query' → query tf 2) —
#: shared by the batch-retrieval and IR-eval entries + their oracles
_BATCH_QUERY_ROWS = [
    (1, "spark"), (1, "query"), (1, "join"),
    (2, "hash"), (2, "scan"), (2, "filter"),
    (3, "query"), (3, "query"), (3, "spark"),
]


def _batch_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from search_engine_spark.operators import batchsearch as BS

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    qf = spark.createDataFrame(_BATCH_QUERY_ROWS, "query_id long, term string")
    return BS.batch_topk(idx, qf, k=10, score_round=4)


def q_batch_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-query retrieval (batchsearch.batch_topk): three
    queries scored in ONE job — one postings pass, per-query window
    top-10 ranked on the 4dp display-rounded score (the argmax-gate
    rule: the DECISION column ``rank`` is part of the contract)."""
    return _batch_run(spark, sf_dir)


def q_ltr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTR feature extraction (operators/ltr.py): the 3-query batch
    fixture's per-(query, candidate) feature block — BM25 +
    LM-Dirichlet + match count + tf mass + doc length in ONE postings
    pass, candidates cut to the per-query BM25 top-5 on the 4dp
    display-rounded score (the argmax-gate rule; rank is part of the
    contract)."""
    from search_engine_spark.operators import ltr

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    qf = spark.createDataFrame(_BATCH_QUERY_ROWS,
                               "query_id long, term string")
    return ltr.extract_features(idx, qf, k=5, score_round=4)


def q_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py — Xie et al. 2023,
    hashed-n-gram instantiation): target = the src0 slice of the
    documents table, raw pool = the whole table, dim=512 hashed
    unigram+bigram features, Gumbel-top-50 with the deterministic
    content-hash draw. The oracle replays EVERY step — bucket hashing,
    the smoothed target/raw fits, the broadcast log-ratio weights, the
    Gumbel keys, and the rounded-key cut — in DuckDB."""
    from search_engine_spark.operators import dsir

    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("source") == "src0")
    return dsir.dsir_select(docs, target, k=50, dim=512)


#: pinned LTR gate weights (LTR_FEATURE_NAMES order): the driver gate
#: scores with a FIXED model — training is float-sum-order nondetermin-
#: istic (~1e-12) and stays pytest-gated, the classifier's protocol
_LTR_GATE_W = [0.2, 0.1, 0.05, 0.3, 0.15, -0.1]


def q_ltr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5: the LTR rerank stage (ltr.rerank) over the 3-query
    feature block — score = bm25 + w·x with the pinned linear model,
    re-ranked per query. The oracle replays the whole linear model in
    SQL over the same candidate cut; the all-zero-weights == plain-BM25
    identity is pytest-gated (tests/test_ltr.py)."""
    from search_engine_spark.operators import ltr

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    qf = spark.createDataFrame(_BATCH_QUERY_ROWS,
                               "query_id long, term string")
    feats = ltr.extract_features(idx, qf, k=10, score_round=4)
    return ltr.rerank(feats, _LTR_GATE_W, k=10, score_round=4)


def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolator (operators/percolate.py): three stored queries
    matched conjunctively against every document — distinct-term
    coverage counting over one broadcast join. The oracle replays
    registration (dedup + n_required) and the coverage rule in SQL."""
    from search_engine_spark.operators import percolate as PC

    docs = _docs(spark, sf_dir)
    stored = PC.register_queries(
        spark, [(1, "join hash"), (2, "scan"), (3, "join scan sort")],
        conf=SIMPLE)
    return PC.percolate(docs, stored, conf=SIMPLE)


_ROBOTS_FIXTURE = [
    ("a.com", "# crawler policy\n"
              "User-agent: GoodBot\n"
              "User-agent: *\n"
              "Disallow: /private\n"
              "Allow: /private/ok\n"
              "\n"
              "User-agent: evilbot\n"
              "Disallow: /\n"),
    ("b.com", "User-Agent: Foo\n"
              "Crawl-delay: 10\n"
              "DISALLOW: /x\n"
              "Sitemap: https://b.com/s.xml\n"),
    ("c.com", "User-agent: *\n"
              "Disallow:\n"),
]


def q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parser (operators/robots.py parse_robots) over a
    fixture covering comments, multi-UA groups, group breaks,
    case-insensitive directives, ignored non-rule directives
    (Crawl-delay/Sitemap), and the bare-Disallow allow-everything
    idiom. Golden oracle: the RFC-derived expected rules as VALUES."""
    from search_engine_spark.operators import robots as RB

    rb = spark.createDataFrame(_ROBOTS_FIXTURE, "host string, content string")
    return RB.parse_robots(rb)


def q_robots_allowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-politeness filter (operators/robots.py robots_filter) over
    the synthetic URL table: spam hosts disallow everything, block.org
    hosts disallow /p/1 but allow the longer /p/12 (longest-match
    precedence — RFC 9309 §2.2.2), keep.com hosts disallow an unused
    /private. The oracle independently encodes those rules (the allow
    prefix strictly contains the disallow prefix, so the CASE is the
    longest-match result) over the same host/path extraction."""
    from search_engine_spark.operators import robots as RB
    from search_engine_spark.operators.hosts import host_of

    urls = _synth_urls(spark, sf_dir)
    hosts = urls.select(host_of(F.col("url")).alias("host")).distinct()
    content = (
        F.when(F.col("host").endswith(".spam.co.uk"),
               "User-agent: *\nDisallow: /")
        .when(F.col("host").endswith(".block.org"),
              "User-agent: *\nDisallow: /p/1\nAllow: /p/12")
        .otherwise("User-agent: *\nDisallow: /private")
    )
    rules = RB.parse_robots(hosts.withColumn("content", content))
    return (RB.robots_filter(urls, rules, keep_allowed=False)
            .select("doc_id", "allowed"))


def q_wildcard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard term queries (search.search_patterns): 'sc*n' + 'ha?h'
    expand against the vocabulary via SQL LIKE (the one pattern language
    with identical cross-engine semantics), capped 3-deep per pattern by
    (df DESC, term ASC), then scored with the literal term 'join' as one
    boolean-OR BM25 query."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    scored = S.search_patterns(idx, ["join"], wildcards=["sc*n", "ha?h"],
                               k=None, max_expansions=3)
    return (scored.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_regexp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp term queries (search.search_patterns via the executor's
    /pat/ route): 'sc[a-z]n' + 'ha.h' expand against the vocabulary
    with whole-term-anchored rlike (patterns restricted to the
    cross-engine Java/RE2 dialect subset — search.regexp_validate),
    capped 3-deep per pattern by (df DESC, term ASC), then scored with
    the literal term 'join' as one boolean-OR BM25 query — the same
    shape as wildcard_topk with LIKE swapped for the automaton."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    scored = S.search_patterns(idx, ["join"],
                               regexps=["sc[a-z]n", "ha.h"],
                               k=None, max_expansions=3)
    return (scored.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_dismax_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene DisjunctionMaxQuery (search.search_dismax): clauses
    [join, hash] and [scan, sort] scored independently with BM25, per
    doc max(clause) + 0.3·(sum − max) — the best-aspect-wins combiner;
    round 4 then the standard (score DESC, doc_id ASC) cut."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    scored = S.search_dismax(idx, [["join", "hash"], ["scan", "sort"]],
                             tie_breaker=0.3, k=None)
    return (scored.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_synonym_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time synonym expansion (search.search_synonyms): query
    [join, scan] with join→merge and scan→{filter, join} at weight 0.5 —
    'join' sums its literal weight AND the synonym contribution (boost
    1.5), the oracle derives the same fold from the rule rows."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    table = {"join": ["merge"], "scan": ["filter", "join"]}
    scored = S.search_synonyms(idx, ["join", "scan"], table, k=None,
                               weight=0.5)
    return (scored.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_bm25_min_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-should-match (search_freetext_tokens(min_should_match=2)):
    BM25 over the 3-term fixture restricted to docs matching ≥2 distinct
    terms — the mm count folds into the score aggregate (no extra join),
    oracle = the same BM25 CTE with HAVING COUNT(DISTINCT term) >= 2."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    scored = S.search_freetext_tokens(idx, _BM25_QUERY_TERMS, k=None,
                                      min_should_match=2)
    return (scored.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_ir_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trec_eval metrics (ireval.evaluate_run) over the batch run:
    deterministic graded qrels (judged = even doc_ids, rel = doc_id%3)
    → per-query P@10 / recall@10 / RR / AP / nDCG@10, 6dp."""
    from search_engine_spark.operators import ireval as IR

    run = _batch_run(spark, sf_dir)
    judged = (_docs(spark, sf_dir).select("doc_id")
              .filter(F.col("doc_id") % 2 == 0))
    qids = spark.createDataFrame([(1,), (2,), (3,)], "query_id long")
    qrels = qids.crossJoin(judged).withColumn(
        "rel", (F.col("doc_id") % 3).cast("int"))
    per_q = IR.evaluate_run(run, qrels, k=10)
    return per_q.select(
        "query_id",
        *[F.round(c, 6).alias(c)
          for c in ("p_at_k", "recall_at_k", "rr", "ap", "ndcg")])


def q_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval (fusion.rrf_fuse): BM25 top-100 and
    brute-force cosine top-100 (embeddings keyed by the same doc ids)
    fused with Reciprocal Rank Fusion at rrf_k=60. Both runs round their
    scores BEFORE the depth cut (BM25 4dp, cosine 6dp inside
    similarity.cosine_topk) so ranks are cross-engine deterministic;
    the oracle replays both ROW_NUMBER rankings and the 1/(60+rank)
    sum."""
    from search_engine_spark.operators import fusion
    from search_engine_spark.operators import similarity
    from search_engine_spark.sources.corpus import read_testdata

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    scored = S._scored_frame(idx, _BM25_QUERY_TERMS, "bm25")
    sparse = (scored.groupBy("doc_id")
              .agg(F.round(F.sum("weight"), 4).alias("score"))
              .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))
    emb = read_testdata(spark, sf_dir, "embeddings")
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    dense = (similarity.cosine_topk(emb, q, k=100)
             .select(F.col("vec_id").alias("doc_id"),
                     F.col("cosine").alias("score")))
    fused = fusion.rrf_fuse([sparse, dense], k=1000, rrf_k=60)
    return (fused.select("doc_id", F.round("rrf_score", 6).alias("rrf_score"))
            .orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(20))


def q_sig_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Significant-terms aggregation (serp.significant_terms): JLH-scored
    over-represented terms in the 'spark' match set vs the corpus
    background. k is left wide inside the operator and the entry
    re-cuts at 20 on the ROUNDED jlh key so a 6dp tie at the boundary
    cannot flip the cut between engines."""
    from search_engine_spark.operators import serp

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    hits = idx.postings.filter(F.col("term") == "spark").select("doc_id")
    out = serp.significant_terms(idx.postings, idx.term_stats,
                                 idx.stats["n_docs"], hits,
                                 k=10_000, min_fg_df=2)
    return (out.select("term", "fg_df", "df",
                       F.round("jlh", 6).alias("jlh"))
            .orderBy(F.desc("jlh"), F.asc("term")).limit(20))


def q_score_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-Explanation analog (search.explain_scores): the per-term
    BM25 breakdown for the corpus' top-1 document of the standard bench
    query — (term, tf, df, weight) rows that sum to the doc's retrieval
    score. The doc is selected by the same rounded-score/doc_id rule as
    bm25_topk on both engines."""
    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    scored = S._scored_frame(idx, _BM25_QUERY_TERMS, "bm25")
    agg = scored.groupBy("doc_id").agg(
        F.round(F.sum("weight"), 4).alias("score"))
    top1 = agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(1).collect()
    doc = top1[0].doc_id
    out = S.explain_scores(idx, _BM25_QUERY_TERMS, doc)
    return out.select("term", "tf", "df",
                      F.round("weight", 4).alias("weight"))


def q_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True BM25F (search.search_bm25f, Zaragoza et al. CIKM'04): body
    (w=1.0, b=0.75) + anchor field (w=0.5, b=0.6) length-normalized tf
    summed BEFORE one saturation, idf on document-level presence across
    both fields. Same synthesized anchor corpus as anchor_bm25_topk, so
    the gate isolates the F-combination from the fixture."""
    from search_engine_spark.operators import graph

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    n = idx.stats["n_docs"]
    edges = graph.synth_edges(docs.select("doc_id"), n).withColumn(
        "anchor",
        F.concat(F.lit("link w"),
                 ((F.col("src") + F.col("dst")) % 13).cast("string")))
    aidx = graph.anchor_index(edges)
    merged = S.search_bm25f([(idx, 1.0, 0.75), (aidx, 0.5, 0.6)],
                            ["spark", "w3", "link"], k=None)
    return (merged.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_recency_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-boosted BM25 (search.blend_recency): score × (0.1 +
    0.9·2^(−age/30)) with ages from the deterministic warc_date fixture
    (2022-01-01 + doc_id % 90 days) against as_of 2022-04-01 — so ages
    span 1..90 days and the half-life actually bends the ranking. The
    oracle replays the same date math and POWER decay."""
    from datetime import date as _d

    docs = _docs(spark, sf_dir)
    dated = docs.select(
        "doc_id",
        F.date_add(F.lit("2022-01-01").cast("date"),
                   (F.col("doc_id") % 90).cast("int")).alias("warc_date"))
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    scored = S._scored_frame(idx, _BM25_QUERY_TERMS, "bm25")
    agg = scored.groupBy("doc_id").agg(F.sum("weight").alias("score"))
    out = S.blend_recency(agg, dated, _d(2022, 4, 1),
                          half_life_days=30.0, floor=0.1)
    return (out.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(100))


def q_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-histogram facet (serp.date_histogram): monthly result counts
    for the 'spark' match set over the same deterministic warc_date
    fixture — calendar-ordered buckets, the ES date_histogram shape."""
    from search_engine_spark.operators import serp

    docs = _docs(spark, sf_dir)
    dated = docs.select(
        "doc_id",
        F.date_add(F.lit("2022-01-01").cast("date"),
                   (F.col("doc_id") % 90).cast("int")).alias("warc_date"))
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    hits = idx.postings.filter(F.col("term") == "spark").select("doc_id")
    return serp.date_histogram(hits, dated, granularity="month")


def _cori_setup(spark: SparkSession, sf_dir: str):
    """Shared setup for the federation entries: 4 md5 hash shards +
    routing tables over the simple-analyzer index."""
    from search_engine_spark.operators import federation as fed

    docs = _docs(spark, sf_dir)
    idx = engine.build_index(docs, SIMPLE, positional=False, cache=False)
    assignment = fed.assign_shards(docs, 4)
    ts, sizes = fed.shard_stats(idx.postings, idx.doc_stats, assignment)
    return fed, idx, ts, sizes


def q_cori_shard_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORI resource-selection scores (operators/federation.py) for the
    bench query over 4 deterministic md5 doc shards — the published
    belief formula (b=0.4, T·I with shard-size normalization), value-
    gated against DuckDB computing the identical formula."""
    fed, _, ts, sizes = _cori_setup(spark, sf_dir)
    return fed.cori_scores(ts, sizes, _BM25_QUERY_TERMS)


def q_cori_routed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective search end-to-end: CORI-route the bench query to the
    top-2 of 4 shards, then BM25 with GLOBAL stats over the selected
    docs only. The oracle re-derives shard choice + restricted scoring
    in SQL, so routing AND scoring are both value-gated."""
    fed, idx, ts, sizes = _cori_setup(spark, sf_dir)
    chosen = fed.select_shards(
        fed.cori_scores(ts, sizes, _BM25_QUERY_TERMS), 2)
    sub = fed.restrict_index_hash(idx, 4, chosen)
    scored = S._scored_frame(sub, _BM25_QUERY_TERMS, "bm25")
    agg = scored.groupBy("doc_id").agg(
        F.round(F.sum("weight"), 4).alias("score"))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(100)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "term_doc_tf": q_term_doc_tf,
        "term_stats": q_term_stats,
        "corpus_stats": q_corpus_stats,
        "doc_lengths": q_doc_lengths,
        "bm25_topk": q_bm25_topk,
        "bm25_page2": q_bm25_page2,
        "boolean_and": q_boolean_and,
        "boolean_or_not": q_boolean_or_not,
        "phrase_match": q_phrase_match,
        "sloppy_phrase": q_sloppy_phrase,
        "proximity_w5": q_proximity_w5,
        "vsm_topk": q_vsm_topk,
        "lm_dirichlet": q_lm_dirichlet,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "token_count": q_token_count,
        "cosine_topk": q_cosine_topk,
        "tumbling_counts": q_tumbling_counts,
        "sessionize": q_sessionize,
        "session_cooccurrence": q_session_cooccurrence,
        "user_stats": q_user_stats,
        "window_topk": q_window_topk,
        "lm_mixed_phrase": q_lm_mixed_phrase,
        "curated_corpus": q_curated_corpus,
        "quality_score": q_quality_score,
        "gopher_quality": q_gopher_quality,
        "c4_filters": q_c4_line_filter,
        "near_dup_pairs": q_near_dup_pairs,
        "simhash_near_dups": q_simhash_near_dups,
        "minhash_survivors": q_minhash_survivors,
        "language_id": q_language_id,
        "maxscore_bm25_identity": q_maxscore_bm25_identity,
        "quantized_topk": q_quantized_topk,
        "impact_maxscore_identity": q_impact_maxscore_identity,
        "bigram_phrase_identity": q_bigram_phrase_identity,
        "chained_phrase_identity": q_chained_phrase_identity,
        "trigram_wildcard_identity": q_trigram_wildcard_identity,
        "train_split": q_train_split,
        "pack_sequences": q_pack_sequences,
        "knn_join": q_knn_join,
        "ivf_topk_identity": q_ivf_topk_identity,
        "pq_refine_identity": q_pq_refine_identity,
        "bpe_top_words": q_bpe_top_words,
        "semdedup_survivors": q_semdedup_survivors,
        "rm3_alpha1_identity": q_rm3_alpha1_identity,
        "bigram_logprob": q_bigram_logprob,
        "winnow_fingerprints": q_winnow_fingerprints,
        "hits_scores": q_hits_scores,
        "pii_scrub": q_pii_scrub,
        "repetition_stats": q_repetition_stats,
        "mixture_rebalance": q_mixture_rebalance,
        "decontaminate": q_decontaminate,
        "shuffle_shards": q_shuffle_shards,
        "url_dedup": q_url_dedup,
        "unigram_logprob": q_unigram_logprob,
        "pagerank": q_pagerank,
        "host_stats": q_host_stats,
        "domain_block": q_domain_block,
        "top_bigrams": q_top_bigrams,
        "bm25_pagerank_topk": q_bm25_pagerank_topk,
        "anchor_bm25_topk": q_anchor_bm25_topk,
        "quality_classifier": q_quality_classifier,
        "kmeans_assign": q_kmeans_assign,
        "hashed_tf": q_hashed_tf,
        "decayed_counts": q_decayed_counts,
        "curated_corpus_clf": q_curated_corpus_clf,
        "curated_kills": q_curated_kills,
        "crawl_diff": q_crawl_diff,
        "fuzzy_topk": q_fuzzy_topk,
        "prefix_topk": q_prefix_topk,
        "collocations": q_collocations,
        "more_like_this": q_more_like_this,
        "dup_components": q_dup_components,
        "dedup_lines": q_dedup_lines,
        "dup_spans": q_dup_spans,
        "bpe_pretokens": q_bpe_pretokens,
        "snippets_topk": q_snippets_topk,
        "autocomplete": q_autocomplete,
        "host_diversified_topk": q_host_diversified_topk,
        "facet_lang_counts": q_facet_lang_counts,
        "doc_keywords": q_doc_keywords,
        "top_bigrams_approx": q_top_bigrams_approx,
        "rm3_dates_identity": q_rm3_dates_identity,
        "maxscore_prior_identity": q_maxscore_prior_identity,
        "vacuum_identity": q_vacuum_identity,
        "batch_bm25_topk": q_batch_bm25_topk,
        "ltr_features": q_ltr_features,
        "ltr_rerank_topk": q_ltr_rerank_topk,
        "dsir_topk": q_dsir_topk,
        "percolate_matches": q_percolate,
        "robots_rules": q_robots_rules,
        "stats_facet": q_stats_facet,
        "mmr_lambda1_identity": q_mmr_lambda1_identity,
        "pruned_bm25_identity": q_pruned_bm25_identity,
        "sitemap_entries": q_sitemap_entries,
        "sitemap_refresh": q_sitemap_refresh,
        "term_vectors": q_term_vectors,
        "robots_allowed": q_robots_allowed,
        "ir_eval_metrics": q_ir_eval_metrics,
        "bm25_min_match": q_bm25_min_match,
        "wildcard_topk": q_wildcard_topk,
        "regexp_topk": q_regexp_topk,
        "dismax_topk": q_dismax_topk,
        "synonym_topk": q_synonym_topk,
        "rrf_hybrid_topk": q_rrf_hybrid_topk,
        "sig_terms": q_sig_terms,
        "score_explain": q_score_explain,
        "bm25f_topk": q_bm25f_topk,
        "recency_bm25_topk": q_recency_bm25_topk,
        "date_histogram": q_date_histogram,
        "cori_shard_scores": q_cori_shard_scores,
        "cori_routed_topk": q_cori_routed_topk,
    }


# ---------------------------------------------------------------------------
# oracle_sql() — DuckDB ANSI SQL over the same parquet views
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    bm25_terms = ", ".join(f"('{t}')" for t in _BM25_QUERY_TERMS)
    sql = _oracle_sql_dict(bm25_terms)
    # the MaxScore serving kernel (operators.maxscore) must reproduce
    # EXACTLY the relational BM25 oracle — same query terms, same
    # formula, same rounding/tie-break
    sql["maxscore_bm25_identity"] = sql["bm25_topk"]
    # the quantized-impact store: converter + kernel impact branch must
    # reproduce the relational quantized scoring, which the integer
    # quantizer lets the oracle compute bit-for-bit
    sql["impact_maxscore_identity"] = sql["quantized_topk"]
    # the next-word phrase index serves the same consecutive counts the
    # positional intersection computes — same oracle as phrase_match
    sql["bigram_phrase_identity"] = sql["phrase_match"]
    # 3-word chain: the oracle is the straight 3-way positional
    # intersection — the bigram chain must reproduce it exactly
    sql["chained_phrase_identity"] = """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
                   FROM documents),
        pos AS (SELECT doc_id, unnest(l) AS tok,
                       unnest(generate_series(1, len(l))) AS pos FROM t),
        a AS (SELECT doc_id, pos FROM pos WHERE tok = 'big'),
        b AS (SELECT doc_id, pos FROM pos WHERE tok = 'data'),
        c AS (SELECT doc_id, pos FROM pos WHERE tok = 'merge')
        SELECT a.doc_id, COUNT(*) AS phrase_tf
        FROM a
        JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        GROUP BY a.doc_id
    """
    # the trigram vocabulary index bounds a leading-wildcard expansion;
    # the oracle is the full-vocabulary LIKE scan with the same
    # (df DESC, term ASC) cap of 50 — identical rows either way
    sql["trigram_wildcard_identity"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id FROM tok GROUP BY term, doc_id),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        q(qt, pat) AS (VALUES ('*er', '%er'), ('*an', '%an'),
                              ('*ta', '%ta')),
        ranked AS (
            SELECT q.qt, df.term, ROW_NUMBER() OVER (
                PARTITION BY q.qt ORDER BY df.df DESC, df.term ASC) AS rn
            FROM df JOIN q ON df.term LIKE q.pat
        )
        SELECT qt, term FROM ranked WHERE rn <= 50
    """
    # static pruning at keep >= max df is the identity — same oracle
    sql["pruned_bm25_identity"] = sql["bm25_topk"]
    # RM3 at alpha=1 must reproduce plain BM25 exactly (zero-weight
    # expansion terms dropped, unnormalized q_tf) — same oracle
    sql["rm3_alpha1_identity"] = sql["bm25_topk"]
    # RM3 + date range at alpha=1: plain BM25 over the in-range docs
    # (warc_date = 2022-01-01 + doc_id % 90 days; range covers days
    # 0..44) with GLOBAL corpus statistics — the date filter restricts
    # which docs score, never df/avgdl
    sql["rm3_dates_identity"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES {bm25_terms}),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
            WHERE tf.doc_id % 90 <= 44
        )
        SELECT doc_id, ROUND(SUM(wt), 4) AS score
        FROM w GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """
    # MaxScore + prior: bm25 + 0.3·ln(prior), odd docs at 1/(doc_id+2)
    # and even docs at the shared 1e-12 floor (absent from the frame)
    sql["maxscore_prior_identity"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES {bm25_terms}),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        bm AS (SELECT doc_id, SUM(wt) AS s FROM w GROUP BY doc_id)
        SELECT doc_id,
               ROUND(s + 0.3 * LN(CASE WHEN doc_id % 2 = 1
                                       THEN 1.0 / (doc_id + 2)
                                       ELSE 1e-12 END), 4) AS score
        FROM bm ORDER BY score DESC, doc_id ASC LIMIT 100
    """
    # vacuumed index: BM25 with df/n_docs/avgdl RECOMPUTED over live
    # docs only (doc_id % 7 == 0 tombstoned then physically vacuumed)
    live_tok = (_TOK + " WHERE doc_id % 7 <> 0")
    sql["vacuum_identity"] = f"""
        WITH tok AS ({live_tok}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES {bm25_terms}),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        )
        SELECT doc_id, ROUND(SUM(wt), 4) AS score
        FROM w GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """
    # CORI resource selection: 4 md5 doc shards (the sampling.hash_bucket
    # idiom with purpose salt 'shard:'), published belief formula
    # b + (1-b)·T·I with T = df_s/(df_s + 50 + 150·cw_s/avg_cw) and
    # I = ln((S+0.5)/cf_t)/ln(S+1); shards holding no query term score
    # the floor |q|·b
    cori_cte = f"""
        WITH tok AS ({_TOK}),
        sh AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                               || 'shard:'), 1, 8))
                           AS BIGINT) % 4 AS shard
               FROM documents),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        st AS (SELECT sh.shard, tf.term, COUNT(*) AS df_s
               FROM tf JOIN sh USING (doc_id) GROUP BY 1, 2),
        sizes AS (SELECT sh.shard, COUNT(*) AS cw_s
                  FROM tok JOIN sh USING (doc_id) GROUP BY 1),
        a AS (SELECT AVG(cw_s) AS avg_cw, COUNT(*) AS s FROM sizes),
        q(term) AS (VALUES {bm25_terms}),
        cf AS (SELECT term, COUNT(*) AS cf_t
               FROM st JOIN q USING (term) GROUP BY 1),
        ti AS (SELECT st.shard,
                      (st.df_s / (st.df_s + 50.0
                                  + 150.0 * sizes.cw_s / a.avg_cw))
                      * (LN((a.s + 0.5) / cf.cf_t) / LN(a.s + 1.0)) AS ti
               FROM st JOIN q USING (term) JOIN cf USING (term)
               JOIN sizes USING (shard) CROSS JOIN a),
        cori AS (SELECT sizes.shard,
                        ROUND(3 * 0.4 + 0.6 * COALESCE(SUM(ti.ti), 0),
                              6) AS score
                 FROM sizes LEFT JOIN ti USING (shard) GROUP BY 1)
    """
    sql["cori_shard_scores"] = cori_cte + "SELECT shard, score FROM cori"
    # routed top-k: top-2 shards by (rounded CORI score desc, shard asc),
    # then the standard GLOBAL-stats BM25 restricted to their docs —
    # routing changes recall only, never a retrieved doc's score
    sql["cori_routed_topk"] = cori_cte + f""",
        top2 AS (SELECT shard FROM cori
                 ORDER BY score DESC, shard ASC LIMIT 2),
        sel AS (SELECT doc_id FROM sh
                WHERE shard IN (SELECT shard FROM top2)),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - dfx.df + 0.5) / (dfx.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN dfx USING (term)
            JOIN dl USING (doc_id) JOIN sel USING (doc_id)
            CROSS JOIN stats s
        )
        SELECT doc_id, ROUND(SUM(wt), 4) AS score
        FROM w GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """
    # synonym expansion: originals at weight 1, rule targets at 0.5 per
    # selecting original — the boost fold derived IN SQL from the rule
    # rows, then the same clause-summed BM25 as the other expansions
    sql["synonym_topk"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES ('join'), ('scan')),
        syn(src, dst) AS (VALUES ('join', 'merge'), ('scan', 'filter'),
                                 ('scan', 'join')),
        boosts AS (
            SELECT term, SUM(b) AS boost FROM (
                SELECT term, 1.0 AS b FROM q
                UNION ALL
                SELECT syn.dst AS term, 0.5 AS b
                FROM syn JOIN q ON q.term = syn.src
            ) GROUP BY term
        ),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
                   * b.boost AS wt
            FROM tf JOIN boosts b USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        )
        SELECT doc_id, ROUND(SUM(wt), 4) AS score
        FROM w GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """
    # wildcard queries: LIKE expansion (identical semantics both
    # engines), 3-deep (df DESC, term ASC) cap per pattern, literal
    # 'join' as one more OR clause, clause boosts summed per term
    sql["wildcard_topk"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        pat(qt, pat) AS (VALUES ('sc*n', 'sc%n'), ('ha?h', 'ha_h')),
        cand AS (
            SELECT pat.qt, df.term, df.df
            FROM pat JOIN df ON df.term LIKE pat.pat
        ),
        ranked AS (
            SELECT qt, term,
                   ROW_NUMBER() OVER (PARTITION BY qt
                       ORDER BY df DESC, term ASC) AS rn
            FROM cand
        ),
        boosts AS (
            SELECT term, SUM(b) AS boost FROM (
                SELECT term, 1.0 AS b FROM ranked WHERE rn <= 3
                UNION ALL SELECT 'join' AS term, 1.0 AS b
            ) GROUP BY term
        ),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
                   * b.boost AS wt
            FROM tf JOIN boosts b USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        )
        SELECT doc_id, ROUND(SUM(wt), 4) AS score
        FROM w GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """
    # regexp term queries: the wildcard oracle with LIKE swapped for
    # regexp_full_match (whole-term anchoring, same as the engine's
    # ^(?:...)$ rlike) — patterns stay inside the dialect-identical
    # Java/RE2 subset by construction
    sql["regexp_topk"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        pat(qt, pat) AS (VALUES ('sc[a-z]n', 'sc[a-z]n'),
                                ('ha.h', 'ha.h')),
        cand AS (
            SELECT pat.qt, df.term, df.df
            FROM pat JOIN df ON regexp_full_match(df.term, pat.pat)
        ),
        ranked AS (
            SELECT qt, term,
                   ROW_NUMBER() OVER (PARTITION BY qt
                       ORDER BY df DESC, term ASC) AS rn
            FROM cand
        ),
        boosts AS (
            SELECT term, SUM(b) AS boost FROM (
                SELECT term, 1.0 AS b FROM ranked WHERE rn <= 3
                UNION ALL SELECT 'join' AS term, 1.0 AS b
            ) GROUP BY term
        ),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
                   * b.boost AS wt
            FROM tf JOIN boosts b USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        )
        SELECT doc_id, ROUND(SUM(wt), 4) AS score
        FROM w GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """
    # LTR features: every column of the feature block recomputed —
    # both scorers share the tf/df/dl CTEs, ranking on the 4dp-rounded
    # bm25 with the engine tie-break
    batch_vals = ", ".join(f"({q}, '{t}')" for q, t in _BATCH_QUERY_ROWS)
    sql["ltr_features"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl, SUM(dl) AS lc
                  FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(query_id, term) AS (VALUES {batch_vals}),
        qtf AS (SELECT query_id, term, COUNT(*) AS qtf FROM q GROUP BY 1, 2),
        qlen AS (SELECT query_id, COUNT(*) AS qlen FROM q GROUP BY 1),
        w AS (
            SELECT qtf.query_id, tf.doc_id, tf.term, tf.tf, dl.dl,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
                   * qtf.qtf AS bw,
                   LN((tf.tf / 1089.0) * (s.lc * 1.0 / df.df) + 1.0)
                   * qtf.qtf AS lw
            FROM tf JOIN qtf USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        f AS (
            SELECT query_id, doc_id,
                   ROUND(SUM(bw), 4) AS bm25, SUM(lw) AS lmm,
                   COUNT(DISTINCT term) AS n_matched,
                   SUM(tf) AS sum_tf, ANY_VALUE(dl) AS dl
            FROM w GROUP BY 1, 2
        ),
        g AS (
            SELECT f.query_id, f.doc_id, f.bm25, f.n_matched, f.sum_tf,
                   f.dl,
                   ROUND(f.lmm + qlen.qlen
                         * LN(1089.0 / (f.dl + 1089.0)), 4)
                       AS lm_dirichlet
            FROM f JOIN qlen USING (query_id)
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY bm25 DESC, doc_id ASC) AS rank
            FROM g
        )
        SELECT query_id, doc_id, rank, bm25, lm_dirichlet, n_matched,
               sum_tf, dl
        FROM r WHERE rank <= 5
    """
    # LTR rerank: the same feature CTEs, candidate cut at the BM25
    # top-10, then the PINNED linear model replayed term by term in the
    # engine's accumulation order — score = bm25 + (0 + w0·1 + w1·bm25
    # + w2·lm + w3·n_matched + w4·ln(1+sum_tf) + w5·ln(1+dl)) — and the
    # per-query re-rank on the 4dp-rounded score
    _w = _LTR_GATE_W
    sql["ltr_rerank_topk"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl, SUM(dl) AS lc
                  FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(query_id, term) AS (VALUES {batch_vals}),
        qtf AS (SELECT query_id, term, COUNT(*) AS qtf FROM q GROUP BY 1, 2),
        qlen AS (SELECT query_id, COUNT(*) AS qlen FROM q GROUP BY 1),
        w AS (
            SELECT qtf.query_id, tf.doc_id, tf.term, tf.tf, dl.dl,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
                   * qtf.qtf AS bw,
                   LN((tf.tf / 1089.0) * (s.lc * 1.0 / df.df) + 1.0)
                   * qtf.qtf AS lw
            FROM tf JOIN qtf USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        f AS (
            SELECT query_id, doc_id,
                   ROUND(SUM(bw), 4) AS bm25, SUM(lw) AS lmm,
                   COUNT(DISTINCT term) AS n_matched,
                   SUM(tf) AS sum_tf, ANY_VALUE(dl) AS dl
            FROM w GROUP BY 1, 2
        ),
        g AS (
            SELECT f.query_id, f.doc_id, f.bm25, f.n_matched, f.sum_tf,
                   f.dl,
                   ROUND(f.lmm + qlen.qlen
                         * LN(1089.0 / (f.dl + 1089.0)), 4)
                       AS lm_dirichlet
            FROM f JOIN qlen USING (query_id)
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY bm25 DESC, doc_id ASC) AS rank
            FROM g
        ),
        cand AS (SELECT * FROM r WHERE rank <= 10),
        scored AS (
            SELECT query_id, doc_id,
                   ROUND(bm25 + (0.0 + {_w[0]} * 1.0
                                 + {_w[1]} * bm25
                                 + {_w[2]} * lm_dirichlet
                                 + {_w[3]} * n_matched
                                 + {_w[4]} * LN(1.0 + sum_tf)
                                 + {_w[5]} * LN(1.0 + dl)), 4) AS score
            FROM cand
        ),
        rr AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, doc_id, rank, score FROM rr WHERE rank <= 10
    """
    # DSIR: hashed unigram+bigram features at dim=512, smoothed
    # target/raw bucket LMs, per-doc log importance weights over a
    # broadcast log-ratio table, and the deterministic Gumbel-top-50 —
    # every constant mirrors operators/dsir.py (SALT 'dsir:',
    # GUMBEL_SALT 'dsirg:', alpha=1e-4, 52-bit md5 uniform, 6dp
    # rounding BEFORE the cut)
    sql["dsir_topk"] = r"""
        WITH w AS (SELECT doc_id, source,
                          list_filter(regexp_split_to_array(
                              COALESCE(text, ''), '\s+'),
                              x -> x != '') AS toks
                   FROM documents),
        uni AS (SELECT doc_id, source, unnest(toks) AS term FROM w),
        big AS (SELECT doc_id, source,
                       unnest(list_transform(
                           generate_series(1, greatest(len(toks) - 1, 0)),
                           i -> toks[i] || ' ' || toks[i + 1])) AS term
                FROM w),
        g AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
        f AS (SELECT doc_id,
                     CAST(('0x' || substr(md5(term || 'dsir:'), 1, 8))
                          AS BIGINT) % 512 AS bucket,
                     COUNT(*) AS tf
              FROM g GROUP BY 1, 2),
        ft AS (SELECT CAST(('0x' || substr(md5(term || 'dsir:'), 1, 8))
                          AS BIGINT) % 512 AS bucket,
                      COUNT(*) AS c
               FROM g WHERE source = 'src0' GROUP BY 1),
        fr AS (SELECT bucket, SUM(tf) AS c FROM f GROUP BY 1),
        tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tot FROM g
               WHERE source = 'src0'),
        rt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tot FROM g),
        bk AS (SELECT unnest(generate_series(0, 511)) AS bucket),
        lw AS (SELECT bk.bucket,
                      (LN(COALESCE(ft.c, 0) + 0.0001)
                       - LN(tt.tot + 0.0001 * 512))
                    - (LN(COALESCE(fr.c, 0) + 0.0001)
                       - LN(rt.tot + 0.0001 * 512)) AS lw
               FROM bk LEFT JOIN ft USING (bucket)
               LEFT JOIN fr USING (bucket)
               CROSS JOIN tt CROSS JOIN rt),
        wgt AS (SELECT f.doc_id, ROUND(SUM(f.tf * lw.lw), 6) AS logw
                FROM f JOIN lw USING (bucket) GROUP BY 1),
        keyed AS (SELECT doc_id, logw,
                         ROUND(logw + (-LN(-LN(
                             (CAST(('0x' || substr(md5(
                                  CAST(doc_id AS VARCHAR) || 'dsirg:'),
                                  1, 13)) AS BIGINT) + 0.5)
                             / 4503599627370496.0))), 6) AS key
                  FROM wgt)
        SELECT doc_id, logw, key FROM keyed
        ORDER BY key DESC, doc_id ASC LIMIT 50
    """
    # Percolator: conjunctive coverage counting — a doc matches a
    # stored query iff it contains ALL the query's distinct terms
    sql["percolate_matches"] = f"""
        WITH tok AS ({_TOK}),
        dt AS (SELECT DISTINCT doc_id, term FROM tok),
        sq(query_id, term, n_required) AS (VALUES
            (1, 'join', 2), (1, 'hash', 2),
            (2, 'scan', 1),
            (3, 'join', 3), (3, 'scan', 3), (3, 'sort', 3)),
        m AS (
            SELECT doc_id, query_id, COUNT(*) AS n_matched,
                   ANY_VALUE(n_required) AS req
            FROM dt JOIN sq USING (term) GROUP BY 1, 2
        )
        SELECT doc_id, query_id, n_matched FROM m WHERE n_matched = req
    """
    # robots.txt parser: golden rules derived by hand from RFC 9309
    # over the fixture (comments stripped, consecutive UA lines share a
    # group, rules fan out to every group agent, non-rule directives
    # and empty Disallow dropped)
    sql["robots_rules"] = """
        SELECT * FROM (VALUES
            ('a.com', 'goodbot', 'disallow', '/private'),
            ('a.com', 'goodbot', 'allow',    '/private/ok'),
            ('a.com', '*',       'disallow', '/private'),
            ('a.com', '*',       'allow',    '/private/ok'),
            ('a.com', 'evilbot', 'disallow', '/'),
            ('b.com', 'foo',     'disallow', '/x')
        ) AS t(host, agent, rule, prefix)
    """
    # robots URL filter: the rules are re-encoded independently — the
    # allow prefix strictly contains the disallow prefix, so the CASE
    # below IS the longest-match verdict; host/path extraction mirrors
    # the engine (canonical host, fragment-stripped path)
    from search_engine_spark.operators.hosts import oracle_host_sql

    sql["robots_allowed"] = f"""
        WITH u AS ({_SYNTH_URL_SQL}),
        h AS (
            SELECT doc_id,
                   {oracle_host_sql("url")} AS host,
                   CASE WHEN p IS NULL OR p = '' THEN '/'
                        ELSE string_split(p, '#')[1] END AS path
            FROM (SELECT *,
                     regexp_extract(url,
                       '^(?i)[a-z][a-z0-9+.-]*://[^/]*(/.*)?$', 1) AS p
                  FROM u)
        )
        SELECT doc_id,
               CASE
                 WHEN host LIKE '%.spam.co.uk' THEN FALSE
                 WHEN host LIKE '%.block.org'
                   THEN NOT starts_with(path, '/p/1')
                        OR starts_with(path, '/p/12')
                 ELSE NOT starts_with(path, '/private')
               END AS allowed
        FROM h
    """
    # extended_stats facet over the 'spark' match set (population
    # variance via the same sum-of-squares identity)
    sql["stats_facet"] = f"""
        WITH tok AS ({_TOK}),
        hits AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
        v AS (SELECT d.n_chars * 1.0 AS x
              FROM hits JOIN documents d USING (doc_id)
              WHERE d.n_chars IS NOT NULL)
        SELECT COUNT(*) AS n, MIN(x) AS min_v, MAX(x) AS max_v,
               SUM(x) AS sum_v, ROUND(AVG(x), 6) AS avg_v,
               ROUND(AVG(x * x) - AVG(x) * AVG(x), 6) AS var_pop
        FROM v
    """
    # per-doc term vectors for three fixed docs
    sql["term_vectors"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
        SELECT tf.doc_id, tf.term, tf.tf, df.df
        FROM tf JOIN df USING (term)
        WHERE tf.doc_id IN (3, 17, 42)
    """
    # sitemap parser golden rows (protocol-derived by hand)
    sql["sitemap_entries"] = """
        SELECT * FROM (VALUES
            ('a.com', 'url', 'https://a.com/p1', '2022-02-01'),
            ('a.com', 'url', 'https://a.com/p2', ''),
            ('a.com', 'sitemap', 'https://a.com/s1.xml', '2022-03-05')
        ) AS t(host, kind, loc, lastmod)
    """
    # sitemap recrawl verdicts computed relationally (no XML): odd ids
    # were never crawled -> new; even ids modified iff lastmod
    # (2022-01-01 + doc_id) is strictly after the 2022-01-20 crawl
    sql["sitemap_refresh"] = f"""
        WITH u AS ({_SYNTH_URL_SQL})
        SELECT url,
               CASE WHEN doc_id % 2 = 1 THEN 'new'
                    WHEN DATE '2022-01-01' + doc_id * INTERVAL 1 DAY
                         > DATE '2022-01-20' THEN 'modified'
               END AS reason
        FROM u WHERE doc_id < 40
        AND (doc_id % 2 = 1
             OR DATE '2022-01-01' + doc_id * INTERVAL 1 DAY
                > DATE '2022-01-20')
    """
    # DisjunctionMax: per-clause BM25 sums, then max + tie·(sum−max)
    sql["dismax_topk"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(clause, term) AS (VALUES (0, 'join'), (0, 'hash'),
                                   (1, 'scan'), (1, 'sort')),
        w AS (
            SELECT q.clause, tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        cs AS (SELECT doc_id, clause, SUM(wt) AS cscore
               FROM w GROUP BY 1, 2)
        SELECT doc_id,
               ROUND(MAX(cscore) + 0.3 * (SUM(cscore) - MAX(cscore)), 4)
                   AS score
        FROM cs GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """
    # minimum-should-match: same BM25 weights, docs matching ≥2 distinct
    # query terms only (HAVING over the same group — the engine folds
    # the count into its score aggregate)
    sql["bm25_min_match"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES {bm25_terms}),
        w AS (
            SELECT tf.term, tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        )
        SELECT doc_id, ROUND(SUM(wt), 4) AS score
        FROM w GROUP BY doc_id
        HAVING COUNT(DISTINCT term) >= 2
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """
    # batch multi-query retrieval: the 3-query fixture scored per query
    # (query tf from duplicate rows), ranked on the 4dp-rounded score by
    # ROW_NUMBER per query — exactly batchsearch.batch_topk(score_round=4)
    batch_q = ", ".join(f"({q}, '{t}')" for q, t in _BATCH_QUERY_ROWS)
    batch_run = f"""
        tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        qraw(query_id, term) AS (VALUES {batch_q}),
        q AS (SELECT query_id, term, COUNT(*) AS qtf FROM qraw GROUP BY 1, 2),
        w AS (
            SELECT q.query_id, tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
                   * q.qtf AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        sc AS (SELECT query_id, doc_id, ROUND(SUM(wt), 4) AS score
               FROM w GROUP BY 1, 2),
        run AS (SELECT query_id, doc_id, score,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY score DESC, doc_id ASC) AS rank
                FROM sc)"""
    sql["batch_bm25_topk"] = (
        f"WITH {batch_run} "
        "SELECT query_id, doc_id, score, rank FROM run WHERE rank <= 10")
    # trec_eval metrics over the batch run with deterministic graded
    # qrels (judged = even doc_ids, rel = doc_id % 3) — mirrors
    # ireval.evaluate_run term-for-term (gain/log2 parenthesization,
    # /nrel and /idcg guards, 6dp rounding)
    sql["ir_eval_metrics"] = f"""
        WITH {batch_run},
        qrels AS (
            SELECT q2.query_id, d.doc_id, CAST(d.doc_id % 3 AS INT) AS rel
            FROM (SELECT DISTINCT doc_id FROM documents
                  WHERE doc_id % 2 = 0) d
            CROSS JOIN (SELECT DISTINCT query_id FROM qraw) q2
        ),
        hits AS (
            SELECT r.query_id, r.rank,
                   COALESCE(CAST(qr.rel AS DOUBLE), 0.0) AS rel
            FROM run r LEFT JOIN qrels qr USING (query_id, doc_id)
            WHERE r.rank <= 10
        ),
        h2 AS (
            SELECT query_id, rank, rel,
                   CASE WHEN rel > 0 THEN 1.0 ELSE 0.0 END AS relb,
                   SUM(CASE WHEN rel > 0 THEN 1.0 ELSE 0.0 END)
                       OVER (PARTITION BY query_id ORDER BY rank)
                       AS cum_rel
            FROM hits
        ),
        perq AS (
            SELECT query_id,
                   SUM(relb) AS nrel_hit,
                   SUM(CASE WHEN relb > 0 THEN cum_rel / rank
                            ELSE 0.0 END) AS sum_p,
                   MIN(CASE WHEN relb > 0 THEN rank END) AS first_rel,
                   SUM((POWER(2.0, rel) - 1.0) / LOG2(rank + 1)) AS dcg
            FROM h2 GROUP BY query_id
        ),
        ideal AS (
            SELECT query_id,
                   SUM(CASE WHEN rel > 0 THEN 1.0 ELSE 0.0 END) AS nrel,
                   SUM(CASE WHEN irank <= 10 THEN
                           (POWER(2.0, CAST(rel AS DOUBLE)) - 1.0)
                           / LOG2(irank + 1)
                       ELSE 0.0 END) AS idcg
            FROM (SELECT query_id, rel, doc_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY rel DESC, doc_id ASC) AS irank
                  FROM qrels)
            GROUP BY query_id
        )
        SELECT p.query_id,
               ROUND(p.nrel_hit / 10.0, 6) AS p_at_k,
               ROUND(CASE WHEN i.nrel > 0 THEN p.nrel_hit / i.nrel
                          ELSE 0.0 END, 6) AS recall_at_k,
               ROUND(CASE WHEN p.first_rel IS NOT NULL
                          THEN 1.0 / p.first_rel ELSE 0.0 END, 6) AS rr,
               ROUND(CASE WHEN i.nrel > 0 THEN p.sum_p / i.nrel
                          ELSE 0.0 END, 6) AS ap,
               ROUND(CASE WHEN i.idcg > 0 THEN p.dcg / i.idcg
                          ELSE 0.0 END, 6) AS ndcg
        FROM perq p LEFT JOIN ideal i USING (query_id)
    """
    # freshness decay: score × (0.1 + 0.9 · 2^(−age/30)) with the same
    # clamped date math as search.blend_recency; warc_date fixture shared
    # with rm3_dates_identity
    sql["recency_bm25_topk"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES {bm25_terms}),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        agg AS (SELECT doc_id, SUM(wt) AS score FROM w GROUP BY doc_id),
        dated AS (SELECT doc_id,
                         DATE '2022-01-01' + (doc_id % 90)::INT AS warc_date
                  FROM documents),
        blended AS (
            SELECT agg.doc_id,
                   agg.score * (0.1 + 0.9 * POWER(2.0,
                       -(GREATEST(datediff('day', dated.warc_date,
                                           DATE '2022-04-01'), 0)::DOUBLE)
                       / 30.0)) AS score
            FROM agg JOIN dated USING (doc_id)
        )
        SELECT doc_id, ROUND(score, 4) AS score FROM blended
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """
    # date-histogram facet: monthly buckets over the 'spark' match set,
    # calendar-ordered (the ES date_histogram contract)
    sql["date_histogram"] = f"""
        WITH tok AS ({_TOK}),
        hits AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'),
        dated AS (SELECT doc_id,
                         DATE '2022-01-01' + (doc_id % 90)::INT AS warc_date
                  FROM documents)
        SELECT date_trunc('month', dated.warc_date) AS bucket,
               COUNT(*) AS cnt
        FROM hits JOIN dated USING (doc_id)
        GROUP BY 1 ORDER BY bucket ASC
    """
    # hybrid RRF: replay both runs' ROW_NUMBER rankings (BM25 rounded 4dp
    # before its 100-cut, cosine rounded 6dp before its — exactly what the
    # Spark entry ranks on) and sum 1/(60+rank); docs in one run only
    # contribute that run's term alone (standard RRF, no imputed rank)
    sql["rrf_hybrid_topk"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES {bm25_terms}),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        sp AS (
            SELECT doc_id, ROUND(SUM(wt), 4) AS score
            FROM w GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 100
        ),
        spr AS (SELECT doc_id, ROW_NUMBER() OVER
                    (ORDER BY score DESC, doc_id ASC) AS r FROM sp),
        cs AS (
            SELECT vec_id AS doc_id,
                   ROUND(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[])
                        FROM embeddings WHERE vec_id = 0)), 6) AS score
            FROM embeddings
            ORDER BY score DESC, doc_id ASC LIMIT 100
        ),
        csr AS (SELECT doc_id, ROW_NUMBER() OVER
                    (ORDER BY score DESC, doc_id ASC) AS r FROM cs),
        u AS (SELECT doc_id, r FROM spr UNION ALL SELECT doc_id, r FROM csr)
        SELECT doc_id, ROUND(SUM(1.0 / (60 + r)), 6) AS rrf_score
        FROM u GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id ASC LIMIT 20
    """
    # significant terms (JLH): fg% / bg% lifts with the SAME
    # parenthesization and double casts as serp.significant_terms
    sql["sig_terms"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        st AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        hits AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'spark'),
        msz AS (SELECT COUNT(*) AS m FROM hits),
        fg AS (SELECT term, COUNT(*) AS fg_df
               FROM tf JOIN hits USING (doc_id) GROUP BY term),
        j AS (
            SELECT fg.term, fg.fg_df, df.df,
                   (CAST(fg.fg_df AS DOUBLE) / CAST(msz.m AS DOUBLE)
                    - CAST(df.df AS DOUBLE) / CAST(st.n AS DOUBLE))
                   * ((CAST(fg.fg_df AS DOUBLE) / CAST(msz.m AS DOUBLE))
                      / (CAST(df.df AS DOUBLE) / CAST(st.n AS DOUBLE)))
                       AS jlh
            FROM fg JOIN df USING (term) CROSS JOIN msz CROSS JOIN st
            WHERE fg.fg_df >= 2
        )
        SELECT term, CAST(fg_df AS BIGINT) AS fg_df,
               CAST(df AS BIGINT) AS df, ROUND(jlh, 6) AS jlh
        FROM j WHERE jlh > 0
        ORDER BY jlh DESC, term ASC LIMIT 20
    """
    # Lucene-style explain: per-term BM25 contributions for the top-1 doc
    # of the standard query (doc selected by the bm25_topk rounding rule)
    sql["score_explain"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES {bm25_terms}),
        w AS (
            SELECT tf.term, tf.doc_id, tf.tf, df.df,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        agg AS (SELECT doc_id, ROUND(SUM(wt), 4) AS score
                FROM w GROUP BY doc_id),
        sel AS (SELECT doc_id FROM agg
                ORDER BY score DESC, doc_id ASC LIMIT 1)
        SELECT term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
               ROUND(wt, 4) AS weight
        FROM w JOIN sel USING (doc_id)
        ORDER BY term ASC
    """
    # true BM25F: per-field normalized tf summed BEFORE one saturation,
    # idf on document-level presence across both fields; anchor corpus =
    # the same deterministic link graph as anchor_bm25_topk
    sql["bm25f_topk"] = f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        q(term) AS (VALUES ('spark'), ('w3'), ('link')),
        ae AS (SELECT doc_id AS src,
                      (doc_id * doc_id * 13 + j * 31 + 7)
                          % (SELECT COUNT(*) FROM documents) AS dst
               FROM documents, generate_series(1, 3) AS t(j)),
        atok AS (SELECT dst AS doc_id,
                        unnest(string_split(
                            'link w' || ((src + dst) % 13), ' ')) AS term
                 FROM ae),
        atf AS (SELECT term, doc_id, COUNT(*) AS tf FROM atok GROUP BY 1, 2),
        adl AS (SELECT doc_id, COUNT(*) AS dl FROM atok GROUP BY 1),
        ast AS (SELECT AVG(dl) AS avgdl FROM adl),
        btfn AS (
            SELECT tf.term, tf.doc_id,
                   1.0 * tf.tf / (0.25 + 0.75 * dl.dl / s.avgdl) AS tfn
            FROM tf JOIN q USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        atfn AS (
            SELECT atf.term, atf.doc_id,
                   0.5 * atf.tf / (0.4 + 0.6 * adl.dl / s.avgdl) AS tfn
            FROM atf JOIN q USING (term)
            JOIN adl USING (doc_id) CROSS JOIN ast s
        ),
        u AS (SELECT * FROM btfn UNION ALL SELECT * FROM atfn),
        tfn AS (SELECT term, doc_id, SUM(tfn) AS tfn FROM u GROUP BY 1, 2),
        cdf AS (SELECT term, COUNT(DISTINCT doc_id) AS df
                FROM tfn GROUP BY 1),
        w AS (
            SELECT tfn.doc_id,
                   LN(1 + (s.n - cdf.df + 0.5) / (cdf.df + 0.5))
                   * tfn.tfn / (1.2 + tfn.tfn) AS wt
            FROM tfn JOIN cdf USING (term) CROSS JOIN stats s
        )
        SELECT doc_id, ROUND(SUM(wt), 4) AS score
        FROM w GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """
    return sql


def _oracle_sql_dict(bm25_terms: str) -> dict[str, str]:
    return {
        "term_doc_tf": f"""
            SELECT term, doc_id, CAST(COUNT(*) AS INT) AS tf
            FROM ({_TOK}) GROUP BY term, doc_id
        """,
        "term_stats": f"""
            WITH tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM ({_TOK}) GROUP BY 1, 2)
            SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf
            FROM tf GROUP BY term
        """,
        "corpus_stats": f"""
            WITH dl AS (SELECT doc_id, COUNT(*) AS dl FROM ({_TOK}) GROUP BY 1)
            SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_tokens,
                   ROUND(AVG(dl), 4) AS avgdl FROM dl
        """,
        "doc_lengths": f"""
            SELECT doc_id, COUNT(*) AS dl FROM ({_TOK}) GROUP BY doc_id
        """,
        "bm25_topk": f"""
            WITH tok AS ({_TOK}),
            tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
            stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            q(term) AS (VALUES {bm25_terms}),
            w AS (
                SELECT tf.doc_id,
                       LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
                FROM tf JOIN q USING (term) JOIN df USING (term)
                JOIN dl USING (doc_id) CROSS JOIN stats s
            )
            SELECT doc_id, ROUND(SUM(wt), 4) AS score
            FROM w GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 100
        """,
        # mirrors search.quantized_scored_frame(bits=8): the exact-int64
        # impact quantizer — am = floor(1000·total/n + ½) milli-avgdl,
        # N = 10·tf·am, D = N + 3·am + 9000·dl (≡ the BM25 tf/dl part
        # scaled by 10·am at k1=1.2, b=0.75), q = floor(255·N/D + ½) via
        # integer division ONLY (DuckDB // == Spark div, both exact on
        # BIGINT — a float division would flip boundary impacts);
        # weight = idf·2.2·q/255
        "quantized_topk": f"""
            WITH tok AS ({_TOK}),
            tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
            stats AS (SELECT COUNT(*) AS n,
                             CAST(SUM(dl) AS BIGINT) AS total FROM dl),
            am AS (SELECT n, (2000 * total + n) // (2 * n) AS am FROM stats),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            q(term) AS (VALUES {bm25_terms}),
            w AS (
                SELECT tf.doc_id,
                       LN(1 + (a.n - df.df + 0.5) / (df.df + 0.5)) * 2.2
                       * ((510 * (10 * tf.tf * a.am)
                           + (10 * tf.tf * a.am + 3 * a.am + 9000 * dl.dl))
                          // (2 * (10 * tf.tf * a.am + 3 * a.am
                                   + 9000 * dl.dl))) / 255.0 AS wt
                FROM tf JOIN q USING (term) JOIN df USING (term)
                JOIN dl USING (doc_id) CROSS JOIN am a
            )
            SELECT doc_id, ROUND(SUM(wt), 4) AS score
            FROM w GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 100
        """,
        # mirrors search.search_fuzzy(max_dist=1, prefix_len=1,
        # max_expansions=5): per misspelled token, vocabulary terms
        # sharing the first char within Levenshtein 1, boost
        # 1 − d/min(|q|,|v|), top-5 by (boost DESC, df DESC, term ASC);
        # BM25 weights multiplied by the summed per-variant boost.
        "fuzzy_topk": f"""
            WITH tok AS ({_TOK}),
            tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
            stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            q(qt) AS (VALUES ('sparkk'), ('qery'), ('joinn')),
            cand AS (
                SELECT q.qt, df.term, df.df,
                       levenshtein(q.qt, df.term) AS d
                FROM q JOIN df
                  ON substring(df.term, 1, 1) = substring(q.qt, 1, 1)
                 AND ABS(LENGTH(df.term) - LENGTH(q.qt)) <= 1
                WHERE levenshtein(q.qt, df.term) <= 1
            ),
            ranked AS (
                SELECT qt, term,
                       1.0 - d * 1.0 / LEAST(LENGTH(qt), LENGTH(term))
                           AS boost,
                       ROW_NUMBER() OVER (
                           PARTITION BY qt
                           ORDER BY 1.0 - d * 1.0
                                    / LEAST(LENGTH(qt), LENGTH(term)) DESC,
                                    df DESC, term ASC) AS rn
                FROM cand
            ),
            sel AS (SELECT term, SUM(boost) AS boost
                    FROM ranked WHERE rn <= 5 GROUP BY term),
            w AS (
                SELECT tf.doc_id,
                       sel.boost
                       * LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
                FROM tf JOIN sel USING (term) JOIN df USING (term)
                JOIN dl USING (doc_id) CROSS JOIN stats s
            )
            SELECT doc_id, ROUND(SUM(wt), 4) AS score
            FROM w GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 100
        """,
        # mirrors search.more_like_this(doc_id=3, max_query_terms=10):
        # source doc's top-10 terms by tf·idf ROUNDED TO 6dp (ties by
        # term ASC) → unweighted BM25, source excluded.
        "more_like_this": f"""
            WITH tok AS ({_TOK}),
            tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
            stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            src AS (
                SELECT tf.term,
                       ROUND(tf.tf * LN(s.n * 1.0 / df.df), 6) AS tfidf
                FROM tf JOIN df USING (term) CROSS JOIN stats s
                WHERE tf.doc_id = 3
            ),
            sel AS (SELECT term FROM src
                    ORDER BY tfidf DESC, term ASC LIMIT 10),
            w AS (
                SELECT tf.doc_id,
                       LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
                FROM tf JOIN sel USING (term) JOIN df USING (term)
                JOIN dl USING (doc_id) CROSS JOIN stats s
                WHERE tf.doc_id <> 3
            )
            SELECT doc_id, ROUND(SUM(wt), 4) AS score
            FROM w GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 100
        """,
        # page 2 of bm25_topk by rank rows 11-20 — the cursor-paging
        # identity (engine filters past the echoed rank-10 row instead)
        "bm25_page2": f"""
            WITH tok AS ({_TOK}),
            tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
            stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            q(term) AS (VALUES {bm25_terms}),
            w AS (
                SELECT tf.doc_id,
                       LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
                FROM tf JOIN q USING (term) JOIN df USING (term)
                JOIN dl USING (doc_id) CROSS JOIN stats s
            ),
            ranked AS (
                SELECT doc_id, ROUND(SUM(wt), 4) AS score,
                       ROW_NUMBER() OVER (
                           ORDER BY ROUND(SUM(wt), 4) DESC, doc_id ASC) AS rn
                FROM w GROUP BY doc_id
            )
            SELECT doc_id, score FROM ranked WHERE rn BETWEEN 11 AND 20
        """,
        "boolean_and": f"""
            WITH tok AS ({_TOK})
            SELECT DISTINCT doc_id FROM tok WHERE term = 'spark'
            AND doc_id IN (SELECT doc_id FROM tok WHERE term = 'vector')
        """,
        "boolean_or_not": f"""
            WITH tok AS ({_TOK})
            SELECT DISTINCT doc_id FROM tok
            WHERE term IN ('spark', 'vector')
            AND doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'dup')
        """,
        "phrase_match": f"""
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
            pos AS (SELECT doc_id, unnest(l) AS tok,
                           unnest(generate_series(1, len(l))) AS pos FROM t),
            a AS (SELECT doc_id, pos FROM pos WHERE tok = 'big'),
            b AS (SELECT doc_id, pos FROM pos WHERE tok = 'data')
            SELECT a.doc_id, COUNT(*) AS phrase_tf
            FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            GROUP BY a.doc_id
        """,
        # mirrors sloppy_occurrences(['big','data'], slop=2): greedy
        # chain = smallest 'data' position after each 'big' start, kept
        # when the span p1−p0 ≤ (m−1)+slop = 3
        "sloppy_phrase": f"""
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
            pos AS (SELECT doc_id, unnest(l) AS tok,
                           unnest(generate_series(1, len(l))) AS pos FROM t),
            a AS (SELECT doc_id, pos FROM pos WHERE tok = 'big'),
            b AS (SELECT doc_id, pos FROM pos WHERE tok = 'data'),
            chain AS (
                SELECT a.doc_id, a.pos AS p0,
                       (SELECT MIN(b.pos) FROM b
                        WHERE b.doc_id = a.doc_id AND b.pos > a.pos) AS p1
                FROM a
            )
            SELECT doc_id, COUNT(*) AS phrase_tf FROM chain
            WHERE p1 IS NOT NULL AND p1 - p0 <= 3
            GROUP BY doc_id
        """,
        "proximity_w5": f"""
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
            pos AS (SELECT doc_id, unnest(l) AS tok,
                           unnest(generate_series(1, len(l))) AS pos FROM t)
            SELECT DISTINCT a.doc_id
            FROM (SELECT doc_id, pos FROM pos WHERE tok = 'spark') a
            JOIN (SELECT doc_id, pos FROM pos WHERE tok = 'value') b
              ON a.doc_id = b.doc_id AND ABS(a.pos - b.pos) <= 5
        """,
        "vsm_topk": f"""
            WITH tok AS ({_TOK}),
            tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            stats AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            wd AS (SELECT tf.term, tf.doc_id,
                          CASE WHEN df.df >= s.n THEN 0.0
                               ELSE GREATEST((1 + LOG10(tf.tf))
                                    * LOG10((s.n - df.df) * 1.0 / df.df), 0.0)
                          END AS w
                   FROM tf JOIN df USING (term) CROSS JOIN stats s),
            dnorm AS (SELECT doc_id, SQRT(SUM(w * w)) AS dnorm FROM wd GROUP BY 1),
            q(term) AS (VALUES ('spark'), ('vector'), ('dup')),
            wq AS (SELECT q.term, LOG10(s.n * 1.0 / df.df) AS wq
                   FROM q JOIN df USING (term) CROSS JOIN stats s),
            qn AS (SELECT SQRT(SUM(wq * wq)) AS qnorm FROM wq),
            dot AS (SELECT wd.doc_id, SUM(wd.w * wq.wq) AS dot
                    FROM wd JOIN wq USING (term) GROUP BY 1)
            SELECT dot.doc_id,
                   CASE WHEN dnorm.dnorm > 0
                        THEN ROUND(dot.dot / (dnorm.dnorm * qn.qnorm), 4)
                        ELSE 0.0 END AS score
            FROM dot JOIN dnorm USING (doc_id) CROSS JOIN qn
        """,
        "lm_dirichlet": f"""
            WITH tok AS ({_TOK}),
            tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
            stats AS (SELECT COUNT(*) AS n, SUM(dl) AS lc FROM dl),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            q(term) AS (VALUES ('spark'), ('query')),
            w AS (SELECT tf.doc_id,
                         LN((tf.tf / 1089.0) * (s.lc * 1.0 / df.df) + 1.0) AS wt
                  FROM tf JOIN q USING (term) JOIN df USING (term)
                  CROSS JOIN stats s)
            SELECT w.doc_id,
                   ROUND(SUM(w.wt) + 2 * LN(1089.0 / (dl.dl + 1089.0)), 4) AS score
            FROM w JOIN dl USING (doc_id) GROUP BY w.doc_id, dl.dl
        """,
        "lm_mixed_phrase": f"""
            WITH tok AS ({_TOK}),
            tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
            stats AS (SELECT SUM(dl) AS lc FROM dl),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            ft AS (
                SELECT tf.doc_id,
                       LN((tf.tf / 1089.0) * (s.lc * 1.0 / df.df) + 1.0)
                       + LN(1089.0 / (dl.dl + 1089.0)) AS score
                FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                CROSS JOIN stats s
                WHERE tf.term = 'spark'
            ),
            t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
            pos AS (SELECT doc_id, unnest(l) AS tok2,
                           unnest(generate_series(1, len(l))) AS pos FROM t),
            a AS (SELECT doc_id, pos FROM pos WHERE tok2 = 'big'),
            b AS (SELECT doc_id, pos FROM pos WHERE tok2 = 'data'),
            occ AS (SELECT a.doc_id, COUNT(*) AS ptf
                    FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                    GROUP BY a.doc_id),
            pdf AS (SELECT COUNT(*) AS pdf FROM occ),
            ph AS (SELECT occ.doc_id,
                          LN((occ.ptf / 1089.0) * (s.lc * 1.0 / p.pdf) + 1.0)
                          AS score
                   FROM occ CROSS JOIN pdf p CROSS JOIN stats s),
            u AS (SELECT * FROM ft UNION ALL SELECT * FROM ph)
            SELECT doc_id, ROUND(SUM(score), 4) AS score
            FROM u GROUP BY doc_id
        """,
        "exact_dedup": """
            SELECT md5(text) AS text_hash, MIN(doc_id) AS doc_id,
                   COUNT(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "ngram_jaccard": """
            WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS l
                       FROM documents),
            g AS (SELECT doc_id, source,
                         list_distinct(list_transform(
                             generate_series(1, len(l) - 1),
                             i -> l[i] || ' ' || l[i + 1])) AS grams
                  FROM t)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   ROUND(len(list_intersect(a.grams, b.grams)) * 1.0
                         / len(list_distinct(list_concat(a.grams, b.grams))),
                         6) AS jaccard
            FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.grams, b.grams)) * 1.0
                  / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
        """,
        "token_count": r"""
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\s+'),
                                   x -> x <> '')) AS n_tokens,
                   CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS n_subwords
            FROM documents
        """,
        # rank on the SAME round-6 key the engine ranks on, then
        # double-round for output exactly like the entry does
        # (round(round(x,6),4) != round(x,4) near 4dp boundaries)
        "mmr_lambda1_identity": """
            SELECT vec_id, ROUND(c6, 4) AS cosine,
                   CAST(ROW_NUMBER() OVER (ORDER BY c6 DESC, vec_id ASC)
                        AS INT) AS rank
            FROM (
                SELECT vec_id,
                       ROUND(list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]),
                           (SELECT CAST(embedding AS DOUBLE[])
                            FROM embeddings WHERE vec_id = 0)), 6) AS c6
                FROM embeddings
                ORDER BY c6 DESC, vec_id ASC LIMIT 10
            )
        """,
        "cosine_topk": """
            SELECT vec_id, ROUND(c6, 4) AS cosine FROM (
                SELECT vec_id,
                       ROUND(list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]),
                           (SELECT CAST(embedding AS DOUBLE[])
                            FROM embeddings WHERE vec_id = 0)), 6) AS c6
                FROM embeddings
                ORDER BY c6 DESC, vec_id ASC LIMIT 10
            )
        """,
        "tumbling_counts": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "sessionize": """
            WITH marked AS (
                SELECT *,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                    > 1800000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            numbered AS (
                SELECT *, SUM(new_session) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_id
                FROM marked
            )
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end, COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS total_value
            FROM numbered GROUP BY user_id, session_id
        """,
        "session_cooccurrence": """
            WITH marked AS (
                SELECT *,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                    > 1800000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            numbered AS (
                SELECT *, SUM(new_session) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_id
                FROM marked
            ),
            mem AS (SELECT DISTINCT user_id, session_id, event_type
                    FROM numbered),
            tot AS (SELECT COUNT(*) AS n_total FROM
                    (SELECT DISTINCT user_id, session_id FROM mem)),
            singles AS (SELECT event_type, COUNT(*) AS n_type
                        FROM mem GROUP BY 1),
            pairs AS (
                SELECT a.event_type AS type_a, b.event_type AS type_b,
                       COUNT(*) AS n_sessions
                FROM mem a JOIN mem b
                  ON a.user_id = b.user_id
                 AND a.session_id = b.session_id
                 AND a.event_type < b.event_type
                GROUP BY 1, 2
                HAVING COUNT(*) >= 2
            )
            SELECT type_a, type_b, n_sessions,
                   ROUND(n_sessions * (SELECT n_total FROM tot) * 1.0
                         / (sa.n_type * sb.n_type), 6) AS lift
            FROM pairs
            JOIN singles sa ON sa.event_type = type_a
            JOIN singles sb ON sb.event_type = type_b
        """,
        "user_stats": """
            SELECT user_id, COUNT(*) AS n_events,
                   COUNT(DISTINCT event_type) AS n_types,
                   ROUND(AVG(value), 4) AS mean_value,
                   ROUND(MAX(value), 4) AS max_value,
                   ROUND(quantile_cont(value, 0.5), 4) AS p50_value,
                   ROUND(quantile_cont(value, 0.95), 4) AS p95_value
            FROM events GROUP BY user_id
        """,
        "window_topk": """
            WITH c AS (
                SELECT date_trunc('hour', ts) AS window_start, event_type,
                       COUNT(*) AS n
                FROM events GROUP BY 1, 2
            )
            SELECT window_start, event_type, n, rnk FROM (
                SELECT *, ROW_NUMBER() OVER
                    (PARTITION BY window_start
                     ORDER BY n DESC, event_type ASC) AS rnk
                FROM c
            ) WHERE rnk <= 3
        """,
        "quality_score": _quality_score_sql(),
        # Gopher rules (Rae et al. 2021 §A1.1): every feature recomputed
        # from scratch in DuckDB — word split is the same ASCII \s+
        # class, ellipsis counts both '...' (non-overlapping, via the
        # replace-length trick both engines share) and U+2026.
        "gopher_quality": r"""
            WITH feats AS (
                SELECT doc_id, coalesce(text, '') AS t,
                       list_filter(string_split_regex(coalesce(text, ''),
                                                      '\s+'),
                                   x -> x != '') AS words,
                       string_split(coalesce(text, ''), chr(10)) AS lines
                FROM documents
            ), agg AS (
                SELECT doc_id, len(words) AS n_words, len(lines) AS n_lines,
                       length(regexp_replace(t, '\s+', '', 'g')) AS char_sum,
                       len(list_filter(words,
                           w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
                       len(list_intersect(
                           list_distinct(list_transform(words,
                                                        w -> lower(w))),
                           ['the','be','to','of','and','that','have','with']
                       )) AS n_stop,
                       length(t) - length(replace(t, '#', '')) AS n_hash,
                       (length(t) - length(replace(t, '...', ''))) / 3
                           AS n_dots,
                       length(t) - length(replace(t, '…', '')) AS n_uell,
                       len(list_filter(lines,
                           l -> regexp_matches(l, '^[ \t]*[-*•]')))
                           AS n_bullet,
                       len(list_filter(lines,
                           l -> regexp_matches(l, '(\.\.\.|…)[ \t]*$')))
                           AS n_ell_end
                FROM feats
            ), cols AS (
                SELECT doc_id, n_words,
                       CASE WHEN n_words > 0
                            THEN round(char_sum * 1.0 / n_words, 6)
                            ELSE 0.0 END AS mean_word_len,
                       CASE WHEN n_words > 0
                            THEN round(n_alpha * 1.0 / n_words, 6)
                            ELSE 0.0 END AS frac_alpha,
                       n_stop AS n_stop_hits,
                       CASE WHEN n_words > 0
                            THEN round((n_hash + n_dots + n_uell) * 1.0
                                       / n_words, 6)
                            ELSE 0.0 END AS symbol_ratio,
                       round(n_bullet * 1.0 / n_lines, 6) AS bullet_frac,
                       round(n_ell_end * 1.0 / n_lines, 6) AS ellipsis_frac
                FROM agg
            )
            SELECT *,
                   (n_words BETWEEN 50 AND 100000
                    AND mean_word_len BETWEEN 3.0 AND 10.0
                    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
                    AND ellipsis_frac <= 0.3 AND frac_alpha >= 0.8
                    AND n_stop_hits >= 2) AS gopher_pass
            FROM cols
        """,
        # C4 cleanup, the q_c4_line_filter parameterization: line rule =
        # ≥35 ASCII-\s+ words AND no 'javascript'; page rule chain
        # brace → lorem_ipsum → too_few_lines(<1 kept).
        "c4_filters": r"""
            WITH ln AS (
                SELECT doc_id, coalesce(text, '') AS t,
                       string_split(coalesce(text, ''), chr(10)) AS lines
                FROM documents
            ), k AS (
                SELECT doc_id, t, lines,
                       list_filter(lines, l ->
                           len(list_filter(string_split_regex(l, '\s+'),
                                           x -> x != '')) >= 35
                           AND NOT contains(lower(l), 'javascript')) AS kept
                FROM ln
            )
            SELECT doc_id,
                   -- array_to_string([]) is NULL in DuckDB but
                   -- array_join([]) is '' in Spark; pin ''
                   coalesce(array_to_string(kept, chr(10)), '') AS text,
                   len(lines) AS n_lines, len(kept) AS n_lines_kept,
                   CASE WHEN contains(t, '{') THEN 'brace'
                        WHEN contains(lower(t), 'lorem ipsum')
                             THEN 'lorem_ipsum'
                        WHEN len(kept) < 1 THEN 'too_few_lines'
                   END AS killed_by
            FROM k
        """,
        # mirrors classifier.classifier_scores(QUALITY_CLF_W) over
        # doc_features(quality_score): σ of the LEFT-FOLD dot product
        # (addition order matters at the ulp level — the SQL mirrors the
        # engine's fold exactly), features pre-rounded to 6dp upstream
        "quality_classifier": f"""
            WITH q AS ({_quality_score_sql()})
            SELECT doc_id,
                   ROUND(1.0 / (1.0 + EXP(-(
                       -6.0 * 1.0
                       + 0.8 * LN(1 + n_tokens)
                       + 2.0 * distinct_ratio
                       + 1.5 * stopword_ratio
                       + 0.5 * (mean_token_len / 10.0)))), 6) AS prob
            FROM q
        """,
        # mirrors corpusstats.collocations(k=30, min_count=3): N/B from
        # doc token counts, min_count cut before the unigram joins, the
        # SAME double-division parenthesization, pmi6 rank key
        "collocations": r"""
            WITH w AS (SELECT list_filter(regexp_split_to_array(
                           lower(COALESCE(text, '')), '\s+'),
                           x -> x != '') AS toks
                       FROM documents),
            s AS (SELECT SUM(len(toks)) AS n,
                         SUM(GREATEST(len(toks) - 1, 0)) AS b FROM w),
            g AS (SELECT unnest(list_transform(
                      generate_series(1, greatest(len(toks) - 1, 0)),
                      i -> array_to_string(toks[i:i+1], ' '))) AS gram
                  FROM w),
            pc AS (SELECT gram, COUNT(*) AS n_ab FROM g
                   GROUP BY gram HAVING COUNT(*) >= 3),
            p AS (SELECT string_split(gram, ' ')[1] AS w1,
                         string_split(gram, ' ')[2] AS w2, n_ab FROM pc),
            uc AS (SELECT w, COUNT(*) AS n_w
                   FROM (SELECT unnest(toks) AS w FROM w) GROUP BY w),
            j AS (SELECT p.w1, p.w2, p.n_ab,
                         ua.n_w AS n_a, ub.n_w AS n_b
                  FROM p JOIN uc ua ON ua.w = p.w1
                         JOIN uc ub ON ub.w = p.w2)
            SELECT w1, w2, n_ab, ROUND(pmi6, 4) AS pmi FROM (
                SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
                       ROUND(LN((CAST(n_ab AS DOUBLE) / s.b)
                           / ((CAST(n_a AS DOUBLE) / s.n)
                              * (CAST(n_b AS DOUBLE) / s.n))), 6) AS pmi6
                FROM j CROSS JOIN s
                ORDER BY pmi6 DESC, w1 ASC, w2 ASC LIMIT 30
            )
        """,
        # mirrors search_prefix(['hash'], ['so','vec'], max_expansions=3):
        # per-prefix LIKE expansion cut by (df DESC, term ASC), clause
        # boosts summed per term (literal 'hash' is one more clause),
        # then the fuzzy_topk BM25 formula
        "prefix_topk": f"""
            WITH tok AS ({_TOK}),
            tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
            stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            q(qt) AS (VALUES ('so'), ('vec')),
            ranked AS (
                SELECT q.qt, df.term,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.qt
                           ORDER BY df.df DESC, df.term ASC) AS rn
                FROM q JOIN df ON df.term LIKE q.qt || '%'
            ),
            clauses AS (
                SELECT term, 1.0 AS boost FROM ranked WHERE rn <= 3
                UNION ALL SELECT 'hash', 1.0
            ),
            sel AS (SELECT term, SUM(boost) AS boost
                    FROM clauses GROUP BY term),
            w AS (
                SELECT tf.doc_id,
                       sel.boost
                       * LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
                FROM tf JOIN sel USING (term) JOIN df USING (term)
                JOIN dl USING (doc_id) CROSS JOIN stats s
            )
            SELECT doc_id, ROUND(SUM(wt), 4) AS score
            FROM w GROUP BY doc_id
            ORDER BY score DESC, doc_id ASC LIMIT 100
        """,
        # mirrors clustering.kmeans_assign with centroids = the
        # KMEANS_SEED_IDS embeddings: round-6 cosine rank key (the
        # cosine_topk convention), argmax via row_number, round-4 output
        "kmeans_assign": """
            WITH c AS (
                SELECT 0 AS cluster, (SELECT CAST(embedding AS DOUBLE[])
                    FROM embeddings WHERE vec_id = 0) AS cv
                UNION ALL SELECT 1, (SELECT CAST(embedding AS DOUBLE[])
                    FROM embeddings WHERE vec_id = 17)
                UNION ALL SELECT 2, (SELECT CAST(embedding AS DOUBLE[])
                    FROM embeddings WHERE vec_id = 42)
                UNION ALL SELECT 3, (SELECT CAST(embedding AS DOUBLE[])
                    FROM embeddings WHERE vec_id = 99)
            ), s AS (
                SELECT e.vec_id, c.cluster,
                       ROUND(list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), c.cv), 6) AS sim
                FROM embeddings e CROSS JOIN c
            )
            SELECT vec_id, CAST(cluster AS BIGINT) AS cluster
            FROM (
                SELECT vec_id, cluster, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY sim DESC, cluster ASC) AS rn
                FROM s
            ) WHERE rn = 1
        """,
        # mirrors vectorize.hashed_tf(dim=128): the hash_bucket md5
        # trick on raw whitespace tokens, integer counts
        "hashed_tf": f"""
            SELECT doc_id,
                   CAST(('0x' || substr(md5(term || 'htf:'), 1, 8))
                        AS BIGINT) % 128 AS bucket,
                   COUNT(*) AS tf
            FROM ({_TOK}) WHERE term <> '' GROUP BY 1, 2
        """,
        # mirrors events.decayed_counts(half_life=1440 min, as_of=max ts):
        # exact integer-µs ages, 2^(−age/hl) weights, round-4 sum
        "decayed_counts": """
            SELECT user_id, event_type, COUNT(*) AS n_events,
                   ROUND(SUM(POWER(2.0,
                       -((SELECT epoch_us(MAX(ts)) FROM events)
                         - epoch_us(ts)) / 86400000000.0)), 4) AS decayed_n
            FROM events GROUP BY user_id, event_type
        """,
        # mirrors q_crawl_diff: the same derived second crawl, full
        # outer join on md5(COALESCE(text,'')) digests
        "crawl_diff": """
            WITH old AS (SELECT doc_id,
                                md5(COALESCE(text, '')) AS h
                         FROM documents),
            kept AS (SELECT doc_id,
                            CASE WHEN doc_id % 11 = 0
                                 THEN md5(COALESCE(text, '') || ' updated')
                                 ELSE md5(COALESCE(text, '')) END AS h
                     FROM documents WHERE doc_id % 7 != 0),
            added AS (SELECT doc_id + 100000 AS doc_id,
                             md5(COALESCE(text, '')) AS h
                      FROM documents WHERE doc_id % 13 = 0),
            new AS (SELECT * FROM kept UNION ALL SELECT * FROM added)
            SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN o.h = n.h THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        """,
        # mirrors curate_with_lineage over the deterministic pipeline:
        # first-kill CASE in stage order; the exact-dedup keeper is the
        # min doc_id per md5(text) among docs ALIVE at that stage
        "curated_kills": f"""
            WITH lang AS ({_language_id_sql()}),
            q AS ({_quality_score_sql()}),
            clf AS (
                SELECT doc_id,
                       ROUND(1.0 / (1.0 + EXP(-(
                           -6.0 * 1.0
                           + 0.8 * LN(1 + n_tokens)
                           + 2.0 * distinct_ratio
                           + 1.5 * stopword_ratio
                           + 0.5 * (mean_token_len / 10.0)))), 6) AS prob
                FROM q
            ),
            labeled AS (
                SELECT d.doc_id, d.text,
                       CASE WHEN lang.pred_lang NOT IN ('en')
                                THEN 'language'
                            WHEN NOT (q.quality >= 0.5
                                      AND q.n_tokens BETWEEN 20 AND 1000)
                                THEN 'quality'
                            WHEN clf.prob < 0.19 THEN 'quality_clf'
                            ELSE NULL END AS k1
                FROM documents d
                JOIN lang USING (doc_id) JOIN q USING (doc_id)
                JOIN clf USING (doc_id)
            ),
            reps AS (
                SELECT MIN(doc_id) AS keeper FROM labeled
                WHERE k1 IS NULL GROUP BY md5(text)
            )
            SELECT doc_id,
                   COALESCE(k1, CASE WHEN doc_id IN
                       (SELECT keeper FROM reps) THEN 'survived'
                       ELSE 'exact_dedup' END) AS killed_by
            FROM labeled
        """,
        # curated_corpus plus the learned-classifier stage: same CTEs,
        # one more row-local condition (σ(w·x) ≥ 0.19 at pinned weights,
        # the quality_classifier formula inlined over q)
        "curated_corpus_clf": f"""
            WITH lang AS ({_language_id_sql()}),
            q AS ({_quality_score_sql()}),
            clf AS (
                SELECT doc_id,
                       ROUND(1.0 / (1.0 + EXP(-(
                           -6.0 * 1.0
                           + 0.8 * LN(1 + n_tokens)
                           + 2.0 * distinct_ratio
                           + 1.5 * stopword_ratio
                           + 0.5 * (mean_token_len / 10.0)))), 6) AS prob
                FROM q
            ),
            keep AS (
                SELECT d.doc_id, d.text
                FROM documents d
                JOIN lang USING (doc_id) JOIN q USING (doc_id)
                JOIN clf USING (doc_id)
                WHERE lang.pred_lang IN ('en') AND q.quality >= 0.5
                  AND q.n_tokens BETWEEN 20 AND 1000 AND clf.prob >= 0.19
            )
            SELECT MIN(doc_id) AS doc_id FROM keep GROUP BY md5(text)
        """,
        "curated_corpus": f"""
            WITH lang AS ({_language_id_sql()}),
            q AS ({_quality_score_sql()}),
            keep AS (
                SELECT d.doc_id, d.text
                FROM documents d
                JOIN lang USING (doc_id) JOIN q USING (doc_id)
                WHERE lang.pred_lang IN ('en') AND q.quality >= 0.5
                  AND q.n_tokens BETWEEN 20 AND 1000
            )
            SELECT MIN(doc_id) AS doc_id FROM keep GROUP BY md5(text)
        """,
        "language_id": _language_id_sql(),
        "simhash_near_dups": """
            -- COALESCE mirrors the engine (simhash64 maps NULL text to ""
            -- → a constant hash, so NULL-text docs ENTER the pair set);
            -- DuckDB's string_split(NULL) is NULL and would silently drop
            -- them from the oracle side
            WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS l
                       FROM documents),
            h AS (SELECT doc_id, len(l) AS n,
                    list_transform(l, x ->
                        CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hhi,
                    list_transform(l, x ->
                        CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT)) AS hlo
                  FROM t),
            tok AS (SELECT doc_id, n, unnest(hhi) AS hi, unnest(hlo) AS lo FROM h),
            bits AS (SELECT unnest(generate_series(0, 31)) AS b),
            agg AS (SELECT doc_id, b, MAX(n) AS n,
                      SUM((hi >> b) & 1) AS chi, SUM((lo >> b) & 1) AS clo
                    FROM tok CROSS JOIN bits GROUP BY doc_id, b),
            halves AS (SELECT doc_id,
                      CAST(SUM(CASE WHEN chi * 2 > n
                               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                           AS BIGINT) AS shhi,
                      CAST(SUM(CASE WHEN clo * 2 > n
                               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                           AS BIGINT) AS shlo
                    FROM agg GROUP BY doc_id),
            -- two's-complement recombination of the 32-bit halves
            -- (matches Spark's shiftleft(shhi, 32) | shlo on LongType)
            sim AS (SELECT doc_id,
                       CASE WHEN shhi >= 2147483648
                            THEN (shhi - 4294967296) * 4294967296 + shlo
                            ELSE shhi * 4294967296 + shlo END AS simhash
                    FROM halves),
            grp AS (SELECT simhash, MIN(doc_id) AS rep FROM sim GROUP BY simhash),
            stars AS (SELECT g.rep AS doc_a, s.doc_id AS doc_b,
                             CAST(0 AS BIGINT) AS hamming
                      FROM sim s JOIN grp g USING (simhash)
                      WHERE s.doc_id <> g.rep),
            reps AS (SELECT rep AS doc_id, simhash FROM grp),
            crossp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                              CAST(bit_count(xor(a.simhash, b.simhash))
                                   AS BIGINT) AS hamming
                       FROM reps a JOIN reps b ON a.doc_id < b.doc_id
                       WHERE bit_count(xor(a.simhash, b.simhash)) <= 8)
            SELECT * FROM stars UNION ALL SELECT * FROM crossp
        """,
        "minhash_survivors": """
            WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l
                       FROM documents),
            f AS (SELECT doc_id, text, l,
                         (text IS NULL OR text = '' OR len(l) < 3) AS degen
                  FROM t),
            degen_surv AS (SELECT MIN(doc_id) AS doc_id FROM f
                           WHERE degen GROUP BY text),
            g AS (SELECT doc_id,
                    list_distinct(list_transform(
                        generate_series(1, greatest(len(l) - 2, 1)),
                        i -> array_to_string(list_slice(l, i, i + 2), ' ')))
                        AS grams
                  FROM f WHERE NOT degen),
            dropped AS (SELECT DISTINCT b.doc_id
                        FROM g a JOIN g b ON a.doc_id < b.doc_id
                        WHERE len(list_intersect(a.grams, b.grams)) * 1.0
                              / len(list_distinct(list_concat(a.grams, b.grams)))
                              >= 0.7)
            SELECT doc_id FROM f WHERE NOT degen
                AND doc_id NOT IN (SELECT doc_id FROM dropped)
            UNION ALL SELECT doc_id FROM degen_surv
        """,
        "near_dup_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE ROUND(list_cosine_similarity(
                      CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
        """,
        # mirrors sampling.hash_bucket with assign_splits' purpose salt
        # ('split:'): first 8 md5 hex digits of key||salt as an unsigned
        # 32-bit int, mod 10000; cuts at 8000/9000
        "train_split": """
            SELECT doc_id,
                   CASE WHEN b < 8000 THEN 'train'
                        WHEN b < 9000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                                  || 'split:'),
                                              1, 8)) AS BIGINT) % 10000 AS b
                  FROM documents)
        """,
        # DuckDB runs the global ordered window single-threaded — the
        # semantics the engine's chunked distributed prefix sum must match
        "pack_sequences": r"""
            WITH t AS (
                SELECT doc_id,
                       CAST(len(list_filter(
                           regexp_split_to_array(text, '\s+'),
                           x -> x <> '')) AS BIGINT) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
                FROM t
            )
            SELECT doc_id, n_tokens,
                   end_tok - n_tokens AS begin_tok,
                   CAST((end_tok - n_tokens) // 512 AS BIGINT) AS seq_first,
                   CAST(CASE WHEN n_tokens > 0 THEN (end_tok - 1) // 512
                             ELSE (end_tok - n_tokens) // 512
                        END AS BIGINT) AS seq_last
            FROM c
        """,
        "knn_join": """
            WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
            s AS (SELECT q_id, c_id,
                         ROUND(list_cosine_similarity(q.v, c.v), 6) AS cosine
                  FROM q CROSS JOIN c WHERE q_id <> c_id)
            SELECT q_id, c_id, cosine, rank FROM (
                SELECT *, ROW_NUMBER() OVER
                    (PARTITION BY q_id
                     ORDER BY cosine DESC, c_id ASC) AS rank
                FROM s
            ) WHERE rank <= 5
        """,
        # identical semantics to cosine_topk but against the vec_id=1
        # query vector: the engine side routes through the full IVF path
        # with nprobe = all cells, which must degenerate to brute force;
        # same round-6 rank key + double-rounded output as cosine_topk
        "ivf_topk_identity": """
            SELECT vec_id, ROUND(c6, 4) AS cosine FROM (
                SELECT vec_id,
                       ROUND(list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]),
                           (SELECT CAST(embedding AS DOUBLE[])
                            FROM embeddings WHERE vec_id = 1)), 6) AS c6
                FROM embeddings
                ORDER BY c6 DESC, vec_id ASC LIMIT 10
            )
        """,
        # mirrors bpe.word_counts + the deterministic top-100 cap; the
        # pretoken regex is shared with bpe_pretokens (one source of
        # truth, RE2-safe on both engines)
        "bpe_top_words": _bpe_top_words_sql(),
        # the n_centroids=1 identity: survivor iff no lower-id vector sits
        # at round-6 cosine >= 0.4 (same rounding-then-threshold contract
        # as near_dup_pairs)
        "semdedup_survivors": """
            SELECT e.vec_id FROM embeddings e
            WHERE NOT EXISTS (
                SELECT 1 FROM embeddings o
                WHERE o.vec_id < e.vec_id
                  AND ROUND(list_cosine_similarity(
                          CAST(o.embedding AS DOUBLE[]),
                          CAST(e.embedding AS DOUBLE[])), 6) >= 0.4
            )
        """,
        # identical semantics against the vec_id=2 query vector: the
        # engine routes through PQ fit→assign→ADC→refine with refine =
        # table size, which must degenerate to brute force
        "pq_refine_identity": """
            SELECT vec_id, ROUND(c6, 4) AS cosine FROM (
                SELECT vec_id,
                       ROUND(list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]),
                           (SELECT CAST(embedding AS DOUBLE[])
                            FROM embeddings WHERE vec_id = 2)), 6) AS c6
                FROM embeddings
                ORDER BY c6 DESC, vec_id ASC LIMIT 10
            )
        """,
        # mirrors decontam.decontaminate(n=3): word 3-grams hashed to
        # their first 16 md5 hex chars; any doc sharing a gram hash with
        # the eval set (doc_id % 97 == 0) is dropped. toks[i:i+2] is
        # DuckDB's INCLUSIVE 3-element slice == Spark's slice(toks,i,3)
        "decontaminate": r"""
            WITH w AS (SELECT doc_id,
                              list_filter(regexp_split_to_array(
                                  lower(COALESCE(text, '')), '\s+'),
                                  x -> x != '') AS toks
                       FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_transform(
                             generate_series(1, greatest(len(toks) - 2, 0)),
                             i -> substr(md5(array_to_string(
                                 toks[i:i+2], ' ')), 1, 16))) AS gh
                  FROM w),
            eg AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
            flagged AS (SELECT DISTINCT doc_id FROM g JOIN eg USING (gh))
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
        """,
        # mirrors sampling.shuffle_shards(n_shards=8): order key =
        # md5(doc_id || 'order:'), shard = top 32 bits scaled into 8
        # contiguous ranges, pos = rank within shard by the full key
        "shuffle_shards": """
            SELECT doc_id,
                   (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                             || 'order:'), 1, 8))
                         AS BIGINT) * 8) >> 32 AS shard,
                   ROW_NUMBER() OVER (
                       PARTITION BY (CAST(('0x' || substr(
                           md5(CAST(doc_id AS VARCHAR) || 'order:'), 1, 8))
                           AS BIGINT) * 8) >> 32
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || 'order:'),
                                doc_id) AS pos
            FROM documents
        """,
        "pii_scrub": _pii_scrub_sql(),
        "repetition_stats": r"""
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split(COALESCE(text, ''), chr(10)),
                                   x -> x <> '') AS lines,
                       list_filter(regexp_split_to_array(COALESCE(text, ''),
                                                         '\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ),
            bg AS (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i + 1])) AS bg
                FROM base
            ),
            agg AS (
                SELECT doc_id, MAX(c) AS top, CAST(SUM(c) AS BIGINT) AS tot
                FROM (SELECT doc_id, bg, COUNT(*) AS c
                      FROM bg GROUP BY doc_id, bg)
                GROUP BY doc_id
            )
            SELECT b.doc_id, CAST(len(lines) AS INT) AS n_lines,
                   CASE WHEN len(lines) > 0
                        THEN ROUND(1.0 - len(list_distinct(lines)) * 1.0
                                   / len(lines), 6)
                        ELSE 0.0 END AS dup_line_ratio,
                   COALESCE(ROUND(top * 1.0 / tot, 6), 0.0)
                       AS top_bigram_frac
            FROM base b LEFT JOIN agg USING (doc_id)
        """,
        # mirrors sampling.rebalance_mixture: N = min(count/weight),
        # per-domain cut = floor(weight*N/count*10000) on the md5 bucket
        # with the 'mixture:' purpose salt (same double-op order as the
        # Python side — bit-identical); the binding domain (c/wt = N)
        # clamps to 10000 exactly, as the engine does
        "mixture_rebalance": """
            WITH w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.3),
                                          ('src2', 0.2)),
            cnt AS (SELECT source, COUNT(*) AS c FROM documents
                    GROUP BY source),
            j AS (SELECT w.source, w.wt, cnt.c FROM w JOIN cnt USING (source)),
            n AS (SELECT MIN(c / wt) AS nn FROM j),
            cuts AS (SELECT source,
                            CASE WHEN c / wt = (SELECT nn FROM n) THEN 10000
                                 ELSE FLOOR(wt * (SELECT nn FROM n)
                                            / c * 10000)
                            END AS cut
                     FROM j)
            SELECT d.doc_id, d.source
            FROM documents d JOIN cuts USING (source)
            WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                           || 'mixture:'), 1, 8))
                       AS BIGINT) % 10000 < cut
        """,
        # mirrors q_url_dedup: same three URL spellings synthesized per
        # doc, canonicalized by the shared rule generator
        # (urls.oracle_canonical_sql — one source of truth), min doc_id
        # per canonical URL
        "url_dedup": _url_dedup_sql(),
        # mirrors textquality.unigram_logprob: corpus unigram model
        # p(w) = cf/total over lowercased \s+ tokens; per-doc mean of
        # -log2 p; empty docs get (0, 0.0)
        "unigram_logprob": r"""
            WITH t AS (SELECT doc_id,
                              unnest(list_filter(regexp_split_to_array(
                                  lower(COALESCE(text, '')), '\s+'),
                                  x -> x != '')) AS tok
                       FROM documents),
            cf AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
            tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM t),
            d AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                         ROUND(AVG(-log2(cf.c / (SELECT n FROM tot))), 6)
                             AS bits_per_token
                  FROM t JOIN cf USING (tok) GROUP BY t.doc_id)
            SELECT doc.doc_id,
                   COALESCE(d.n_tokens, 0) AS n_tokens,
                   COALESCE(d.bits_per_token, 0.0) AS bits_per_token
            FROM documents doc LEFT JOIN d USING (doc_id)
        """,
        # winnowing: k=5 gram hashes (decontam's md5-16 contract, and
        # toks[i:i+4] is DuckDB's inclusive 5-element slice), w=4
        # window minima are lexicographic == numeric on the hex prefix
        "winnow_fingerprints": r"""
            WITH w AS (SELECT doc_id,
                              list_filter(regexp_split_to_array(
                                  lower(COALESCE(text, '')), '\s+'),
                                  x -> x != '') AS toks
                       FROM documents),
            g AS (SELECT doc_id,
                         list_transform(
                             generate_series(1, greatest(len(toks) - 4, 0)),
                             i -> substr(md5(array_to_string(
                                 toks[i:i+4], ' ')), 1, 16)) AS hs
                  FROM w WHERE len(toks) >= 8),
            f AS (SELECT doc_id,
                         unnest(list_distinct(list_transform(
                             generate_series(1, greatest(len(hs) - 3, 0)),
                             j -> list_min(hs[j:j+3])))) AS fp
                  FROM g)
            SELECT doc_id, fp FROM f
        """,
        # interpolated bigram LM (λ=0.8): bigrams from 1-based inclusive
        # list slicing, history counts from the bigram table itself
        # (NOT unigram cf — final tokens are no one's history), unigram
        # interpolation over the same whitespace tokenization as above
        "bigram_logprob": r"""
            WITH w AS (SELECT doc_id,
                              list_filter(regexp_split_to_array(
                                  lower(COALESCE(text, '')), '\s+'),
                                  x -> x != '') AS toks
                       FROM documents),
            t AS (SELECT doc_id, unnest(toks) AS tok FROM w),
            bg AS (SELECT doc_id,
                          unnest(list_transform(
                              generate_series(1, greatest(len(toks) - 1, 0)),
                              i -> toks[i] || ' ' || toks[i + 1])) AS gram
                   FROM w),
            cb AS (SELECT gram, COUNT(*) AS c FROM bg GROUP BY gram),
            hist AS (SELECT split_part(gram, ' ', 1) AS w1, COUNT(*) AS c
                     FROM bg GROUP BY 1),
            cf AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
            tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM t),
            d AS (SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                         ROUND(AVG(-log2(
                             0.8 * cb.c / hist.c
                             + 0.2 * cf.c / (SELECT n FROM tot))), 6)
                             AS bits_per_token
                  FROM bg
                  JOIN cb USING (gram)
                  JOIN hist ON split_part(bg.gram, ' ', 1) = hist.w1
                  JOIN cf ON split_part(bg.gram, ' ', 2) = cf.tok
                  GROUP BY bg.doc_id)
            SELECT doc.doc_id,
                   COALESCE(d.n_bigrams, 0) AS n_bigrams,
                   COALESCE(d.bits_per_token, 0.0) AS bits_per_token
            FROM documents doc LEFT JOIN d USING (doc_id)
        """,
        # mirrors q_pagerank: the same synthetic quadratic link graph and
        # the power iteration unrolled as one CTE chain per iteration
        # (graph.pagerank_oracle_sql — shared formula/damping/iterations)
        "pagerank": _pagerank_sql(),
        # HITS over the same synthetic graph, mutual reinforcement
        # unrolled (graph.hits_oracle_sql — shared edge formula)
        "hits_scores": _hits_sql(),
        # host-level entries: URL synth shared via _SYNTH_URL_SQL, host/
        # domain/canonical expressions generated by the same builders the
        # engine columns come from (hosts.oracle_*_sql, urls.oracle_*)
        "host_stats": _host_stats_sql(),
        "domain_block": _domain_block_sql(),
        # mirrors q_top_bigrams: generator shares n/k/tokenize/tie-break
        "top_bigrams": _top_bigrams_sql(),
        # mirrors q_bm25_pagerank_topk: the bm25_topk CTEs + the spliced
        # power-iteration chain (graph.pagerank_oracle_parts — CTE names
        # verified disjoint), blended with the same lam/log mixture
        "bm25_pagerank_topk": _bm25_pagerank_sql(bm25_terms),
        # mirrors q_anchor_bm25_topk: body bm25 CTEs + an anchor-field
        # bm25 block over the same synthetic edges/anchor formula, full
        # outer join, 0.5 anchor weight
        "anchor_bm25_topk": _anchor_bm25_sql(),
        # mirrors q_dup_components: same hub-and-spoke pair synth; the
        # component of a node = MIN over its recursive reachability set
        # (symmetric edges), DuckDB's WITH RECURSIVE doing the closure
        "dup_components": r"""
            WITH RECURSIVE p AS (
                SELECT doc_id AS doc_a, doc_id % 40 AS doc_b
                FROM documents WHERE doc_id % 3 = 0
                UNION ALL
                SELECT doc_id, (doc_id * doc_id) % 35
                FROM documents WHERE doc_id % 3 = 1
            ),
            e AS (
                SELECT doc_a AS a, doc_b AS b FROM p WHERE doc_a <> doc_b
                UNION
                SELECT doc_b, doc_a FROM p WHERE doc_a <> doc_b
            ),
            reach(node, lab) AS (
                SELECT a, a FROM (SELECT DISTINCT a FROM e)
                UNION
                SELECT e.a, reach.lab FROM e JOIN reach ON e.b = reach.node
            )
            SELECT node AS doc_id, MIN(lab) AS rep
            FROM reach GROUP BY node
        """,
        # mirrors textquality.dedup_lines(min_docs=2): boilerplate =
        # non-empty lines in >=2 DISTINCT docs; empty lines pass; texts
        # rebuilt in original line order; all-boilerplate docs -> ''
        "dedup_lines": r"""
            WITH w AS (SELECT doc_id,
                              string_split(COALESCE(text, ''), chr(10)) AS ls
                       FROM documents),
            l AS (SELECT doc_id,
                         unnest(generate_series(1, len(ls))) AS pos,
                         unnest(ls) AS line
                  FROM w),
            boil AS (SELECT line
                     FROM (SELECT line, COUNT(DISTINCT doc_id) AS nd
                           FROM l WHERE line <> '' GROUP BY line)
                     WHERE nd >= 2),
            keep AS (SELECT doc_id, pos, line FROM l
                     WHERE line NOT IN (SELECT line FROM boil)),
            reb AS (SELECT doc_id,
                           string_agg(line, chr(10) ORDER BY pos) AS text,
                           COUNT(*) AS n_kept
                    FROM keep GROUP BY doc_id),
            tot AS (SELECT doc_id, COUNT(*) AS n_all FROM l GROUP BY doc_id)
            SELECT d.doc_id, COALESCE(reb.text, '') AS text,
                   CAST(tot.n_all - COALESCE(reb.n_kept, 0) AS BIGINT)
                       AS n_lines_dropped
            FROM documents d JOIN tot USING (doc_id)
            LEFT JOIN reb USING (doc_id)
        """,
        # mirrors dedup.strip_dup_spans(w=8, min_count=2): any exact
        # 8-token window occurring 2+ times corpus-wide (within-doc
        # repeats count) marks its 8 tokens at EVERY occurrence;
        # overlapping marks merge; survivors rejoin with single spaces.
        # Cover here is the readable quadratic EXISTS; the engine's
        # running-max window is the linear equivalent.
        "dup_spans": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(COALESCE(text, ''),
                                                       '\s+'),
                                 x -> x <> '') AS toks
              FROM documents),
            tok AS (SELECT doc_id,
                           unnest(generate_series(1, len(toks))) AS j,
                           unnest(toks) AS tok
                    FROM base),
            pos AS (SELECT doc_id,
                           unnest(generate_series(
                               1, GREATEST(len(toks) - 7, 0))) AS pos,
                           toks
                    FROM base),
            gh AS (SELECT doc_id, pos,
                          substring(md5(array_to_string(
                              toks[pos : pos + 7], ' ')), 1, 16) AS gh
                   FROM pos),
            dup AS (SELECT gh FROM gh GROUP BY gh HAVING COUNT(*) >= 2),
            starts AS (SELECT doc_id, pos FROM gh
                       WHERE gh IN (SELECT gh FROM dup)),
            kept AS (SELECT t.doc_id, t.j, t.tok FROM tok t
                     WHERE NOT EXISTS (
                         SELECT 1 FROM starts s
                         WHERE s.doc_id = t.doc_id
                           AND s.pos <= t.j AND t.j <= s.pos + 7)),
            reb AS (SELECT doc_id,
                           string_agg(tok, ' ' ORDER BY j) AS text,
                           COUNT(*) AS n_kept
                    FROM kept GROUP BY doc_id),
            tot AS (SELECT doc_id, len(toks) AS n_all FROM base)
            SELECT d.doc_id, COALESCE(reb.text, '') AS text,
                   CAST(tot.n_all - COALESCE(reb.n_kept, 0) AS BIGINT)
                       AS n_tokens_dropped
            FROM documents d JOIN tot USING (doc_id)
            LEFT JOIN reb USING (doc_id)
        """,
        # generated from textquality.BPE_PRETOKEN_RE — one pattern,
        # both engines
        "bpe_pretokens": _bpe_pretokens_sql(),
        # mirrors q_snippets_topk: bm25 top-20 + strpos/substr window
        "snippets_topk": _snippets_sql(bm25_terms),
        "autocomplete": f"""
            SELECT term, CAST(COUNT(*) AS BIGINT) AS cf
            FROM ({_TOK}) WHERE term LIKE 's%'
            GROUP BY term ORDER BY cf DESC, term ASC LIMIT 20
        """,
        "host_diversified_topk": _host_diversified_sql(bm25_terms),
        "facet_lang_counts": f"""
            WITH tok AS ({_TOK}),
            hits AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'spark')
            SELECT d.lang, COUNT(*) AS cnt
            FROM hits h JOIN documents d USING (doc_id)
            WHERE d.lang IS NOT NULL
            GROUP BY d.lang ORDER BY cnt DESC, lang ASC
        """,
        "doc_keywords": _doc_keywords_sql(),
        # the approx operator's exact regime (err = 0) must equal the
        # exact operator — so it shares the exact oracle verbatim
        "top_bigrams_approx": _top_bigrams_sql(),
    }


def _host_diversified_sql(bm25_terms: str) -> str:
    from search_engine_spark.operators.hosts import oracle_host_sql

    return f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES {bm25_terms}),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        scored AS (SELECT doc_id, ROUND(SUM(wt), 4) AS score
                   FROM w GROUP BY doc_id),
        u AS ({_SYNTH_URL_SQL}),
        dh AS (SELECT doc_id, {oracle_host_sql("url")} AS host FROM u),
        j AS (SELECT s.doc_id, s.score, dh.host
              FROM scored s JOIN dh USING (doc_id)),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY host
                  ORDER BY score DESC, doc_id ASC) AS rn FROM j)
        SELECT doc_id, score, host FROM r WHERE rn <= 2
        ORDER BY score DESC, doc_id ASC LIMIT 50
    """


def _doc_keywords_sql() -> str:
    from search_engine_spark.operators.corpusstats import (
        doc_keywords_oracle_sql)

    return doc_keywords_oracle_sql(
        n_docs_sql="SELECT COUNT(*) FROM documents", m=3, tok_sql=_TOK)


def _bpe_top_words_sql() -> str:
    from search_engine_spark.operators.textquality import BPE_PRETOKEN_RE

    pat = BPE_PRETOKEN_RE.replace("'", "''")
    return rf"""
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(regexp_extract_all(COALESCE(text, ''),
                '{pat}')) AS word
            FROM documents
        ) WHERE NOT regexp_matches(word, '^[ \t\n\r]+$')
        GROUP BY word
        ORDER BY cnt DESC, word ASC LIMIT 100
    """


def _bpe_pretokens_sql() -> str:
    from search_engine_spark.operators.textquality import (
        bpe_pretoken_oracle_sql)

    return bpe_pretoken_oracle_sql()


def _snippets_sql(bm25_terms: str) -> str:
    width = 60
    pos_list = ", ".join(
        f"strpos(lt, '{t}')" for t in _BM25_QUERY_TERMS)
    return f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES {bm25_terms}),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        hits AS (SELECT doc_id, ROUND(SUM(wt), 4) AS score
                 FROM w GROUP BY doc_id
                 ORDER BY score DESC, doc_id ASC LIMIT 20),
        win AS (
            SELECT h.doc_id, h.score, COALESCE(d.text, '') AS text,
                   GREATEST(COALESCE(
                       list_aggregate(list_filter([{pos_list}],
                                                  p -> p > 0), 'min'),
                       1) - {width}, 1) AS st
            FROM hits h JOIN (SELECT doc_id,
                                     COALESCE(text, '') AS text,
                                     lower(COALESCE(text, '')) AS lt
                              FROM documents) d USING (doc_id)
        )
        SELECT doc_id, score,
               (CASE WHEN st > 1 THEN '…' ELSE '' END)
               || substr(text, st, {2 * width})
               || (CASE WHEN st + {2 * width} <= length(text)
                   THEN '…' ELSE '' END) AS snippet
        FROM win
    """


def _anchor_bm25_sql() -> str:
    terms = ", ".join(f"('{t}')" for t in ["spark", "w3", "link"])
    return f"""
        WITH tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES {terms}),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        bsc AS (SELECT doc_id, SUM(wt) AS score FROM w GROUP BY doc_id),
        -- anchor field: one row per EDGE (no DISTINCT — two links are
        -- two endorsements), anchor = 'link w' || (src+dst)%13
        ae AS (SELECT doc_id AS src,
                      (doc_id * doc_id * 13 + j * 31 + 7)
                          % (SELECT COUNT(*) FROM documents) AS dst
               FROM documents, generate_series(1, 3) AS t(j)),
        atok AS (SELECT dst AS doc_id,
                        unnest(string_split(
                            'link w' || ((src + dst) % 13), ' ')) AS term
                 FROM ae),
        atf AS (SELECT term, doc_id, COUNT(*) AS tf FROM atok GROUP BY 1, 2),
        adl AS (SELECT doc_id, COUNT(*) AS dl FROM atok GROUP BY 1),
        ast AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM adl),
        adf AS (SELECT term, COUNT(*) AS df FROM atf GROUP BY 1),
        aw AS (
            SELECT atf.doc_id,
                   LN(1 + (s.n - adf.df + 0.5) / (adf.df + 0.5))
                   * atf.tf * 2.2
                   / (atf.tf + 1.2 * (0.25 + 0.75 * adl.dl / s.avgdl)) AS wt
            FROM atf JOIN q USING (term) JOIN adf USING (term)
            JOIN adl USING (doc_id) CROSS JOIN ast s
        ),
        ascr AS (SELECT doc_id, SUM(wt) AS score FROM aw GROUP BY doc_id)
        SELECT doc_id,
               ROUND(COALESCE(bsc.score, 0) + 0.5 * COALESCE(ascr.score, 0),
                     4) AS score
        FROM bsc FULL OUTER JOIN ascr USING (doc_id)
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """


def _bm25_pagerank_sql(bm25_terms: str) -> str:
    from search_engine_spark.operators.graph import pagerank_oracle_parts

    pr_parts, final = pagerank_oracle_parts(n_iter=5)
    pr_sql = ",\n".join(pr_parts)
    return f"""
        WITH {pr_sql},
        tok AS ({_TOK}),
        tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        q(term) AS (VALUES {bm25_terms}),
        w AS (
            SELECT tf.doc_id,
                   LN(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS wt
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl USING (doc_id) CROSS JOIN stats s
        ),
        bsc AS (SELECT doc_id, SUM(wt) AS bscore FROM w GROUP BY doc_id)
        SELECT bsc.doc_id,
               ROUND(bsc.bscore
                     + 0.3 * LN(COALESCE({final}.rank, 1e-12)), 4) AS score
        FROM bsc LEFT JOIN {final} ON bsc.doc_id = {final}.node
        ORDER BY score DESC, doc_id ASC LIMIT 100
    """


def _host_stats_sql() -> str:
    from search_engine_spark.operators.hosts import oracle_host_sql
    from search_engine_spark.operators.urls import oracle_canonical_sql

    return f"""
        WITH u AS ({_SYNTH_URL_SQL}),
        c AS (SELECT {oracle_host_sql("url")} AS host,
                     {oracle_canonical_sql("url")} AS url_canon
              FROM u)
        SELECT host, COUNT(*) AS n_docs,
               COUNT(DISTINCT url_canon) AS n_urls,
               ROUND(1.0 - COUNT(DISTINCT url_canon) / COUNT(*), 6)
                   AS dup_ratio
        FROM c GROUP BY host
    """


def _domain_block_sql() -> str:
    from search_engine_spark.operators.hosts import (
        oracle_host_sql, oracle_registered_domain_sql)

    dom = oracle_registered_domain_sql(oracle_host_sql("url"))
    return f"""
        WITH u AS ({_SYNTH_URL_SQL})
        SELECT doc_id FROM u
        WHERE {dom} NOT IN ('spam.co.uk', 'block.org')
    """


def _top_bigrams_sql() -> str:
    from search_engine_spark.operators.corpusstats import (
        top_ngrams_oracle_sql)

    return top_ngrams_oracle_sql(n=2, k=50)


def _url_dedup_sql() -> str:
    from search_engine_spark.operators.urls import oracle_canonical_sql

    canon = oracle_canonical_sql("url")
    return f"""
        WITH u AS (SELECT doc_id, CASE doc_id % 3
            WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.COM:443/p/'
                        || (doc_id % 40) || '/?utm_source=x&b=2&a=1#f'
            WHEN 1 THEN 'http://' || source || '.example.com:80/p/'
                        || (doc_id % 40) || '?b=2&a=1'
            ELSE 'https://' || source || '.EXAMPLE.com/p/' || (doc_id % 40)
            END AS url FROM documents),
        c AS (SELECT doc_id, {canon} AS url_canon FROM u)
        SELECT MIN(doc_id) AS doc_id, url_canon FROM c GROUP BY url_canon
    """


def _pagerank_sql() -> str:
    from search_engine_spark.operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(n_iter=5)


def _hits_sql() -> str:
    from search_engine_spark.operators.graph import hits_oracle_sql

    return hits_oracle_sql(n_iter=5)


def _pii_scrub_sql() -> str:
    """Generated from textquality.PII_PATTERNS — one source of truth for
    both sides; counts taken on the text as each pattern sees it
    (post-prior-replacements), exactly like the engine."""
    from search_engine_spark.operators.textquality import PII_PATTERNS

    cur = "COALESCE(text, '')"
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            f"len(regexp_extract_all({cur}, '{pat}')) AS n_{name}")
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    return (f"SELECT doc_id, {cur} AS text, {', '.join(counts)} "
            "FROM documents")


def _language_id_sql() -> str:
    # mirror of textquality.language_id: distinct lowercase tokens ∩ each
    # function-word profile; first max in sorted(code) order wins;
    # 'und' iff every profile scores zero (strict > beats only positives)
    from search_engine_spark.operators.textquality import _LANG_PROFILES

    def lst(code):
        return "[" + ", ".join(f"'{w}'" for w in sorted(_LANG_PROFILES[code])) + "]"

    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_distinct(string_split(lower(text), ' ')) AS toks
            FROM documents
        ), h AS (
            SELECT doc_id,
                   len(list_intersect(toks, {lst('de')})) AS de,
                   len(list_intersect(toks, {lst('en')})) AS en,
                   len(list_intersect(toks, {lst('es')})) AS es,
                   len(list_intersect(toks, {lst('fr')})) AS fr
            FROM t
        )
        SELECT doc_id, CASE
            WHEN de = 0 AND en = 0 AND es = 0 AND fr = 0 THEN 'und'
            WHEN de >= en AND de >= es AND de >= fr THEN 'de'
            WHEN en >= es AND en >= fr THEN 'en'
            WHEN es >= fr THEN 'es'
            ELSE 'fr' END AS pred_lang
        FROM h
    """


def _quality_score_sql() -> str:
    from search_engine_spark.functions.analyzer import load_stopwords

    sw = sorted(load_stopwords())  # FULL Glasgow list, same as the engine
    sw_list = ", ".join("'" + w.replace("'", "''") + "'" for w in sw)
    return rf"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\s+'),
                               x -> x <> '') AS toks
            FROM documents
        ), c AS (
            SELECT doc_id, toks, len(toks) AS n_tokens FROM t
        ), r AS (
            SELECT doc_id, n_tokens,
                   CASE WHEN n_tokens > 0
                        THEN ROUND(CAST(len(list_distinct(toks)) AS DOUBLE)
                                   / n_tokens, 6) ELSE 0.0 END
                       AS distinct_ratio,
                   CASE WHEN n_tokens > 0
                        THEN ROUND(CAST(len(list_intersect(toks, [{sw_list}]))
                                        AS DOUBLE)
                                   / len(list_distinct(toks)), 6)
                        ELSE 0.0 END AS stopword_ratio,
                   CASE WHEN n_tokens > 0
                        THEN ROUND(CAST(list_sum(list_transform(toks,
                                            x -> length(x))) AS DOUBLE)
                                   / n_tokens, 6) ELSE 0.0 END
                       AS mean_token_len
            FROM c
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, distinct_ratio,
               stopword_ratio, mean_token_len,
               ROUND(CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.4 ELSE 0 END
                     + LEAST(distinct_ratio * 0.4, 0.4)
                     + CASE WHEN stopword_ratio > 0 THEN 0.2 ELSE 0 END,
                     6) AS quality
        FROM r
    """
