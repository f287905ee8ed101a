"""Query execution: candidate selection, scoring, top-k, rerank.

Replaces the reference's driver loops (SURVEY §2.5 Q5-Q7, Q11-Q14) with
DataFrame plans:

* mini-index load (index_loader.py:71-128 byte-range seeks) →
  ``postings.filter(col("term").isin(terms))`` — predicate pushdown +
  column pruning on the parquet scan do the pointed reads;
* adaptive AND→half-AND→OR candidates (bm25_model.py:241-253) — ONE
  aggregation computes all tiers' membership counts, the driver applies
  the <100 escalation on three cheap counts;
* scoring — broadcast join with term stats (small: |q| rows), hash join
  with doc_stats, column-expression weight, groupBy(doc_id).sum;
* top-k — orderBy(desc(score), asc(doc_id)).limit(k) ⇒ Catalyst
  TakeOrderedAndProject: per-partition bounded min-heaps merged on the
  driver, the distributed form of the north-star "bounded min-heap";
* rerank (helpers.py:147-173) — title boost + recency weights with a
  pinned ``as_of_date`` (quirk 4).

Tie-break everywhere: (score desc, doc_id asc) — SURVEY §2.8 decision 3.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import date

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyzer import AnalyzerConfig, analyze_query
from . import scoring

ADAPTIVE_MIN_CANDIDATES = 100  # reference bm25_model.py:241-253


@dataclass
class InvertedIndex:
    """Handle over the built index artifacts.

    postings: (term, doc_id, tf[, positions])
    doc_stats: (doc_id, dl)
    term_stats: (term, df, cf)
    stats: broadcast scalars {'n_docs','total_len','avgdl'}
    documents: the corpus table for hydration/rerank (optional)
    """

    postings: DataFrame
    doc_stats: DataFrame
    term_stats: DataFrame
    stats: dict
    documents: DataFrame | None = None
    analyzer: AnalyzerConfig = AnalyzerConfig.full()

    def lookup(self, terms: list[str], positional: bool = False) -> DataFrame:
        cols = ["term", "doc_id", "tf"]
        if "dl" in self.postings.columns:
            cols.append("dl")  # self-contained scoring: no doc_stats join
        if positional and "positions" in self.postings.columns:
            cols.append("positions")
        return self.postings.filter(F.col("term").isin(terms)).select(*cols)

    def release_caches(self) -> None:
        """Unpersist the per-query caches (phrase occurrences, adaptive
        candidate counts) registered since the last release. Called by
        executor.execute at query start so a finished query's caches live
        exactly until the next query begins.

        PUBLIC API NOTE: callers using search_phrase or
        search_freetext_tokens(adaptive=True) directly (not through
        engine.search/executor.execute) get a BOUNDED cache list even
        without calling this (register_query_cache evicts FIFO past
        MAX_QUERY_CACHES), so hammering the public API in a loop cannot
        grow persisted memory without bound; calling this between
        queries is still the precise lifecycle. An eager release inside
        those functions would be wrong: a mixed query holds several
        phrase caches at once and the current merged plan still reads
        them."""
        for df in getattr(self, "_query_caches", []):
            df.unpersist()
        self._query_caches = []

    #: FIFO bound on per-query cached frames (phrase occurrences,
    #: adaptive counts, boolean rescoring). Eviction only drops the
    #: CACHE, never correctness — an evicted frame recomputes from
    #: lineage if a live plan still reads it — so the bound trades a
    #: recompute (pathological >16-phrase query) for bounded executor
    #: memory under public-API loops that never release.
    MAX_QUERY_CACHES = 16

    def register_query_cache(self, df: DataFrame) -> DataFrame:
        """cache() a frame and register it for release at the next
        query's release_caches() — the shared idiom for per-query
        intermediate frames. FIFO-bounded by MAX_QUERY_CACHES."""
        df = df.cache()
        if not hasattr(self, "_query_caches"):
            self._query_caches = []
        self._query_caches.append(df)
        while len(self._query_caches) > self.MAX_QUERY_CACHES:
            self._query_caches.pop(0).unpersist()
        return df


def effective_k(index: InvertedIndex, k: int | None) -> int | None:
    """Validate and clamp a caller-supplied k. TakeOrderedAndProject
    keeps an O(k) buffer PER PARTITION, so a hostile/absurd k (10⁹)
    allocates gigabytes of heap per task before a single row flows; a
    query can never return more rows than the corpus has docs, so
    clamping to n_docs is semantics-free and bounds the heap."""
    if k is None:
        return None
    if k < 0:
        raise ValueError(f"k must be >= 0: {k}")
    return min(k, index.stats["n_docs"])


def _scored_frame(index: InvertedIndex, terms: list[str], model: str,
                  q_tf: dict[str, int] | None = None) -> DataFrame:
    """per-(term,doc) weight frame for the given (deduped) terms."""
    n, avgdl, total = index.stats["n_docs"], index.stats["avgdl"], index.stats["total_len"]
    matched = index.lookup(terms)
    tstats = F.broadcast(index.term_stats.filter(F.col("term").isin(terms)))
    joined = matched.join(tstats, "term")
    if "dl" not in joined.columns:
        joined = joined.join(index.doc_stats, "doc_id")
    if model == "bm25":
        w = scoring.bm25_weight(n, avgdl)
    elif model == "bm25-reference":
        w = scoring.bm25_reference_weight(n, avgdl)
    elif model == "lm-dirichlet":
        joined = joined.withColumn("cf", F.col("df"))  # quirk 5: cf is df
        w = scoring.lm_weight(total, mu=scoring.LM_MU_DIRICHLET)
    elif model == "lm-pyp":
        joined = joined.withColumn("cf", F.col("df"))
        w = scoring.lm_weight(total, mu=scoring.LM_MU_PYP, pitman_yor=True)
    else:
        raise ValueError(f"unknown model {model!r}")
    if q_tf:
        qmap = F.create_map(*[F.lit(x) for kv in q_tf.items() for x in kv])
        joined = joined.withColumn("_qtf", F.coalesce(qmap[F.col("term")], F.lit(1)))
        w = (w * F.col("_qtf")).alias("weight")
    return joined.withColumn("weight", w)


def quantized_scored_frame(index: InvertedIndex, terms: list[str],
                           bits: int = 8) -> DataFrame:
    """per-(term,doc) QUANTIZED-impact weight frame — the relational
    twin of the impact-store serving kernels (catalog.quantize_index +
    maxscore impact branch). The impact is computed on the fly
    from (tf, dl) with scoring.quantized_impact_col — exact int64
    arithmetic, so it equals the impacts a quantized store of the same
    corpus holds bit-for-bit; weight = idf·(k1+1)·q/maxq. This is the
    driver-oracle gate for the impact path (an ANSI-SQL oracle
    reproduces the integer quantizer exactly) and the distributed
    fallback when a workload wants quantized scoring without building
    the impact artifact."""
    n, total = index.stats["n_docs"], index.stats["total_len"]
    matched = index.lookup(terms)
    tstats = F.broadcast(index.term_stats.filter(F.col("term").isin(terms)))
    joined = matched.join(tstats, "term")
    if "dl" not in joined.columns:
        joined = joined.join(index.doc_stats, "doc_id")
    q = scoring.quantized_impact_col(n, total, bits=bits)
    return (joined.withColumn("impact", q)
            .withColumn("weight", scoring.impact_weight(n, bits=bits)))


def search_quantized(index: InvertedIndex, terms: list[str], k: int = 100,
                     bits: int = 8) -> DataFrame:
    """Quantized-impact BM25 top-k → (doc_id, score), relational path.
    Rank-identical to the impact-store MaxScore kernel at the same
    ``bits`` (pytest-gated); within (k1+1)·|q|/(2·maxq) of exact BM25 by
    the quantization error bound."""
    scored = quantized_scored_frame(index, terms, bits=bits)
    agg = scored.groupBy("doc_id").agg(F.sum("weight").alias("score"))
    return topk(agg, k)


def adaptive_candidates(index: InvertedIndex, terms: list[str]) -> DataFrame | None:
    """Reference Q5: intersection of all terms; if <100 docs, docs matching
    all of either half of the term list; if still <100, union (=None: no
    restriction). One aggregation computes every tier's counts."""
    if len(terms) <= 1:
        return None
    half = len(terms) // 2
    h1, h2 = terms[:half], terms[half:]
    matched = index.lookup(terms)
    counts = matched.groupBy("doc_id").agg(
        F.countDistinct("term").alias("m"),
        F.countDistinct(F.when(F.col("term").isin(h1), F.col("term"))).alias("m1"),
        F.countDistinct(F.when(F.col("term").isin(h2), F.col("term"))).alias("m2"),
    )
    # cache outlives the call (the returned frame reads it at collect
    # time); registered on the index handle, released by the NEXT
    # executor.execute() via release_caches
    counts = index.register_query_cache(counts)
    full = counts.filter(F.col("m") == len(terms))
    if full.limit(ADAPTIVE_MIN_CANDIDATES).count() >= ADAPTIVE_MIN_CANDIDATES:
        return full.select("doc_id")
    halves = counts.filter(
        (F.col("m1") == len(h1)) | (F.col("m2") == len(h2))
    )
    if halves.limit(ADAPTIVE_MIN_CANDIDATES).count() >= ADAPTIVE_MIN_CANDIDATES:
        return halves.select("doc_id")
    return None  # union tier: every matching doc


def search_freetext(index: InvertedIndex, query: str, k: int = 100,
                    model: str = "bm25", adaptive: bool = False,
                    candidates: DataFrame | None = None) -> DataFrame:
    """Free-text top-k → (doc_id, score). Analyzes the raw query ONCE,
    then delegates to the token-level path."""
    return search_freetext_tokens(
        index, analyze_query(query, index.analyzer), k=k, model=model,
        adaptive=adaptive, candidates=candidates)


def search_freetext_tokens(index: InvertedIndex, toks: list[str],
                           k: int | None = 100, model: str = "bm25",
                           adaptive: bool = False,
                           candidates: DataFrame | None = None,
                           min_should_match: int | None = None) -> DataFrame:
    """Token-level free-text scoring — callers that already hold ANALYZED
    tokens (the executor's plan, boolean rescoring) MUST use this instead
    of re-joining tokens into a string: Porter stemming is not idempotent
    ('provision'→'provis'→'provi'), so re-analyzing analyzed terms sends
    them out of vocabulary. Terms are deduped with query tf folded into
    the weight (reference multiplies by query tf via its loop over
    ``set(query)``).

    ``k=None`` returns the UNRANKED (doc_id, score) aggregate — for
    callers that merge several score frames and apply one final top-k
    (a ranked return here would be a full global sort holding every doc).

    ``min_should_match`` (Lucene BooleanQuery mm): score only docs
    matching at least that many DISTINCT query terms — the middle
    ground between OR (mm=1, the default semantics) and AND
    (mm=|terms|). Folded into the existing score aggregate as a second
    agg column + HAVING filter — zero extra joins or shuffles (the
    plan-audit claim). mm greater than the distinct-term count matches
    nothing (Lucene's contract: a doc cannot satisfy more clauses than
    the query has). Refused with adaptive (two candidate policies over
    the same tier counts) and defined over the term-weight models, not
    vsm."""
    if min_should_match is not None:
        if min_should_match < 1:
            raise ValueError(
                f"min_should_match must be >= 1: {min_should_match}")
        if adaptive:
            raise ValueError(
                "min_should_match does not compose with adaptive candidate "
                "tiers — both are match-count candidate policies; drop one")
        if model == "vsm":
            raise ValueError("min_should_match is defined over the "
                             "term-weight models (bm25/lm), not vsm")
    if model == "vsm":
        return search_vsm_tokens(index, toks, k=k, candidates=candidates,
                                 adaptive=adaptive)
    k = effective_k(index, k)
    if not toks:
        return index.postings.sparkSession.createDataFrame([], "doc_id long, score double")
    q_tf: dict[str, int] = {}
    for t in toks:
        q_tf[t] = q_tf.get(t, 0) + 1
    terms = list(q_tf)
    scored = _scored_frame(index, terms, model, q_tf)
    if adaptive:
        # computed IN ADDITION to any explicit candidates (a date range
        # arrives as `candidates`; requesting adaptive must not be
        # silently dropped — both restrictions apply as two semi-joins)
        extra = adaptive_candidates(index, terms)
        if extra is not None:
            scored = scored.join(extra, "doc_id", "left_semi")
    if candidates is not None:
        # no broadcast hint: candidate frames are only LOWER-bounded (the
        # union tier or a wide date range can be millions of rows) and a
        # forced broadcast would collect them all to the driver. AQE
        # broadcasts at runtime when the frame is actually small.
        scored = scored.join(candidates, "doc_id", "left_semi")
    if min_should_match is None:
        agg = scored.groupBy("doc_id").agg(F.sum("weight").alias("score"))
    else:
        agg = (scored.groupBy("doc_id")
               .agg(F.sum("weight").alias("score"),
                    F.countDistinct("term").alias("_nt"))
               .filter(F.col("_nt") >= min_should_match)
               .select("doc_id", "score"))
    if model.startswith("lm-"):
        pyp = model == "lm-pyp"
        mu = scoring.LM_MU_PYP if pyp else scoring.LM_MU_DIRICHLET
        prior = index.doc_stats.select(
            "doc_id",
            scoring.lm_doc_prior(mu, len(toks), pitman_yor=pyp).alias("prior"),
        )
        agg = agg.join(prior, "doc_id").select(
            "doc_id", (F.col("score") + F.col("prior")).alias("score")
        )
    return agg if k is None else topk(agg, k)


def search_fielded(body_index: InvertedIndex, anchor_index: InvertedIndex,
                   toks: list[str], k: int | None = 100,
                   w_anchor: float = 1.0, model: str = "bm25",
                   anchor_toks: list[str] | None = None) -> DataFrame:
    """Multi-field web ranking: body score + ``w_anchor`` × anchor-field
    score (each field scored under ``model`` against its OWN df/dl/avgdl
    statistics — the standard fielded retrieval shape, BM25F's simple
    per-field-then-combine special case).

    Both field frames stay UNRANKED (k=None) and union-sum into one
    aggregate with a single final top-k — the same single
    TakeOrderedAndProject discipline as the mixed free-text+phrase
    path. ``anchor_toks`` lets callers pass differently-analyzed tokens
    when the two indexes use different analyzers (the anchor field is
    simple lowercase/whitespace; a full-analyzer body index stems)."""
    k = effective_k(body_index, k)
    body = search_freetext_tokens(body_index, toks, k=None, model=model)
    anch = search_freetext_tokens(
        anchor_index, anchor_toks if anchor_toks is not None else toks,
        k=None, model=model)
    anch = anch.select(
        "doc_id", (F.col("score") * F.lit(float(w_anchor))).alias("score"))
    merged = (
        body.unionByName(anch)
        .groupBy("doc_id").agg(F.sum("score").alias("score"))
    )
    return merged if k is None else topk(merged, k)


def blend_recency(scores: DataFrame, doc_dates: DataFrame, as_of: date,
                  half_life_days: float = 30.0, floor: float = 0.1,
                  date_col: str = "warc_date") -> DataFrame:
    """Freshness-boosted ranking (the function_score date-decay every web
    engine ships; the reference's rerank has a fixed recency term —
    helpers.py:147-173 — this is the tunable corpus-wide form):

        score' = score · (floor + (1 − floor) · 2^(−age_days / half_life))

    Multiplicative half-life decay: a doc ``half_life_days`` old keeps
    floor + (1−floor)/2 of its relevance; ``floor`` bounds how far age
    can demote (floor=1 disables decay; floor=0 lets age zero a score).
    Ages clamp at 0 — crawl timestamps ahead of ``as_of`` (clock skew)
    get no future-boost. ``as_of`` is an explicit pin, not now(): rerank
    learned this (quirk 4) — a moving clock makes rankings
    irreproducible.

    Plan shape: one equi-join with the (doc_id, date) sidecar + pure JVM
    column math; joined AFTER aggregation so it touches candidate rows,
    not postings."""
    if not 0.0 <= floor <= 1.0:
        raise ValueError(f"floor must be in [0, 1]: {floor}")
    if half_life_days <= 0:
        raise ValueError(f"half_life_days must be > 0: {half_life_days}")
    age = F.greatest(
        F.datediff(F.lit(as_of), F.col(date_col)), F.lit(0)).cast("double")
    decay = F.pow(F.lit(2.0), -age / F.lit(float(half_life_days)))
    factor = F.lit(float(floor)) + F.lit(1.0 - float(floor)) * decay
    return (scores.join(doc_dates.select("doc_id", date_col), "doc_id")
            .select("doc_id", (F.col("score") * factor).alias("score")))


def search_bm25f(fields: list[tuple[InvertedIndex, float, float]],
                 toks: list[str], k: int | None = 100,
                 k1: float = 1.2) -> DataFrame:
    """True BM25F (Zaragoza, Craswell, Taylor, Saria & Robertson,
    CIKM 2004): per-field length-normalized term frequencies are
    weight-summed into ONE pseudo-frequency per (term, doc) BEFORE the
    BM25 saturation — unlike ``search_fielded``, which saturates each
    field independently and sums scores (the "simple" combination the
    BM25F paper shows is inferior: a term matching twice in two fields
    should saturate once, not twice).

        tf̃(t,d)  = Σ_f  w_f · tf_f(t,d) / B_f(d)
        B_f(d)   = (1 − b_f) + b_f · dl_f(d) / avgdl_f
        score(d) = Σ_t  idf(t) · tf̃ / (k1 + tf̃)

    ``fields`` is a list of (index, w_f, b_f). idf uses DOCUMENT-level
    presence — df(t) = #docs where t appears in ANY field — computed
    from the unioned per-field postings, so anchor-only vocabulary
    (terms that never occur in a body) still gets a well-defined idf;
    n comes from the first field's corpus stats (the body index, whose
    doc set IS the document set).

    Plan shape: each field contributes one pruned postings lookup +
    doc-stats join (narrow); the union aggregates per (term, doc_id) —
    fine-grained keys, map-side partial agg — then the df agg reuses the
    same shuffle's output, one final groupBy(doc_id) + single
    TakeOrderedAndProject. No field count blows up the shuffle: rows in
    flight = Σ_f |postings_f ∩ terms|, the same as querying each field.
    """
    if not fields:
        raise ValueError("search_bm25f needs at least one field")
    if not toks:
        spark = fields[0][0].postings.sparkSession
        return spark.createDataFrame([], "doc_id long, score double")
    k = effective_k(fields[0][0], k)
    terms = list(dict.fromkeys(toks))
    per_field = []
    for index, w_f, b_f in fields:
        matched = index.lookup(terms)
        if "dl" not in matched.columns:
            matched = matched.join(index.doc_stats, "doc_id")
        avgdl = index.stats["avgdl"]
        bnorm = F.lit(1.0 - b_f) + F.lit(float(b_f)) * F.col("dl") / F.lit(float(avgdl))
        per_field.append(matched.select(
            "term", "doc_id",
            (F.lit(float(w_f)) * F.col("tf") / bnorm).alias("tfn")))
    merged = per_field[0]
    for f_frame in per_field[1:]:
        merged = merged.unionByName(f_frame)
    # one shuffle on (term, doc_id); tf̃ and document-level df both come
    # out of it (df = countDistinct over the same keys, second agg pass
    # on the already-keyed frame)
    tfn = merged.groupBy("term", "doc_id").agg(F.sum("tfn").alias("tfn"))
    # read twice (df agg + scoring join): registered per-query cache,
    # released by the next executor.execute() like every per-query frame
    tfn = fields[0][0].register_query_cache(tfn)
    df_frame = tfn.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    n = fields[0][0].stats["n_docs"]
    idf = F.log(F.lit(1.0) + (F.lit(float(n)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    scored = (tfn.join(F.broadcast(df_frame), "term")
              .select("doc_id",
                      (idf * F.col("tfn")
                       / (F.lit(float(k1)) + F.col("tfn"))).alias("w")))
    agg = scored.groupBy("doc_id").agg(F.sum("w").alias("score"))
    return agg if k is None else topk(agg, k)


def explain_scores(index: InvertedIndex, toks: list[str], doc_id: int,
                   model: str = "bm25") -> DataFrame:
    """Lucene ``Explanation`` analog: the per-term score breakdown for
    ONE document under the given model — (term, tf, df, weight) rows
    whose weight column sums to exactly the document's retrieval score
    (search_freetext_tokens pre-LM-prior; LM models additionally add the
    per-doc prior, reported by the executor, not per-term).

    Plan shape: the ``term IN (...)`` and ``doc_id = N`` predicates both
    push to the postings scan — a point lookup, O(|q|) rows back. Query
    tf folds into the weight exactly like retrieval does, so explain
    output is trustworthy for debugging ranking deltas."""
    if not toks:
        return index.postings.sparkSession.createDataFrame(
            [], "term string, tf long, df long, weight double")
    q_tf: dict[str, int] = {}
    for t in toks:
        q_tf[t] = q_tf.get(t, 0) + 1
    scored = _scored_frame(index, list(q_tf), model, q_tf)
    return (scored.filter(F.col("doc_id") == int(doc_id))
            .select("term", F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"), "weight")
            .orderBy(F.asc("term")))


def blend_doc_prior(scores: DataFrame, prior: DataFrame, lam: float = 0.3,
                    id_col: str = "node", prior_col: str = "rank",
                    default_prior: float = 1e-12) -> DataFrame:
    """Blend a query-independent document prior (canonically PageRank,
    operators.graph) into a (doc_id, score) frame:

        score' = score + lam · ln(prior)

    — the standard log-odds mixture for static rank in web retrieval
    (the prior is a probability, so ln(prior) ≤ 0; lam scales how hard
    link evidence can move lexical rank). Docs absent from the prior
    frame (pages outside the link graph) take ``default_prior`` — a
    floor probability, so being unlinked is a penalty, never an error.

    The join is doc-keyed like the LM doc-prior join above: the prior
    frame is corpus-sized (NOT broadcastable at 10^12 docs), but the
    scores side is already reduced to matching docs, and both sides
    hash-partition on doc_id — co-partition/bucket both by doc_id on a
    real cluster to make it exchange-free. Must run BEFORE top-k (the
    mixture reorders)."""
    p = prior.select(F.col(id_col).alias("doc_id"),
                     F.col(prior_col).alias("_prior"))
    return scores.join(p, "doc_id", "left").select(
        "doc_id",
        (F.col("score")
         + F.lit(float(lam))
         * F.log(F.coalesce(F.col("_prior"), F.lit(float(default_prior)))))
        .alias("score"),
    )


def vsm_norms_frame(postings: DataFrame, term_stats: DataFrame,
                    n_docs: int) -> DataFrame:
    """(doc_id, dnorm): sqrt(Σ w_d²) over ALL of a doc's terms
    (vsm_model.py:44-54). THE single norm definition — the lazy query
    path and the durable build's precomputed artifact both call this, so
    the two can never drift."""
    return (
        postings.select("term", "doc_id", "tf")
        .join(term_stats.select("term", "df"), "term")
        .withColumn("w", scoring.vsm_doc_weight(n_docs))
        .groupBy("doc_id")
        .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dnorm"))
    )


def vsm_doc_norms(index: InvertedIndex) -> DataFrame:
    """Per-index norms: the precomputed build artifact when the index
    carries one, else computed lazily once and cached on the handle."""
    cached = getattr(index, "_vsm_norms", None)
    if cached is not None:
        return cached
    norms = vsm_norms_frame(index.postings, index.term_stats,
                            index.stats["n_docs"]).cache()
    index._vsm_norms = norms
    return norms


def search_vsm(index: InvertedIndex, query: str, k: int = 20,
               candidates: DataFrame | None = None) -> DataFrame:
    return search_vsm_tokens(index, analyze_query(query, index.analyzer),
                             k=k, candidates=candidates)


def search_vsm_tokens(index: InvertedIndex, toks: list[str],
                      k: int | None = 20,
                      candidates: DataFrame | None = None,
                      adaptive: bool = False) -> DataFrame:
    """Full VSM cosine (reference vsm_model.py:56-103): doc weight
    (1+log10 tf)·log10((N−df)/df) clamped ≥0, query weight
    (1+log10 tf_q)·log10(N/df), cosine over the doc/query norms, top-20
    default cut. df==N terms contribute 0 on both axes (log10(0)→null→
    greatest 0 in Spark; guarded in the oracle). Token-level for the same
    no-re-analysis reason as search_freetext_tokens.

    The whole query is ONE Spark action: query weights and the query norm
    are computed IN-PLAN from a |q|-row broadcast of term_stats (a 1-row
    broadcast aggregate for qnorm) instead of a per-query driver collect —
    at serving scale a blocking metadata job per query is pure scheduling
    latency."""
    k = effective_k(index, k)
    if not toks:
        return index.postings.sparkSession.createDataFrame([], "doc_id long, score double")
    q_tf: dict[str, int] = {}
    for t in toks:
        q_tf[t] = q_tf.get(t, 0) + 1
    terms = list(q_tf)
    n = index.stats["n_docs"]
    # (term, df, w_q) for the in-vocabulary query terms; w_q =
    # (1+log10 tf_q)·log10(N/df). Query-tf literals ride in as a map.
    qtf_map = F.create_map(*[F.lit(x) for t, c in q_tf.items()
                             for x in (t, int(c))])
    # qnorm rides IN the same |q|-row broadcast frame via an
    # unpartitioned window (|q| rows — trivial) instead of a second
    # broadcast + crossJoin: one fewer Spark job per serving query
    from pyspark.sql import Window

    wq_f = F.broadcast(
        index.term_stats.filter(F.col("term").isin(terms))
        .select(
            "term", "df",
            ((1.0 + F.log10(qtf_map[F.col("term")].cast("double")))
             * F.log10(F.lit(float(n)) / F.col("df"))).alias("w_q"),
        )
        .withColumn(
            "qnorm",
            F.sqrt(F.sum(F.col("w_q") * F.col("w_q"))
                   .over(Window.partitionBy())),
        )
    )
    matched = index.lookup(terms).select("term", "doc_id", "tf")
    if adaptive:
        # in ADDITION to explicit candidates (same both-restrictions
        # contract as the BM25/LM path)
        extra = adaptive_candidates(index, terms)
        if extra is not None:
            matched = matched.join(extra, "doc_id", "left_semi")
    if candidates is not None:
        matched = matched.join(candidates, "doc_id", "left_semi")  # AQE sizes the join
    dot = (
        matched.join(wq_f, "term")
        .withColumn("w_d", scoring.vsm_doc_weight(n))
        .groupBy("doc_id")
        .agg(F.sum(F.col("w_d") * F.col("w_q")).alias("dot"),
             F.max("qnorm").alias("qnorm"))
    )
    # a doc whose every term weight clamps to 0 has dnorm=0 AND dot=0, and
    # an all-(df==N)-terms query has qnorm=0: pin both cosines to 0
    # instead of 0/0 (ANSI mode would throw). All-zero scores under topk's
    # (score desc, doc_id asc) reproduce the old qnorm==0 doc-id ordering.
    scored = dot.join(vsm_doc_norms(index), "doc_id").select(
        "doc_id",
        F.when((F.col("dnorm") > 0) & (F.col("qnorm") > 0),
               F.col("dot") / (F.col("dnorm") * F.col("qnorm")))
        .otherwise(F.lit(0.0)).alias("score"),
    )
    return scored if k is None else topk(scored, k)


def topk(scored: DataFrame, k: int) -> DataFrame:
    """(doc_id, score) → deterministic top-k (TakeOrderedAndProject)."""
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def rerank(topk_df: DataFrame, documents: DataFrame, query_terms: list[str],
           as_of: date, k: int = 100, text_col: str = "text",
           ts_col: str | None = None) -> DataFrame:
    """Reference rerank (helpers.py:147-173): ×1.10 per query term found in
    the title — a real ``title`` column when the table has one, else the
    first 100 chars of text as the head surrogate (boosting on the FULL
    body would be non-discriminating: every BM25 hit contains its matched
    terms somewhere in the body, so all top-k docs would get the same
    multiplier). Recency weight linspace(1.40→0.8) over 100 days before
    ``as_of`` (quirk 4: wall-clock pinned to a parameter). Broadcast join:
    only k rows on the left."""
    docs = documents
    boosted = F.broadcast(topk_df).join(docs, "doc_id")
    if "title" in docs.columns:
        title = F.lower(F.col("title"))
    else:
        title = F.lower(F.substring(F.col(text_col), 1, 100))
    boost = F.lit(1.0)
    for t in query_terms:
        boost = boost * F.when(title.contains(t.lower()), F.lit(1.10)).otherwise(F.lit(1.0))
    score = F.col("score") * boost
    if ts_col is not None:
        days = F.datediff(F.lit(as_of), F.to_date(F.col(ts_col)))
        # linspace(1.40, 0.8, 100)[d] == 1.40 - d*(0.6/99)
        recency = F.when(
            (days >= 0) & (days < 100), F.lit(1.40) - days * F.lit(0.6 / 99.0)
        ).otherwise(F.lit(1.0))
        score = score * recency
    return topk(boosted.select("doc_id", score.alias("score")), k)


def search_rm3(index: InvertedIndex, toks: list[str], k: int | None = 100,
               fb_docs: int = 10, fb_terms: int = 10,
               alpha: float = 0.6,
               candidates: DataFrame | None = None) -> DataFrame:
    """Pseudo-relevance-feedback expansion (RM3-style) over BM25:
    retrieve, mine expansion terms from the top ``fb_docs`` documents,
    re-retrieve with an interpolated weighted query.

    Stage shape (and why it scales): pass 1 is a normal top-k; the
    feedback model is built from the HYDRATED TEXT of the fb_docs hits
    (a broadcast join + driver-side analyze of ≤ fb_docs documents —
    O(k) driver work like the adaptive-tier counts, NOT a postings
    rescan: filtering the term-partitioned postings by doc_id would
    full-scan the index per query); pass 2 is one weighted scoring pass
    over original + expansion terms.

    Relevance model: rm1(t) = Σ_D s_D·tf(t,D)/|D| over the feedback
    docs, s_D = score_D/Σscore (scores shifted to ≥0 first — LM scores
    are negative). Final term weight α·q_tf(t) + (1−α)·S·rm1(t), with
    S = Σq_tf — UNNORMALIZED q_tf, so ``alpha=1`` reproduces the plain
    BM25 scores EXACTLY (zero-weight expansion terms are dropped before
    pass 2, so no 0-score docs leak into the tail either) — the
    identity the driver gate pins. Expansion terms come pre-analyzed
    (they are index vocabulary read back through the same analyzer).

    Score→mass shift: raw scores are shifted by ``−min + span/|fb|``
    (span = max−min; 1.0 when all scores tie, i.e. uniform mass) so the
    LOWEST-scoring feedback doc still contributes a floor of mass
    proportional to the score spread — a plain ``−min`` shift would
    zero it out, silently reducing fb_docs to fb_docs−1.

    ``candidates`` (a doc_id frame, canonically the executor's date
    candidates) restricts BOTH passes: pass-1 feedback docs are drawn
    from the candidate set and pass-2 scoring is semi-joined to it, so
    RM3 composes with date filtering instead of refusing it.
    """
    from ..functions.analyzer import analyze

    if index.documents is None:
        raise ValueError("RM3 needs the documents table on the index "
                         "handle (feedback docs are re-read as text)")
    q_tf: dict[str, float] = {}
    for t in toks:
        q_tf[t] = q_tf.get(t, 0.0) + 1.0
    weights = dict(q_tf) if alpha >= 1.0 else None
    if weights is None:
        first = search_freetext_tokens(index, toks, k=fb_docs,
                                       candidates=candidates)
        fb = (F.broadcast(first).join(index.documents, "doc_id")
              .select("doc_id", "score", "text").collect())
        weights = {t: alpha * w for t, w in q_tf.items()}
        if fb:
            base = min(r.score for r in fb)
            span = max(r.score for r in fb) - base
            floor = span / len(fb) if span > 0 else 1.0
            shifted = [(r, r.score - base + floor) for r in fb]
            total_s = sum(s for _, s in shifted)
            rm1: dict[str, float] = {}
            for r, s in shifted:
                dtoks = analyze(r.text or "", index.analyzer)
                if not dtoks:
                    continue
                sd, dl = s / total_s, float(len(dtoks))
                tf_d: dict[str, int] = {}
                for t in dtoks:
                    tf_d[t] = tf_d.get(t, 0) + 1
                for t, tf in tf_d.items():
                    rm1[t] = rm1.get(t, 0.0) + sd * tf / dl
            top = sorted(rm1.items(), key=lambda kv: (-kv[1], kv[0]))
            scale = (1.0 - alpha) * sum(q_tf.values())
            for t, w in top[:fb_terms]:
                weights[t] = weights.get(t, 0.0) + scale * w
    terms = sorted(t for t, w in weights.items() if w > 0)
    if not terms:
        return index.postings.sparkSession.createDataFrame(
            [], "doc_id long, score double")
    scored = _scored_frame(index, terms, "bm25", weights)
    if candidates is not None:
        scored = scored.join(candidates, "doc_id", "left_semi")
    agg = scored.groupBy("doc_id").agg(F.sum("weight").alias("score"))
    k = effective_k(index, k)
    return agg if k is None else topk(agg, k)


def fuzzy_expand(index: InvertedIndex, toks: list[str], max_dist: int = 1,
                 prefix_len: int = 1,
                 max_expansions: int = 50) -> dict[str, float]:
    """Edit-distance query-term expansion against the index vocabulary
    (Lucene FuzzyQuery semantics — the reference has only driver-side
    SPELL CORRECTION (helpers.py:226-270, one rewrite before retrieval);
    fuzzy RETRIEVAL scores every near-miss variant, the standard
    full-text feature its users would expect). Per query token: all
    vocabulary terms sharing the first ``prefix_len`` characters within
    Levenshtein distance ``max_dist``, each with similarity boost
    ``1 − d / min(|q|, |v|)`` (classic Lucene), capped at
    ``max_expansions`` per token by (boost DESC, df DESC, term ASC) —
    Lucene's closest-then-most-frequent rewrite order, made a total
    order for cross-engine determinism.

    → {variant: Σ boosts} collected driver-side — O(|q|·max_expansions)
    rows, the spellchecker/adaptive-tier bounded-collect idiom. A token
    present verbatim in the vocabulary expands to itself at boost 1, so
    ``max_dist=0`` degenerates to the plain literal lookup.

    Scale shape: ONE pass over term_stats (the vocabulary table — small
    next to postings; the scan is pruned to (term, df)); the |q|-row
    query frame reaches it via an explicit broadcast hash join keyed on
    the shared ``prefix_len``-char prefix (an equi-key: never a
    CartesianProduct), the length band ±max_dist and the Levenshtein
    filter (JVM builtin) prune post-join, and the per-token cap is a
    window partitioned by query token — |q| tiny partitions, no global
    sort."""
    uniq = [t for t in dict.fromkeys(toks) if t]
    if not uniq:
        return {}
    rows = fuzzy_candidates(index, uniq, max_dist=max_dist,
                            prefix_len=prefix_len,
                            max_expansions=max_expansions).collect()
    out: dict[str, float] = {}
    for r in rows:  # two tokens hitting one variant = two OR clauses
        out[r.term] = out.get(r.term, 0.0) + r.boost
    return out


def fuzzy_candidates(index: InvertedIndex, toks: list[str],
                     max_dist: int = 1, prefix_len: int = 1,
                     max_expansions: int = 50) -> DataFrame:
    """The distributed half of ``fuzzy_expand``: → (qt, term, boost),
    the capped per-token expansion frame (≤ |toks|·max_expansions rows),
    exposed separately so the plan audit can assert its shape."""
    from pyspark.sql.window import Window

    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0: {max_dist}")
    if prefix_len < 1:
        # an empty prefix key would hash-join everything to everything
        raise ValueError(f"prefix_len must be >= 1: {prefix_len}")
    if max_expansions < 1:
        raise ValueError(f"max_expansions must be >= 1: {max_expansions}")
    spark = index.postings.sparkSession

    # Trigram COUNT FILTER (Gravano et al., "Approximate string joins
    # in a database (almost) for free", VLDB 2001 — public): one edit
    # operation destroys at most 3 of a string's distinct padded
    # trigrams, so any term within levenshtein max_dist of token q must
    # share >= n_grams(q) − 3·max_dist of q's trigrams. When the index
    # has a committed trigram artifact (catalog.build_term_ngram_index)
    # and the bound is non-vacuous (>= 1), the vocabulary side of the
    # fuzzy join becomes a pruned gram probe instead of scanning every
    # first-char-matching term — at a web-scale vocabulary that is the
    # difference between ~|V|/26 levenshtein evaluations per token and
    # a few hundred. Tokens too short for a useful bound (or with no
    # artifact) keep the exact scan; either way the CANDIDATE SUPERSET
    # feeds the same exact levenshtein filter below, so results are
    # identical (pytest-gated).
    paired_frames = []
    fallback_toks: list[str] = []
    trigram_tbl = getattr(index, "_term_trigrams", None)
    if trigram_tbl is not None:
        from ..functions.xxhash import spark_bucket
        from ..sources.catalog import TRIGRAM_BUCKETS

        for t in toks:
            padded = "^" + t + "$"
            grams = sorted({padded[i:i + 3] for i in range(len(t))})
            thresh = len(grams) - 3 * max_dist
            if thresh < 1:
                fallback_toks.append(t)
                continue
            gb = sorted({spark_bucket(g, TRIGRAM_BUCKETS) for g in grams})
            paired_frames.append(
                trigram_tbl.filter(F.col("gbucket").isin(gb)
                                   & F.col("gram").isin(grams))
                .groupBy("term", "df")
                .agg(F.count("*").alias("_ng"))
                .filter(F.col("_ng") >= thresh)
                .select("term", "df", F.lit(t).alias("qt")))
    else:
        fallback_toks = list(toks)
    if fallback_toks or not paired_frames:
        qdf = spark.createDataFrame([(t,) for t in fallback_toks],
                                    "qt string")
        paired_frames.append(
            index.term_stats.select("term", "df")
            .join(F.broadcast(qdf),
                  F.substring("term", 1, prefix_len)
                  == F.substring("qt", 1, prefix_len))
            .select("term", "df", "qt"))
    from functools import reduce

    paired = reduce(lambda a, b: a.unionByName(b), paired_frames)
    cand = (
        paired
        .filter(F.substring("term", 1, prefix_len)
                == F.substring("qt", 1, prefix_len))
        .filter(F.abs(F.length("term") - F.length("qt")) <= max_dist)
        .withColumn("_d", F.levenshtein(F.col("qt"), F.col("term")))
        .filter(F.col("_d") <= max_dist)
        .withColumn(
            "boost",
            F.lit(1.0) - F.col("_d")
            / F.least(F.length("qt"), F.length("term")),
        )
    )
    w = Window.partitionBy("qt").orderBy(
        F.desc("boost"), F.desc("df"), F.asc("term"))
    return (cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_expansions)
            .select("qt", "term", "boost"))


def search_fuzzy(index: InvertedIndex, toks: list[str], k: int | None = 100,
                 max_dist: int = 1, prefix_len: int = 1,
                 max_expansions: int = 50, model: str = "bm25",
                 candidates: DataFrame | None = None) -> DataFrame:
    """Fuzzy free-text retrieval: expand each query token through
    ``fuzzy_expand`` and score the variant set, each variant's
    per-(term,doc) model weight multiplied by its similarity boost —
    exactly Lucene's FuzzyQuery-as-boolean-OR rewrite. → (doc_id, score)
    top-k, ties (score DESC, doc_id ASC).

    The expansion list is collected (bounded: |q|·max_expansions), so
    pass 2 reuses the literal-lookup path — ``term IN (...)`` reaches
    the postings scan as a pushable predicate, identical to
    search_freetext's plan, then one partial-agg'd groupBy(doc_id) and
    a single TakeOrderedAndProject. ``candidates`` (a doc_id frame,
    canonically the executor's date candidates) semi-join-restricts the
    scoring pass; the expansion pass is corpus-wide vocabulary by
    design (a variant's df is a corpus property, not a range one)."""
    boosts = fuzzy_expand(index, toks, max_dist=max_dist,
                          prefix_len=prefix_len,
                          max_expansions=max_expansions)
    if not boosts:
        return index.postings.sparkSession.createDataFrame(
            [], "doc_id long, score double")
    scored = _scored_frame(index, sorted(boosts), model, boosts)
    if candidates is not None:
        scored = scored.join(candidates, "doc_id", "left_semi")
    agg = scored.groupBy("doc_id").agg(F.sum("weight").alias("score"))
    k = effective_k(index, k)
    return agg if k is None else topk(agg, k)


def page_after(scored: DataFrame, after_score: float,
               after_doc: int) -> DataFrame:
    """Cursor pagination (search_after): rows strictly after the cursor
    (after_score, after_doc) in the engine's total rank order
    (score DESC, doc_id ASC). Composing with topk(k) gives page N+1 in
    ONE TakeOrderedAndProject over the filtered frame — O(k) buffers per
    partition at any depth, unlike an OFFSET which makes every deeper
    page buffer offset+k rows (the classic deep-paging scale trap).

    The cursor is the LAST ROW of the previous page, echoed verbatim:
    scores are deterministic for a fixed index (same plan, same doubles
    — and callers that round scores for display must cursor on the
    rounded value they sorted by, as the serving layer does)."""
    return scored.filter(
        (F.col("score") < F.lit(float(after_score)))
        | ((F.col("score") == F.lit(float(after_score)))
           & (F.col("doc_id") > F.lit(int(after_doc))))
    )


def prefix_candidates(index: InvertedIndex, prefixes: list[str],
                      max_expansions: int = 50) -> DataFrame:
    """The distributed half of ``prefix_expand``: → (qt, term), the
    capped per-prefix vocabulary expansion (Lucene PrefixQuery with the
    top-terms rewrite). Each prefix filters term_stats with a LITERAL
    startswith predicate — one union branch per prefix, each pushed to
    the parquet scan as StringStartsWith so min/max stats prune files
    (the autocomplete pushdown, serving a ranked query instead of a
    completion list) — then a per-prefix window caps the expansion at
    ``max_expansions`` by (df DESC, term ASC), Lucene's most-frequent-
    first rewrite order made total for cross-engine determinism."""
    from functools import reduce

    from pyspark.sql.window import Window

    if max_expansions < 1:
        raise ValueError(f"max_expansions must be >= 1: {max_expansions}")
    uniq = [p for p in dict.fromkeys(prefixes)]
    if not uniq or any(not p for p in uniq):
        # an empty prefix would expand to the whole vocabulary
        raise ValueError(f"prefixes must be non-empty strings: {prefixes}")
    frames = [
        index.term_stats
        .filter(F.col("term").startswith(p))
        .select(F.lit(p).alias("qt"), "term", "df")
        for p in uniq
    ]
    cand = reduce(lambda a, b: a.unionByName(b), frames)
    w = Window.partitionBy("qt").orderBy(F.desc("df"), F.asc("term"))
    return (cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_expansions)
            .select("qt", "term"))


def prefix_expand(index: InvertedIndex, prefixes: list[str],
                  max_expansions: int = 50) -> dict[str, float]:
    """→ {vocabulary term: Σ 1.0 per selecting prefix} — the bounded
    collect (≤ |prefixes|·max_expansions rows, the fuzzy_expand idiom).
    A term selected by two prefixes carries boost 2.0, the same
    cross-clause summing as fuzzy's boolean-OR rewrite."""
    out: dict[str, float] = {}
    for r in prefix_candidates(index, prefixes, max_expansions).collect():
        out[r["term"]] = out.get(r["term"], 0.0) + 1.0
    return out


def wildcard_like(pattern: str) -> str:
    """Lucene wildcard pattern → SQL LIKE pattern: '*'→'%', '?'→'_',
    literal '%'/'_' escaped with '\\' (Spark's LIKE default escape; the
    oracle emits an explicit ESCAPE clause). LIKE is the one pattern
    language with IDENTICAL semantics in every SQL engine — choosing it
    over rlike removes the Java-vs-RE2 regex dialect risk entirely.

    A pattern must carry at least one literal character: a bare '*'
    would expand to the whole vocabulary (Lucene refuses leading-only
    wildcards for the same reason)."""
    if not any(c not in "*?" for c in pattern):
        raise ValueError(
            f"wildcard pattern needs at least one literal character: "
            f"{pattern!r}")
    out = []
    for c in pattern:
        if c == "*":
            out.append("%")
        elif c == "?":
            out.append("_")
        elif c in ("%", "_", "\\"):
            out.append("\\" + c)
        else:
            out.append(c)
    return "".join(out)


def wildcard_anchor(pattern: str) -> str:
    """The literal run before the first metachar — pushed as a
    ``startswith`` predicate so parquet min/max stats prune files on the
    term-sorted vocabulary even though a general LIKE cannot push. Empty
    for leading-wildcard patterns ('*ing'): those scan the vocabulary
    (Lucene's documented leading-wildcard cost), still capped."""
    i = 0
    while i < len(pattern) and pattern[i] not in "*?":
        i += 1
    return pattern[:i]


def wildcard_candidates(index: InvertedIndex, patterns: list[str],
                        max_expansions: int = 50) -> DataFrame:
    """The distributed half of ``wildcard_expand``: → (qt, term), the
    capped per-pattern vocabulary expansion (Lucene WildcardQuery with
    the top-terms rewrite). Each pattern filters term_stats with a
    LIKE predicate (JVM-side, whole-stage codegen) AND — when the
    pattern has a literal anchor — a startswith predicate that reaches
    the parquet scan as StringStartsWith (plan-audited); the per-pattern
    window caps at ``max_expansions`` by (df DESC, term ASC), the
    prefix/fuzzy rewrite order."""
    from functools import reduce

    from pyspark.sql.window import Window

    if max_expansions < 1:
        raise ValueError(f"max_expansions must be >= 1: {max_expansions}")
    uniq = list(dict.fromkeys(patterns))
    if not uniq:
        raise ValueError("patterns must be non-empty")
    frames = []
    for p in uniq:
        like = wildcard_like(p)  # validates ≥1 literal char
        anchor = wildcard_anchor(p)
        vocab = None
        if not anchor and hasattr(index, "trigram_candidates"):
            # leading-wildcard patterns have no startswith anchor to
            # prune the term-sorted vocabulary — when a trigram index
            # is committed (catalog.build_term_ngram_index), probe it
            # for the bounded candidate superset and run the exact
            # LIKE on that instead of the full vocabulary scan
            vocab = index.trigram_candidates(p)
        if vocab is not None:
            frames.append(vocab.filter(F.col("term").like(like))
                          .select(F.lit(p).alias("qt"), "term", "df"))
            continue
        cond = F.col("term").like(like)
        if anchor:
            cond = F.col("term").startswith(anchor) & cond
        frames.append(index.term_stats.filter(cond)
                      .select(F.lit(p).alias("qt"), "term", "df"))
    cand = reduce(lambda a, b: a.unionByName(b), frames)
    w = Window.partitionBy("qt").orderBy(F.desc("df"), F.asc("term"))
    return (cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_expansions)
            .select("qt", "term"))


def wildcard_expand(index: InvertedIndex, patterns: list[str],
                    max_expansions: int = 50) -> dict[str, float]:
    """→ {vocabulary term: Σ 1.0 per selecting pattern} — the bounded
    collect (≤ |patterns|·max_expansions rows, the prefix_expand
    idiom)."""
    out: dict[str, float] = {}
    for r in wildcard_candidates(index, patterns, max_expansions).collect():
        out[r["term"]] = out.get(r["term"], 0.0) + 1.0
    return out


def search_dismax(index: InvertedIndex, clauses: list[list[str]],
                  tie_breaker: float = 0.0, k: int | None = 100,
                  model: str = "bm25",
                  candidates: DataFrame | None = None) -> DataFrame:
    """Lucene DisjunctionMaxQuery: per-doc score =
    max(clause scores) + tie_breaker · Σ(other clause scores) —
    the "best field/aspect wins" combiner that keeps multi-aspect
    queries from rewarding docs that merely mention every aspect
    weakly (BM25's plain OR sum does). tie_breaker=0 is the pure max;
    tie_breaker=1 degenerates to the OR sum.

    Each clause is an ANALYZED token list scored independently
    (search_freetext_tokens semantics, k=None unranked aggregates);
    the union-by-clause then aggregates max and sum per doc_id in ONE
    groupBy — max + tie·(sum − max) is algebraically the Lucene
    formula and needs no per-clause ranking or join. Docs absent from
    a clause contribute nothing to it (score 0 — Lucene's disjunction
    semantics). Empty clauses (all tokens OOV/stopworded) drop out; if
    every clause is empty the result is empty. Scale shape: one
    scoring aggregate per clause (|clauses| is query-sized) + one
    final combine aggregate; a single TakeOrderedAndProject cut."""
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(
            f"tie_breaker must be in [0, 1]: {tie_breaker}")
    if not clauses:
        raise ValueError("dis_max needs at least one clause")
    frames = []
    for toks in clauses:
        if not toks:
            continue
        f = search_freetext_tokens(index, toks, k=None, model=model,
                                   candidates=candidates)
        frames.append(f)
    spark_df = index.postings.sparkSession
    if not frames:
        return spark_df.createDataFrame([], "doc_id long, score double")
    from functools import reduce

    union = reduce(lambda a, b: a.unionByName(b), frames)
    agg = union.groupBy("doc_id").agg(
        (F.max("score")
         + F.lit(float(tie_breaker)) * (F.sum("score") - F.max("score")))
        .alias("score"))
    k = effective_k(index, k)
    return agg if k is None else topk(agg, k)


#: the cross-dialect-safe regexp alphabet: lowercase ASCII literals +
#: the automaton constructs Java regex and RE2 interpret IDENTICALLY.
#: No backslash (escape dialects differ), no '(?...' (flags/lookaround
#: — RE2 has neither), no '$'/'^' (Lucene RegexpQuery is implicitly
#: anchored; the engine adds the anchors itself).
_REGEXP_SAFE_RE = re.compile(r"^[a-z0-9\[\]\(\)\{\}\.\*\+\?\|,\-]+$")


def regexp_validate(pattern: str) -> str:
    """Validate a Lucene-RegexpQuery-style pattern against the
    dialect-identical subset (see _REGEXP_SAFE_RE) → the pattern.

    The wildcard path chose LIKE precisely to dodge Java-vs-RE2 regex
    divergence; the regexp path keeps that guarantee by CONSTRUCTION:
    only constructs with identical semantics in both engines pass.
    Patterns must keep at least one literal character ('.*' would
    expand to the whole vocabulary — Lucene's leading-wildcard rule)."""
    if not pattern:
        raise ValueError("regexp pattern must be non-empty")
    if "(?" in pattern:
        raise ValueError(
            f"regexp pattern {pattern!r}: '(?...' groups (flags/"
            "lookaround) are not in the cross-engine dialect")
    if not _REGEXP_SAFE_RE.match(pattern):
        raise ValueError(
            f"regexp pattern {pattern!r} uses characters outside the "
            "cross-engine subset [a-z0-9 [](){}.*+?|,-] — no backslash "
            "escapes, no anchors (patterns are whole-term anchored "
            "already)")
    if not re.search(r"[a-z0-9]", pattern):
        raise ValueError(
            f"regexp pattern needs at least one literal character: "
            f"{pattern!r}")
    try:
        re.compile(pattern)
    except re.error as e:
        raise ValueError(f"invalid regexp pattern {pattern!r}: {e}")
    return pattern


def regexp_anchor(pattern: str) -> str:
    """The literal prefix pushed as ``startswith`` for parquet min/max
    pruning (wildcard_anchor's regexp sibling): the run of literal
    chars before the first metachar, minus the final one when a
    quantifier follows (in 'gro*up' the 'o' is quantified — only 'gr'
    is a guaranteed prefix)."""
    i = 0
    while i < len(pattern) and pattern[i] not in "[](){}.*+?|":
        i += 1
    lit = pattern[:i]
    if lit and i < len(pattern) and pattern[i] in "*+?{":
        lit = lit[:-1]
    return lit


def regexp_candidates(index: InvertedIndex, patterns: list[str],
                      max_expansions: int = 50) -> DataFrame:
    """→ (qt, term): per-pattern whole-term regexp expansion against the
    vocabulary (Lucene RegexpQuery, top-terms rewrite) — rlike with the
    engine-added ^(?:...)$ anchors, plus the literal-prefix startswith
    pushdown when the pattern has one; capped per pattern by
    (df DESC, term ASC) like the wildcard/prefix/fuzzy rewrites."""
    from functools import reduce

    from pyspark.sql.window import Window

    if max_expansions < 1:
        raise ValueError(f"max_expansions must be >= 1: {max_expansions}")
    uniq = list(dict.fromkeys(patterns))
    if not uniq:
        raise ValueError("patterns must be non-empty")
    frames = []
    for p in uniq:
        regexp_validate(p)
        cond = F.col("term").rlike(f"^(?:{p})$")
        anchor = regexp_anchor(p)
        if anchor:
            cond = F.col("term").startswith(anchor) & cond
        frames.append(index.term_stats.filter(cond)
                      .select(F.lit(p).alias("qt"), "term", "df"))
    cand = reduce(lambda a, b: a.unionByName(b), frames)
    w = Window.partitionBy("qt").orderBy(F.desc("df"), F.asc("term"))
    return (cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_expansions)
            .select("qt", "term"))


def regexp_expand(index: InvertedIndex, patterns: list[str],
                  max_expansions: int = 50) -> dict[str, float]:
    """→ {vocabulary term: Σ 1.0 per selecting pattern} — the bounded
    collect (≤ |patterns|·max_expansions rows)."""
    out: dict[str, float] = {}
    for r in regexp_candidates(index, patterns, max_expansions).collect():
        out[r["term"]] = out.get(r["term"], 0.0) + 1.0
    return out


def search_patterns(index: InvertedIndex, toks: list[str],
                    prefixes: list[str] = (), wildcards: list[str] = (),
                    regexps: list[str] = (),
                    k: int | None = 100, max_expansions: int = 50,
                    model: str = "bm25",
                    candidates: DataFrame | None = None) -> DataFrame:
    """Free-text retrieval with pattern terms — trailing-* prefixes
    ('pri*', the cheaper startswith-only path) and general wildcards
    ('te*t'/'t?st'): every pattern expands to its top-``max_expansions``
    vocabulary terms and the union of literal ``toks`` (weight 1 each,
    duplicates summing — the search_freetext bag semantics) and
    expansion terms scores as one boolean-OR query. → (doc_id, score)
    top-k, ties (score DESC, doc_id ASC). A term selected by several
    clauses (literal + patterns) sums every contribution (the Lucene
    rewrite). Scoring reuses the literal-lookup plan: pushable
    ``term IN (...)`` scan, one partial-agg'd groupBy(doc_id), a single
    TakeOrderedAndProject."""
    boosts: dict[str, float] = {}
    for t in toks:
        boosts[t] = boosts.get(t, 0.0) + 1.0
    if prefixes:
        for t, b in prefix_expand(index, prefixes, max_expansions).items():
            boosts[t] = boosts.get(t, 0.0) + b
    if wildcards:
        for t, b in wildcard_expand(index, wildcards,
                                    max_expansions).items():
            boosts[t] = boosts.get(t, 0.0) + b
    if regexps:
        for t, b in regexp_expand(index, regexps,
                                  max_expansions).items():
            boosts[t] = boosts.get(t, 0.0) + b
    if not boosts:
        return index.postings.sparkSession.createDataFrame(
            [], "doc_id long, score double")
    scored = _scored_frame(index, sorted(boosts), model, boosts)
    if candidates is not None:
        scored = scored.join(candidates, "doc_id", "left_semi")
    agg = scored.groupBy("doc_id").agg(F.sum("weight").alias("score"))
    k = effective_k(index, k)
    return agg if k is None else topk(agg, k)


def search_prefix(index: InvertedIndex, toks: list[str],
                  prefixes: list[str], k: int | None = 100,
                  max_expansions: int = 50, model: str = "bm25",
                  candidates: DataFrame | None = None) -> DataFrame:
    """Trailing-* prefix retrieval — ``search_patterns`` with no general
    wildcards (kept as the named PrefixQuery entry point)."""
    return search_patterns(index, toks, prefixes=prefixes, k=k,
                           max_expansions=max_expansions, model=model,
                           candidates=candidates)


def search_synonyms(index: InvertedIndex, toks: list[str],
                    synonyms: dict[str, list[str]], k: int | None = 100,
                    weight: float = 0.7, model: str = "bm25",
                    candidates: DataFrame | None = None) -> DataFrame:
    """Query-time synonym expansion (Lucene SynonymQuery as weighted
    boolean-OR): every original token keeps its bag weight (1.0 per
    occurrence, the search_freetext semantics) and each synonym of an
    original adds ``weight`` per occurrence of that original — a
    synonym shared by two query terms sums both contributions, and a
    synonym that is ALSO a literal query term sums its literal weight
    too (two OR clauses, the fuzzy/prefix rewrite rule). → (doc_id,
    score) top-k, ties (score DESC, doc_id ASC).

    The synonym table is a driver-side dict (plans.synonyms.load_synonyms
    — Solr synonyms.txt format, analyzed into index vocabulary space);
    the expansion itself costs NO Spark work, and scoring reuses the
    literal-lookup plan: pushable ``term IN (...)`` scan, one
    partial-agg'd groupBy(doc_id), a single TakeOrderedAndProject.
    OOV synonyms match nothing and change nothing — query-time
    expansion never touches df statistics (the reason this engine does
    not inject synonyms at index time)."""
    if weight <= 0.0:
        raise ValueError(f"synonym weight must be > 0: {weight}")
    boosts: dict[str, float] = {}
    for t in toks:
        boosts[t] = boosts.get(t, 0.0) + 1.0
        for syn in synonyms.get(t, ()):
            boosts[syn] = boosts.get(syn, 0.0) + weight
    if not boosts:
        return index.postings.sparkSession.createDataFrame(
            [], "doc_id long, score double")
    scored = _scored_frame(index, sorted(boosts), model, boosts)
    if candidates is not None:
        scored = scored.join(candidates, "doc_id", "left_semi")
    agg = scored.groupBy("doc_id").agg(F.sum("weight").alias("score"))
    k = effective_k(index, k)
    return agg if k is None else topk(agg, k)


def more_like_this(index: InvertedIndex, doc_id: int, k: int | None = 100,
                   max_query_terms: int = 10,
                   model: str = "bm25") -> DataFrame:
    """Lucene MoreLikeThis: the source document's ``max_query_terms``
    highest-tf·idf terms (tf × ln(n_docs/df) rounded to 6 dp — the
    doc_keywords formula, corpusstats.py) become an unweighted OR query
    (Lucene MLT's default boost=false); the source doc is excluded from
    the hits. → (doc_id, score) top-k, ties (score DESC, doc_id ASC).
    The reference offers no related-articles feature; this is the
    standard SERP "more like this" built from the same index artifacts.

    Scale shape: the term-selection pass filters postings to ONE doc_id
    (a pushable min/max-prunable predicate on the doc-partitioned
    segment store; a single linear scan on an in-memory index), then
    broadcast-joins that ≤|doc| row set to term_stats and collects the
    top terms driver-side (O(max_query_terms), spellchecker idiom —
    ordering on the ROUNDED tfidf keeps the cut reproducible across
    engines). Pass 2 is the plain literal-lookup scoring plan."""
    rows = mlt_terms_frame(index, doc_id, max_query_terms).collect()
    terms = sorted(r.term for r in rows)
    if not terms:
        return index.postings.sparkSession.createDataFrame(
            [], "doc_id long, score double")
    scored = _scored_frame(index, terms, model).filter(
        F.col("doc_id") != F.lit(doc_id))
    agg = scored.groupBy("doc_id").agg(F.sum("weight").alias("score"))
    k = effective_k(index, k)
    return agg if k is None else topk(agg, k)


def mlt_terms_frame(index: InvertedIndex, doc_id: int,
                    max_query_terms: int = 10) -> DataFrame:
    """The distributed half of ``more_like_this``'s term selection:
    → (term, tfidf), the source doc's top terms, ordered — exposed
    separately so the plan audit can assert its shape (one pushable
    doc_id filter, broadcast enrich against term_stats, a single
    TakeOrderedAndProject for the cut)."""
    if max_query_terms < 1:
        raise ValueError(f"max_query_terms must be >= 1: {max_query_terms}")
    n = index.stats["n_docs"]
    src = (index.postings.filter(F.col("doc_id") == doc_id)
           .select("term", "tf"))
    scored_terms = (
        index.term_stats.select("term", "df")
        .join(F.broadcast(src), "term")
        .select(
            "term",
            F.round(F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 6)
            .alias("tfidf"),
        )
    )
    return (scored_terms.orderBy(F.desc("tfidf"), F.asc("term"))
            .limit(max_query_terms))


def hydrate(topk_df: DataFrame, documents: DataFrame) -> DataFrame:
    """Top-k article hydration = broadcast hash join (S10; replaces the
    reference's Postgres in_bulk at helpers.py:176-179)."""
    return F.broadcast(topk_df).join(documents, "doc_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )


def snippets(topk_df: DataFrame, documents: DataFrame, terms: list[str],
             width: int = 60, text_col: str = "text") -> DataFrame:
    """→ (doc_id, score, snippet): the SERP text fragment for each hit —
    a ±``width``-character window around the FIRST occurrence of any
    query term (case-insensitive; the earliest position across terms
    wins), ellipsized at whichever ends were cut; documents matching no
    term verbatim (stemming, phrase operands) fall back to the leading
    2·width characters. Same broadcast-hits shape as hydrate(): the
    top-k side is k rows, the documents scan prunes through the join,
    and the window math is a narrow JVM projection — per-query cost is
    O(k) document rows regardless of corpus size."""
    joined = F.broadcast(topk_df).join(documents, "doc_id")
    text = F.coalesce(F.col(text_col), F.lit(""))
    lt = F.lower(text)
    pos = F.array_min(
        F.filter(
            F.array(*[F.locate(t.lower(), lt) for t in terms]),
            lambda p: p > 0,
        )
    )
    start = F.greatest(F.coalesce(pos, F.lit(1)) - width, F.lit(1))
    core = text.substr(start, F.lit(2 * width))
    lead = F.when(start > 1, F.lit("…")).otherwise(F.lit(""))
    trail = F.when(start + 2 * width <= F.length(text),
                   F.lit("…")).otherwise(F.lit(""))
    return joined.select(
        "doc_id", "score",
        F.concat(lead, core, trail).alias("snippet"),
    )


def compare_runs(run_a: DataFrame, run_b: DataFrame,
                 id_col: str = "doc_id") -> dict:
    """Compare two ranked (doc_id, score) runs — the reference's results
    comparator (compare_results.py:16-33): ``positional`` = docs at the
    SAME rank in both runs (pinned order: score desc, doc_id asc),
    ``overlap`` = |ids_a ∩ ids_b|. One job per input; set overlap is an
    inner join on id, positional agreement a join on (rank, id)."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("score"), F.asc(id_col))

    def ranked(df, suffix):
        return df.select(F.col(id_col), F.col("score")) \
            .withColumn("rank", F.row_number().over(w)) \
            .select(F.col(id_col).alias("id"), F.col("rank").alias(f"rank_{suffix}"))

    a, b = ranked(run_a, "a"), ranked(run_b, "b")
    joined = a.join(b, "id")
    overlap = joined.count()
    positional = joined.filter(F.col("rank_a") == F.col("rank_b")).count()
    return {"positional": positional, "overlap": overlap,
            "n_a": run_a.count(), "n_b": run_b.count()}
