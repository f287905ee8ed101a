"""Unified query execution — the reference's RetrievalExecution
(retrieval_execution.py:53-210) as a dispatcher over DataFrame plans.

classify → proximity | boolean | free-text(+phrases) → rank → top-k.
Mixed free-text+phrase queries union-sum the two score frames (Q14,
bm25_model.py:176-183). Date-range filtering (Q11) is a partition-prunable
filter on the documents table semi-joined into scoring.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import planner
from . import phrase as PH
from . import boolean as B
from . import search as search_mod
from .search import InvertedIndex, search_freetext_tokens, topk


def date_candidates(documents: DataFrame, start: date, end: date,
                    ts_col: str = "warc_ts") -> DataFrame:
    """Docs within [start, end] — replaces the reference's date2doc
    reverse map (index_build.py:94-99 / retrieval_execution.py:123-133).

    On a table written by ``corpus.write_documents_partitioned`` the
    ``warc_date`` partition column is filtered directly, so Catalyst
    prunes whole date directories before any IO (asserted in the plan
    audit); otherwise it falls back to a pushed-down ``to_date`` filter.
    """
    if "warc_date" in documents.columns:
        cond = F.col("warc_date").between(F.lit(start), F.lit(end))
    else:
        cond = F.to_date(F.col(ts_col)).between(F.lit(start), F.lit(end))
    return documents.filter(cond).select("doc_id")


def execute(index: InvertedIndex, query: str, k: int | None = 100,
            model: str = "bm25", date_start: date | None = None,
            date_end: date | None = None, adaptive: bool = False,
            spellchecker=None, symbols: frozenset[str] = frozenset(),
            abbreviations: dict[str, str] | None = None,
            prior: DataFrame | None = None, prior_lam: float = 0.3,
            rm3_alpha: float | None = None, rm3_fb_docs: int = 10,
            rm3_fb_terms: int = 10,
            fuzzy_max_dist: int | None = None,
            after: tuple[float, int] | None = None,
            min_should_match: int | None = None,
            synonyms: dict[str, list[str]] | None = None,
            synonym_weight: float = 0.7,
            recency: DataFrame | None = None,
            recency_as_of: date | None = None,
            recency_half_life: float = 30.0,
            recency_floor: float = 0.1) -> DataFrame:
    """→ (doc_id, score) for ranked kinds; (doc_id, score=0.0) for
    proximity/boolean kinds (reference returns those unranked).

    ``spellchecker`` (a plans.spellcheck.VocabularySpellchecker) enables
    the reference's first-execution spellcheck on FREE-TEXT queries only
    (retrieval_execution.py:77-79 applies it after classification; the
    rerun path passes None — views.py:99-138). OFF by default so
    rank-identity tests compare unrewritten queries.

    ``abbreviations`` (term→expansion, plans.spellcheck.load_abbreviations)
    appends '"{expansion}"' phrases for free-text queries AFTER spellcheck
    (so a corrected token can still trigger its expansion) — the
    reference's fin-abbrev feature (helpers.py:297-303; dead code there,
    live opt-in here).

    ``prior`` (a (node, rank) frame, canonically operators.graph.pagerank
    output) blends a query-independent document prior into RANKED kinds
    via search.blend_doc_prior — score + prior_lam·ln(rank) — applied
    once to the merged score frame BEFORE the final top-k. Unranked
    kinds (proximity, boolean fallback) ignore it (their score is a
    constant 0.0 by reference semantics, and re-ranking them by prior
    alone would invent an ordering the reference does not define).

    ``recency`` (a (doc_id, warc_date) frame) multiplies RANKED scores
    by the half-life freshness decay (search.blend_recency), applied at
    the same sites as ``prior`` — after score merging, before the final
    top-k. ``recency_as_of`` is MANDATORY with it: an implicit now()
    would make rankings irreproducible (quirk 4, same reason rerank
    pins as_of_date). Unranked kinds ignore it like they ignore
    ``prior``."""
    # ``after`` = (score, doc_id) cursor of the previous page's last row
    # (search.page_after): deep paging as one filtered top-k instead of
    # an offset that buffers offset+k rows per partition. Defined over
    # RANKED free-text kinds; proximity and boolean return doc-id-ordered
    # (or emptiness-dependent) rows where a score cursor has no meaning —
    # refused below, never silently ignored.
    index.release_caches()  # previous query's phrase/adaptive caches
    # validate + clamp k once at the surface: top-k buffers are O(k) per
    # partition, and no query returns more rows than the corpus has docs
    k = search_mod.effective_k(index, k)
    plan = planner.classify(query, index.analyzer)
    if isinstance(plan, planner.FreeTextPlan):
        rewritten = query
        if spellchecker is not None:
            from ..plans.spellcheck import correct_query

            rewritten = correct_query(query, spellchecker, symbols)
        if abbreviations:
            from ..plans.spellcheck import expand_abbreviations

            rewritten = expand_abbreviations(rewritten, abbreviations)
        if rewritten != query:
            plan = planner.classify(rewritten, index.analyzer)
    spark = index.postings.sparkSession

    if recency is not None and recency_as_of is None:
        raise ValueError(
            "recency requires an explicit recency_as_of date — an "
            "implicit now() makes rankings irreproducible")

    def _blend(scored: DataFrame) -> DataFrame:
        """prior + recency blends, applied once to every RANKED score
        frame right before its final top-k (the shared site for all
        query-independent score adjustments)."""
        if prior is not None:
            scored = search_mod.blend_doc_prior(scored, prior,
                                                lam=prior_lam)
        if recency is not None:
            scored = search_mod.blend_recency(
                scored, recency, recency_as_of,
                half_life_days=recency_half_life, floor=recency_floor)
        return scored

    cand = None
    if date_start is not None and date_end is not None:
        cols = index.documents.columns if index.documents is not None else []
        if "warc_ts" not in cols and "warc_date" not in cols:
            raise ValueError(
                "date filtering requested but the documents table has "
                "neither warc_ts nor warc_date — silently ignoring the "
                "range would return out-of-range results")
        # date_candidates prefers the warc_date partition column
        # (pruning) and falls back to the warc_ts pushdown filter
        cand = date_candidates(index.documents, date_start, date_end)

    if rm3_alpha is not None and not isinstance(plan, planner.FreeTextPlan):
        raise ValueError("RM3 supports plain free-text queries only "
                         "(no phrases/boolean/proximity)")
    # Fuzzy expansion (search.search_fuzzy) rewrites the TERM SET, so it
    # is defined only where a bag of free-text terms exists — expanding a
    # phrase operand or a boolean clause would change those kinds'
    # matching semantics, and RM3/adaptive re-derive term statistics the
    # expansion has already rewritten. Refused explicitly, never ignored.
    if fuzzy_max_dist is not None:
        if not isinstance(plan, planner.FreeTextPlan) or plan.phrases:
            raise ValueError("fuzzy matching supports plain free-text "
                             "queries only (no phrases/boolean/proximity)")
        if rm3_alpha is not None:
            raise ValueError("fuzzy does not compose with RM3 — two "
                             "query expansions; drop one of the flags")
        if adaptive:
            raise ValueError(
                "fuzzy does not compose with adaptive candidate tiers — "
                "the tiers are defined over the literal terms; drop one "
                "of the two flags")
        if model == "vsm":
            raise ValueError("fuzzy is defined over the term-weight "
                             "models (bm25/lm), not vsm")

    # Pattern terms — trailing-* prefixes, general wildcards, and
    # /regexp/ tokens (planner.FreeTextPlan.prefixes/.wildcards/
    # .regexps) — are a term-set rewrite like fuzzy: composition with
    # other rewrites/models that re-derive term statistics is refused
    # explicitly, never ignored.
    if isinstance(plan, planner.FreeTextPlan) and (plan.prefixes
                                                   or plan.wildcards
                                                   or plan.regexps):
        if plan.phrases:
            raise ValueError("pattern terms (tok*/wildcards/regexps) "
                             "support plain free-text queries only "
                             "(no phrases)")
        if rm3_alpha is not None:
            raise ValueError("pattern terms do not compose with RM3 — two "
                             "query expansions; drop one")
        if fuzzy_max_dist is not None:
            raise ValueError("pattern terms do not compose with fuzzy "
                             "matching — two term-set rewrites; drop one")
        if adaptive:
            raise ValueError(
                "pattern terms do not compose with adaptive candidate "
                "tiers — the tiers are defined over the literal terms")
        if model == "vsm":
            raise ValueError("pattern terms are defined over the "
                             "term-weight models (bm25/lm), not vsm")

    if after is not None and not isinstance(plan, planner.FreeTextPlan):
        raise ValueError(
            "cursor pagination (after=) is defined over ranked free-text "
            "queries; proximity/boolean results are not score-ordered")

    # Query-time synonym expansion (plans.synonyms + search.search_synonyms)
    # is a term-set rewrite like fuzzy/patterns: plain free-text only,
    # and composition with the other rewrites (two expansions) or with
    # policies defined over the literal clause set is refused explicitly.
    if synonyms is not None:
        if not isinstance(plan, planner.FreeTextPlan) or plan.phrases \
                or plan.prefixes or plan.wildcards or plan.regexps:
            raise ValueError("synonym expansion supports plain free-text "
                             "queries only (no phrases/patterns/boolean/"
                             "proximity)")
        if rm3_alpha is not None or fuzzy_max_dist is not None:
            raise ValueError("synonym expansion does not compose with "
                             "rm3/fuzzy — two query expansions; drop one")
        if adaptive or min_should_match is not None:
            raise ValueError(
                "synonym expansion does not compose with adaptive tiers "
                "or min_should_match — those policies are defined over "
                "the literal clause set the expansion rewrites")
        if model == "vsm":
            raise ValueError("synonym expansion is defined over the "
                             "term-weight models (bm25/lm), not vsm")

    # Minimum-should-match is a clause-count policy over the free-text
    # term bag (Lucene BooleanQuery mm). Phrase operands are separate
    # clauses with their own matching rule, boolean/proximity kinds
    # define their own set algebra, and the expansion rewrites
    # (rm3/fuzzy/prefix) change the clause set mm would count over —
    # each combination is refused explicitly, never silently ignored.
    if min_should_match is not None:
        if not isinstance(plan, planner.FreeTextPlan) or plan.phrases:
            raise ValueError("min_should_match supports plain free-text "
                             "queries only (no phrases/boolean/proximity)")
        if rm3_alpha is not None or fuzzy_max_dist is not None \
                or plan.prefixes or plan.wildcards or plan.regexps:
            raise ValueError(
                "min_should_match does not compose with query expansions "
                "(rm3/fuzzy/prefix/wildcard/regexp) — the expansion "
                "rewrites the clause set the match count is defined "
                "over; drop one")

    def _page(scored_frame):
        return (search_mod.page_after(scored_frame, after[0], after[1])
                if after is not None else scored_frame)

    if isinstance(plan, planner.ProximityPlan):
        docs = PH.proximity_docs(index, plan.t1, plan.t2, plan.k)
        if cand is not None:
            docs = docs.join(cand, "doc_id", "left_semi")
        return docs.select("doc_id", F.lit(0.0).alias("score")).orderBy("doc_id")

    if isinstance(plan, planner.BooleanPlan):
        docs = B.boolean_docs(index, plan)
        if cand is not None:
            docs = docs.join(cand, "doc_id", "left_semi")
        # reference then scores the boolean result set with the ranking
        # model over the query's terms (retrieval_execution.py:189-199)
        terms = [t for c in plan.clauses for t in c.terms]
        if terms:
            # terms are ALREADY analyzed by the planner — token-level call
            # (re-analysis would double-stem, e.g. 'provis'→'provi')
            scored = search_freetext_tokens(
                index, terms, k=None, model=model, candidates=docs
            )
            scored = _blend(scored)
            if k is not None:
                scored = search_mod.topk(scored, k)
            # cache before the emptiness probe: the probe executes the
            # scoring pipeline, and the caller's collect would otherwise
            # recompute it end-to-end (released by the NEXT execute())
            scored = index.register_query_cache(scored)
            if scored.limit(1).count() > 0:
                return scored
        return (
            docs.select("doc_id", F.lit(0.0).alias("score"))
            .orderBy("doc_id").limit(B.BOOLEAN_RESULT_CUT)
        )

    # RM3 expansion (search.search_rm3) applies to PLAIN free-text BM25
    # only; every unsupported combination is refused explicitly (the
    # kernel-guard style) rather than silently ignoring the expansion:
    # phrase/boolean/proximity plans have no bag-of-words weight vector
    # to interpolate and other models define no RM3 weighting here. A
    # date range IS supported: both RM3 passes restrict to the date
    # candidates (feedback docs drawn from in-range docs only).
    # Refusals come BEFORE the empty-terms early return, so e.g.
    # rm3+model='vsm' on a stopword-only query still raises instead of
    # silently returning empty (the documented contract).
    if rm3_alpha is not None:
        if plan.phrases:
            raise ValueError("RM3 supports plain free-text queries only "
                             "(no phrases/boolean/proximity)")
        if model != "bm25":
            raise ValueError(f"RM3 is defined over bm25 here, not {model!r}")
        if adaptive:
            raise ValueError(
                "RM3 does not compose with adaptive candidate tiers — "
                "the expansion terms would re-derive different tiers; "
                "drop one of the two flags")
        if not plan.terms:
            # all tokens analyzed away (stopwords/OOV punctuation): the
            # plain path returns an empty frame here, and RM3 must be
            # an identity on it — raising would break alpha=1 == plain
            return spark.createDataFrame([], "doc_id long, score double")
        scored = search_mod.search_rm3(
            index, plan.terms, k=None, fb_docs=rm3_fb_docs,
            fb_terms=rm3_fb_terms, alpha=rm3_alpha, candidates=cand)
        scored = _blend(scored)
        scored = _page(scored)
        return scored if k is None else topk(scored, k)

    if fuzzy_max_dist is not None:
        if not plan.terms:
            # all tokens analyzed away: same identity contract as RM3 —
            # the plain path returns empty here, fuzzy must too
            return spark.createDataFrame([], "doc_id long, score double")
        scored = search_mod.search_fuzzy(
            index, plan.terms, k=None, max_dist=fuzzy_max_dist,
            model=model, candidates=cand)
        scored = _blend(scored)
        scored = _page(scored)
        return scored if k is None else topk(scored, k)

    if plan.prefixes or plan.wildcards or plan.regexps:
        # literal terms + prefix/wildcard/regexp expansions score as ONE
        # boolean-OR query (search_patterns); refusals ran above
        scored = search_mod.search_patterns(
            index, plan.terms, prefixes=plan.prefixes,
            wildcards=plan.wildcards, regexps=plan.regexps,
            k=None, model=model,
            candidates=cand)
        scored = _blend(scored)
        scored = _page(scored)
        return scored if k is None else topk(scored, k)

    if synonyms is not None:
        if not plan.terms:
            # all tokens analyzed away: identity with the plain path
            return spark.createDataFrame([], "doc_id long, score double")
        scored = search_mod.search_synonyms(
            index, plan.terms, synonyms, k=None, weight=synonym_weight,
            model=model, candidates=cand)
        scored = _blend(scored)
        scored = _page(scored)
        return scored if k is None else topk(scored, k)

    # free text (with optional embedded phrases) — inner frames are
    # UNRANKED (k=None): a per-frame top-k with k=n_docs would be a full
    # global sort per frame at scale; instead the frames union-sum and a
    # SINGLE TakeOrderedAndProject applies the user's k at the end.
    frames = []
    if plan.terms:
        scored = search_freetext_tokens(
            index, plan.terms, k=None,
            model=model, adaptive=adaptive, candidates=cand,
            min_should_match=min_should_match,
        )
        frames.append(scored)
    slops = plan.phrase_slops or [0] * len(plan.phrases)
    for ph, sl in zip(plan.phrases, slops):
        # the phrase weight follows the active model (the reference's LM
        # models phrase-score with the LM phrase formula — phrase.py);
        # '"..."~N' routes the sloppy ordered-window matcher, slop 0 the
        # exact array_intersect path
        ps = PH.search_phrase(index, ph, k=None, model=model, slop=sl)
        if cand is not None:
            ps = ps.join(cand, "doc_id", "left_semi")
        frames.append(ps)
    if not frames:
        return spark.createDataFrame([], "doc_id long, score double")
    merged = frames[0]
    for f in frames[1:]:
        merged = merged.unionByName(f)
    if len(frames) > 1:
        merged = merged.groupBy("doc_id").agg(F.sum("score").alias("score"))
    merged = _blend(merged)
    merged = _page(merged)
    # k=None → the FULL scored frame (df-bounded, never corpus-scale),
    # unsorted: a global sort without a limit is a scale hazard, and the
    # k=None callers (SERP diversification) re-rank downstream anyway
    return merged if k is None else topk(merged, k)
