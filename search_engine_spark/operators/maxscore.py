"""Driver-orchestrated MaxScore top-k kernel (Turtle & Flood 1995) —
the engine's one dynamic-pruning serving kernel.

The reference loads a per-query "mini index" via byte-range reads
(index_loader.py:71-128) and scores it in Python loops. Here the mini
index is the query terms' posting BLOCKS: a driver-side Arrow read of
the staged postings (an impact store's impacts table) split into
doc-range blocks (catalog.SegmentIndex.mini_index; bounded per term by
the impact-ordered FETCH_CAP), and scored with block-max pruning.

Blocks are doc-partitioned (block_id = doc_id // span), so all terms'
blocks with the same block_id cover the same doc range and a doc's
final score is complete once its block range is processed. Within a
range, MaxScore's unit of work is the TERM: sort the range's blocks by
score upper bound (Σ qtf · ub(df, block_max_tf)) and call a block
"non-essential" when the upper bounds of it and every smaller block sum
to < θ, the current top-k threshold — a document containing ONLY
non-essential terms can never enter the top-k, so non-essential blocks
are never scored wholesale. They are probed only for candidates that
already scored on an essential term, and each candidate is abandoned
the moment its partial score plus the remaining non-essential bound
falls below θ.

Block-Max WAND's range skip is the degenerate case: every block
non-essential ⇒ the whole range's bound is < θ ⇒ skip the range without
scoring it. Inside surviving ranges MaxScore adds the per-term
savings: for head-term-heavy queries ("the data") it scores the
selective terms' blocks and touches the head term's postings only for
live candidates — at web scale, where the head term's blocks dominate a
range's volume, that is the difference that matters.

Scoring is array work over the blocks' arrays (the mini-index LRU keeps
them, catalog.MiniBlock): per surviving range, the essential
blocks' postings are summed per doc with unique + bincount, probes add
non-essential weights by searchsorted, and the top-k is two arrays
merged after each range in (score desc, doc asc) order.

Exactness: every skip is against the CURRENT θ, which only grows, and
every bound argument is a strict ``< θ`` — ties at the threshold are
still scored, so results are rank-identical to the relational BM25
path (pinned by the ``maxscore_bm25_identity`` driver gate and the
oracle identity tests in tests/test_maxscore.py).
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

from . import segments as SEG


# Default per-term bound on the blocks the mini-index LRU keeps. At the
# default build span of 131,072 docs/block this covers 33.5M doc ids per
# term, so it only truncates a term on a corpus above ~33.5M docs and
# typical queries stay EXACT; past that a head term keeps its 256
# highest-upper-bound blocks. The cap bounds what the driver holds,
# not what it reads: a miss reads the term's df rows (df ≤ n_docs).
FETCH_CAP = 256

# the relational path's floor for docs absent from the prior frame
# (search.blend_doc_prior default_prior) — the two paths MUST share it
PRIOR_FLOOR = 1e-12


def truncated_terms(mini: dict) -> list[str]:
    """Terms of a mini-index lookup whose fetched blocks hold fewer
    postings than the term's df — the fetch cap dropped some of their
    blocks, so scores over them are a safe under-estimate."""
    return sorted(t for t, (df, blks) in mini.items()
                  if sum(blk.n_docs for blk in blks) < df)


def kernel_eligible(plan) -> bool:
    """True iff a classified plan has kernel semantics: pure bag-of-words
    free text, no phrases. THE single predicate behind search_maxscore's
    own refusal and the serving entry points' pre-spellcheck guards
    (jobs/serve.py, jobs/query_topk.py, plans/explain.py) — keeping them
    on one function prevents the guards drifting apart (e.g. a caller
    spellchecking a boolean query that the kernel then rejects)."""
    from ..plans import planner

    return (isinstance(plan, planner.FreeTextPlan) and not plan.phrases
            and not plan.prefixes and not plan.wildcards
            and not plan.regexps)


def search_maxscore(index, query: str, k: int = 100,
                    k1: float = 1.2, b: float = 0.75,
                    max_blocks_per_term: int | None | str = "auto",
                    prior=None, prior_lam: float = 0.3,
                    prior_id_col: str = "node", prior_col: str = "rank",
                    stats: dict | None = None,
                    plan=None) -> list[tuple[int, float]]:
    """BM25 top-k over a SegmentIndex via block-max MaxScore.

    Returns [(doc_id, score)] — a driver-side result (the serving path);
    use operators.search for the distributed DataFrame path.

    Requires a SegmentIndex (the durable, bucket-partitioned form): the
    relational ``operators.search`` path is the equivalent for in-memory
    indexes. FREE-TEXT queries only: phrase/boolean/proximity shapes
    raise ValueError (the analyzer would strip their operators and
    silently degrade them to bag-of-words) — use executor.execute.
    Tombstoned deletes are masked with the same stale global stats as
    the relational path, so the two stay rank-identical under deletes.

    ``max_blocks_per_term`` bounds what the fetch keeps: each term keeps
    only its highest-upper-bound blocks, with the exact df alongside.
    Dropped blocks can only LOWER a doc's score (a safe approximation,
    reported in ``stats["truncated_terms"]``). ``"auto"`` = FETCH_CAP,
    ``None`` = the exact uncapped fetch, an int = an explicit cap.
    Fetches go
    through the driver mini-index LRU and its misses are driver-side
    Arrow reads, so a query launches ZERO Spark jobs.

    ``stats`` (optional dict) receives ``n_blocks_total``,
    ``n_blocks_decoded`` (blocks scored) and ``n_ranges_skipped`` — the
    pruning telemetry the bench and tests read (counters are for the
    LAST top-k pass when prior blending deepens iteratively) — and
    ``truncated_terms``: the query terms the fetch cap cut short
    (truncated_terms); empty means the answer is exact — and
    ``mini_hits`` / ``mini_misses``: the query terms the mini-index LRU
    served and the ones it fetched.

    ``prior`` (a (node, rank) DataFrame, canonically a PageRank
    artifact) blends the static document prior EXACTLY like the
    relational path's search.blend_doc_prior (see _blend_prior_topk).

    ``plan`` (optional) is ``planner.classify(query, index.analyzer)``
    when the caller already holds it (jobs/serve.py classifies each
    request once); None classifies here. The kernel scores the plan's
    terms, the same terms the relational path scores.
    """
    if not hasattr(index, "mini_index"):
        raise TypeError(
            "search_maxscore needs a SegmentIndex (durable index); use "
            "operators.search.search_freetext for in-memory indexes")
    if plan is None:
        from ..plans import planner

        plan = planner.classify(query, index.analyzer)
    if not kernel_eligible(plan):
        raise ValueError(
            "search_maxscore is a bag-of-words BM25 kernel: phrase, "
            "boolean and proximity queries have no MaxScore semantics "
            "here — use operators.executor.execute (the relational path)")
    toks = plan.terms
    if not toks or k <= 0:
        return []
    q_tf: dict[str, int] = {}
    for t in toks:
        q_tf[t] = q_tf.get(t, 0) + 1
    terms = list(q_tf)

    n = index.stats["n_docs"]
    avgdl = index.stats["avgdl"]
    # quantized-impact stores (catalog.quantize_index): blocks carry the
    # stored impact q instead of tf and dl; score = qtf·idf·(k1+1)·q/maxq
    # and the per-block bound idf·(k1+1)·block_max/maxq is EXACT for the
    # quantized scores (block_max_tf holds the block's max impact)
    impact_store = getattr(index, "store", "tf") == "impact"
    impact_scale = 0.0
    if impact_store:
        baked = (index.meta["impact_k1"], index.meta["impact_b"])
        if (k1, b) != baked:
            raise ValueError(
                f"impact store bakes its scoring model at quantize time "
                f"(k1={baked[0]}, b={baked[1]}) — requested ({k1}, {b}); "
                "re-quantize from the source index to change the model")
        impact_scale = (k1 + 1.0) / ((1 << index.meta["impact_bits"]) - 1)
    # sorted tombstone ids, built once per index handle (None: no deletes)
    del_arr = index.deleted_id_array()
    cap = (FETCH_CAP if max_blocks_per_term == "auto"
           else max_blocks_per_term)
    mini = index.mini_index(terms, cap=cap, stats=stats)
    dfs = {t: df for t, (df, _) in mini.items()}
    if not dfs:
        return []
    idf = {
        t: float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))
        for t, df in dfs.items()
    }

    by_range: dict[int, list] = defaultdict(list)
    n_blocks = 0
    for _, (_, blks) in mini.items():
        for blk in blks:
            by_range[blk.block_id].append(blk)
            n_blocks += 1
    if stats is not None:
        stats["truncated_terms"] = truncated_terms(mini)

    def weights(blk):
        """(docs, per-term bm25 weights) of a block with deletes masked;
        None when every posting in the block is tombstoned. The block's
        arrays are the LRU's (catalog.MiniBlock), so only the weights
        are computed per request."""
        docs = blk.docs
        if impact_store:
            (q,) = blk.values
        else:
            tfs, dls = blk.values
        if del_arr is not None:
            pos = np.searchsorted(del_arr, docs)
            pos[pos == len(del_arr)] = 0
            live = del_arr[pos] != docs
            if not live.all():
                if not live.any():
                    return None
                docs = docs[live]
                if impact_store:
                    q = q[live]
                else:
                    tfs, dls = tfs[live], dls[live]
        if stats is not None:
            stats["n_blocks_decoded"] += 1
        if impact_store:
            return docs, (q_tf[blk.term] * idf[blk.term] * impact_scale
                          * q.astype(np.float64))
        tfs_f = tfs.astype(np.float64)
        norm = k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl)
        return docs, (q_tf[blk.term] * idf[blk.term] * tfs_f * (k1 + 1.0)
                      / (tfs_f + norm))

    def bm25_topk(capacity: int) -> list[tuple[int, float]]:
        # The top-k as two arrays in the pinned (score desc, doc asc)
        # order, so the last entry is the one a new doc must beat (θ).
        top_d = np.empty(0, dtype=np.int64)
        top_s = np.empty(0, dtype=np.float64)
        if stats is not None:
            stats["n_blocks_total"] = n_blocks
            stats["n_blocks_decoded"] = 0
            stats["n_ranges_skipped"] = 0

        for block_id in sorted(by_range):
            grp = by_range[block_id]
            # θ only changes when a range's candidates are merged in, so
            # it is constant while the range is scored
            full = len(top_d) >= capacity
            theta = float(top_s[-1]) if full else float("-inf")
            # Range-local upper bounds (tighter than global term bounds:
            # they use THIS range's block_max_tf), ascending — the MaxScore
            # ordering. ubs[i] = (ub, blk).
            if impact_store:
                ubs = sorted(
                    ((q_tf[blk.term] * idf[blk.term] * impact_scale
                      * blk.block_max_tf, blk) for blk in grp),
                    key=lambda x: x[0])
            else:
                ubs = sorted(
                    ((q_tf[blk.term]
                      * SEG.bm25_upper_bound(dfs[blk.term], n,
                                             blk.block_max_tf, k1, b), blk)
                     for blk in grp),
                    key=lambda x: x[0])
            total_ub = sum(u for u, _ in ubs)
            if full and total_ub < theta:
                # Block-Max WAND's range skip: the all-non-essential case
                if stats is not None:
                    stats["n_ranges_skipped"] += 1
                continue
            # Largest prefix (ascending ub) with cumulative bound < θ is
            # non-essential: a doc scoring ONLY there stays strictly under
            # θ and can never displace the top-k minimum.
            cum = 0.0
            split = 0
            if full:
                for u, _ in ubs:
                    if cum + u < theta:
                        cum += u
                        split += 1
                    else:
                        break
            non_essential = ubs[:split]

            # Essential blocks, concatenated in ascending-bound order:
            # bincount adds in input order, so each doc's partial score
            # sums its terms in the same order a per-doc accumulator would.
            scored = [w for w in (weights(blk) for _, blk in ubs[split:])
                      if w is not None]
            if not scored:
                continue
            cand_d, inv = np.unique(np.concatenate([d for d, _ in scored]),
                                    return_inverse=True)
            cand_s = np.bincount(
                inv, weights=np.concatenate([w for _, w in scored]),
                minlength=len(cand_d))
            # Probe non-essential blocks in DESCENDING bound order, dropping
            # candidates whose partial score plus the bound of the
            # still-unprobed non-essential blocks stays below θ.
            rem = cum
            for u, blk in reversed(non_essential):
                alive = ~(cand_s + rem < theta)
                if not alive.all():
                    cand_d, cand_s = cand_d[alive], cand_s[alive]
                    if not len(cand_d):
                        break
                dec = weights(blk)
                if dec is not None:
                    docs, w = dec
                    pos = np.searchsorted(docs, cand_d)
                    pos[pos == len(docs)] = 0
                    hit = docs[pos] == cand_d
                    cand_s[hit] += w[pos[hit]]
                rem -= u
            all_d = np.concatenate([top_d, cand_d])
            all_s = np.concatenate([top_s, cand_s])
            order = np.lexsort((all_d, -all_s))[:capacity]
            top_d, top_s = all_d[order], all_s[order]

        return list(zip(top_d.tolist(), top_s.tolist()))

    if prior is None:
        return bm25_topk(k)
    return _blend_prior_topk(index, bm25_topk, k, prior, prior_lam,
                             prior_id_col, prior_col)


def _blend_prior_topk(index, bm25_topk, k: int, prior, lam: float,
                      id_col: str, prior_col: str) -> list[tuple[int, float]]:
    """Exact blended top-k (score + lam·ln(prior), docs absent from the
    prior or with a null prior at PRIOR_FLOOR) from a bm25-exact
    ``bm25_topk(capacity)``, by iterative deepening: take the exact bm25
    top-K′ (K′ starts at 4k), fetch those K′ docs' priors in ONE bounded
    Spark job (broadcast semi-join, O(K′) rows — never the corpus-sized
    prior frame), and stop once no unseen doc can enter the top-k.

    Correctness argument: for any doc outside the bm25 top-K′, blended ≤
    bm25 + C with C = max(0, lam·ln max_prior) (C = 0 when priors are
    probabilities), and its bm25 ≤ the K′-th bm25 score; so once
    bm25_{K′} + C < blended_{k-th}, no unseen doc can enter the top-k.
    K′ doubles until that holds or the candidate set is exhausted (fewer
    than K′ docs returned → everything matching the query has been
    blended). Block fetches are LRU-cached, so only the heap pass
    repeats."""
    spark = index.spark
    p_max = getattr(prior, "_prior_max", None)
    if p_max is None:
        p_max = prior.agg(F.max(F.col(prior_col))).collect()[0][0]
        try:  # memo on the frame: serving reuses one prior frame
            prior._prior_max = p_max
        except AttributeError:
            pass
    boost = max(0.0, lam * math.log(p_max)) if p_max else 0.0
    cap = max(4 * k, k)
    while True:
        cands = bm25_topk(cap)
        if not cands:
            return []
        ids_df = spark.createDataFrame([(d,) for d, _ in cands],
                                       "doc_id long")
        got = (prior.join(F.broadcast(ids_df),
                          F.col(id_col) == F.col("doc_id"))
               .select("doc_id", F.col(prior_col).alias("p")).collect())
        # a null rank blends like an absent row (the relational path's
        # coalesce to the floor)
        pmap = {r.doc_id: r.p for r in got if r.p is not None}
        blended = sorted(
            ((d, s + lam * math.log(pmap.get(d, PRIOR_FLOOR)))
             for d, s in cands),
            key=lambda x: (-x[1], x[0]))
        exhausted = len(cands) < cap
        if exhausted or len(blended) < k:
            return blended[:k]
        theta = blended[k - 1][1]
        if cands[-1][1] + boost < theta:
            return blended[:k]
        cap *= 2
