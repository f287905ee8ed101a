"""Driver-orchestrated Block-Max WAND top-k kernel (north-star operator).

The reference loads a per-query "mini index" via byte-range reads
(index_loader.py:71-128) and scores it in Python loops. Here, the mini
index is the set of segment BLOCKS of the query terms — fetched by a
driver-side Arrow read of the segment files, pruned on bucket
partitions and term min/max (pos_payload never read: column pruning;
catalog.SegmentIndex.mini_index) — and scored with Block-Max pruning:

* blocks are doc-partitioned (block_id = doc_id // span), so all terms'
  blocks with the same block_id cover the same doc range and a doc's final
  score is complete once its block range is processed;
* per range: upper bound = Σ_t qtf_t · ub(df_t, block_max_tf_t). If a full
  heap's threshold already exceeds it, the range is skipped WITHOUT
  decoding (the whole point: varint decode + scoring is the hot cost);
* surviving ranges are decoded (numpy) and scored vectorized; a bounded
  min-heap of (score, -doc_id) keeps exact top-k with the pinned
  tie-break (score desc, doc_id asc).

Exactness: pruning uses a strict ``ub < θ`` test, so ties at the
threshold are still decoded — results are bit-identical to the
relational path (asserted in tests/test_wand.py).

Scale note: only the query terms' blocks travel to the driver — the same
data volume the reference's byte-range loads move, but pruned further by
the block-max skip, and BOUNDED by default: the impact-ordered cap
(WAND_AUTO_CAP blocks/term, ub ordering) is the out-of-box behavior, so
a stopword-scale term at 10^12 docs cannot ship GBs driver-side;
``max_blocks_per_term=None`` opts into the exact uncapped fetch, and the
relational path remains the always-correct distributed fallback.
"""

from __future__ import annotations

import heapq
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

from ..functions.analyzer import analyze_query
from . import segments as SEG


# Default per-term driver-fetch bound (blocks). At the default build
# span of 4096 docs/block this is ~1M docs of postings per term — far
# beyond any non-head term, so typical queries stay EXACT; a
# stopword-scale term at 10^12 docs is truncated to its 256
# highest-upper-bound blocks instead of shipping GBs to the driver.
WAND_AUTO_CAP = 256


def truncated_terms(mini: dict) -> list[str]:
    """Terms of a mini-index lookup whose fetched blocks hold fewer
    postings than the term's df — the fetch cap dropped some of their
    blocks, so scores over them are a safe under-estimate."""
    return sorted(t for t, (df, blks) in mini.items()
                  if sum(blk.n_docs for blk in blks) < df)


def wand_eligible(plan) -> bool:
    """True iff a classified plan has WAND semantics: pure bag-of-words
    free text, no phrases. THE single predicate behind search_wand's
    own refusal and the serving entry points' pre-spellcheck guards
    (jobs/serve.py, jobs/query_topk.py) — keeping them on one function
    prevents the guards drifting apart (e.g. a caller spellchecking a
    boolean query that search_wand then rejects)."""
    from ..plans import planner

    return (isinstance(plan, planner.FreeTextPlan) and not plan.phrases
            and not plan.prefixes and not plan.wildcards
            and not plan.regexps)


def search_wand(index, query: str, k: int = 100,
                k1: float = 1.2, b: float = 0.75,
                max_blocks_per_term: int | None | str = "auto",
                prior=None, prior_lam: float = 0.3,
                prior_id_col: str = "node", prior_col: str = "rank",
                stats: dict | None = None) -> list[tuple[int, float]]:
    """BM25 top-k over a SegmentIndex via block-max WAND.

    Returns [(doc_id, score)] — a driver-side result (the serving path);
    use operators.search for the distributed DataFrame path.

    ``max_blocks_per_term`` bounds the impact-ordered fetch for
    stopword-scale terms at web scale: each term keeps only its
    highest-upper-bound blocks (ub from block_max_tf). The cap applies
    inside the fetch — a metadata read (no payload bytes) ranks blocks
    per term and yields the exact df; only the winners' payloads are
    read — so driver transfer is bounded even for a 10^12-doc head
    term. Blocks actually dropped make results approximate (documented
    safe-approximation: dropped blocks can only LOWER a doc's score,
    never raise it).

    The DEFAULT is ``"auto"`` = WAND_AUTO_CAP (the uncapped fetch would
    ship every block of every query term to the driver — a scale hazard
    that used to be the default); terms under the cap are untouched, so
    typical queries remain exact. ``None`` opts into the exact uncapped
    fetch; an int sets an explicit cap. All paths go through the driver
    mini-index LRU, and its misses are driver-side Arrow reads, so a
    query launches ZERO Spark jobs (the reference's per-query
    mini-index byte loads, index_loader.py:71-128).

    Requires a SegmentIndex (the durable, block-encoded form): the
    relational ``operators.search`` path is the equivalent for in-memory
    indexes. FREE-TEXT queries only: phrase/boolean/proximity shapes
    raise ValueError (the analyzer would strip their operators and
    silently degrade them to bag-of-words) — use executor.execute.

    ``prior`` (a (node, rank) DataFrame, canonically a PageRank
    artifact) blends the static document prior EXACTLY like the
    relational path's search.blend_doc_prior — score + lam·ln(prior),
    absent docs at the 1e-12 floor — via iterative deepening: the kernel
    takes the exact bm25 top-K′ (K′ starts at 4k), ONE bounded Spark job
    fetches those K′ docs' priors (broadcast semi-join, O(K′) rows —
    never the corpus-sized prior frame), and the result is final once
    the K′-th bm25 score plus the maximum possible prior boost
    (max(0, lam·ln max_prior), = 0 for probability priors) cannot beat
    the current blended k-th — otherwise K′ doubles (block fetches are
    LRU-cached, so only the heap pass repeats). Exact at every cap where
    the bm25 kernel itself is exact; costs one small Spark lookup per
    query vs the prior-less warm path's zero.

    ``stats`` (optional dict) receives ``truncated_terms``,
    ``mini_hits`` and ``mini_misses``, as in maxscore.search_maxscore.
    """
    if not hasattr(index, "mini_index"):
        raise TypeError(
            "search_wand needs a SegmentIndex (durable block-encoded "
            "index); use operators.search.search_freetext for in-memory "
            "indexes")
    from ..plans import planner

    plan = planner.classify(query, index.analyzer)
    if not wand_eligible(plan):
        # The analyzer would strip the operators/quotes and silently
        # degrade the query to bag-of-words scoring — refuse instead,
        # mirroring the date-filter refusal (the relational executor
        # has the real phrase/boolean/proximity semantics).
        raise ValueError(
            "search_wand is a bag-of-words BM25 kernel: phrase, boolean "
            "and proximity queries have no WAND semantics here — use "
            "operators.executor.execute (the relational path)")
    toks = analyze_query(query, index.analyzer)
    if not toks or k <= 0:
        return []
    q_tf: dict[str, int] = {}
    for t in toks:
        q_tf[t] = q_tf.get(t, 0) + 1
    terms = list(q_tf)

    n = index.stats["n_docs"]
    avgdl = index.stats["avgdl"]
    # quantized-impact stores (catalog.quantize_index): blocks carry the
    # stored impact q instead of tf+dl; score = qtf·idf·(k1+1)·q/maxq and
    # the per-block bound idf·(k1+1)·block_max/maxq is EXACT for the
    # quantized scores (block_max_tf holds the block's max impact)
    impact_store = getattr(index, "store", "tf") == "impact"
    if impact_store:
        baked = (index.meta["impact_k1"], index.meta["impact_b"])
        if (k1, b) != baked:
            raise ValueError(
                f"impact store bakes its scoring model at quantize time "
                f"(k1={baked[0]}, b={baked[1]}) — requested ({k1}, {b}); "
                "re-quantize from the source index to change the model")
        impact_scale = (k1 + 1.0) / ((1 << index.meta["impact_bits"]) - 1)
    # live-docs mask (tombstoned deletes): same stale global stats as the
    # relational path (df/n_docs refresh at vacuum), same candidate
    # exclusion — the two paths stay rank-identical under deletes
    deleted = (index.deleted_ids() if hasattr(index, "deleted_ids")
               else frozenset())
    del_arr = (np.fromiter(deleted, dtype=np.int64, count=len(deleted))
               if deleted else None)
    cap = (WAND_AUTO_CAP if max_blocks_per_term == "auto"
           else max_blocks_per_term)
    mini = index.mini_index(terms, cap=cap, stats=stats)
    dfs = {t: df for t, (df, _) in mini.items()}
    blocks = [blk for _, blks in mini.values() for blk in blks]
    if not dfs:
        return []
    idf = {
        t: float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))
        for t, df in dfs.items()
    }

    by_range: dict[int, list] = defaultdict(list)
    for blk in blocks:
        by_range[blk.block_id].append(blk)
    if stats is not None:
        stats["truncated_terms"] = truncated_terms(mini)

    def bm25_topk(capacity: int) -> list[tuple[int, float]]:
        """The block-max heap pass at a given heap capacity — exact bm25
        top-``capacity`` over the fetched blocks, pinned tie-break."""
        heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap

        def threshold() -> float:
            return heap[0][0] if len(heap) >= capacity else float("-inf")

        for block_id in sorted(by_range):
            grp = by_range[block_id]
            if impact_store:
                ub = sum(q_tf[blk.term] * idf[blk.term]
                         * impact_scale * blk.block_max_tf for blk in grp)
            else:
                ub = sum(
                    q_tf[blk.term]
                    * SEG.bm25_upper_bound(dfs[blk.term], n,
                                           blk.block_max_tf, k1, b)
                    for blk in grp
                )
            if len(heap) >= capacity and ub < threshold():
                continue  # skip range without decoding
            acc: dict[int, float] = defaultdict(float)
            for blk in grp:
                if impact_store:
                    docs, q = blk.impact()
                    if del_arr is not None:
                        live = ~np.isin(docs, del_arr)
                        if not live.all():
                            docs, q = docs[live], q[live]
                            if not len(docs):
                                continue
                    w = (q_tf[blk.term] * idf[blk.term] * impact_scale
                         * q.astype(np.float64))
                    for d, s in zip(docs.tolist(), w.tolist()):
                        acc[d] += s
                    continue
                docs, tfs, dls = blk.full()
                if dls is None:
                    raise ValueError(
                        "segment payloads carry no per-doc lengths (dl): "
                        "WAND needs self-contained blocks — build the index "
                        "from postings that include dl (the durable build "
                        "does), or use the relational scoring path")
                if del_arr is not None:
                    live = ~np.isin(docs, del_arr)
                    if not live.all():
                        docs, tfs, dls = docs[live], tfs[live], dls[live]
                        if not len(docs):
                            continue
                tfs_f = tfs.astype(np.float64)
                norm = k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl)
                w = (q_tf[blk.term] * idf[blk.term] * tfs_f * (k1 + 1.0)
                     / (tfs_f + norm))
                for d, s in zip(docs.tolist(), w.tolist()):
                    acc[d] += s
            for d, s in acc.items():
                item = (s, -d)
                if len(heap) < capacity:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)

        out = sorted(heap, key=lambda x: (-x[0], -x[1]))
        return [(-nd, s) for s, nd in out]

    if prior is None:
        return bm25_topk(k)
    return _blend_prior_topk(index, bm25_topk, k, prior, prior_lam,
                             prior_id_col, prior_col)


# the relational path's floor for docs absent from the prior frame
# (search.blend_doc_prior default_prior) — the two paths MUST share it
PRIOR_FLOOR = 1e-12


def _blend_prior_topk(index, bm25_topk, k: int, prior, lam: float,
                      id_col: str, prior_col: str) -> list[tuple[int, float]]:
    """Exact blended top-k from a bm25-exact kernel (see search_wand
    docstring). Correctness argument: for any doc outside the bm25
    top-K′, blended ≤ bm25 + C with C = max(0, lam·ln max_prior) (C = 0
    when priors are probabilities), and its bm25 ≤ the K′-th bm25 score;
    so once bm25_{K′} + C < blended_{k-th}, no unseen doc can enter the
    top-k. K′ doubles until that holds or the candidate set is
    exhausted (fewer than K′ docs returned → everything matching the
    query has been blended)."""
    import math

    spark = index.spark
    p_max = getattr(prior, "_wand_prior_max", None)
    if p_max is None:
        p_max = prior.agg(F.max(F.col(prior_col))).collect()[0][0]
        try:  # memo on the frame: serving reuses one prior frame
            prior._wand_prior_max = p_max
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
        pmap = {r.doc_id: r.p for r in got}
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
