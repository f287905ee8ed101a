"""Driver-orchestrated MaxScore top-k kernel (Turtle & Flood 1995) —
the other classical dynamic-pruning family, next to Block-Max WAND
(operators.wand).

Where WAND's unit of work is the block RANGE (skip a doc range iff the
sum of every term's block upper bound is below the heap threshold θ),
MaxScore's is the TERM: sort the query terms by score upper bound and
call a term "non-essential" when the upper bounds of it and every
smaller term sum to < θ — a document containing ONLY non-essential
terms can never enter the top-k, so non-essential posting blocks are
never decoded wholesale. They are probed only for candidates that
already scored on an essential term, and each candidate is abandoned
the moment its partial score plus the remaining non-essential bound
falls below θ.

This kernel layers MaxScore ON TOP of the block-range structure the
segment store provides (segments.py: doc-partitioned blocks with
per-block max-tf metadata), so it keeps WAND's range skip as the
degenerate case (every term non-essential ⇒ total bound < θ ⇒ skip the
range without decoding) and adds the per-term decode savings inside
surviving ranges. For head-term-heavy queries ("the data") WAND decodes
every term's block in a surviving range; MaxScore decodes the selective
terms' blocks and touches the head term's bytes only for live
candidates — at web scale, where the head term's blocks dominate the
range's byte volume, that is the difference that matters.

Scoring is array work over the blocks' memoized decodes (the mini-index
LRU keeps them, catalog.MiniBlock): per surviving range, the essential
blocks' postings are summed per doc with unique + bincount, probes add
non-essential weights by searchsorted, and the top-k is two arrays
merged after each range in (score desc, doc asc) order.

Exactness: every skip is against the CURRENT θ, which only grows, and
every bound argument is a strict ``< θ`` — ties at the threshold are
still decoded, so results are bit-identical to the relational BM25 path
and to search_wand (pinned by the ``maxscore_bm25_identity`` driver
gate and the fuzzed three-way identity in tests/test_maxscore.py).

Reference parity: the reference engine has a single query loop
(query_processing.py); WAND and MaxScore are this repo's two serving
kernels over the same durable segments, selectable per query.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

from ..functions.analyzer import analyze_query
from . import segments as SEG
from .wand import WAND_AUTO_CAP, truncated_terms, wand_eligible


def search_maxscore(index, query: str, k: int = 100,
                    k1: float = 1.2, b: float = 0.75,
                    max_blocks_per_term: int | None | str = "auto",
                    prior=None, prior_lam: float = 0.3,
                    prior_id_col: str = "node", prior_col: str = "rank",
                    stats: dict | None = None) -> list[tuple[int, float]]:
    """BM25 top-k over a SegmentIndex via block-max MaxScore.

    Same contract as wand.search_wand: [(doc_id, score)] driver-side,
    free-text only (phrase/boolean/proximity refused — the analyzer
    would silently degrade them), tombstoned deletes masked, the
    impact-ordered ``max_blocks_per_term`` cap bounds driver transfer
    ("auto" = wand.WAND_AUTO_CAP; capped terms make results a documented
    safe approximation exactly as in WAND — dropped blocks only LOWER
    scores). Shares the mini-index LRU with WAND, so alternating kernels
    on one query fetches nothing twice.

    ``stats`` (optional dict) receives ``n_blocks_total``,
    ``n_blocks_decoded`` (blocks scored) and ``n_ranges_skipped`` — the
    pruning telemetry the kernel-comparison bench and tests read
    (counters are for the LAST top-k pass when prior blending deepens
    iteratively) — and ``truncated_terms``: the query terms the fetch
    cap cut short (wand.truncated_terms); empty means the answer is
    exact — and ``mini_hits`` / ``mini_misses``: the query terms the
    mini-index LRU served and the ones it fetched.

    ``prior`` blends a static document prior exactly as in search_wand
    (same iterative-deepening wrapper, wand._blend_prior_topk, so the
    two kernels cannot drift).
    """
    if not hasattr(index, "mini_index"):
        raise TypeError(
            "search_maxscore needs a SegmentIndex (durable block-encoded "
            "index); use operators.search.search_freetext for in-memory "
            "indexes")
    from ..plans import planner

    plan = planner.classify(query, index.analyzer)
    if not wand_eligible(plan):
        raise ValueError(
            "search_maxscore is a bag-of-words BM25 kernel: phrase, "
            "boolean and proximity queries have no MaxScore semantics "
            "here — use operators.executor.execute (the relational path)")
    toks = analyze_query(query, index.analyzer)
    if not toks or k <= 0:
        return []
    q_tf: dict[str, int] = {}
    for t in toks:
        q_tf[t] = q_tf.get(t, 0) + 1
    terms = list(q_tf)

    n = index.stats["n_docs"]
    avgdl = index.stats["avgdl"]
    # quantized-impact stores: same branch as search_wand — score from
    # the stored impact, bound from the block's max impact (exact for
    # the quantized scores), scoring model baked at quantize time
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
    deleted = (index.deleted_ids() if hasattr(index, "deleted_ids")
               else frozenset())
    del_arr = (np.fromiter(deleted, dtype=np.int64, count=len(deleted))
               if deleted else None)
    cap = (WAND_AUTO_CAP if max_blocks_per_term == "auto"
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
        None when every posting in the block is tombstoned. The decode
        is the block's memo (catalog.MiniBlock), so only the weights
        are computed per request."""
        if impact_store:
            docs, q = blk.impact()
        else:
            docs, tfs, dls = blk.full()
            if dls is None:
                raise ValueError(
                    "segment payloads carry no per-doc lengths (dl): "
                    "MaxScore needs self-contained blocks — build the "
                    "index from postings that include dl (the durable "
                    "build does)")
        if del_arr is not None:
            live = ~np.isin(docs, del_arr)
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
                # WAND's range skip, recovered as the all-non-essential case
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
    from .wand import _blend_prior_topk

    return _blend_prior_topk(index, bm25_topk, k, prior, prior_lam,
                             prior_id_col, prior_col)
