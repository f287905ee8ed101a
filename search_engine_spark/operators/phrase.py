"""Phrase and proximity search over positional postings.

Phrase (SURVEY §2.5 Q8; reference helpers.py:96-115 consecutive_occ +
bm25_model.py:295-335): a doc matches when the phrase terms occur at
consecutive positions. Spark-native formulation — the consecutive-run
count for terms t₀..tₙ equals

    |positions(t₀) ∩ (positions(t₁)−1) ∩ … ∩ (positions(tₙ)−n)|

which is a chain of ``array_intersect(transform(...))`` expressions: pure
JVM array functions, no Python in the hot path, one hash join per phrase
term on the term-filtered (tiny) postings.

Proximity (Q9; proximity_retrieval.py:12-35): ``#k(t1,t2)`` matches docs
where some |p1−p2| ≤ k — an ``exists×exists`` array predicate on the
joined positions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .search import InvertedIndex, topk
from . import scoring


def _shift(off: int):
    # single-arg lambda on purpose: a 2-arg lambda would make
    # F.transform pass the ARRAY INDEX as the second argument
    return lambda x: x - F.lit(off)


def _intersect_positions(parts: list[DataFrame]) -> DataFrame:
    """Chain of pre-shifted positional frames (doc_id, pᵢ [, dl on
    part 0]) → (doc_id, phrase_tf [, dl]): one hash join per frame on
    the term-filtered postings, pure JVM array_intersect."""
    joined = parts[0]
    arr = F.col("p0")
    for i in range(1, len(parts)):
        joined = joined.join(parts[i], "doc_id")
        arr = F.array_intersect(arr, F.col(f"p{i}"))
    out_cols = ["doc_id", F.size(arr).alias("phrase_tf")]
    if "dl" in joined.columns:
        out_cols.append("dl")
    return joined.select(*out_cols).filter(F.col("phrase_tf") > 0)


def phrase_occurrences(index: InvertedIndex, phrase_terms: list[str]) -> DataFrame:
    """→ (doc_id, phrase_tf) for docs containing the phrase consecutively.

    Phrases covered by a committed NEXT-WORD index
    (catalog.build_phrase_index, Williams & Zobel 2004) serve from
    bigram postings instead of reading the words' full positional
    postings — common-word phrases are exactly where the positional
    intersection is expensive. A TWO-word phrase is ONE tf-only bigram
    lookup; an m-word phrase (W&Z §4) intersects the positions of its
    m-1 consecutive bigrams — pos(w₁w₂) ∩ (pos(w₂w₃)−1) ∩ … — the same
    array_intersect chain as the unigram path but over far rarer
    posting lists (|pos(wᵢwᵢ₊₁)| ≪ |pos(wᵢ)| for common words).
    phrase_tf is the same consecutive-occurrence count on every path
    (identity pytest + driver gates); uncovered pairs fall back to the
    unigram positional path."""
    if not phrase_terms:
        raise ValueError("empty phrase")
    if len(phrase_terms) == 2 and hasattr(index, "bigram_lookup"):
        fast = index.bigram_lookup(phrase_terms[0], phrase_terms[1])
        if fast is not None:
            return fast.select("doc_id",
                               F.col("tf").alias("phrase_tf"), "dl")
    if len(phrase_terms) >= 3 and hasattr(index, "bigram_lookup"):
        lookups = [index.bigram_lookup(a, b, positional=True)
                   for a, b in zip(phrase_terms, phrase_terms[1:])]
        if all(lk is not None for lk in lookups):
            parts = []
            for i, lk in enumerate(lookups):
                cols = ["doc_id",
                        F.transform("positions", _shift(i)).alias(f"p{i}")]
                if i == 0 and "dl" in lk.columns:
                    cols.append("dl")
                parts.append(lk.select(*cols))
            return _intersect_positions(parts)

    parts = []
    for i, t in enumerate(phrase_terms):
        base = index.lookup([t], positional=True)
        cols = ["doc_id", F.transform("positions", _shift(i)).alias(f"p{i}")]
        if i == 0 and "dl" in base.columns:
            cols.append("dl")  # ride dl along for join-free scoring
        parts.append(base.select(*cols))
    return _intersect_positions(parts)


def sloppy_occurrences(index: InvertedIndex, phrase_terms: list[str],
                       slop: int) -> DataFrame:
    """→ (doc_id, phrase_tf) for docs matching the phrase within
    ``slop`` extra positions — Lucene PhraseQuery-with-slop, in the
    ORDERED-WINDOW semantics: terms must appear in phrase order at
    strictly increasing positions whose span exceeds the exact-phrase
    span by at most ``slop``. phrase_tf counts the start positions p₀
    with a valid chain; the chain is GREEDY (each next term takes its
    smallest position after the previous), which minimizes the span for
    a given p₀, so greedy-reject == no-match.

    Documented deviation from Lucene: Lucene's slop is an edit-distance
    that also admits TRANSPOSED terms at slop ≥ 2; ordered-window keeps
    order mandatory (transpositions never match), which is the common
    user mental model and keeps the operator a pure monotone chain of
    JVM array expressions — no Python, one hash join per term on the
    term-filtered postings, exactly the phrase_occurrences join shape.

    ``slop=0`` is exactly the consecutive phrase: strictly increasing
    positions with span ≤ m−1 force pᵢ = p₀+i (pytest-pinned identity
    against phrase_occurrences; search_phrase routes slop=0 through the
    array_intersect fast path).
    """
    if not phrase_terms:
        raise ValueError("empty phrase")
    if slop < 0:
        raise ValueError(f"slop must be >= 0: {slop}")
    m = len(phrase_terms)
    parts = []
    for i, t in enumerate(phrase_terms):
        base = index.lookup([t], positional=True)
        cols = ["doc_id", F.col("positions").alias(f"p{i}")]
        if i == 0 and "dl" in base.columns:
            cols.append("dl")
        parts.append(base.select(*cols))
    joined = parts[0]
    for i in range(1, m):
        joined = joined.join(parts[i], "doc_id")

    def _after(i: int, prev):
        # SINGLE-arg predicate on purpose (the _shift rule): a second
        # parameter — even a defaulted capture — makes F.filter pass the
        # ARRAY INDEX into it, silently replacing the captured column
        def pred(x):
            return x > prev
        # smallest position of term i strictly after the chain so far;
        # empty filter → array_min → NULL, nulling the whole chain
        return F.array_min(F.filter(F.col(f"p{i}"), pred))

    def _chain_end(start):
        prev = start
        for i in range(1, m):
            prev = _after(i, prev)
        return prev

    bound = F.lit(m - 1 + slop)

    def _ok(a):
        return _chain_end(a) - a <= bound  # NULL chain → NULL → dropped

    tf = F.size(F.filter(F.col("p0"), _ok))
    out_cols = ["doc_id", tf.alias("phrase_tf")]
    if "dl" in joined.columns:
        out_cols.append("dl")
    return joined.select(*out_cols).filter(F.col("phrase_tf") > 0)


def search_phrase(index: InvertedIndex, phrase_terms: list[str],
                  k: int | None = 100, model: str = "bm25",
                  slop: int = 0) -> DataFrame:
    """Phrase-only ranking (phrase df = number of matching docs) →
    (doc_id, score) top-k. ``k=None`` returns the unranked score frame
    (for union-merge callers).

    ``model`` selects the phrase weight the way the reference's active
    model does: the LM models score phrases with the language-model
    phrase formula (language_model.py:53-63, invoked from phrase_rank
    at :110-145 — and the reference web app hardcodes model="lm",
    views.py:59,67, so every reference phrase query takes that path);
    every other model uses the BM25-style phrase weight
    (bm25_model.py:316-324; SURVEY §2.8 pins vsm/bm25-reference to it)."""
    # the cache must OUTLIVE this call: the returned lazy frame reads it
    # when the caller collects (unpersisting in a finally here would force
    # a full recompute of the positional join). Caches accumulate on the
    # index handle — a query with several phrases keeps them ALL alive
    # until the next executor.execute() releases them (release_caches).
    # slop=0 keeps the array_intersect fast path (sloppy_occurrences is
    # pinned identical to it at slop=0); the weight formulas are
    # slop-blind — phrase_tf/df just count sloppy matches instead.
    occ_frame = (phrase_occurrences(index, phrase_terms) if slop == 0
                 else sloppy_occurrences(index, phrase_terms, slop))
    occ = index.register_query_cache(occ_frame)
    n, avgdl = index.stats["n_docs"], index.stats["avgdl"]
    lm = model in ("lm-dirichlet", "lm-pyp")
    if lm:
        mu = scoring.LM_MU_PYP if model == "lm-pyp" else scoring.LM_MU_DIRICHLET
        weight = scoring.lm_phrase_weight(index.stats["total_len"], mu)
        base = occ  # the LM phrase weight is doc-length-free: no dl join
    else:
        weight = scoring.bm25_weight(n, avgdl)
        base = occ if "dl" in occ.columns else occ.join(index.doc_stats, "doc_id")
    # phrase df (= number of matching docs) rides in as a broadcast
    # 1-row aggregate instead of an EAGER count(): a mixed query with P
    # phrases launches zero blocking jobs here — everything resolves in
    # the single final plan (the cached occ frame computes once, shared
    # by the aggregate and the scoring scan)
    dfc = F.broadcast(occ.agg(F.count("*").cast("long").alias("df")))
    cols = ["doc_id", F.col("phrase_tf").alias("tf"), "df"]
    if not lm:
        cols.append("dl")
    scored = (
        base.crossJoin(dfc)
        .select(*cols)
        .withColumn("score", weight)
        .select("doc_id", "score")
    )
    return scored if k is None else topk(scored, k)


def proximity_docs(index: InvertedIndex, t1: str, t2: str, k: int) -> DataFrame:
    """#k(t1,t2) → (doc_id) ordered by doc_id (reference returns unranked
    doc-id order)."""
    p1 = index.lookup([t1], positional=True).select("doc_id", F.col("positions").alias("pos1"))
    p2 = index.lookup([t2], positional=True).select("doc_id", F.col("positions").alias("pos2"))
    joined = p1.join(p2, "doc_id")
    cond = F.exists(
        "pos1",
        lambda a: F.exists("pos2", lambda b: F.abs(a - b) <= F.lit(k)),
    )
    return joined.filter(cond).select("doc_id").orderBy("doc_id")
