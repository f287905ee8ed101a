"""Percolator — reverse search: match INCOMING documents against a
table of STORED queries (Elasticsearch percolate / Lucene Monitor
semantics; the alerting/saved-search primitive a crawl pipeline runs on
every batch: "which standing queries does this new page match?").

Spark-first shape: the stored-query table is tiny next to the corpus
(thousands of alerts vs billions of docs), so percolation is ONE
broadcast join from the docs' distinct (doc_id, term) pairs to the
queries' (query_id, term) rows, followed by a (doc_id, query_id)
count aggregate — a doc matches a conjunctive query iff it covers ALL
the query's distinct terms (``mm`` relaxes to Lucene
minimum-should-match). No per-query scan, no per-doc loop: adding
stored queries adds broadcast rows, adding docs adds partitions.

The rarest-term prefilter Lucene's percolator uses is unnecessary
here: the broadcast join already touches only (doc term ∩ query term)
rows, and the count aggregate is map-side-combinable.

Stored queries are ANALYZED at registration with the same analyzer as
the index build (the engine invariant: query text and doc text go
through one pipeline — functions/analyzer.py). Phrase/boolean/
proximity stored queries are refused at registration: percolation is
defined over the conjunctive bag the reference's free-text path
shares; matching a phrase against incoming docs needs the positional
machinery (operators/phrase.py) and is a different operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyzer import AnalyzerConfig, analyze_query
from . import postings as P


def register_queries(spark, queries: list[tuple[int, str]],
                     conf: AnalyzerConfig = AnalyzerConfig.full(),
                     ) -> DataFrame:
    """→ (query_id, term, n_required): the stored-query table.

    ``queries``: (query_id, raw query string) pairs, analyzed
    driver-side (stored-query sets are alert-sized, not corpus-sized).
    Terms are DEDUPED per query — conjunctive semantics count distinct
    coverage, not tf. ``n_required`` (the per-query distinct-term
    count) rides on every row so matching needs no second join back to
    a query-stats table. Queries whose every token is OOV-ed by the
    analyzer (stopword-only) are refused — they would match nothing
    (empty term set) yet LOOK registered; an alert that can never fire
    is a configuration error, not a row.
    """
    from ..plans import planner

    rows = []
    for qid, q in queries:
        plan = planner.classify(q, conf)
        if not isinstance(plan, planner.FreeTextPlan) or plan.phrases \
                or plan.prefixes or plan.wildcards or plan.regexps:
            raise ValueError(
                f"stored query {qid}: percolation is defined over plain "
                "free-text term queries (no phrases/boolean/proximity/"
                "patterns)")
        terms = sorted(set(analyze_query(q, conf)))
        if not terms:
            raise ValueError(
                f"stored query {qid}: every token was removed by the "
                "analyzer (stopword-only/empty) — it would never match")
        rows.extend((int(qid), t, len(terms)) for t in terms)
    return spark.createDataFrame(
        rows, "query_id long, term string, n_required int")


def percolate(docs: DataFrame, stored: DataFrame,
              conf: AnalyzerConfig = AnalyzerConfig.full(),
              mm: int | None = None,
              text_col: str = "text") -> DataFrame:
    """→ (doc_id, query_id, n_matched): which stored queries each doc
    matches.

    Default (``mm=None``) is conjunctive: the doc covers ALL of the
    query's distinct terms (n_matched == n_required, the ES percolate
    match rule for a bool AND). ``mm=k`` relaxes to Lucene
    minimum-should-match: at least k distinct query terms present
    (mm=1 = pure OR). The stored frame is explicitly broadcast — the
    one join in the plan must never shuffle the corpus-side term pairs
    by term (head-term skew), and with a broadcast build side it
    cannot (plan-audited).
    """
    if mm is not None and mm < 1:
        raise ValueError(f"mm must be >= 1: {mm}")
    doc_terms = (P.explode_terms(docs, conf, text_col=text_col)
                 .select("doc_id", "term").distinct())
    j = doc_terms.join(F.broadcast(stored), "term")
    agg = (j.groupBy("doc_id", "query_id")
           .agg(F.count("*").cast("long").alias("n_matched"),
                F.first("n_required").alias("_req")))
    if mm is None:
        out = agg.filter(F.col("n_matched") == F.col("_req"))
    else:
        out = agg.filter(F.col("n_matched") >= F.lit(int(mm)))
    return out.select("doc_id", "query_id", "n_matched")
