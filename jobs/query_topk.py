"""Top-k query job (the reference's /results endpoint as a batch job).

spark-submit --py-files dist/engine.zip jobs/query_topk.py \
    --index /data/index --query "market price" [--k 100] \
    [--model bm25|bm25-reference|vsm|lm-dirichlet|lm-pyp] \
    [--kernel relational|maxscore] \
    [--date-start 2022-01-01 --date-end 2022-01-31] \
    [--documents /data/documents_parquet] \
    [--prior /data/ranks [--prior-lam 0.3]] \
    [--rm3-alpha 0.6 [--rm3-fb-docs 10 --rm3-fb-terms 10]] \
    [--fuzzy 1]

Prints one JSON line per hit: {"rank", "doc_id", "score"}.
--kernel maxscore serves from the block-max MaxScore kernel (bag-of-words
BM25 only); the default, --kernel relational, is the distributed
relational path through the unified executor. When the kernel's fetch
cap (maxscore.FETCH_CAP blocks per term) cut a query term short, the
answer is approximate and stderr carries one JSON line
{"exact": false, "truncated_terms": [...]}; stdout stays the hits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from datetime import date

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", required=True)
    ap.add_argument("--k", type=int, default=100)
    ap.add_argument("--model", default="bm25")
    ap.add_argument("--kernel", choices=["relational", "maxscore"],
                    default="relational",
                    help="maxscore = the segment serving kernel (BM25, "
                         "bag-of-words free text only)")
    ap.add_argument("--date-start")
    ap.add_argument("--date-end")
    ap.add_argument("--documents")
    ap.add_argument("--spellcheck", action="store_true",
                    help="vocabulary spellcheck on free-text queries "
                         "(first-execution path)")
    ap.add_argument("--symbols",
                    help="ticker symbols spellcheck must never rewrite "
                         "(CSV with a Symbol column / one-per-line file / "
                         "inline comma list — helpers.py:243-252)")
    ap.add_argument("--abbreviations-json",
                    help="fin_abbv.json-shaped term→expansion dict; "
                         "expansions append as quoted phrases before "
                         "execution (helpers.py:297-303)")
    ap.add_argument("--prior",
                    help="(node, rank) parquet (jobs/pagerank.py output): "
                         "blend the static prior into ranked queries")
    ap.add_argument("--prior-lam", type=float, default=0.3)
    ap.add_argument("--rm3-alpha", type=float, default=None,
                    help="enable RM3 pseudo-relevance feedback: weight of "
                         "the original query in [0,1] (plain free-text "
                         "bm25 only; 1.0 = no expansion)")
    ap.add_argument("--rm3-fb-docs", type=int, default=10)
    ap.add_argument("--rm3-fb-terms", type=int, default=10)
    ap.add_argument("--fuzzy", type=int, default=None, metavar="MAX_DIST",
                    help="fuzzy term matching: expand each free-text "
                         "token to vocabulary terms within this "
                         "Levenshtein distance (0-2; relational path)")
    ap.add_argument("--synonyms", default=None, metavar="PATH",
                    help="Solr-format synonyms.txt: query-time synonym "
                         "expansion (plain free-text, relational path)")
    ap.add_argument("--synonym-weight", type=float, default=0.7)
    ap.add_argument("--min-should-match", type=int, default=None,
                    metavar="M",
                    help="score only docs matching at least M distinct "
                         "query terms (Lucene BooleanQuery mm; plain "
                         "free-text, relational path)")
    ap.add_argument("--after-score", type=float, default=None,
                    help="cursor pagination: score of the previous "
                         "page's last row (with --after-doc)")
    ap.add_argument("--after-doc", type=int, default=None,
                    help="cursor pagination: doc_id of the previous "
                         "page's last row (with --after-score)")
    ap.add_argument("--recency-half-life", type=float, default=None,
                    metavar="DAYS",
                    help="freshness decay: score × (0.1 + 0.9·2^(−age/HL));"
                         " needs --recency-as-of and --documents with a"
                         " warc_ts/warc_date column")
    ap.add_argument("--recency-as-of", default=None, metavar="YYYY-MM-DD",
                    help="explicit decay origin (now() is refused for"
                         " reproducibility)")
    ap.add_argument("--as-of-batch", type=int, default=None,
                    help="time-travel the delete state: apply only "
                         "tombstone batches with id <= this (-1 = the "
                         "pre-delete snapshot; default = live view)")
    args = ap.parse_args()
    # every feature the kernel cannot honor is refused, never ignored
    use_kernel = args.kernel == "maxscore"
    if use_kernel and args.model != "bm25":
        ap.error(f"--model {args.model} needs the relational path; the "
                 "maxscore kernel scores BM25 only")
    if args.rm3_alpha is not None:
        if use_kernel:
            ap.error("--rm3-alpha needs the relational path; "
                     "use --kernel relational")
        if not args.documents:
            ap.error("--rm3-alpha needs --documents (feedback docs are "
                     "re-read as text)")
        if not 0.0 <= args.rm3_alpha <= 1.0:
            ap.error("--rm3-alpha must be in [0, 1]")
    if args.fuzzy is not None:
        if use_kernel:
            ap.error("--fuzzy needs the relational path; "
                     "use --kernel relational")
        if not 0 <= args.fuzzy <= 2:
            ap.error("--fuzzy must be in [0, 2]")
    if args.min_should_match is not None:
        if use_kernel:
            ap.error("--min-should-match needs the relational path; "
                     "use --kernel relational")
        if args.min_should_match < 1:
            ap.error("--min-should-match must be >= 1")
    if args.synonyms is not None and use_kernel:
        ap.error("--synonyms needs the relational path; "
                 "use --kernel relational")
    if (args.after_score is None) != (args.after_doc is None):
        ap.error("--after-score and --after-doc must be given together")
    if args.after_score is not None and use_kernel:
        ap.error("--after-score/--after-doc need the relational path; "
                 "use --kernel relational")
    if use_kernel and (args.date_start or args.date_end):
        # the kernel scores over ALL blocks; silently post-filtering an
        # unrestricted top-k would return fewer-than-k / wrong-rank
        # results. The relational path filters BEFORE ranking via
        # partition-pruned date candidates.
        ap.error("--kernel maxscore does not support --date-start/"
                 "--date-end; use --kernel relational for the "
                 "date-filtered path")

    from search_engine_spark.operators import executor, maxscore
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import catalog

    spark = get_spark("query_topk")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.documents) if args.documents else None
    idx = catalog.load_index(spark, args.index, documents=docs,
                             as_of_batch=args.as_of_batch)

    from search_engine_spark.plans import spellcheck as SP

    checker = None
    if args.spellcheck:
        # first-execution semantics (reference views.py:27-97); omit the
        # flag for the rerun path that skips correction (views.py:99-138)
        checker = SP.VocabularySpellchecker.from_index(idx)
    symbols = SP.load_symbols(args.symbols) if args.symbols else frozenset()
    abbreviations = (SP.load_abbreviations(args.abbreviations_json)
                     if args.abbreviations_json else None)
    synonyms = None
    if args.synonyms:
        from search_engine_spark.plans.synonyms import load_synonyms

        synonyms = load_synonyms(args.synonyms, idx.analyzer)

    doc_dates = None
    if args.recency_half_life is not None:
        if use_kernel:
            raise SystemExit(
                "--recency-half-life requires the relational path "
                "(--kernel relational)")
        if args.recency_as_of is None:
            raise SystemExit(
                "--recency-half-life requires --recency-as-of")
        dcols = idx.documents.columns if idx.documents is not None else []
        from pyspark.sql import functions as F

        if "warc_date" in dcols:
            doc_dates = idx.documents.select("doc_id", "warc_date")
        elif "warc_ts" in dcols:
            doc_dates = idx.documents.select(
                "doc_id", F.to_date("warc_ts").alias("warc_date"))
        else:
            raise SystemExit(
                "--recency-half-life requires --documents with a "
                "warc_ts/warc_date column")

    if use_kernel:
        query = args.query
        if checker is not None or abbreviations:
            # Classify BEFORE correcting (mirrors jobs/serve.py): a
            # boolean/phrase/proximity query must reach the kernel's
            # refusal VERBATIM — spellchecking first would rewrite
            # operator words (AND/OR/NOT are not in the stemmed vocab)
            # into vocabulary terms, turning the query into free text
            # that the kernel then silently scores as bag-of-words.
            from search_engine_spark.plans import planner

            if maxscore.kernel_eligible(planner.classify(query,
                                                         idx.analyzer)):
                if checker is not None:
                    query = SP.correct_query(query, checker, symbols)
                if abbreviations:
                    # bare terms: the kernel rejects quoted queries
                    query = SP.expand_abbreviations(query, abbreviations,
                                                    quote=False)
        # the prior blends on the kernel path too: it pays one bounded
        # Spark lookup per query for the candidates' priors
        prior = spark.read.parquet(args.prior) if args.prior else None
        kstats: dict = {}
        hits = maxscore.search_maxscore(idx, query, k=args.k, prior=prior,
                                        prior_lam=args.prior_lam,
                                        stats=kstats)
        if kstats.get("truncated_terms"):
            print(json.dumps({"exact": False,
                              "truncated_terms": kstats["truncated_terms"]}),
                  file=sys.stderr)
    else:
        prior = spark.read.parquet(args.prior) if args.prior else None
        df = executor.execute(
            idx, args.query, k=args.k, model=args.model,
            date_start=date.fromisoformat(args.date_start) if args.date_start else None,
            date_end=date.fromisoformat(args.date_end) if args.date_end else None,
            spellchecker=checker, symbols=symbols,
            abbreviations=abbreviations,
            prior=prior, prior_lam=args.prior_lam,
            rm3_alpha=args.rm3_alpha, rm3_fb_docs=args.rm3_fb_docs,
            rm3_fb_terms=args.rm3_fb_terms,
            fuzzy_max_dist=args.fuzzy,
            after=((args.after_score, args.after_doc)
                   if args.after_score is not None else None),
            min_should_match=args.min_should_match,
            synonyms=synonyms, synonym_weight=args.synonym_weight,
            recency=doc_dates,
            recency_as_of=(date.fromisoformat(args.recency_as_of)
                           if args.recency_as_of else None),
            recency_half_life=args.recency_half_life or 30.0,
        )
        hits = [(r.doc_id, r.score) for r in df.collect()]

    for i, (doc_id, score) in enumerate(hits, 1):
        print(json.dumps({"rank": i, "doc_id": int(doc_id), "score": score}))


if __name__ == "__main__":
    main()
