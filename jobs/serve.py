"""HTTP serving surface — the reference's Django endpoints as a stdlib
JSON API over a loaded segment index.

Endpoint parity (reference search/retrieval/urls.py:8-11, views.py):

    GET /                                        → liveness/info
    GET /web[?query=...&date_start=&date_end=    → the reference's HTML
             &rerun=1]                             template surface
                                                   (index.html /
                                                   results.html,
                                                   views.py:87-97):
                                                   search form, result
                                                   cards with publisher
                                                   host + date + source
                                                   link, spellcheck
                                                   notice with a
                                                   "search instead for"
                                                   rerun link (rerun=1
                                                   skips spellcheck);
                                                   stdlib rendering, no
                                                   template engine
    GET /results?query=...[&date_start=YYYY-MM-DD&date_end=...]
                [&model=bm25|bm25-reference|vsm|lm-dirichlet|lm-pyp]
                [&k=100][&kernel=wand|maxscore|relational|&wand=0|1]
                [&snippets=1]
                [&collapse_host=N][&rm3=0.6]
                [&fuzzy=1][&mm=2][&syn=1]
                [&recency=HL&as_of=YYYY-MM-DD]   → first-execution path
                                                   (spellcheck ON,
                                                   views.py:27-97;
                                                   collapse_host caps
                                                   results per host —
                                                   needs --documents
                                                   with a url column,
                                                   relational path only)
    GET /complete?prefix=...[&k=10]              → vocabulary prefix
                                                   autocomplete (no
                                                   reference analogue;
                                                   serp.autocomplete)
    GET /rerun_query/<query>/<date_start>/<date_end>
                                                 → rerun path (spellcheck
                                                   SKIPPED, views.py:99-138;
                                                   "None" literals = no range)
    GET /article/<doc_id>                        → hydration (views.py:140-146,
                                                   404 when absent)
    GET /mlt/<doc_id>[?k=100][&terms=10]         → related documents (no
                                                   reference analogue;
                                                   search.more_like_this:
                                                   top-tf·idf terms of the
                                                   doc as an OR query,
                                                   source excluded)
    GET /hybrid?query=...&vec_id=N | &vec=f,... → sparse+dense RRF
                [&k=10][&depth=100]                fusion (needs
                                                   --embeddings; plain
                                                   free-text term
                                                   queries only)
    GET /ann?vec_id=N | &vec=f,...               → ANN top-k from the
                [&k=10][&nprobe=2][&refine=R]      COMMITTED catalog
                                                   artifact (IVF cell
                                                   pruning + ADC over
                                                   the coded table;
                                                   refine=R re-scores
                                                   the top R exactly —
                                                   needs --embeddings;
                                                   vec_id lookup needs
                                                   it too). 400 when
                                                   the index has no
                                                   ANN artifact.
    GET /stats                                   → index statistics
                                                   (n_docs, total_tokens,
                                                   avgdl, n_terms; the
                                                   vocabulary count is
                                                   memoized after one
                                                   job)
    GET /explain_plan?query=...[&model=...]      → plan-choice explain
                                                   (plans.explain): kind,
                                                   eligible kernels,
                                                   store, and which
                                                   artifacts (next-word
                                                   phrase index, trigram
                                                   index) would engage —
                                                   zero Spark jobs
    GET /explain?query=...&doc=<id>[&model=...]  → Lucene-Explanation
                                                   analog: per-term
                                                   (tf, df, weight)
                                                   breakdown summing to
                                                   the doc's retrieval
                                                   score (LM models: the
                                                   per-DOC prior is not a
                                                   per-term quantity and
                                                   is excluded). Plain
                                                   free-text term queries
                                                   only; vsm/phrase/
                                                   prefix/wildcard are
                                                   refused with 400.

Responses are JSON (an engine serves data, not Django templates): the
same context keys the reference renders — results, number_of_results,
retrieval_time, term_been_corrected, corrected_query, original_query.

DEFAULT ROUTING (round-5): with no kernel/wand parameter, an eligible
request — plain bag-of-words BM25 free text, no date filter or other
relational-only feature, a durable segment index loaded — serves from
the Block-Max MaxScore kernel + driver mini-index LRU (repeat-term
queries answer in ~15 ms with zero Spark jobs — serving-grade latency;
rank-identical to the relational path by the wand_bm25_identity /
maxscore_bm25_identity gates). Ineligible requests FALL BACK to the
relational path silently; the response's ``path`` key says which path
served. On a quantized-IMPACT store the default serves the store's
QUANTIZED scores — that is the artifact's serving contract (you
deployed a ~1 byte/posting store to be served from the impact byte;
per-doc error is bounded by the quantizer, test_impact's accuracy
gate) — while ``wand=0`` still forces the exact relational sidecar
path, so the two defaults differ on impact stores BY DESIGN and the
``path`` key discloses it. ``kernel=wand|maxscore`` (or ``wand=1``) forces a kernel and
keeps the old refusal semantics (400 on date filters etc. — same
reason jobs/query_topk.py rejects the combination); ``wand=0`` (or
``kernel=relational``) forces the relational path.

A single lock serializes query execution: one Spark driver serves the
plans, and the WAND kernel mutates the driver-side LRU.

Usage:
    spark-submit --py-files dist/engine.zip jobs/serve.py \
        --index /data/index [--documents /data/documents_parquet] \
        [--port 8080] [--no-spellcheck]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from datetime import date
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MODELS = ("bm25", "bm25-reference", "vsm", "lm-dirichlet", "lm-pyp")


def _parse_date(s: str | None) -> date | None:
    if not s or s == "None":
        return None
    return date.fromisoformat(s)


def create_server(index, port: int = 0, spellchecker=None,
                  symbols: frozenset[str] = frozenset(),
                  abbreviations: dict[str, str] | None = None,
                  prior=None, prior_lam: float = 0.3,
                  synonyms: dict[str, list[str]] | None = None,
                  synonym_weight: float = 0.7,
                  embeddings=None,
                  ) -> ThreadingHTTPServer:
    """Build (without starting) the HTTP server around a loaded index.
    ``port=0`` binds an ephemeral port (see ``server.server_address``).
    ``abbreviations`` (term→expansion, e.g. from
    spellcheck.load_abbreviations) appends '"{expansion}"' phrases on the
    first-execution path AFTER spellcheck; the corrected-vs-original flag
    tracks spellcheck only (the reference's has_term_been_corrected).
    ``prior`` (a (node, rank) DataFrame, e.g. a pagerank artifact)
    blends the static document prior into every ranked query on BOTH
    paths: the relational path via executor.execute(prior=...) and the
    WAND kernel via its iterative-deepening blend (round-4: wand=1 used
    to ignore the prior; now the two paths stay rank-identical with a
    prior configured — the kernel pays one bounded Spark lookup per
    query for the candidates' prior rows).
    ``embeddings`` (a (vec_id, embedding) DataFrame keyed by doc_id)
    enables GET /hybrid — sparse+dense RRF fusion; without it the
    endpoint answers 400."""
    from search_engine_spark.operators import executor, wand

    lock = threading.Lock()

    MAX_K = 10_000
    WEB_K = 20  # /web's default result count
    MAX_PER_HOST = 100
    MAX_COMPLETIONS = 100
    MAX_FUZZY_DIST = 2
    MAX_MLT_TERMS = 50

    # host table for SERP diversification (collapse_host=N): derivable
    # only when the corpus table ships URLs (the input_hint shape)
    doc_hosts = None
    if index.documents is not None and "url" in index.documents.columns:
        from pyspark.sql import functions as F

        from search_engine_spark.operators import hosts as _hosts

        doc_hosts = index.documents.select(
            "doc_id", _hosts.host_of(F.col("url")).alias("host"))

    # (doc_id, warc_date) sidecar for freshness decay (recency=HL):
    # derivable whenever the corpus table ships a crawl timestamp
    doc_dates = None
    if index.documents is not None:
        from pyspark.sql import functions as F

        _dcols = index.documents.columns
        if "warc_date" in _dcols:
            doc_dates = index.documents.select("doc_id", "warc_date")
        elif "warc_ts" in _dcols:
            doc_dates = index.documents.select(
                "doc_id", F.to_date("warc_ts").alias("warc_date"))

    def run_query(query: str, k: int, model: str, ds, de,
                  first_execution: bool, kernel: str | None,
                  want_snippets: bool = False,
                  collapse_host: int = 0,
                  rm3_alpha: float | None = None,
                  fuzzy_max_dist: int | None = None,
                  after: tuple | None = None,
                  min_should_match: int | None = None,
                  use_synonyms: bool = False,
                  recency_hl: float | None = None,
                  recency_as_of=None) -> dict:
        t0 = time.perf_counter()
        # kernel: None = AUTO (default — route eligible plain BM25
        # free text through the MaxScore kernel, everything else
        # relational); "wand"/"maxscore" = force a segment serving
        # kernel (explicit requests keep their refusal semantics);
        # "relational" = force the relational path (the old default,
        # also ?wand=0)
        if kernel not in (None, "wand", "maxscore", "relational"):
            raise ValueError(
                f"kernel must be 'wand', 'maxscore' or 'relational', "
                f"got {kernel!r}")
        auto_route = kernel is None
        if kernel == "relational":
            kernel = None
        use_wand = kernel is not None
        if not 1 <= k <= MAX_K:
            # negative k raises deep inside Spark's limit() (a 500), and
            # an unbounded k lets one request collect the whole index
            # through the serving lock — reject as a 400 like the
            # wand/date and half-open-range checks
            raise ValueError(f"k must be in [1, {MAX_K}], got {k}")
        if collapse_host:
            if not 1 <= collapse_host <= MAX_PER_HOST:
                raise ValueError(
                    f"collapse_host must be in [1, {MAX_PER_HOST}], "
                    f"got {collapse_host}")
            if use_wand:
                # the WAND kernel returns a driver-side bounded heap of
                # exactly k; diversifying after the cut would UNDER-fill
                # the page — route through the relational path, whose
                # full df-bounded ranking the collapse can draw from
                raise ValueError(
                    "collapse_host requires the relational path (wand=0)")
            if doc_hosts is None:
                raise ValueError(
                    "collapse_host requires --documents with a url column")
        if rm3_alpha is not None:
            if use_wand:
                raise ValueError(
                    "rm3 requires the relational path (wand=0)")
            if not 0.0 <= rm3_alpha <= 1.0:
                raise ValueError(f"rm3 must be in [0, 1], got {rm3_alpha}")
        if fuzzy_max_dist is not None:
            if use_wand:
                raise ValueError(
                    "fuzzy requires the relational path (wand=0)")
            if not 0 <= fuzzy_max_dist <= MAX_FUZZY_DIST:
                # Lucene's own FuzzyQuery bound: beyond distance 2 the
                # expansion set explodes and matches stop being typos
                raise ValueError(
                    f"fuzzy must be in [0, {MAX_FUZZY_DIST}], "
                    f"got {fuzzy_max_dist}")
        if min_should_match is not None:
            if use_wand:
                raise ValueError(
                    "mm requires the relational path (wand=0)")
            if min_should_match < 1:
                raise ValueError(
                    f"mm must be >= 1, got {min_should_match}")
        if recency_hl is not None:
            if use_wand:
                raise ValueError(
                    "recency requires the relational path (wand=0)")
            if recency_as_of is None:
                raise ValueError(
                    "recency=HL requires as_of=YYYY-MM-DD — an implicit "
                    "now() makes rankings irreproducible")
            if doc_dates is None:
                raise ValueError(
                    "recency requires --documents with a warc_ts/"
                    "warc_date column")
        if use_synonyms:
            if synonyms is None:
                raise ValueError(
                    "syn=1 requires the server to be started with "
                    "--synonyms (no synonym table loaded)")
            if use_wand:
                raise ValueError(
                    "syn requires the relational path (wand=0)")
        if after is not None:
            if use_wand:
                raise ValueError(
                    "after_score/after_doc require the relational path "
                    "(wand=0): the WAND kernel's heap has no cursor")
            if collapse_host:
                raise ValueError(
                    "after_score/after_doc do not compose with "
                    "collapse_host — the per-host cap re-ranks the page")
        if (ds is None) != (de is None):
            # a half-open range would be silently dropped by the executor
            # (it filters only when BOTH bounds are set) — reject instead
            # of returning out-of-range results with a 200
            raise ValueError(
                "date_start and date_end must be provided together")
        if auto_route:
            # DEFAULT routing (round-5): an eligible query serves from
            # the MaxScore kernel — rank-identical to the relational
            # path (wand_bm25_identity / maxscore_bm25_identity gates)
            # and ~50× faster warm (driver mini-index LRU, zero Spark
            # jobs on repeat terms; the reference's only serving path IS
            # its mini-index fast path, index_loader.py:71-128).
            # Eligible = plain bag-of-words BM25 free text with no
            # relational-only feature requested and a durable segment
            # index loaded; anything else falls back to the relational
            # path silently (fallback, not refusal — refusals are for
            # EXPLICIT kernel requests the kernel cannot honor).
            # Impact stores: the kernel serves the store's QUANTIZED
            # scores — the artifact's serving contract (error bounded
            # by the quantizer) — while wand=0 stays exact via the
            # sidecar; documented divergence, disclosed by "path".
            from search_engine_spark.plans import planner as _planner

            relational_only = (
                ds is not None or de is not None or bool(collapse_host)
                or rm3_alpha is not None or fuzzy_max_dist is not None
                or min_should_match is not None or use_synonyms
                or recency_hl is not None or after is not None
                or model != "bm25")
            if (not relational_only and hasattr(index, "mini_index")
                    and wand.wand_eligible(
                        _planner.classify(query, index.analyzer))):
                kernel = "maxscore"
                use_wand = True
        corrected = query
        executed = corrected
        if first_execution and (spellchecker is not None or abbreviations):
            from search_engine_spark.plans import planner

            # Mirror executor.execute's guard: the reference applies
            # spellcheck/expansion AFTER classification and to FREE-TEXT
            # queries only (retrieval_execution.py:77-79) — correcting a
            # boolean/proximity query would rewrite operator words into
            # vocabulary terms and silently change the parse.
            plan = planner.classify(query, index.analyzer)
            # wand path: the stricter shared predicate (wand_eligible
            # also excludes phrase-bearing free text, which search_wand
            # 400s) — correcting a query the kernel will refuse anyway
            # is wasted work and lets the two guards drift.
            correctable = (wand.wand_eligible(plan) if use_wand
                           else isinstance(plan, planner.FreeTextPlan))
            if correctable:
                if spellchecker is not None:
                    from search_engine_spark.plans.spellcheck import (
                        correct_query)

                    corrected = correct_query(query, spellchecker, symbols)
                executed = corrected
                if abbreviations:
                    from search_engine_spark.plans.spellcheck import (
                        expand_abbreviations)

                    # wand's bag-of-words kernel rejects quoted queries,
                    # so expand to bare terms there instead of a phrase
                    executed = expand_abbreviations(
                        corrected, abbreviations, quote=not use_wand)
        if auto_route and use_wand and executed != query:
            # belt-and-braces: a rewrite (spellcheck/expansion) cannot
            # introduce phrases on the kernel path (quote=False above),
            # but if the executed query ever stopped being
            # kernel-eligible, FALL BACK rather than let the kernel
            # refuse a request the user never made explicit
            from search_engine_spark.plans import planner as _planner

            if not wand.wand_eligible(
                    _planner.classify(executed, index.analyzer)):
                kernel, use_wand = None, False
        with lock:
            if use_wand:
                if ds or de:
                    raise ValueError(
                        "wand=1 does not support date filtering; "
                        "use the relational path")
                if kernel == "maxscore":
                    from search_engine_spark.operators import (
                        maxscore as _ms)

                    hits = _ms.search_maxscore(
                        index, executed, k=k,
                        prior=prior, prior_lam=prior_lam)
                else:
                    hits = wand.search_wand(index, executed, k=k,
                                            prior=prior,
                                            prior_lam=prior_lam)
            elif collapse_host:
                from search_engine_spark.operators import serp

                # full ranking (df-bounded, never corpus-scale), THEN
                # the per-host cap, THEN the page cut — cutting first
                # would under-fill the page when a host dominates it
                df = executor.execute(index, executed, k=None, model=model,
                                      date_start=ds, date_end=de,
                                      prior=prior, prior_lam=prior_lam,
                                      rm3_alpha=rm3_alpha,
                                      fuzzy_max_dist=fuzzy_max_dist,
                                      min_should_match=min_should_match,
                                      synonyms=(synonyms if use_synonyms
                                                else None),
                                      synonym_weight=synonym_weight,
                                      recency=(doc_dates
                                               if recency_hl is not None
                                               else None),
                                      recency_as_of=recency_as_of,
                                      recency_half_life=recency_hl or 30.0)
                div = serp.diversify_by_host(
                    df, doc_hosts, per_host=collapse_host, k=k)
                hits = [(r.doc_id, r.score) for r in div.collect()]
            else:
                df = executor.execute(index, executed, k=k, model=model,
                                      date_start=ds, date_end=de,
                                      prior=prior, prior_lam=prior_lam,
                                      rm3_alpha=rm3_alpha,
                                      fuzzy_max_dist=fuzzy_max_dist,
                                      after=after,
                                      min_should_match=min_should_match,
                                      synonyms=(synonyms if use_synonyms
                                                else None),
                                      synonym_weight=synonym_weight,
                                      recency=(doc_dates
                                               if recency_hl is not None
                                               else None),
                                      recency_as_of=recency_as_of,
                                      recency_half_life=recency_hl or 30.0)
                hits = [(r.doc_id, r.score) for r in df.collect()]
        snips: dict[int, str] = {}
        if want_snippets and hits:
            if index.documents is None:
                raise ValueError(
                    "snippets=1 requires the server to be started with "
                    "--documents (no corpus table to window into)")
            import re as _re

            from search_engine_spark.operators import search as _S

            terms = _re.findall(r"[a-z0-9]+", executed.lower())
            with lock:
                sdf = index.documents.sparkSession.createDataFrame(
                    [(int(d), float(s)) for d, s in hits],
                    "doc_id long, score double")
                snips = {r["doc_id"]: r["snippet"] for r in
                         _S.snippets(sdf, index.documents, terms).collect()}
        return {
            "results": [
                {"rank": i, "doc_id": int(d), "score": float(s),
                 **({"snippet": snips.get(int(d), "")}
                    if want_snippets else {})}
                for i, (d, s) in enumerate(hits, 1)
            ],
            "number_of_results": len(hits),
            "retrieval_time": round(time.perf_counter() - t0, 4),
            "term_been_corrected": corrected != query,
            "corrected_query": corrected,
            "executed_query": executed,
            "original_query": query,
            # which path actually served (auto-routing makes it
            # request-dependent; clients and the bench read it)
            "path": kernel if use_wand else "relational",
        }

    def _parse_after(q) -> tuple | None:
        """?after_score=&after_doc= → cursor tuple; both-or-neither
        (a half cursor would silently paginate from a wrong anchor)."""
        s, d = q.get("after_score", [None])[0], q.get("after_doc", [None])[0]
        if (s is None) != (d is None):
            raise ValueError(
                "after_score and after_doc must be provided together")
        if s is None:
            return None
        return (float(s), int(d))

    def get_article(doc_id: int) -> dict | None:
        if index.documents is None:
            return None
        from pyspark.sql import functions as F

        with lock:
            rows = index.documents.filter(
                F.col("doc_id") == doc_id).limit(1).collect()
        if not rows:
            return None
        return {k: (v.isoformat() if hasattr(v, "isoformat") else v)
                for k, v in rows[0].asDict().items()}

    # memo for /stats derived scalars (one count job, then free)
    stats_memo: dict = {}

    def render_web(query: str | None, k: int, ds, de,
                   rerun: bool) -> str:
        """The reference's Django template surface (results.html /
        index.html, search/retrieval/views.py:87-97) as stdlib string
        rendering: a search form, the retrieved-count/time line, the
        spellcheck "Showing results for … / Search instead for" notice
        linking the RERUN path (spellcheck skipped, the reference's
        rerun_results), one card per hit (host parsed from the url like
        the reference's urlparse(result.url).netloc), and the
        zero-results message. Same context keys, no template engine."""
        import html as _html

        head = (
            "<!doctype html><html><head><title>Search</title>"
            "<style>body{font-family:sans-serif;max-width:52em;"
            "margin:2em auto;padding:0 1em}.card{border:1px solid #ccc;"
            "border-radius:6px;padding:.7em 1em;margin:.6em 0}"
            ".muted{color:#666}</style></head><body>"
            "<h3>Full-text search</h3>"
            "<form action='/web' method='GET'>"
            "<input type='text' name='query' required "
            f"value='{_html.escape(query or '', quote=True)}' "
            "placeholder='Type your query here' size='40'> "
            "<button type='submit'>Search</button> "
            "<span class='muted'>optional:</span> "
            "date_start <input name='date_start' size='10' "
            f"value='{ds.isoformat() if ds else ''}'> "
            "date_end <input name='date_end' size='10' "
            f"value='{de.isoformat() if de else ''}'>"
            + (f"<input type='hidden' name='k' value='{k}'>"
               if k != WEB_K else "")
            + "</form>")
        if not query:
            return head + "</body></html>"
        out = run_query(query, k, "bm25", ds, de,
                        first_execution=not rerun, kernel=None)
        parts = [head,
                 f"<p>Retrieved {out['number_of_results']} documents "
                 f"({out['retrieval_time']} seconds, "
                 f"{out['path']} path)</p>"]
        if out["term_been_corrected"]:
            from urllib.parse import quote

            rerun_q = quote(out["original_query"])
            dq = (f"&date_start={ds.isoformat()}&date_end="
                  f"{de.isoformat()}" if ds and de else "")
            if k != WEB_K:
                dq += f"&k={k}"
            parts.append(
                "<p>Showing results for: "
                f"<b>{_html.escape(out['corrected_query'])}</b><br>"
                "Search instead for: "
                f"<a href='/web?query={rerun_q}&rerun=1{dq}'>"
                f"{_html.escape(out['original_query'])}</a></p>")
        hits = out["results"]
        meta: dict[int, dict] = {}
        if hits and index.documents is not None:
            from pyspark.sql import functions as _F

            ids = [h["doc_id"] for h in hits]
            cols = [c for c in ("doc_id", "url", "source", "warc_ts",
                                "warc_date", "title")
                    if c in index.documents.columns]
            with lock:
                for r in (index.documents
                          .filter(_F.col("doc_id").isin(ids))
                          .select(*cols).limit(len(ids)).collect()):
                    meta[r["doc_id"]] = r.asDict()
        from urllib.parse import urlparse as _urlparse

        for h in hits:
            m = meta.get(h["doc_id"], {})
            url = m.get("url")
            host = _urlparse(url).netloc if url else None
            when = m.get("warc_date") or m.get("warc_ts")
            lines = [f"<b>#{h['rank']}</b> "
                     f"<a href='/article/{h['doc_id']}'>"
                     f"doc {h['doc_id']}</a> "
                     f"<span class='muted'>score "
                     f"{round(h['score'], 4)}</span>"]
            if m.get("title"):
                lines.append(f"<div>{_html.escape(str(m['title']))}</div>")
            if host:
                lines.append(f"<div class='muted'>Publisher: "
                             f"{_html.escape(host)} — "
                             f"<a href='{_html.escape(url, quote=True)}'>"
                             "go to source</a></div>")
            if when is not None:
                w = when.isoformat() if hasattr(when, "isoformat") else when
                lines.append(f"<div class='muted'>Published on: "
                             f"{_html.escape(str(w))}</div>")
            parts.append("<div class='card'>" + "".join(lines) + "</div>")
        if not hits:
            parts.append("<p>The provided query (for the date range) "
                         "did not return any results. Please try "
                         "another query, or change the date range.</p>")
        parts.append("</body></html>")
        return "".join(parts)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet server
            pass

        def _json(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _page(self, code: int, html_body: str) -> None:
            body = html_body.encode()
            self.send_response(code)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (http.server API)
            try:
                u = urlparse(self.path)
                parts = [p for p in u.path.split("/") if p]
                if not parts:
                    self._json(200, {"status": "ok",
                                     "n_docs": index.stats["n_docs"],
                                     "models": list(_MODELS)})
                elif parts[0] == "stats":
                    # index statistics (the _cat/indices analog): corpus
                    # scalars are already broadcast on the handle;
                    # vocabulary size is ONE count job, memoized so
                    # monitoring pollers cost zero Spark work after the
                    # first hit (the index handle is immutable — deletes
                    # load a new handle)
                    if "n_terms" not in stats_memo:
                        with lock:
                            stats_memo["n_terms"] = index.term_stats.count()
                    self._json(200, {
                        "n_docs": index.stats["n_docs"],
                        "total_tokens": int(index.stats["total_len"]),
                        "avgdl": float(index.stats["avgdl"]),
                        "n_terms": int(stats_memo["n_terms"]),
                        "documents_loaded": index.documents is not None,
                    })
                elif parts[0] == "results":
                    q = parse_qs(u.query)
                    query = q.get("query", [None])[0]
                    if not query:
                        # reference redirects to index on a missing query
                        self._json(400, {"error": "query parameter required"})
                        return
                    model = q.get("model", ["bm25"])[0]
                    if model not in _MODELS:
                        self._json(400, {"error": f"unknown model {model}"})
                        return
                    # kernel param: explicit kernel=/wand=1 forces a
                    # kernel (with refusals); wand=0 forces relational;
                    # ABSENT = auto-route (kernel when eligible,
                    # relational fallback otherwise)
                    kern = q.get("kernel", [None])[0]
                    if kern is None and "wand" in q:
                        kern = ("wand" if q["wand"][0] == "1"
                                else "relational")
                    self._json(200, run_query(
                        query, int(q.get("k", ["100"])[0]), model,
                        _parse_date(q.get("date_start", [None])[0]),
                        _parse_date(q.get("date_end", [None])[0]),
                        first_execution=True,
                        kernel=kern,
                        want_snippets=q.get("snippets", ["0"])[0] == "1",
                        collapse_host=int(
                            q.get("collapse_host", ["0"])[0]),
                        rm3_alpha=(float(q["rm3"][0])
                                   if "rm3" in q else None),
                        fuzzy_max_dist=(int(q["fuzzy"][0])
                                        if "fuzzy" in q else None),
                        after=_parse_after(q),
                        min_should_match=(int(q["mm"][0])
                                          if "mm" in q else None),
                        use_synonyms=q.get("syn", ["0"])[0] == "1",
                        recency_hl=(float(q["recency"][0])
                                    if "recency" in q else None),
                        recency_as_of=_parse_date(
                            q.get("as_of", [None])[0])))
                elif parts[0] == "complete":
                    q = parse_qs(u.query)
                    prefix = q.get("prefix", [None])[0]
                    if not prefix:
                        self._json(400,
                                   {"error": "prefix parameter required"})
                        return
                    kk = int(q.get("k", ["10"])[0])
                    if not 1 <= kk <= MAX_COMPLETIONS:
                        raise ValueError(
                            f"k must be in [1, {MAX_COMPLETIONS}], got {kk}")
                    from search_engine_spark.operators import serp

                    with lock:
                        rows = serp.autocomplete(
                            index.term_stats, prefix, k=kk).collect()
                    self._json(200, {
                        "prefix": prefix,
                        "completions": [{"term": r["term"], "cf": int(r["cf"])}
                                        for r in rows],
                    })
                elif parts[0] == "rerun_query" and len(parts) == 4:
                    self._json(200, run_query(
                        unquote(parts[1]), 100, "bm25",
                        _parse_date(unquote(parts[2])),
                        _parse_date(unquote(parts[3])),
                        first_execution=False, kernel=None))
                elif parts[0] == "mlt" and len(parts) == 2:
                    # related documents: GET /mlt/<doc_id>?k=&terms=
                    q = parse_qs(u.query)
                    kk = int(q.get("k", ["100"])[0])
                    if not 1 <= kk <= MAX_K:
                        raise ValueError(
                            f"k must be in [1, {MAX_K}], got {kk}")
                    n_terms = int(q.get("terms", ["10"])[0])
                    if not 1 <= n_terms <= MAX_MLT_TERMS:
                        raise ValueError(
                            f"terms must be in [1, {MAX_MLT_TERMS}], "
                            f"got {n_terms}")
                    from search_engine_spark.operators import (
                        search as _search)

                    t0 = time.perf_counter()
                    with lock:
                        rows = _search.more_like_this(
                            index, int(parts[1]), k=kk,
                            max_query_terms=n_terms).collect()
                    self._json(200, {
                        "doc_id": int(parts[1]),
                        "results": [
                            {"rank": i, "doc_id": int(r.doc_id),
                             "score": float(r.score)}
                            for i, r in enumerate(rows, 1)],
                        "number_of_results": len(rows),
                        "retrieval_time":
                            round(time.perf_counter() - t0, 4),
                    })
                elif parts[0] == "hybrid":
                    # hybrid sparse+dense retrieval (fusion.search_hybrid):
                    # GET /hybrid?query=...&vec_id=N[&k=10][&depth=100]
                    # or &vec=f1,f2,... for an inline query vector. The
                    # dense run is the exact cosine scan over the loaded
                    # embedding table; both runs fuse with RRF (rrf_k=60).
                    if embeddings is None:
                        raise ValueError(
                            "hybrid requires the server to be started "
                            "with --embeddings (no vector table loaded)")
                    q = parse_qs(u.query)
                    query = q.get("query", [None])[0]
                    if not query:
                        raise ValueError("query parameter required")
                    kk = int(q.get("k", ["10"])[0])
                    depth = int(q.get("depth", ["100"])[0])
                    if not 1 <= kk <= MAX_K:
                        raise ValueError(
                            f"k must be in [1, {MAX_K}], got {kk}")
                    if not kk <= depth <= MAX_K:
                        raise ValueError(
                            f"depth must be in [k, {MAX_K}], got {depth}")
                    from pyspark.sql import functions as _F

                    from search_engine_spark.operators import fusion
                    from search_engine_spark.plans import planner

                    kind = planner.classify(query, index.analyzer)
                    if (not isinstance(kind, planner.FreeTextPlan)
                            or kind.phrases or kind.prefixes
                            or getattr(kind, "wildcards", None)):
                        raise ValueError(
                            "hybrid is defined for plain free-text "
                            "term queries")
                    if not kind.terms:
                        raise ValueError(
                            "hybrid needs at least one indexable term "
                            "(query analyzed to nothing)")
                    if "vec" in q:
                        qvec = [float(x)
                                for x in q["vec"][0].split(",") if x]
                        if not qvec:
                            raise ValueError("vec= must carry floats")
                    elif "vec_id" in q:
                        with lock:
                            rows = embeddings.filter(
                                _F.col("vec_id") == int(q["vec_id"][0])
                            ).limit(1).collect()
                        if not rows:
                            self._json(404, {
                                "error": "vec_id not in the embedding "
                                         "table"})
                            return
                        qvec = [float(x) for x in rows[0].embedding]
                    else:
                        raise ValueError(
                            "hybrid needs vec= (inline floats) or "
                            "vec_id= (lookup)")
                    t0 = time.perf_counter()
                    with lock:
                        rows = fusion.search_hybrid(
                            index, embeddings, kind.terms, qvec,
                            k=kk, depth=depth).collect()
                    self._json(200, {
                        "query": query,
                        "results": [
                            {"rank": i, "doc_id": int(r.doc_id),
                             "rrf_score": float(r.rrf_score)}
                            for i, r in enumerate(rows, 1)],
                        "number_of_results": len(rows),
                        "retrieval_time":
                            round(time.perf_counter() - t0, 4),
                    })
                elif parts[0] == "web":
                    # the reference's template surface: GET /web (form)
                    # and GET /web?query=...[&date_start&date_end]
                    # [&rerun=1] (results page; rerun skips spellcheck
                    # like /rerun_query)
                    q = parse_qs(u.query)
                    kk = int(q.get("k", [str(WEB_K)])[0])
                    if not 1 <= kk <= MAX_K:
                        raise ValueError(
                            f"k must be in [1, {MAX_K}], got {kk}")
                    self._page(200, render_web(
                        q.get("query", [None])[0], kk,
                        _parse_date(q.get("date_start", [None])[0]),
                        _parse_date(q.get("date_end", [None])[0]),
                        rerun=q.get("rerun", ["0"])[0] == "1"))
                elif parts[0] == "ann":
                    # ANN serving from the committed catalog artifact:
                    # GET /ann?vec_id=N|vec=f,...[&k][&nprobe][&refine]
                    if getattr(index, "_ann_meta", None) is None:
                        raise ValueError(
                            "ann requires an index with a committed ANN "
                            "artifact (catalog.build_ann_index)")
                    q = parse_qs(u.query)
                    kk = int(q.get("k", ["10"])[0])
                    if not 1 <= kk <= MAX_K:
                        raise ValueError(
                            f"k must be in [1, {MAX_K}], got {kk}")
                    nprobe = int(q.get("nprobe", ["2"])[0])
                    if nprobe < 1:
                        raise ValueError(f"nprobe must be >= 1: {nprobe}")
                    refine = (int(q["refine"][0])
                              if "refine" in q else None)
                    if refine is not None:
                        if embeddings is None:
                            raise ValueError(
                                "refine requires the server to be "
                                "started with --embeddings (the coded "
                                "artifact carries codes only)")
                        if not kk <= refine <= MAX_K:
                            raise ValueError(
                                f"refine must be in [k, {MAX_K}], "
                                f"got {refine}")
                    if "vec" in q:
                        qvec = [float(x)
                                for x in q["vec"][0].split(",") if x]
                        if not qvec:
                            raise ValueError("vec= must carry floats")
                    elif "vec_id" in q:
                        if embeddings is None:
                            raise ValueError(
                                "vec_id lookup requires --embeddings")
                        from pyspark.sql import functions as _F

                        with lock:
                            rows = embeddings.filter(
                                _F.col("vec_id") == int(q["vec_id"][0])
                            ).limit(1).collect()
                        if not rows:
                            self._json(404, {
                                "error": "vec_id not in the embedding "
                                         "table"})
                            return
                        qvec = [float(x) for x in rows[0].embedding]
                    else:
                        raise ValueError(
                            "ann needs vec= (inline floats) or "
                            "vec_id= (lookup)")
                    t0 = time.perf_counter()
                    with lock:
                        rows = index.ann_topk(
                            qvec, k=kk, nprobe=nprobe, refine=refine,
                            embeddings=embeddings).collect()
                    self._json(200, {
                        "results": [
                            {"rank": i, "vec_id": int(r.vec_id),
                             "cosine": float(r.cosine)}
                            for i, r in enumerate(rows, 1)],
                        "number_of_results": len(rows),
                        "nprobe": nprobe, "refine": refine,
                        "retrieval_time":
                            round(time.perf_counter() - t0, 4),
                    })
                elif parts[0] == "explain_plan":
                    # plan-choice explain (plans.explain): which kernel /
                    # artifact / path will serve this query — no Spark
                    # job, driver-side classification + coverage tests
                    q = parse_qs(u.query)
                    query = q.get("query", [None])[0]
                    if not query:
                        raise ValueError("explain_plan needs query=")
                    from search_engine_spark.plans.explain import (
                        explain_plan)

                    with lock:
                        self._json(200, explain_plan(
                            index, query,
                            model=q.get("model", ["bm25"])[0]))
                elif parts[0] == "explain":
                    # Lucene-Explanation analog: per-term score breakdown
                    # for one (query, doc) pair — GET /explain?query=&doc=
                    # [&model=]. Free-text queries only (a phrase/boolean
                    # score is not a per-term sum; refuse, never degrade).
                    q = parse_qs(u.query)
                    query = q.get("query", [None])[0]
                    doc_s = q.get("doc", [None])[0]
                    if not query or doc_s is None:
                        raise ValueError("explain needs query= and doc=")
                    model = q.get("model", ["bm25"])[0]
                    if model == "vsm" or model not in _MODELS:
                        raise ValueError(
                            "explain supports the term-weight models "
                            f"(bm25/bm25-reference/lm-*), got {model!r}")
                    from search_engine_spark.operators import (
                        search as _search)
                    from search_engine_spark.plans import planner

                    kind = planner.classify(query, index.analyzer)
                    if not isinstance(kind, planner.FreeTextPlan):
                        raise ValueError(
                            "explain is defined for free-text queries; "
                            f"got a {type(kind).__name__}")
                    if (kind.phrases or kind.prefixes
                            or getattr(kind, "wildcards", None)):
                        raise ValueError(
                            "explain is defined for plain term queries — "
                            "phrase/prefix/wildcard scores are not "
                            "per-term sums")
                    toks = kind.terms
                    t0 = time.perf_counter()
                    with lock:
                        rows = _search.explain_scores(
                            index, toks, int(doc_s), model=model).collect()
                    self._json(200, {
                        "query": query, "doc_id": int(doc_s),
                        "model": model,
                        "terms": [
                            {"term": r.term, "tf": int(r.tf),
                             "df": int(r.df), "weight": float(r.weight)}
                            for r in rows],
                        "score": float(sum(r.weight for r in rows)),
                        "retrieval_time":
                            round(time.perf_counter() - t0, 4),
                    })
                elif parts[0] == "article" and len(parts) == 2:
                    art = get_article(int(parts[1]))
                    if art is None:
                        self._json(404, {"error": "article not found"})
                    else:
                        self._json(200, {"article": art})
                else:
                    self._json(404, {"error": "unknown endpoint"})
            except ValueError as e:
                if self._is_web():
                    self._error_page(400, str(e))
                else:
                    self._json(400, {"error": str(e)})
            except Exception as e:  # surface failures as JSON, keep serving
                if self._is_web():
                    self._error_page(500, f"{type(e).__name__}: {e}")
                else:
                    self._json(500, {"error": f"{type(e).__name__}: {e}"})

        def _is_web(self) -> bool:
            # the /web surface renders errors as HTML (a browser form
            # user should not see a raw JSON blob for a malformed date)
            return self.path.split("?")[0].strip("/").split("/")[:1] \
                == ["web"]

        def _error_page(self, code: int, msg: str) -> None:
            import html as _html

            self._page(code, (
                "<!doctype html><html><body style='font-family:"
                "sans-serif;max-width:52em;margin:2em auto'>"
                f"<h3>Search error</h3><p>{_html.escape(msg)}</p>"
                "<p><a href='/web'>Back to search</a></p>"
                "</body></html>"))

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--documents")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--no-spellcheck", action="store_true")
    ap.add_argument("--symbols",
                    help="ticker symbols spellcheck must never rewrite — "
                         "the reference's NYSE guard (helpers.py:243-252): "
                         "a CSV with a Symbol column (the reference's "
                         "listed-companies shape), a one-per-line file, or "
                         "an inline comma-separated list")
    ap.add_argument("--abbreviations-json",
                    help="fin_abbv.json-shaped term→expansion dict "
                         "(helpers.py:225,297-303); expansions append as "
                         "quoted phrases on the first-execution path")
    ap.add_argument("--prior-parquet",
                    help="(node, rank) parquet (jobs/pagerank.py output): "
                         "blend the static document prior into ranked "
                         "relational-path queries")
    ap.add_argument("--prior-lam", type=float, default=0.3,
                    help="mixture weight for the static prior "
                         "(score + lam*ln(rank))")
    ap.add_argument("--synonyms",
                    help="Solr-format synonyms.txt: enables syn=1 "
                         "query-time expansion on /results")
    ap.add_argument("--embeddings",
                    help="(vec_id, embedding) parquet keyed by doc_id: "
                         "enables GET /hybrid sparse+dense RRF fusion")
    ap.add_argument("--synonym-weight", type=float, default=0.7,
                    help="OR-clause weight for expanded synonyms")
    args = ap.parse_args()

    from search_engine_spark.plans.spellcheck import (load_abbreviations,
                                                      load_symbols)

    symbols: frozenset[str] = (
        load_symbols(args.symbols) if args.symbols else frozenset())
    abbreviations = (load_abbreviations(args.abbreviations_json)
                     if args.abbreviations_json else None)

    from search_engine_spark.session import get_spark
    from search_engine_spark.sources import catalog

    spark = get_spark("serve")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.documents) if args.documents else None
    idx = catalog.load_index(spark, args.index, documents=docs)

    checker = None
    if not args.no_spellcheck:
        from search_engine_spark.plans.spellcheck import VocabularySpellchecker

        checker = VocabularySpellchecker.from_index(idx)

    prior = (spark.read.parquet(args.prior_parquet)
             if args.prior_parquet else None)
    synonyms = None
    if args.synonyms:
        from search_engine_spark.plans.synonyms import load_synonyms

        synonyms = load_synonyms(args.synonyms, idx.analyzer)
    embeddings = (spark.read.parquet(args.embeddings)
                  if args.embeddings else None)
    srv = create_server(idx, args.port, spellchecker=checker,
                        symbols=symbols, abbreviations=abbreviations,
                        prior=prior, prior_lam=args.prior_lam,
                        synonyms=synonyms,
                        synonym_weight=args.synonym_weight,
                        embeddings=embeddings)
    print(f"serving on http://127.0.0.1:{srv.server_address[1]}  "
          f"(index={args.index}, n_docs={idx.stats['n_docs']})", flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    main()
