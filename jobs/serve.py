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
                [&k=100][&kernel=maxscore|relational]
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
                                                   avgdl, n_terms, and on
                                                   a durable index the
                                                   mini-index LRU's
                                                   cumulative hits,
                                                   misses, blocks fetched
                                                   and fetch seconds;
                                                   zero Spark jobs on a
                                                   durable index)
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

DEFAULT ROUTING (round-5): with no kernel parameter, an eligible
request — plain bag-of-words BM25 free text, no date filter or other
relational-only feature, a durable segment index loaded — serves from
the Block-Max MaxScore kernel + driver mini-index LRU. Opening the index
is lazy (catalog.SegmentIndex reads only its JSON manifests), an LRU
miss is a capped driver-side Arrow read of the segment files, and the
spellcheck vocabulary streams term_stats through Arrow, so the kernel
path runs no Spark job from start-up on (serving-grade latency;
rank-identical to the relational path by the maxscore_bm25_identity
gate). The driver must see ``--index``. The
first relational request pays to open the tables it reads. Ineligible
requests FALL BACK to the relational path silently; the response's
``path`` key says which path served. On a quantized-IMPACT store the
default serves the store's QUANTIZED scores — that is the artifact's
serving contract (you deployed a ~1 byte/posting store to be served from
the impact byte; per-doc error is bounded by the quantizer,
test_impact's accuracy gate) — while ``kernel=relational`` forces the
exact relational sidecar path, so the two differ on impact stores BY
DESIGN and the ``path`` key discloses it. A term with more postings
blocks than the kernel's fetch cap (maxscore.FETCH_CAP) is scored from
its highest-bound blocks only; the response then carries ``"exact":
false`` and the ``truncated_terms`` (``"exact": true`` otherwise).
``kernel=maxscore`` forces the kernel and refuses with a 400 what it
cannot honor (date filters, non-BM25 models, relational-only features —
the same refusals as jobs/query_topk.py); ``kernel=relational`` forces
the relational path. The retired selectors ``kernel=wand`` and
``wand=0|1`` answer 400 naming their replacement.

One thread serves every request: the thread that calls serve_forever
runs a selector loop (LoopHTTPServer) that accepts without blocking,
buffers each request until its head is complete, runs the handler
inline on the buffered bytes and sends the response without blocking.
No handler touches a socket, so an idle or slow client costs one
buffered entry and a deadline (HANDLER_TIMEOUT_S from accept until the
response is sent), never a thread; a head over MAX_HEAD_BYTES gets a
431. The loop thread is also what serializes query execution (one
Spark driver serves the plans, and the kernel mutates the driver-side
LRU), so there is no serving lock. Known limit: a relational (Spark)
request blocks the loop for its duration, so every other request, `/`
and a memoized `/stats` included, waits for it in the listen backlog
(request_queue_size = 128) rather than being refused.

Usage:
    spark-submit --py-files dist/engine.zip jobs/serve.py \
        --index /data/index [--documents /data/documents_parquet] \
        [--port 8080] [--no-spellcheck]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import selectors
import sys
import threading
import time
from datetime import date
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, unquote, urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MODELS = ("bm25", "bm25-reference", "vsm", "lm-dirichlet", "lm-pyp")

#: connection deadline (s): a connection whose response has not been
#: sent this long after it was accepted is closed, whatever it waits on
HANDLER_TIMEOUT_S = 10.0
#: most bytes a request head (request line and headers) may take before
#: its blank line; a longer head is answered 431 and closed (the line
#: limit of http.server)
MAX_HEAD_BYTES = 65536

_HEAD_END = re.compile(rb"\n\r?\n")
_HEAD_TOO_LARGE = (b"HTTP/1.0 431 Request Header Fields Too Large\r\n"
                   b"Content-Type: application/json\r\n"
                   b"Content-Length: 36\r\n\r\n"
                   b'{"error": "request head too large"}\n')


class InMemoryIO:
    """Request-handler mixin for LoopHTTPServer: the handler reads the
    buffered request from ``rfile`` and writes its response to
    ``wfile``, both in memory; it never touches the socket."""

    def setup(self) -> None:
        self.rfile = io.BytesIO(self.request)
        self.wfile = io.BytesIO()

    def finish(self) -> None:
        pass


class _Conn:
    __slots__ = ("sock", "addr", "deadline", "buf", "out")

    def __init__(self, sock, addr, deadline: float):
        self.sock, self.addr, self.deadline = sock, addr, deadline
        self.buf = bytearray()
        self.out = None  # the unsent response, once the handler ran


class LoopHTTPServer(HTTPServer):
    """HTTPServer whose ``serve_forever`` thread does all the work in one
    selector loop: it accepts without blocking, buffers each request
    until its head is complete, runs the handler (which mixes in
    InMemoryIO) inline on the buffered bytes and sends the response
    without blocking; what does not fit goes out as the socket drains,
    then the connection is closed. A connection not answered
    HANDLER_TIMEOUT_S after accept is closed. ``shutdown()`` waits for
    the loop to exit, and the loop closes every open connection as it
    exits."""

    request_queue_size = 128

    def __init__(self, server_address, handler_class):
        self._conns: dict = {}
        self._stop = False
        self._stopped = threading.Event()
        super().__init__(server_address, handler_class)
        self.socket.setblocking(False)

    def serve_forever(self, poll_interval: float = 0.5) -> None:
        self._stopped.clear()
        try:
            with selectors.DefaultSelector() as sel:
                sel.register(self.socket, selectors.EVENT_READ)
                while not self._stop:
                    now = time.monotonic()
                    for c in [c for c in self._conns.values()
                              if c.deadline <= now]:
                        self._close(sel, c)
                    wait = min([poll_interval] + [
                        c.deadline - now for c in self._conns.values()])
                    for key, _ in sel.select(wait):
                        if key.data is None:
                            self._accept(sel)
                        elif key.data.out is None:
                            self._read(sel, key.data)
                        else:
                            self._send(sel, key.data)
                for c in list(self._conns.values()):
                    self._close(sel, c)
        finally:
            self._stop = False
            self._stopped.set()

    def shutdown(self) -> None:
        self._stop = True
        self._stopped.wait()

    def _accept(self, sel) -> None:
        while True:
            try:
                sock, addr = self.socket.accept()
            except OSError:  # backlog drained (or out of descriptors)
                return
            sock.setblocking(False)
            c = _Conn(sock, addr, time.monotonic() + HANDLER_TIMEOUT_S)
            self._conns[sock] = c
            sel.register(sock, selectors.EVENT_READ, c)

    def _read(self, sel, c: _Conn) -> None:
        try:
            data = c.sock.recv(65536)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            data = b""
        if not data:  # the client left before its head was complete
            self._close(sel, c)
            return
        start = len(c.buf)
        c.buf += data
        end = _HEAD_END.search(c.buf, max(0, start - 2))
        if end is not None and end.end() <= MAX_HEAD_BYTES:
            try:
                out = self.RequestHandlerClass(
                    bytes(c.buf), c.addr, self).wfile.getvalue()
            except Exception:
                self.handle_error(c.sock, c.addr)
                out = b""
        elif len(c.buf) > MAX_HEAD_BYTES:
            out = _HEAD_TOO_LARGE
        else:
            return
        c.out = memoryview(out)
        self._send(sel, c)
        if c.out:
            sel.modify(c.sock, selectors.EVENT_WRITE, c)

    def _send(self, sel, c: _Conn) -> None:
        try:
            c.out = c.out[c.sock.send(c.out):]
        except (BlockingIOError, InterruptedError):
            return
        except OSError:  # the client left: nothing more to send
            c.out = c.out[:0]
        if not c.out:
            self._close(sel, c)

    def _close(self, sel, c: _Conn) -> None:
        sel.unregister(c.sock)
        del self._conns[c.sock]
        self.shutdown_request(c.sock)


def results_json(hits, snippets: dict | None, meta: dict) -> bytes:
    """The /results body, byte-identical to ``json.dumps`` of
    ``{"results": [{"rank": i, "doc_id": d, "score": s[, "snippet":
    snippets.get(d, "")]} for i, (d, s) in enumerate(hits, 1)], **meta}``
    (snippets None = no snippet key), written from the (doc_id, score)
    pairs without building a dict per hit."""
    rows = ""
    if hits:
        docs, scores = zip(*hits)
        # one json.dumps formats every score as it would inside the
        # dicts (NaN/Infinity included); no float repr contains ", "
        cols = [range(1, len(hits) + 1), docs,
                json.dumps(list(map(float, scores)))[1:-1].split(", ")]
        fmt = '{"rank": %d, "doc_id": %d, "score": %s'
        if snippets is not None:
            cols.append([json.dumps(snippets.get(int(d), "")) for d in docs])
            fmt += ', "snippet": %s'
        rows = ", ".join(map((fmt + "}").__mod__, zip(*cols)))
    rest = ", " + json.dumps(meta)[1:] if meta else "}"
    return ('{"results": [' + rows + "]" + rest).encode()


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
                  ) -> LoopHTTPServer:
    """Build (without starting) the HTTP server around a loaded index.
    ``port=0`` binds an ephemeral port (see ``server.server_address``).
    ``abbreviations`` (term→expansion, e.g. from
    spellcheck.load_abbreviations) appends '"{expansion}"' phrases on the
    first-execution path AFTER spellcheck; the corrected-vs-original flag
    tracks spellcheck only (the reference's has_term_been_corrected).
    ``prior`` (a (node, rank) DataFrame, e.g. a pagerank artifact)
    blends the static document prior into every ranked query on BOTH
    paths: the relational path via executor.execute(prior=...) and the
    MaxScore kernel via its iterative-deepening blend (the two paths
    stay rank-identical with a prior configured — the kernel pays one
    bounded Spark lookup per query for the candidates' prior rows).
    ``embeddings`` (a (vec_id, embedding) DataFrame keyed by doc_id)
    enables GET /hybrid — sparse+dense RRF fusion; without it the
    endpoint answers 400."""
    from search_engine_spark.operators import executor, maxscore
    from search_engine_spark.plans import planner


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
                  recency_as_of=None) -> tuple[list, dict | None, dict]:
        """Execute one search → (hits, snippets, info): the ranked
        (doc_id, score) pairs, {doc_id: snippet} when ``want_snippets``
        (else None), and the response's other keys; ``results_json``
        writes the three as the /results body."""
        t0 = time.perf_counter()
        # kernel: None = AUTO (default — route eligible plain BM25
        # free text through the MaxScore kernel, everything else
        # relational); "maxscore" = force the kernel (explicit requests
        # keep their refusal semantics); "relational" = force the
        # relational path
        if kernel not in (None, "maxscore", "relational"):
            raise ValueError(f"unknown kernel {kernel!r}: use "
                             "kernel=maxscore or kernel=relational")
        auto_route = kernel is None
        use_kernel = kernel == "maxscore"
        if use_kernel and model != "bm25":
            # the kernel scores BM25 only; answering with BM25 scores
            # under another model's name would be silently wrong
            raise ValueError(
                f"model={model} requires the relational path "
                "(kernel=relational): the MaxScore kernel scores BM25 only")
        if not 1 <= k <= MAX_K:
            # negative k raises deep inside Spark's limit() (a 500), and
            # an unbounded k lets one request collect the whole index
            # while it holds the serving loop — reject as a 400 like the
            # kernel/date and half-open-range checks
            raise ValueError(f"k must be in [1, {MAX_K}], got {k}")
        if collapse_host:
            if not 1 <= collapse_host <= MAX_PER_HOST:
                raise ValueError(
                    f"collapse_host must be in [1, {MAX_PER_HOST}], "
                    f"got {collapse_host}")
            if use_kernel:
                # the kernel returns a driver-side bounded top-k of
                # exactly k; diversifying after the cut would UNDER-fill
                # the page — route through the relational path, whose
                # full df-bounded ranking the collapse can draw from
                raise ValueError(
                    "collapse_host requires the relational path "
                    "(kernel=relational)")
            if doc_hosts is None:
                raise ValueError(
                    "collapse_host requires --documents with a url column")
        if rm3_alpha is not None:
            if use_kernel:
                raise ValueError(
                    "rm3 requires the relational path (kernel=relational)")
            if not 0.0 <= rm3_alpha <= 1.0:
                raise ValueError(f"rm3 must be in [0, 1], got {rm3_alpha}")
        if fuzzy_max_dist is not None:
            if use_kernel:
                raise ValueError(
                    "fuzzy requires the relational path (kernel=relational)")
            if not 0 <= fuzzy_max_dist <= MAX_FUZZY_DIST:
                # Lucene's own FuzzyQuery bound: beyond distance 2 the
                # expansion set explodes and matches stop being typos
                raise ValueError(
                    f"fuzzy must be in [0, {MAX_FUZZY_DIST}], "
                    f"got {fuzzy_max_dist}")
        if min_should_match is not None:
            if use_kernel:
                raise ValueError(
                    "mm requires the relational path (kernel=relational)")
            if min_should_match < 1:
                raise ValueError(
                    f"mm must be >= 1, got {min_should_match}")
        if recency_hl is not None:
            if use_kernel:
                raise ValueError(
                    "recency requires the relational path (kernel=relational)")
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
            if use_kernel:
                raise ValueError(
                    "syn requires the relational path (kernel=relational)")
        if after is not None:
            if use_kernel:
                raise ValueError(
                    "after_score/after_doc require the relational path "
                    "(kernel=relational): the kernel's top-k has no cursor")
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
        # classified once: routing, the spellcheck guard and the kernel
        # all read this plan (re-classified only if a rewrite changes
        # the query the kernel runs). planner.classify is resolved
        # through the module at call time, so a tracer can wrap it.
        plan = planner.classify(query, index.analyzer)
        if auto_route:
            # DEFAULT routing (round-5): an eligible query serves from
            # the MaxScore kernel — rank-identical to the relational
            # path (maxscore_bm25_identity gate)
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
            # by the quantizer) — while kernel=relational stays exact
            # via the sidecar; documented divergence, disclosed by "path".
            relational_only = (
                ds is not None or de is not None or bool(collapse_host)
                or rm3_alpha is not None or fuzzy_max_dist is not None
                or min_should_match is not None or use_synonyms
                or recency_hl is not None or after is not None
                or model != "bm25")
            if (not relational_only and hasattr(index, "mini_index")
                    and maxscore.kernel_eligible(plan)):
                use_kernel = True
        corrected = query
        executed = corrected
        if first_execution and (spellchecker is not None or abbreviations):
            # Mirror executor.execute's guard: the reference applies
            # spellcheck/expansion AFTER classification and to FREE-TEXT
            # queries only (retrieval_execution.py:77-79) — correcting a
            # boolean/proximity query would rewrite operator words into
            # vocabulary terms and silently change the parse.
            # kernel path: the stricter shared predicate (kernel_eligible
            # also excludes phrase-bearing free text, which the kernel
            # 400s) — correcting a query the kernel will refuse anyway
            # is wasted work and lets the two guards drift.
            correctable = (maxscore.kernel_eligible(plan) if use_kernel
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

                    # the bag-of-words kernel rejects quoted queries,
                    # so expand to bare terms there instead of a phrase
                    executed = expand_abbreviations(
                        corrected, abbreviations, quote=not use_kernel)
        if use_kernel and executed != query:
            # the kernel scores the plan of the query it executes
            plan = planner.classify(executed, index.analyzer)
            if auto_route and not maxscore.kernel_eligible(plan):
                # belt-and-braces: a rewrite (spellcheck/expansion)
                # cannot introduce phrases on the kernel path
                # (quote=False above), but if the executed query ever
                # stopped being kernel-eligible, FALL BACK rather than
                # let the kernel refuse a request the user never made
                # explicit
                use_kernel = False
        # the kernel reports the terms its fetch cap cut short; the
        # relational path always scores every posting
        kstats: dict = {}
        if use_kernel:
            if ds or de:
                raise ValueError(
                    "kernel=maxscore does not support date filtering; "
                    "use the relational path")
            # resolved through the module at call time, so a tracer
            # that wraps maxscore.search_maxscore sees every call
            hits = maxscore.search_maxscore(
                index, executed, k=k,
                prior=prior, prior_lam=prior_lam, stats=kstats,
                plan=plan)
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
            sdf = index.documents.sparkSession.createDataFrame(
                [(int(d), float(s)) for d, s in hits],
                "doc_id long, score double")
            snips = {r["doc_id"]: r["snippet"] for r in
                     _S.snippets(sdf, index.documents, terms).collect()}
        truncated = kstats.get("truncated_terms", [])
        return hits, (snips if want_snippets else None), {
            "number_of_results": len(hits),
            "retrieval_time": round(time.perf_counter() - t0, 4),
            "term_been_corrected": corrected != query,
            "corrected_query": corrected,
            "executed_query": executed,
            "original_query": query,
            # which path actually served (auto-routing makes it
            # request-dependent; clients and the bench read it)
            "path": "maxscore" if use_kernel else "relational",
            # false when the fetch cap truncated a term: its dropped
            # blocks only lower scores, so the ranking is approximate
            "exact": not truncated,
            **({"truncated_terms": truncated} if truncated else {}),
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

        rows = index.documents.filter(
            F.col("doc_id") == doc_id).limit(1).collect()
        if not rows:
            return None
        return {k: (v.isoformat() if hasattr(v, "isoformat") else v)
                for k, v in rows[0].asDict().items()}

    # memo for /stats derived scalars (read once, then free)
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
        hits, _, out = run_query(query, k, "bm25", ds, de,
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
        meta: dict[int, dict] = {}
        if hits and index.documents is not None:
            from pyspark.sql import functions as _F

            ids = [int(d) for d, _ in hits]
            cols = [c for c in ("doc_id", "url", "source", "warc_ts",
                                "warc_date", "title")
                    if c in index.documents.columns]
            for r in (index.documents
                      .filter(_F.col("doc_id").isin(ids))
                      .select(*cols).limit(len(ids)).collect()):
                meta[r["doc_id"]] = r.asDict()
        from urllib.parse import urlparse as _urlparse

        for rank, (d, s) in enumerate(hits, 1):
            m = meta.get(int(d), {})
            url = m.get("url")
            host = _urlparse(url).netloc if url else None
            when = m.get("warc_date") or m.get("warc_ts")
            lines = [f"<b>#{rank}</b> "
                     f"<a href='/article/{int(d)}'>"
                     f"doc {int(d)}</a> "
                     f"<span class='muted'>score "
                     f"{round(float(s), 4)}</span>"]
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

    class Handler(InMemoryIO, BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet server
            pass

        def _send(self, code: int, ctype: str, body: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _json(self, code: int, payload: dict) -> None:
            self._send(code, "application/json", json.dumps(payload).encode())

        def _results(self, *args, **kwargs) -> None:
            self._send(200, "application/json",
                       results_json(*run_query(*args, **kwargs)))

        def _page(self, code: int, html_body: str) -> None:
            self._send(code, "text/html; charset=utf-8", html_body.encode())

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
                    # scalars are already on the handle; vocabulary size
                    # is memoized (the index handle is immutable —
                    # deletes load a new handle): parquet footers on a
                    # durable index, ONE count job on an in-memory one
                    if "n_terms" not in stats_memo:
                        stats_memo["n_terms"] = (
                            index.vocabulary_size()
                            if hasattr(index, "vocabulary_size")
                            else index.term_stats.count())
                    body = {
                        "n_docs": index.stats["n_docs"],
                        "total_tokens": int(index.stats["total_len"]),
                        "avgdl": float(index.stats["avgdl"]),
                        "n_terms": int(stats_memo["n_terms"]),
                        "documents_loaded": index.documents is not None,
                    }
                    if hasattr(index, "mini_counters"):
                        body["mini_index"] = dict(index.mini_counters)
                    self._json(200, body)
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
                    # kernel param: kernel=maxscore forces the kernel
                    # (with refusals); kernel=relational forces
                    # relational; ABSENT = auto-route (kernel when
                    # eligible, relational fallback otherwise)
                    if "wand" in q:
                        # refuse, never ignore: a dropped wand=0 would
                        # switch impact-store clients to quantized scores
                        raise ValueError(
                            "the wand parameter was retired: use "
                            + ("kernel=maxscore" if q["wand"][0] == "1"
                               else "kernel=relational"))
                    kern = q.get("kernel", [None])[0]
                    self._results(
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
                            q.get("as_of", [None])[0]))
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

                    rows = serp.autocomplete(
                        index.term_stats, prefix, k=kk).collect()
                    self._json(200, {
                        "prefix": prefix,
                        "completions": [{"term": r["term"], "cf": int(r["cf"])}
                                        for r in rows],
                    })
                elif parts[0] == "rerun_query" and len(parts) == 4:
                    self._results(
                        unquote(parts[1]), 100, "bm25",
                        _parse_date(unquote(parts[2])),
                        _parse_date(unquote(parts[3])),
                        first_execution=False, kernel=None)
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

    return LoopHTTPServer(("127.0.0.1", port), Handler)


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
