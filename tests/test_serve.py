"""HTTP serving surface (jobs/serve.py): endpoint parity with the
reference's Django urls (results / rerun_query / article), JSON form,
spellcheck-on-first-execution vs rerun, MaxScore fast path, error
surfaces."""

import json
import threading
import urllib.error
import urllib.request

import pytest

from search_engine_spark.sources import catalog


@pytest.fixture(scope="module")
def served(tmp_path_factory, spark, corpus_sdf):
    """(base url, server) of one running server for the module."""
    from jobs.serve import create_server
    from search_engine_spark.plans.spellcheck import VocabularySpellchecker

    d = str(tmp_path_factory.mktemp("serveidx") / "index")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=16,
                                block_span=64)
    idx = catalog.load_index(spark, d, documents=corpus_sdf)
    checker = VocabularySpellchecker.from_index(idx)
    srv = create_server(
        idx, port=0, spellchecker=checker,
        # caller-supplied ticker guard + fin-abbrev expansions (the
        # reference's NYSE CSV / fin_abbv.json inputs)
        symbols=frozenset({"marke", "markex", "gdp"}),
        abbreviations={"gdp": "germany economy"})
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", srv
    srv.shutdown()
    srv.server_close()


@pytest.fixture()
def server(served):
    return served[0]


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, json.loads(r.read())


def test_root_liveness(server):
    status, body = _get(server + "/")
    assert status == 200 and body["n_docs"] > 0


def test_results_first_execution_spellchecks(server):
    status, body = _get(server + "/results?query=merket&k=5")
    assert status == 200
    assert body["term_been_corrected"] is True
    assert body["corrected_query"] == "market"
    assert body["original_query"] == "merket"
    assert body["number_of_results"] > 0
    assert body["results"][0]["rank"] == 1


def test_ticker_symbol_passes_uncorrected(server):
    """'marke' is one OSA edit from 'market' — without the ticker guard
    the spellchecker rewrites it; as a caller-supplied symbol it must
    pass through /results untouched (helpers.py:243-252 semantics)."""
    status, body = _get(server + "/results?query=marke&k=5")
    assert status == 200
    assert body["term_been_corrected"] is False
    assert body["corrected_query"] == "marke"


def test_abbreviation_expansion_through_results(server):
    """fin-abbrev expansion on the first-execution path: the expansion
    rides as a quoted phrase and actually retrieves (the planted
    'germany economy' phrase docs)."""
    status, body = _get(server + "/results?query=gdp&k=5&kernel=relational")
    assert status == 200
    assert body["executed_query"] == 'gdp "germany economy"'
    assert body["corrected_query"] == "gdp"  # guard kept the key intact
    assert body["number_of_results"] > 0


def test_abbreviation_expansion_wand_path_unquoted(server):
    """On the kernel path the expansion must ride as bare terms — the
    kernel rejects quoted queries rather than degrading the phrase to
    independent terms, so a quoted expansion would 400 every
    abbreviated query under kernel=maxscore."""
    status, body = _get(server + "/results?query=gdp&k=5&kernel=maxscore")
    assert status == 200
    assert body["executed_query"] == "gdp germany economy"
    assert body["number_of_results"] > 0


def test_boolean_query_not_spellchecked_or_expanded(server):
    """Spellcheck + abbreviation expansion apply to FREE-TEXT queries
    only (the reference corrects after classification,
    retrieval_execution.py:77-79): a boolean query must pass through
    verbatim — correcting 'AND' into a vocabulary term or appending a
    quoted phrase operand would silently change the parse."""
    status, body = _get(server + "/results?query=gdp%20AND%20growth&k=5")
    assert status == 200
    assert body["term_been_corrected"] is False
    assert body["corrected_query"] == "gdp AND growth"
    assert body["executed_query"] == "gdp AND growth"


def test_wand_rejects_non_freetext_as_400(server):
    """kernel=maxscore has no phrase/boolean semantics; the kernel
    refuses instead of silently degrading to bag-of-words."""
    for q in ("%22germany%20economy%22", "gdp%20AND%20growth"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server + f"/results?query={q}&k=5&kernel=maxscore")
        assert e.value.code == 400, q


def test_k_validation_rejects_as_400(server):
    for bad in (-1, 0, 10_001):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server + f"/results?query=market&k={bad}")
        assert e.value.code == 400, bad


def test_rerun_skips_spellcheck(server):
    # reference rerun path: first_execution=False → no correction
    status, body = _get(server + "/rerun_query/merket/None/None")
    assert status == 200
    assert body["term_been_corrected"] is False
    assert body["number_of_results"] == 0  # OOV stays OOV


def test_wand_path_matches_relational(server):
    url = server + "/results?query=germany%20economy%20china&k=20"
    _, rel = _get(url + "&kernel=relational")
    _, wnd = _get(url + "&kernel=maxscore")
    assert (rel["path"], wnd["path"]) == ("relational", "maxscore")
    assert [r["doc_id"] for r in wnd["results"]] == \
        [r["doc_id"] for r in rel["results"]]
    for a, b in zip(wnd["results"], rel["results"]):
        assert a["score"] == pytest.approx(b["score"], abs=1e-9)


def test_wand_rejects_dates(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/results?query=market&kernel=maxscore"
                      "&date_start=2022-01-01&date_end=2022-01-31")
    assert e.value.code == 400


def test_article_hydration_and_404(server):
    status, body = _get(server + "/article/1")
    assert status == 200 and body["article"]["doc_id"] == 1
    assert "text" in body["article"]
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/article/99999999")
    assert e.value.code == 404


def test_half_open_date_range_is_400(server):
    # a one-sided range would be silently dropped by the executor; the
    # server must reject it rather than return out-of-range results
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/results?query=market&date_start=2022-01-01")
    assert e.value.code == 400


def test_vsm_model_served(server):
    status, body = _get(server + "/results?query=market%20price&model=vsm&k=5")
    assert status == 200 and body["number_of_results"] > 0


def test_missing_query_param_is_400(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/results")
    assert e.value.code == 400


def test_prior_blend_through_results(spark, corpus_sdf, tmp_path):
    """A server created with a static prior must return prior-mixed
    scores on the relational path: with a dominant lam the top hit is
    the prior's favorite among the matched docs."""
    import threading

    from jobs.serve import create_server
    from search_engine_spark.operators import executor as EX

    d = str(tmp_path / "prior_idx")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=16,
                                block_span=64)
    idx = catalog.load_index(spark, d, documents=corpus_sdf)
    base = [r["doc_id"] for r in EX.execute(idx, "market", k=3).collect()]
    assert len(base) == 3
    # favor the doc that base ranking puts LAST
    prior = spark.createDataFrame(
        [(int(base[-1]), 0.9)] + [(int(b), 1e-6) for b in base[:-1]],
        "node long, rank double")
    srv = create_server(idx, port=0, prior=prior, prior_lam=1000.0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        status, body = _get(
            f"http://127.0.0.1:{srv.server_address[1]}"
            "/results?query=market&k=3&kernel=relational")
        assert status == 200
        got = [h["doc_id"] for h in body["results"]]
        assert got[0] == base[-1]
        assert set(got) == set(base)
        # the kernel blends the SAME prior — identical page to the
        # relational path
        status, wbody = _get(
            f"http://127.0.0.1:{srv.server_address[1]}"
            "/results?query=market&k=3&kernel=maxscore")
        assert status == 200
        assert [(h["doc_id"], round(h["score"], 9))
                for h in wbody["results"]] == \
            [(h["doc_id"], round(h["score"], 9)) for h in body["results"]]
    finally:
        srv.shutdown()
        srv.server_close()


def test_snippets_through_results(server):
    status, body = _get(server + "/results?query=market&k=3&snippets=1")
    assert status == 200
    assert body["results"]
    for hit in body["results"]:
        assert "snippet" in hit
        assert "market" in hit["snippet"].lower().replace("…", "")
    # without the flag, no snippet key
    status, body = _get(server + "/results?query=market&k=3")
    assert "snippet" not in body["results"][0]


def test_complete_endpoint(server):
    status, body = _get(server + "/complete?prefix=ma&k=5")
    assert status == 200
    comps = body["completions"]
    assert comps, "no completions for a common prefix"
    assert all(c["term"].startswith("ma") for c in comps)
    cfs = [c["cf"] for c in comps]
    assert cfs == sorted(cfs, reverse=True)


def test_complete_validation(server):
    status, _ = _err(server + "/complete")
    assert status == 400
    status, _ = _err(server + "/complete?prefix=Ma")  # uppercase
    assert status == 400
    status, _ = _err(server + "/complete?prefix=ma&k=0")
    assert status == 400


def _err(url: str):
    try:
        with urllib.request.urlopen(url, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_collapse_host_through_results(server, corpus_pdf):
    status, flat = _get(server + "/results?query=market&k=10")
    assert status == 200
    status, coll = _get(server + "/results?query=market&k=10&collapse_host=1")
    assert status == 200
    # host of each returned doc via the same extraction rule, python-side
    import re

    url_of = dict(zip(corpus_pdf["doc_id"], corpus_pdf["url"]))

    def host(u):
        m = re.match(r"^[a-z][a-z0-9+.-]*://([^/:?]+)", u.lower())
        h = m.group(1) if m else ""
        return h[4:] if h.startswith("www.") else h

    hosts_flat = [host(url_of[r["doc_id"]]) for r in flat["results"]]
    hosts_coll = [host(url_of[r["doc_id"]]) for r in coll["results"]]
    assert len(set(hosts_coll)) == len(hosts_coll), "collapse=1 repeated a host"
    # the uncollapsed page must actually repeat hosts for this to test bite
    if len(set(hosts_flat)) == len(hosts_flat):
        import pytest as _pytest

        _pytest.skip("corpus page had no host repeats — nothing to collapse")
    # collapsed list is drawn from the full ranking: scores descending
    scores = [r["score"] for r in coll["results"]]
    assert scores == sorted(scores, reverse=True)


def test_collapse_host_wand_rejected(server):
    status, body = _err(server + "/results?query=market&collapse_host=1"
                        "&kernel=maxscore")
    assert status == 400
    assert "relational" in body["error"]


def test_rm3_through_results(server):
    """rm3=<alpha> routes through executor.execute(rm3_alpha=...): at
    alpha=1 the response must equal the plain request exactly (the
    identity the driver gate pins), and alpha<1 still returns a full
    well-formed page."""
    _, plain = _get(server + "/results?query=market%20price&k=10"
                             "&kernel=relational")
    _, same = _get(server + "/results?query=market%20price&k=10&rm3=1.0")
    assert same["results"] == plain["results"]
    _, exp = _get(server + "/results?query=market%20price&k=10&rm3=0.5")
    assert exp["number_of_results"] >= plain["number_of_results"]
    assert all("doc_id" in r and "score" in r for r in exp["results"])


def test_rm3_validation_as_400(server):
    for bad in ("rm3=1.5&", "rm3=-0.1&", "rm3=0.5&kernel=maxscore&",
                "rm3=0.5&model=vsm&"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server + f"/results?query=market&k=5&{bad}")
        assert e.value.code == 400, bad
    # boolean + rm3 refused by the executor guard
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/results?query=market%20AND%20price&k=5&rm3=0.5")
    assert e.value.code == 400


def test_rm3_with_dates_through_results(server):
    """rm3 composes with a date range (round-4: the refusal was replaced
    by candidate-restricted feedback): at alpha=1 the response must equal
    the plain date-filtered request exactly."""
    dates = "date_start=2021-01-01&date_end=2023-12-31"
    _, plain = _get(server + f"/results?query=market%20price&k=10&{dates}")
    _, same = _get(server + f"/results?query=market%20price&k=10&rm3=1.0&{dates}")
    assert same["results"] == plain["results"]
    status, exp = _get(server + f"/results?query=market%20price&k=10&rm3=0.5&{dates}")
    assert status == 200
    assert all("doc_id" in r and "score" in r for r in exp["results"])


def test_fuzzy_through_results(server):
    """fuzzy=<max_dist> routes through executor.execute(fuzzy_max_dist):
    at fuzzy=0 the response must equal the plain request exactly (every
    in-vocabulary token expands to itself at boost 1), and fuzzy=1 on a
    guarded-symbol typo ('markex' — the spellchecker passes it through
    untouched, it stems to itself, and it is Levenshtein 1 from the
    vocabulary stem 'market') retrieves the 'market' docs via
    expansion. NOTE 'marke' would NOT work here: it stems to 'mark',
    which is distance 2 from 'market' — fuzzy operates on ANALYZED
    tokens against the STEMMED vocabulary."""
    _, plain = _get(server + "/results?query=market%20price&k=10"
                             "&kernel=relational")
    _, same = _get(server + "/results?query=market%20price&k=10&fuzzy=0")
    assert same["results"] == plain["results"]
    status, fz = _get(server + "/results?query=markex&k=10&fuzzy=1")
    assert status == 200
    assert fz["term_been_corrected"] is False  # ticker guard held
    assert fz["number_of_results"] > 0


def test_fuzzy_validation_as_400(server):
    for bad in ("fuzzy=3&", "fuzzy=-1&", "fuzzy=1&kernel=maxscore&",
                "fuzzy=1&rm3=0.5&", "fuzzy=1&model=vsm&"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server + f"/results?query=market&k=5&{bad}")
        assert e.value.code == 400, bad
    # boolean + fuzzy refused by the executor guard
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/results?query=market%20AND%20price&k=5&fuzzy=1")
    assert e.value.code == 400


def test_mlt_endpoint(server):
    """GET /mlt/<doc_id>: related docs by the source's top tf-idf terms,
    source excluded; unknown doc → empty page, not an error; bad k/terms
    → 400."""
    status, body = _get(server + "/mlt/1?k=5&terms=10")
    assert status == 200
    assert body["doc_id"] == 1
    assert body["number_of_results"] > 0
    assert all(r["doc_id"] != 1 for r in body["results"])
    assert [r["rank"] for r in body["results"]] == list(
        range(1, len(body["results"]) + 1))
    status, empty = _get(server + "/mlt/999999?k=5")
    assert status == 200 and empty["number_of_results"] == 0
    for bad in ("k=0", "k=999999", "terms=0", "terms=999"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server + f"/mlt/1?{bad}")
        assert e.value.code == 400, bad


def test_cursor_pagination_partitions_ranking(server):
    """Three cursor pages of 5 == the top-15 row-for-row: disjoint,
    ordered, each page anchored on the previous page's last row."""
    status, top15 = _get(server + "/results?query=market+price+growth&k=15"
                                  "&kernel=relational")
    assert status == 200
    flat = [(r["doc_id"], r["score"]) for r in top15["results"]]
    paged = []
    url = server + "/results?query=market+price+growth&k=5&kernel=relational"
    nxt = url
    for _ in range(3):
        status, page = _get(nxt)
        assert status == 200 and page["number_of_results"] == 5
        rows = [(r["doc_id"], r["score"]) for r in page["results"]]
        paged.extend(rows)
        last = rows[-1]
        nxt = f"{url}&after_score={last[1]}&after_doc={last[0]}"
    assert paged == flat


def test_cursor_pagination_error_surfaces(server):
    import urllib.error

    for bad in (
        "/results?query=market&k=5&after_score=1.0",           # half cursor
        "/results?query=market&k=5&after_doc=3",               # half cursor
        "/results?query=market&k=5&kernel=maxscore"
        "&after_score=1.0&after_doc=3",                        # kernel path
        "/results?query=market&k=5&collapse_host=1"
        "&after_score=1.0&after_doc=3",                        # re-ranked page
        "/results?query=%235(market,price)&k=5"
        "&after_score=1.0&after_doc=3",                        # unranked kind
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server + bad)
        assert e.value.code == 400


def test_executor_after_refusals_and_identity(built_index):
    from search_engine_spark.operators import executor, search as S2

    full = [(r.doc_id, round(r.score, 9)) for r in
            executor.execute(built_index, "market price", k=10).collect()]
    cursor = full[4]
    page2 = [(r.doc_id, round(r.score, 9)) for r in
             executor.execute(built_index, "market price", k=5,
                              after=(cursor[1], cursor[0])).collect()]
    assert page2 == full[5:]
    with pytest.raises(ValueError, match="pagination"):
        executor.execute(built_index, "market AND price", k=5,
                         after=(1.0, 3))
    with pytest.raises(ValueError, match="pagination"):
        executor.execute(built_index, "#5(market,price)", k=5,
                         after=(1.0, 3))


def test_min_should_match_through_results(server):
    import json as _json
    import urllib.error

    _, plain = _get(server + "/results?query=search%20index%20connect&k=10"
                  "&kernel=relational")
    _, mm1 = _get(server + "/results?query=search%20index%20connect&k=10"
                  "&mm=1")
    assert [h["doc_id"] for h in plain["results"]] == \
        [h["doc_id"] for h in mm1["results"]]
    _, mm3 = _get(server + "/results?query=search%20index%20connect&k=100"
                  "&mm=3")
    assert 0 < len(mm3["results"]) <= len(_get(
        server + "/results?query=search%20index%20connect&k=100"
                 "&kernel=relational")[1]
        ["results"])
    for bad in (
        "/results?query=search&k=5&mm=0",          # below range
        "/results?query=search&k=5&mm=2&kernel=maxscore",  # kernel path
        "/results?query=search%20AND%20index&k=5&mm=2",  # boolean kind
        "/results?query=search&k=5&mm=2&rm3=0.6",  # expansion combo
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server + bad)
        assert e.value.code == 400


def test_synonyms_through_results(spark, corpus_sdf, tmp_path):
    """syn=1 on a server started with a synonym table expands the
    free-text query; without the flag the query runs literal; a server
    without a table 400s the flag."""
    import threading

    from jobs.serve import create_server
    from search_engine_spark.operators import search as S3

    d = str(tmp_path / "syn_idx")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=16,
                                block_span=64)
    idx = catalog.load_index(spark, d, documents=corpus_sdf)
    table = {"market": ["stock"]}
    srv = create_server(idx, port=0, synonyms=table, synonym_weight=0.5)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        _, body = _get(base + "/results?query=market&k=100&syn=1")
        want = [(r.doc_id, round(r.score, 4)) for r in S3.search_synonyms(
            idx, ["market"], table, k=100, weight=0.5).collect()]
        got = [(h["doc_id"], round(h["score"], 4)) for h in body["results"]]
        assert got == want and got
        _, plain = _get(base + "/results?query=market&k=100&kernel=relational")
        plain_rows = [(h["doc_id"], round(h["score"], 4))
                      for h in plain["results"]]
        # without syn=1 the query runs literal (matches the plain path
        # exactly) and differs from the expanded page
        plain_want = [(r.doc_id, round(r.score, 4))
                      for r in S3.search_freetext_tokens(
                          idx, ["market"], k=100).collect()]
        assert plain_rows == plain_want
        assert plain_rows != got
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base + "/results?query=market&k=5&syn=1&kernel=maxscore")
        assert e.value.code == 400
    finally:
        srv.shutdown()
        srv.server_close()
    bare = create_server(idx, port=0)  # no table loaded
    t2 = threading.Thread(target=bare.serve_forever, daemon=True)
    t2.start()
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"http://127.0.0.1:{bare.server_address[1]}"
                 "/results?query=market&k=5&syn=1")
        assert e.value.code == 400
    finally:
        bare.shutdown()
        bare.server_close()


def test_explain_plan_endpoint(server):
    """/explain_plan reports the serving decision without running the
    query: kernel eligibility, store kind, artifact engagement."""
    status, body = _get(server + "/explain_plan?query=market+price")
    assert status == 200
    assert body["kind"] == "freetext"
    assert body["kernels"] == ["maxscore"]
    assert body["store"] == "tf"
    status, body = _get(
        server + "/explain_plan?query=%22market%20price%22")
    assert status == 200
    assert body["kernels"] == []
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/explain_plan")
    assert e.value.code == 400


def test_explain_endpoint(server):
    """/explain returns the per-term breakdown whose weights sum to the
    reported score, for a doc known to match (top-1 of /results)."""
    _, res = _get(server + "/results?query=market&k=1")
    doc = res["results"][0]["doc_id"]
    status, body = _get(server + f"/explain?query=market&doc={doc}")
    assert status == 200
    assert body["doc_id"] == doc and body["model"] == "bm25"
    assert len(body["terms"]) == 1
    t = body["terms"][0]
    assert t["term"] == "market" and t["tf"] >= 1 and t["df"] >= 1
    assert body["score"] == pytest.approx(t["weight"])
    assert body["score"] > 0
    # doc that does NOT contain the term: empty breakdown, zero score
    # (find one by probing a few ids outside the match set)
    _, allres = _get(server + "/results?query=market&k=500")
    matched = {r["doc_id"] for r in allres["results"]}
    missing = next(d for d in range(1, 151) if d not in matched)
    _, none = _get(server + f"/explain?query=market&doc={missing}")
    assert none["terms"] == [] and none["score"] == 0


def test_explain_error_surfaces(server):
    for path in (
        "/explain?query=market",                      # missing doc
        "/explain?doc=1",                             # missing query
        "/explain?query=market&doc=1&model=vsm",      # vsm refused
        "/explain?query=market&doc=1&model=nope",     # unknown model
        '/explain?query=%22germany%20economy%22&doc=1',  # phrase refused
        "/explain?query=market%20AND%20stock&doc=1",  # boolean refused
        "/explain?query=mark*&doc=1",                 # prefix refused
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server + path)
        assert e.value.code == 400, path


def test_stats_endpoint(server):
    status, body = _get(server + "/stats")
    assert status == 200
    assert body["n_docs"] > 0 and body["total_tokens"] > 0
    assert body["avgdl"] == pytest.approx(body["total_tokens"]
                                          / body["n_docs"])
    assert body["n_terms"] > 0
    assert body["documents_loaded"] is True
    # memoized: second call returns the identical scalars
    _, again = _get(server + "/stats")
    assert again == body


def test_recency_through_results(server):
    """recency=HL&as_of= reorders by freshness decay; half-lives and the
    explicit as_of change scores monotonically (fresher ≥ same doc at a
    longer age); parameter misuse is a 400, never silently ignored."""
    _, plain = _get(server + "/results?query=market&k=5&kernel=relational")
    status, fresh = _get(
        server + "/results?query=market&k=5&recency=30&as_of=2022-06-01")
    assert status == 200 and fresh["number_of_results"] > 0
    plain_scores = {r["doc_id"]: r["score"] for r in plain["results"]}
    for r in fresh["results"]:
        if r["doc_id"] in plain_scores:
            # multiplicative decay with floor 0.1 never raises a score
            assert r["score"] <= plain_scores[r["doc_id"]] + 1e-9
    for path in (
        "/results?query=market&recency=30",              # missing as_of
        "/results?query=market&recency=30&as_of=2022-06-01&kernel=maxscore",
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server + path)
        assert e.value.code == 400, path


def test_hybrid_through_results(spark, corpus_sdf, tmp_path):
    """GET /hybrid fuses the BM25 run with the dense cosine run over a
    loaded embedding table and matches fusion.search_hybrid exactly;
    vec_id lookup and inline vec= agree; misuse surfaces as 400/404."""
    import threading

    from jobs.serve import create_server
    from search_engine_spark.operators import fusion

    d = str(tmp_path / "hyb_idx")
    catalog.build_durable_index(spark, corpus_sdf, d, buckets=16,
                                block_span=64)
    idx = catalog.load_index(spark, d, documents=corpus_sdf)
    # deterministic 4-dim vectors keyed by doc_id (test_fusion's shape)
    from pyspark.sql import functions as F
    emb = corpus_sdf.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[(F.col("doc_id") * (i + 1) % 17).cast("float") + 1.0
                  for i in range(4)]).alias("embedding"))
    srv = create_server(idx, port=0, embeddings=emb)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        status, body = _get(base + "/hybrid?query=market&vec_id=1&k=10"
                                   "&depth=50")
        assert status == 200 and body["number_of_results"] > 0
        qvec = [float((1 * (i + 1)) % 17 + 1.0) for i in range(4)]
        want = [(r.doc_id, round(r.rrf_score, 10))
                for r in fusion.search_hybrid(idx, emb, ["market"], qvec,
                                              k=10, depth=50).collect()]
        got = [(h["doc_id"], round(h["rrf_score"], 10))
               for h in body["results"]]
        assert got == want
        # inline vec= carries the same vector → identical page
        _, inline = _get(base + "/hybrid?query=market&k=10&depth=50&vec="
                         + ",".join(str(x) for x in qvec))
        assert [(h["doc_id"], round(h["rrf_score"], 10))
                for h in inline["results"]] == want
        # vec_id not present in the table → 404
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base + "/hybrid?query=market&vec_id=999999")
        assert e.value.code == 404
        for path in (
            "/hybrid?vec_id=1",                          # missing query
            "/hybrid?query=market",                      # missing vector
            "/hybrid?query=market&vec_id=1&k=0",         # bad k
            "/hybrid?query=market&vec_id=1&k=10&depth=5",  # depth < k
            '/hybrid?query=%22germany%20economy%22&vec_id=1',  # phrase
            "/hybrid?query=market%20AND%20stock&vec_id=1",  # boolean
            "/hybrid?query=the&vec_id=1",            # stopword-only
        ):
            with pytest.raises(urllib.error.HTTPError) as e:
                _get(base + path)
            assert e.value.code == 400, path
    finally:
        srv.shutdown()
        srv.server_close()
    # no embedding table loaded → 400
    bare = create_server(idx, port=0)
    t2 = threading.Thread(target=bare.serve_forever, daemon=True)
    t2.start()
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"http://127.0.0.1:{bare.server_address[1]}"
                 "/hybrid?query=market&vec_id=1")
        assert e.value.code == 400
    finally:
        bare.shutdown()
        bare.server_close()


def test_maxscore_kernel_matches_relational(server):
    _, rel = _get(server + "/results?query=market%20price&k=10"
                  "&kernel=relational")
    _, ms = _get(server + "/results?query=market%20price&k=10"
                 "&kernel=maxscore")
    assert [r["doc_id"] for r in ms["results"]] == \
        [r["doc_id"] for r in rel["results"]]
    for a, b in zip(ms["results"], rel["results"]):
        assert a["score"] == pytest.approx(b["score"], abs=1e-9)


def test_kernel_param_validation(server):
    """Bad, retired and unhonorable kernel requests are 400s, never
    silently served: the retired selectors (kernel=wand, wand=0|1) name
    their replacement — a dropped wand=0 would move impact-store clients
    from exact to quantized scores — and an explicit kernel with a
    non-BM25 model names the relational path instead of returning BM25
    scores under the other model's name."""
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/results?query=market&k=5&kernel=bogus")
    assert e.value.code == 400
    # kernel=maxscore refuses what the kernel cannot honor
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/results?query=gdp%20AND%20growth&k=5"
             "&kernel=maxscore")
    assert e.value.code == 400
    cases = [("kernel=wand", "kernel=maxscore")] + [
        (f"wand={v}", replacement) for v, replacement in
        (("0", "kernel=relational"), ("1", "kernel=maxscore"))] + [
        (f"model={m}&kernel=maxscore", "kernel=relational")
        for m in ("vsm", "lm-dirichlet", "lm-pyp", "bm25-reference")]
    for qs, replacement in cases:
        status, body = _err(server + f"/results?query=market&k=5&{qs}")
        assert status == 400, qs
        assert replacement in body["error"], qs


# ---------------------------------------------------------------------------
# round-5: default kernel routing (auto path selection)
# ---------------------------------------------------------------------------

def test_auto_routes_eligible_queries_to_kernel(server):
    """With no kernel parameter an eligible plain BM25 free-text
    request serves from the MaxScore kernel — the default path is the
    fast path — and stays rank-identical to the relational page."""
    _, body = _get(server + "/results?query=market%20price&k=10")
    assert body["path"] == "maxscore"
    _, rel = _get(server + "/results?query=market%20price&k=10"
                           "&kernel=relational")
    assert rel["path"] == "relational"
    assert [r["doc_id"] for r in body["results"]] == \
        [r["doc_id"] for r in rel["results"]]
    for a, b in zip(body["results"], rel["results"]):
        assert a["score"] == pytest.approx(b["score"], abs=1e-9)


def test_auto_falls_back_to_relational(server):
    """Every relational-only feature (and every kernel-ineligible query
    kind) silently falls back — 200 with path=relational, never the 400
    an EXPLICIT kernel request gets."""
    cases = [
        "query=%22market%20price%22",                        # phrase
        "query=market%20AND%20price",                        # boolean
        "query=market&model=vsm",                            # non-bm25
        "query=market&model=lm-dirichlet",
        "query=market&date_start=2021-01-01&date_end=2023-12-31",
        "query=market&rm3=0.5",
        "query=market&mm=1",
        "query=market&fuzzy=1",
        "query=market&recency=30&as_of=2022-06-01",
        "query=market&collapse_host=1",
    ]
    for qs in cases:
        status, body = _get(server + f"/results?{qs}&k=5")
        assert status == 200, qs
        assert body["path"] == "relational", qs


def test_auto_fallback_vs_explicit_refusal(server):
    """The same phrase query: auto → relational 200; explicit kernel →
    400 (refusal semantics unchanged for explicit requests)."""
    status, body = _get(server + "/results?query=%22germany%20economy%22&k=5")
    assert status == 200 and body["path"] == "relational"
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server + "/results?query=%22germany%20economy%22&k=5"
             "&kernel=maxscore")
    assert e.value.code == 400


def test_auto_kernel_expands_abbreviations_unquoted(server):
    """The default path IS the kernel for an abbreviated free-text
    query; the expansion rides as bare terms there (the kernel has no
    phrase semantics) and the page is non-empty."""
    _, body = _get(server + "/results?query=gdp&k=5")
    assert body["path"] == "maxscore"
    assert body["executed_query"] == "gdp germany economy"
    assert body["number_of_results"] > 0


def test_auto_kernel_requires_durable_index(spark, corpus_sdf):
    """An in-memory index has no segment store / mini-index — auto
    routing must stay relational, not crash on a missing kernel."""
    import threading

    from jobs.serve import create_server
    from search_engine_spark import engine
    from search_engine_spark.functions.analyzer import AnalyzerConfig

    idx = engine.build_index(corpus_sdf, AnalyzerConfig.full())
    srv = create_server(idx, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        status, body = _get(
            f"http://127.0.0.1:{srv.server_address[1]}"
            "/results?query=market&k=5")
        assert status == 200
        assert body["path"] == "relational"
        assert body["number_of_results"] > 0
    finally:
        srv.shutdown()
        srv.server_close()


def test_auto_kernel_serves_impact_store(spark, corpus_sdf, tmp_path):
    """The default path engages on a quantized-impact store too: the
    kernel scores the stored impacts (the artifact's serving contract)
    and stays rank-identical to an explicit kernel=maxscore over the
    same store."""
    import threading

    from jobs.serve import create_server

    src = str(tmp_path / "src")
    catalog.build_durable_index(spark, corpus_sdf, src, buckets=16,
                                block_span=64)
    quant = catalog.quantize_index(spark, src, str(tmp_path / "imp"))
    srv = create_server(catalog.load_index(spark, quant), port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        _, body = _get(base + "/results?query=market%20price&k=10")
        assert body["path"] == "maxscore"
        assert body["number_of_results"] > 0
        _, wnd = _get(base + "/results?query=market%20price&k=10"
                             "&kernel=maxscore")
        assert [r["doc_id"] for r in body["results"]] == \
            [r["doc_id"] for r in wnd["results"]]
    finally:
        srv.shutdown()
        srv.server_close()


def _get_html(url: str):
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, r.headers.get("Content-Type", ""), \
            r.read().decode()


def test_web_form_page(server):
    status, ctype, page = _get_html(server + "/web")
    assert status == 200 and ctype.startswith("text/html")
    assert "<form" in page and "name='query'" in page


def test_web_results_page(server):
    """The results.html analog: retrieved-count line, one card per hit
    with the publisher host parsed from the url, article links, and the
    zero-results message on an OOV query."""
    status, ctype, page = _get_html(server + "/web?query=market&k=5")
    assert status == 200 and ctype.startswith("text/html")
    assert "Retrieved" in page and "documents" in page
    assert page.count("class='card'") > 0
    assert "/article/" in page
    assert "Publisher:" in page
    _, _, empty = _get_html(server + "/web?query=zzzqqy&k=5")
    assert "did not return any results" in empty


def test_web_spellcheck_notice_and_rerun_link(server):
    """First execution corrects and shows the reference's "Search
    instead for" link; following the rerun link skips spellcheck."""
    _, _, page = _get_html(server + "/web?query=merket&k=5")
    assert "Showing results for: <b>market</b>" in page
    assert "/web?query=merket&rerun=1" in page
    _, _, rerun = _get_html(server + "/web?query=merket&rerun=1&k=5")
    assert "Showing results for" not in rerun
    assert "did not return any results" in rerun  # OOV stays OOV


def test_web_errors_render_html(server):
    """The /web surface renders errors as HTML (a browser form user
    must not get a raw JSON blob for a malformed date)."""
    import urllib.error

    for bad in ("/web?query=market&date_start=2021-01-01",  # half-open
                "/web?query=market&k=0"):                   # bad k
        with pytest.raises(urllib.error.HTTPError) as e:
            _get_html(server + bad)
        assert e.value.code == 400, bad
        assert e.value.headers.get("Content-Type", "") \
            .startswith("text/html"), bad
        assert "Search error" in e.value.read().decode()


def test_web_escapes_user_input(server):
    """Query text renders escaped everywhere it appears (form value,
    correction notice) — no markup injection through the search box."""
    import urllib.error
    from urllib.parse import quote

    evil = '<script>alert(1)</script> market'
    _, _, page = _get_html(server + "/web?query=" + quote(evil) + "&k=3")
    assert "<script>alert" not in page
    assert "&lt;script&gt;" in page
    # a non-default k rides on the form (hidden input) and on the
    # spellcheck rerun link; the default k adds neither
    assert "<input type='hidden' name='k' value='3'>" in page
    _, _, typo = _get_html(server + "/web?query=merket&k=5")
    assert "/web?query=merket&rerun=1&k=5'" in typo
    assert "<input type='hidden' name='k' value='5'>" in typo
    _, _, plain = _get_html(server + "/web?query=merket")
    assert "/web?query=merket&rerun=1'" in plain
    assert "name='k'" not in plain
    # k reaches the page only as a validated int: markup in it is a 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get_html(server + "/web?query=market&k=" + quote("<b>3"))
    body = e.value.read().decode()
    assert e.value.code == 400 and "<b>3" not in body


def test_stats_reports_mini_index_counters(server, spark):
    """/stats carries the mini-index LRU's cumulative counters, and
    neither it nor a cold or warm kernel request starts a Spark job."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    _, s0 = _get(server + "/stats")
    q = "/results?query=bank+report+connect&k=5"
    _, cold = _get(server + q)
    _, warm = _get(server + q)
    assert cold["path"] == warm["path"] == "maxscore"
    _, s1 = _get(server + "/stats")
    assert set(tracker.getJobIdsForGroup(None)) == before
    c0, c1 = s0["mini_index"], s1["mini_index"]
    assert set(c1) == {"hits", "misses", "blocks_fetched", "fetch_s"}
    assert c1["hits"] >= c0["hits"] + 3
    assert c1["misses"] + c1["hits"] == c0["misses"] + c0["hits"] + 6
    assert c1["blocks_fetched"] >= c0["blocks_fetched"]


def _old_results_form(hits, snippets, meta) -> bytes:
    """The /results body as it was built before results_json: one dict
    per hit, the whole payload through json.dumps."""
    return json.dumps({
        "results": [
            {"rank": i, "doc_id": int(d), "score": float(s),
             **({"snippet": snippets.get(int(d), "")}
                if snippets is not None else {})}
            for i, (d, s) in enumerate(hits, 1)],
        **meta}).encode()


def test_results_json_matches_json_dumps():
    """results_json writes the same bytes as json.dumps of the dict
    form, non-finite and numpy-typed scores and escaped snippets
    included."""
    import numpy as np

    from jobs.serve import results_json

    hits = [(1, 2.5), (np.int64(2), np.float64(0.1)), (3, float("nan")),
            (4, float("inf")), (5, float("-inf")), (6, 1e-300),
            (7, 1e22), (8, -0.0)]
    meta = {"number_of_results": len(hits), "retrieval_time": 0.0012,
            "term_been_corrected": True, "corrected_query": 'mérket "x"',
            "path": "maxscore", "exact": False,
            "truncated_terms": ["market"]}
    snips = {1: 'a "quoted"\n, snippet…', 3: ""}
    for h in (hits, []):
        for sn in (None, snips):
            assert results_json(h, sn, meta) == _old_results_form(
                h, sn, meta)
    assert results_json([], None, {}) == b'{"results": []}'


@pytest.mark.parametrize("path", [
    "/results?query=market+price&k=10",                    # kernel
    "/results?query=market+price&k=10&kernel=relational",  # relational
    "/results?query=market&k=3&snippets=1",                # snippets
    "/results?query=zzzqq&k=5",                            # zero hits
    "/rerun_query/market/None/None",
])
def test_results_body_is_json_dumps(server, path):
    """Every /results-shaped body is byte for byte what json.dumps
    writes for the same payload in the dict-per-hit form."""
    with urllib.request.urlopen(server + path, timeout=120) as r:
        raw = r.read()
    body = json.loads(raw)
    hits = [(h["doc_id"], h["score"]) for h in body["results"]]
    snippets = ({h["doc_id"]: h["snippet"] for h in body["results"]}
                if "snippets=1" in path else None)
    meta = {k: v for k, v in body.items() if k != "results"}
    assert raw == _old_results_form(hits, snippets, meta)
    assert ("zzzqq" in path) == (hits == [])


def test_requests_start_no_thread(served):
    """200 requests over 4 concurrent clients, with a short switch
    interval, all run on the server's loop thread: every one answers
    with the same page, and no thread appears besides the clients."""
    import sys
    import time

    base, srv = served
    url = base + "/results?query=market&k=5"
    want = [h["doc_id"] for h in _get(url)[1]["results"]]
    known = set(threading.enumerate())
    extra: set = set()
    pages: list = []
    done = threading.Event()

    def sample():
        while not done.is_set():
            extra.update(set(threading.enumerate()) - known)
            time.sleep(0.001)

    def client():
        for _ in range(50):
            status, body = _get(url)
            pages.append((status, [h["doc_id"] for h in body["results"]]))

    sampler = threading.Thread(target=sample, name="sampler")
    clients = [threading.Thread(target=client, name=f"client-{i}")
               for i in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        sampler.start()
        for c in clients:
            c.start()
        for c in clients:
            c.join(timeout=120)
    finally:
        done.set()
        sys.setswitchinterval(interval)
    sampler.join(timeout=30)
    assert not any(c.is_alive() for c in clients + [sampler])
    assert pages == [(200, want)] * 200
    assert {t.name for t in extra} <= {t.name for t in clients + [sampler]}
    assert threading.active_count() <= len(known)


def test_idle_connections_do_not_stall_the_loop(served, monkeypatch):
    """Eight idle sockets cost the loop nothing: /results answers at
    once, well under the connection deadline, and each idle socket is
    closed (reads EOF) once the deadline passes."""
    import socket
    import time

    import jobs.serve

    base, srv = served
    _get(base + "/results?query=market&k=3")  # warm the terms
    monkeypatch.setattr(jobs.serve, "HANDLER_TIMEOUT_S", 2.0)
    t0 = time.perf_counter()
    idle = [socket.create_connection(srv.server_address, timeout=30)
            for _ in range(8)]
    try:
        status, body = _get(base + "/results?query=market&k=3")
        assert status == 200 and body["number_of_results"] == 3
        assert time.perf_counter() - t0 < 1.0
        for s in idle:
            assert s.recv(1) == b""  # the server closed it
        assert time.perf_counter() - t0 >= 1.9
    finally:
        for s in idle:
            s.close()


def test_half_sent_head_is_dropped(served, monkeypatch):
    """A connection that has not finished its request head by the
    deadline is closed without an answer; the loop keeps serving."""
    import socket
    import time

    import jobs.serve

    base, srv = served
    monkeypatch.setattr(jobs.serve, "HANDLER_TIMEOUT_S", 0.5)
    with socket.create_connection(srv.server_address, timeout=30) as s:
        t0 = time.perf_counter()
        s.sendall(b"GET /results?query=market HTTP/1.0\r\nHost: x\r\n")
        assert s.recv(1) == b""
        assert time.perf_counter() - t0 >= 0.4
    assert _get(base + "/")[0] == 200


def test_oversized_head_gets_431(served):
    """A request head over MAX_HEAD_BYTES is answered 431 and closed,
    without waiting for its blank line."""
    import socket

    from jobs.serve import MAX_HEAD_BYTES

    base, srv = served
    with socket.create_connection(srv.server_address, timeout=30) as s:
        s.sendall(b"GET / HTTP/1.0\r\nX-Pad: "
                  + b"a" * MAX_HEAD_BYTES + b"\r\n")
        reply = b""
        while chunk := s.recv(4096):
            reply += chunk
    assert reply.startswith(b"HTTP/1.0 431 ")
    head, body = reply.split(b"\r\n\r\n", 1)
    assert json.loads(body) == {"error": "request head too large"}
    assert int(head.split(b"Content-Length: ")[1].split(b"\r")[0]) \
        == len(body)
    assert _get(base + "/")[0] == 200


def test_requests_queue_behind_a_slow_inline_request(served, monkeypatch):
    """While a slow relational request runs on the loop, 16 concurrent
    /results requests wait in the listen backlog: all answer 200 after
    it, and none is refused."""
    import time

    from search_engine_spark.operators import executor

    base, srv = served
    real = executor.execute
    started, ended = threading.Event(), []

    def slow(*args, **kwargs):
        started.set()
        time.sleep(1.0)
        ended.append(time.perf_counter())
        return real(*args, **kwargs)

    monkeypatch.setattr(executor, "execute", slow)
    out: dict = {}

    def get(name, path):
        try:
            status = _get(base + path)[0]
        except OSError as e:  # refused or reset: no HTTP answer
            status = repr(e)
        out[name] = (status, time.perf_counter())

    first = threading.Thread(target=get, args=(
        "slow", "/results?query=market&k=3&kernel=relational"))
    first.start()
    assert started.wait(timeout=120)
    fast = [threading.Thread(target=get, args=(
        i, "/results?query=market&k=3")) for i in range(16)]
    for t in fast:
        t.start()
    for t in [first] + fast:
        t.join(timeout=120)
    assert out["slow"][0] == 200
    assert [out[i][0] for i in range(16)] == [200] * 16
    assert min(out[i][1] for i in range(16)) > ended[0]


def test_shutdown_and_close_release_every_socket():
    """shutdown() then server_close() closes the listener and every open
    connection, and a failed bind leaves no thread and no socket behind."""
    import os
    import socket
    from http.server import BaseHTTPRequestHandler

    from jobs.serve import InMemoryIO, LoopHTTPServer

    class Hello(InMemoryIO, BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):
            pass

        def do_GET(self):  # noqa: N802
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"ok")

    def fds() -> int:
        return len(os.listdir("/proc/self/fd"))

    srv = LoopHTTPServer(("127.0.0.1", 0), Hello)
    loop = threading.Thread(target=srv.serve_forever, daemon=True)
    loop.start()
    idle = [socket.create_connection(srv.server_address, timeout=30)
            for _ in range(3)]
    with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.server_address[1]}/", timeout=30) as r:
        assert r.read() == b"ok"  # the idle sockets were accepted first
    threads, open_fds = threading.active_count(), fds()
    with pytest.raises(OSError):
        LoopHTTPServer(srv.server_address, Hello)  # port in use
    assert threading.active_count() == threads
    assert fds() == open_fds
    srv.shutdown()
    loop.join(timeout=30)
    assert not loop.is_alive()
    for s in idle:
        assert s.recv(1) == b""  # closed by the loop as it exited
        s.close()
    srv.server_close()
    assert srv.socket.fileno() == -1
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(srv.server_address, timeout=30)
