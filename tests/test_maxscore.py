"""MaxScore kernel: rank-identical to the relational BM25 path and the
oracle (scores equal to float-accumulation tolerance), with real
term-level decode savings — exactness despite pruning — plus its
golden rankings and the serving surfaces (/results, query_topk) that
report a capped answer. tests/test_wand.py holds the rest of the
kernel contract (exact fetch, LRU, cap semantics, prior blending)."""

import json
import threading
import urllib.request
from pathlib import Path

import pytest

from search_engine_spark import codec
from search_engine_spark.operators import maxscore as MS
from search_engine_spark.operators import search as S
from tests import oracle


def _fuzz_freetext(seed: int = 777, n: int = 12) -> list[str]:
    import numpy as np

    from search_engine_spark.sources.corpus import _VOCAB

    pool = [w for w in _VOCAB if w.isalpha()][:60] + ["zzzqq", "the"]
    rng = np.random.default_rng(seed)
    return [" ".join(pool[int(i)] for i in rng.integers(0, len(pool),
                                                        int(rng.integers(1, 5))))
            for _ in range(n)]


def _toy_prior(spark, n_docs: int):
    """Deterministic pagerank-shaped prior: odd docs get 1/(doc_id+2)
    (a probability), even docs are ABSENT from the graph so both paths
    must apply the shared 1e-12 floor."""
    return spark.createDataFrame(
        [(d, 1.0 / (d + 2)) for d in range(1, n_docs + 1, 2)],
        "node long, rank double")


def _same_ranking(a, b, abs_tol=1e-9):
    """Same doc order, scores equal to float-accumulation tolerance —
    the kernel and the relational path add the SAME term contributions
    in different order (essential-first vs per-term joins), so exact
    float equality is one ulp too strict."""
    assert [d for d, _ in a] == [d for d, _ in b]
    for (_, x), (_, y) in zip(a, b):
        assert x == pytest.approx(y, abs=abs_tol)


QUERIES = ["market", "market price growth", "germany economy china",
           "zzzqq", "connect bank report", "market market price"]

# (doc, score) lists and pruning counters of search_maxscore, recorded
# from the scalar kernel (per-doc dict accumulator + heapq top-k) that
# the vectorized one replaced, on this module's index ("tf") and on
# test_impact's quantized store ("impact"). Regenerate — json.dump of
# golden_entries(index) per store — only for an intended scoring change.
GOLDEN = Path(__file__).parent / "fixtures" / "maxscore_golden.json"
GOLDEN_K = (1, 3, 15, 1 << 30)
GOLDEN_STATS = ("n_blocks_total", "n_blocks_decoded", "n_ranges_skipped")


def golden_entries(index) -> dict:
    out = {}
    for q in QUERIES + _fuzz_freetext():
        for k in GOLDEN_K:
            stats = {}
            hits = MS.search_maxscore(index, q, k=k, stats=stats)
            out[f"{k}|{q}"] = {
                "hits": [[d, s] for d, s in hits],
                "stats": {x: stats[x] for x in GOLDEN_STATS if x in stats}}
    return out


def assert_golden(index, store: str) -> None:
    """Bit-for-bit: ``==`` on every score, not approx."""
    with open(GOLDEN) as f:
        want = json.load(f)[store]
    got = golden_entries(index)
    assert got.keys() == want.keys()
    for key, entry in want.items():
        assert got[key] == entry, (store, key)


@pytest.mark.parametrize("q", QUERIES)
def test_maxscore_vs_oracle(seg_index, oracle_index, q):
    o_index, doc_sizes = oracle_index
    want = oracle.search_freetext(o_index, doc_sizes, q, k=20, model="bm25")
    got = MS.search_maxscore(seg_index, q, k=20)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


@pytest.mark.parametrize("q", _fuzz_freetext())
def test_maxscore_fuzz_three_way(seg_index, oracle_index, q):
    """Pruned MaxScore == unpruned MaxScore == oracle on fuzzed queries
    (incl. stopword-only and OOV shapes) at a k small enough that the
    kernel prunes; exhaustive k decodes every block."""
    o_index, doc_sizes = oracle_index
    want = oracle.search_freetext(o_index, doc_sizes, q, k=15, model="bm25")
    full = MS.search_maxscore(seg_index, q, k=1 << 30)
    ms = MS.search_maxscore(seg_index, q, k=15)
    assert [d for d, _ in ms] == [d for d, _ in want], q
    _same_ranking(ms, full[:15])
    for (_, gs), (_, ws) in zip(ms, want):
        assert gs == pytest.approx(ws, abs=1e-9), q


def test_maxscore_vs_relational(seg_index):
    q = "market price"
    rel = [(r.doc_id, r.score)
           for r in S.search_freetext(seg_index, q, k=50).collect()]
    ms = MS.search_maxscore(seg_index, q, k=50)
    assert [d for d, _ in ms] == [d for d, _ in rel]
    for (_, a), (_, b) in zip(ms, rel):
        assert a == pytest.approx(b, abs=1e-9)


def test_maxscore_actually_prunes(seg_index):
    """Small k on a multi-term query must decode strictly fewer blocks
    than it fetched — the whole point of the kernel — while remaining
    exact (the identity tests above). Exhaustive k decodes everything."""
    stats = {}
    MS.search_maxscore(seg_index, "market price growth", k=3, stats=stats)
    assert stats["n_blocks_total"] > 0
    assert stats["n_blocks_decoded"] < stats["n_blocks_total"]
    full = {}
    MS.search_maxscore(seg_index, "market price growth", k=1 << 30,
                       stats=full)
    assert full["n_blocks_decoded"] == full["n_blocks_total"]
    assert full["n_ranges_skipped"] == 0


def test_maxscore_masks_deletes_like_oracle(seg_index, oracle_index,
                                            monkeypatch):
    """A tombstoned doc leaves the ranking and nothing else moves: the
    masked top-k is the oracle's ranking minus the dead doc (deletes
    keep the stale global stats, so no other score changes)."""
    o_index, doc_sizes = oracle_index
    q = "market price"
    top = MS.search_maxscore(seg_index, q, k=5)
    dead = {top[0][0]}
    monkeypatch.setattr(type(seg_index), "deleted_ids",
                        lambda self: frozenset(dead), raising=False)
    ms = MS.search_maxscore(seg_index, q, k=5)
    want = [(d, s) for d, s in oracle.search_freetext(
        o_index, doc_sizes, q, k=10_000) if d not in dead][:5]
    _same_ranking(ms, want)
    assert top[0][0] not in {d for d, _ in ms}


def test_maxscore_refusals(seg_index, spark, corpus_sdf):
    with pytest.raises(ValueError, match="bag-of-words"):
        MS.search_maxscore(seg_index, '"market price"')
    with pytest.raises(ValueError, match="bag-of-words"):
        MS.search_maxscore(seg_index, "market AND price")
    assert MS.search_maxscore(seg_index, "market", k=0) == []
    assert MS.search_maxscore(seg_index, "the and of") == []
    from search_engine_spark import engine
    from search_engine_spark.functions.analyzer import AnalyzerConfig

    mem = engine.build_index(corpus_sdf, AnalyzerConfig.full())
    with pytest.raises(TypeError, match="SegmentIndex"):
        MS.search_maxscore(mem, "market")


def test_maxscore_capped_fetch_safe_approximation(seg_index):
    """A tight impact-ordered cap keeps MaxScore a safe approximation:
    the capped top-k is the exact ranking over the capped blocks — the
    uncapped kernel's scores restricted to the fetched postings — so
    every score is at most its exact score and pruning loses nothing
    over what was fetched."""
    q = "market price"
    exact = dict(MS.search_maxscore(seg_index, q, k=1 << 30,
                                    max_blocks_per_term=None))
    seg_index._mini.clear()  # an uncapped entry would serve any cap
    stats: dict = {}
    ms = MS.search_maxscore(seg_index, q, k=10, max_blocks_per_term=2,
                            stats=stats)
    assert stats["truncated_terms"] and ms
    full = MS.search_maxscore(seg_index, q, k=1 << 30,
                              max_blocks_per_term=2)
    seg_index._mini.clear()
    _same_ranking(ms, full[:10])
    for d, s in ms:
        assert s <= exact[d] + 1e-12


def test_null_prior_blends_like_absent(spark, seg_index):
    """A prior row whose rank is null blends at the 1e-12 floor, as an
    absent row does — the relational blend coalesces null to the floor
    — instead of failing in log(None)."""
    from search_engine_spark.operators import executor as EX

    q = "market price growth"
    hits = MS.search_maxscore(seg_index, q, k=1 << 30)
    # null ranks for the top matching docs, real ranks for the rest
    nulls = {d for d, _ in hits[:8]}
    prior = spark.createDataFrame(
        [(d, None if d in nulls else 1.0 / (d + 2)) for d in range(1, 151)],
        "node long, rank double")
    rel = [(r.doc_id, r.score)
           for r in EX.execute(seg_index, q, k=20, prior=prior,
                               prior_lam=0.3).collect()]
    ms = MS.search_maxscore(seg_index, q, k=20, prior=prior, prior_lam=0.3)
    _same_ranking(ms, rel)


def test_maxscore_golden(seg_index):
    assert_golden(seg_index, "tf")


def _fuzz_query_shapes(seed: int = 2024, n: int = 2000) -> list[str]:
    """Free-text queries mixing words, stopwords, quoted phrases (some
    stopword-only, some unbalanced or glued to a word), prefix, wildcard
    and regexp tokens, digits and punctuation, joined by odd runs of
    whitespace."""
    import numpy as np

    from search_engine_spark.sources.corpus import _VOCAB

    toks = ([w for w in _VOCAB if w.isalpha()][:40]
            + ["the", "of", "a", "and", "is", "2024", "x1", "e-mail",
               "market,", "(price)", "o'neil", "mérket"]
            + ['"market price"', '"the of"', '"a"', '""', '"price',
               'market"', 'x"the"y', '"germany economy" china',
               "mark*", "te?t", "*ing", "/gro.p/", "/x/", "*", "?"])
    seps = [" ", "  ", "\t", "\n", " \u00a0 ", "\r\n "]
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        parts = [toks[int(i)] for i in rng.integers(0, len(toks),
                                                    int(rng.integers(1, 6)))]
        q = parts[0]
        for p in parts[1:]:
            q += seps[int(rng.integers(0, len(seps)))] + p
        out.append(seps[int(rng.integers(0, len(seps)))] + q)
    return out


def test_plan_terms_are_the_query_analysis():
    """For every kernel-eligible plan the planner's terms equal the
    whole query's analysis, so the kernel scoring ``plan.terms`` (the
    plan jobs/serve.py hands it) scores what analyzing the query did."""
    from search_engine_spark.functions.analyzer import (AnalyzerConfig,
                                                        analyze_query)
    from search_engine_spark.plans import planner

    conf = AnalyzerConfig.full()
    eligible = 0
    for q in _fuzz_query_shapes():
        plan = planner.classify(q, conf)
        if MS.kernel_eligible(plan):
            eligible += 1
            assert plan.terms == analyze_query(q, conf), repr(q)
    # both sides of the predicate are exercised
    assert 500 < eligible < 1900


@pytest.mark.parametrize("q", ['"the of"~3 market',
                               'market"the a"~2price'])
def test_kernel_scores_the_plan_terms(seg_index, oracle_index, q):
    """A slop suffix on a stopword-only phrase leaves the plan with the
    phrase (and its slop digits) dropped; the kernel scores the plan's
    terms like the relational path and the oracle, not the raw
    analysis that kept '3' or '2price' as terms."""
    o_index, doc_sizes = oracle_index
    want = oracle.execute(o_index, doc_sizes, q)[:20]
    assert want
    _same_ranking(MS.search_maxscore(seg_index, q, k=20), want)


def test_handed_plan_ranks_like_classifying_inside(seg_index):
    """search_maxscore(plan=classify(q)) == search_maxscore(q)."""
    from search_engine_spark.plans import planner

    for q in QUERIES + _fuzz_freetext():
        plan = planner.classify(q, seg_index.analyzer)
        for k in (15, 1 << 30):
            assert MS.search_maxscore(seg_index, q, k=k, plan=plan) \
                == MS.search_maxscore(seg_index, q, k=k), (q, k)


def test_warm_repeat_query_decodes_nothing(seg_index, monkeypatch):
    """No query decodes a payload (a block is the staged postings'
    columns), and once a query's terms are in the mini-index LRU,
    repeating it (at any k) reads nothing."""
    calls, reads = [], []
    decode = codec.decode_block_full
    fetch = type(seg_index)._fetch_blocks

    def counting(payload):
        calls.append(1)
        return decode(payload)

    def counting_fetch(self, terms, cap):
        reads.append(list(terms))
        return fetch(self, terms, cap)

    monkeypatch.setattr(codec, "decode_block_full", counting)
    monkeypatch.setattr(type(seg_index), "_fetch_blocks", counting_fetch)
    q = "market price growth"
    seg_index._mini.clear()
    cold = MS.search_maxscore(seg_index, q, k=1 << 30)
    assert reads  # the cold query read the staged postings
    reads.clear()
    assert MS.search_maxscore(seg_index, q, k=1 << 30) == cold
    MS.search_maxscore(seg_index, q, k=5)
    assert reads == [] and calls == []


def test_kernel_blocks_equal_reference_encoder(spark, seg_index_dir,
                                               tmp_path):
    """For every term of a block_span=16 index, the blocks the fetch
    builds from the staged postings equal the reference varint blocks
    (segments.encode_segments, decoded by codec.decode_block_full) of
    the same postings — docs, tf, dl, n_docs, block_max_tf — and the df
    is their postings' sum. Tombstoned docs stay in the blocks (the
    kernel masks them per request), and a capped term keeps the
    reference's top blocks by (block_max_tf desc, block_id asc) with
    the exact df."""
    import shutil

    from search_engine_spark.operators import segments as SEG
    from search_engine_spark.sources import catalog
    from tests.test_segments import kernel_blocks

    d = str(tmp_path / "idx")
    shutil.copytree(seg_index_dir, d)
    catalog.delete_docs(spark, d, [3, 40, 41, 77])
    idx = catalog.load_index(spark, d)
    assert idx.deleted_ids() == {3, 40, 41, 77}
    ref, dfs = {}, {}
    for r in SEG.encode_segments(idx.postings, buckets=16,
                                 block_span=16).collect():
        docs, tfs, dls = codec.decode_block_full(bytes(r.payload))
        ref[(r.term, r.block_id)] = (r.n_docs, r.block_max_tf, docs.tolist(),
                                     tfs.tolist(), dls.tolist())
        dfs[r.term] = dfs.get(r.term, 0) + r.n_docs
    assert kernel_blocks(idx) == ref and ref
    fetched = idx._fetch_blocks(sorted(dfs), None)
    assert {t: df for t, (df, _, _) in fetched.items()} == dfs

    n_blocks = {}
    for t, _ in ref:
        n_blocks[t] = n_blocks.get(t, 0) + 1
    head = max(sorted(n_blocks), key=n_blocks.get)
    assert n_blocks[head] > 2
    df, blks, cap_used = idx._fetch_blocks([head], 2)[head]
    want = sorted(((k, v) for k, v in ref.items() if k[0] == head),
                  key=lambda kv: (-kv[1][1], kv[0][1]))[:2]
    assert (df, cap_used) == (dfs[head], 2)
    assert [((b.term, b.block_id), (b.n_docs, b.block_max_tf,
                                    b.docs.tolist(),
                                    *(v.tolist() for v in b.values)))
            for b in blks] == want


@pytest.mark.parametrize("which", ["built", "merged"])
def test_benchmark_interface(spark, seg_index_dir, tmp_path, which):
    """What the benchmark's traced runs read of the engine: with every
    name its tracer wraps instrumented, a merge and a kernel query run,
    and the index's segments row has integer postings, blocks and
    payload_bytes, beside a duration on each of the five build rows."""
    from perfbench.run import segments_row
    from perfbench.trace import Tracer
    from search_engine_spark.sources import catalog

    tracer = Tracer(spark.sparkContext)
    try:
        kernel = tracer.instrument_engine()
        d = seg_index_dir
        if which == "merged":
            d = catalog.merge_indexes(spark, [seg_index_dir],
                                      str(tmp_path / "merged"))
        assert MS.search_maxscore(catalog.load_index(spark, d),
                                  "market price", k=5)
        assert kernel["calls"] == 1
        row = segments_row(d)
        for key in ("postings", "blocks", "payload_bytes"):
            assert isinstance(row[key], int) and row[key] > 0, key
        steps = {r["step"]: r for r in catalog.lineage_rows(d)}
        for step in ("postings_stage", "segments", "doc_stats",
                     "term_stats", "vsm_norms"):
            assert isinstance(steps[step]["duration_sec"], float), step
    finally:
        tracer.restore()


def test_deletes_after_warm_cache_are_masked(seg_index, monkeypatch):
    """Tombstones that appear after the blocks were decoded and cached
    are still masked per request, at any k — including a block
    whose every posting is deleted — and masking never alters the
    cached arrays."""
    q = "market price"
    full = MS.search_maxscore(seg_index, q, k=1 << 30)  # warms every block
    top = full[0][0]
    dead = set(range(top // 16 * 16, top // 16 * 16 + 16)) | {full[1][0]}
    monkeypatch.setattr(type(seg_index), "deleted_ids",
                        lambda self: frozenset(dead), raising=False)
    live = [(d, s) for d, s in full if d not in dead]
    assert len(live) < len(full)
    assert MS.search_maxscore(seg_index, q, k=1 << 30) == live
    _same_ranking(MS.search_maxscore(seg_index, q, k=5), live[:5])
    dead.clear()
    assert MS.search_maxscore(seg_index, q, k=1 << 30) == full


def test_capped_fetch_reports_truncated_terms(seg_index):
    """A term cut short by the fetch cap (Σ n_docs of its blocks < df)
    is reported; truncation only lowers scores."""
    q = "market price growth"
    exact = dict(MS.search_maxscore(seg_index, q, k=1 << 30,
                                    max_blocks_per_term=None))
    stats: dict = {}
    approx = MS.search_maxscore(seg_index, q, k=20, max_blocks_per_term=1,
                                stats=stats)
    assert stats["truncated_terms"] == ["growth", "market", "price"]
    assert approx
    for d, s in approx:
        assert s <= exact[d]
    MS.search_maxscore(seg_index, q, k=20, stats=stats)
    assert stats["truncated_terms"] == []
    seg_index._mini.clear()


def test_results_says_when_capped(seg_index, monkeypatch):
    """/results discloses a capped answer: ``exact: false`` plus the
    truncated terms, every score at most its exact score."""
    from jobs.serve import create_server

    q = "market price growth"
    exact = dict(MS.search_maxscore(seg_index, q, k=1 << 30,
                                    max_blocks_per_term=None))
    srv = create_server(seg_index, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = (f"http://127.0.0.1:{srv.server_address[1]}/results?"
           f"query={q.replace(' ', '+')}&k=20")
    try:
        with urllib.request.urlopen(url, timeout=120) as r:
            body = json.loads(r.read())
        assert body["path"] == "maxscore" and body["exact"] is True
        assert "truncated_terms" not in body
        monkeypatch.setattr(MS, "FETCH_CAP", 1)
        with urllib.request.urlopen(url, timeout=120) as r:
            body = json.loads(r.read())
    finally:
        srv.shutdown()
        srv.server_close()
        seg_index._mini.clear()
    assert body["path"] == "maxscore" and body["exact"] is False
    assert body["truncated_terms"] == ["growth", "market", "price"]
    assert body["results"]
    for r in body["results"]:
        assert r["score"] <= exact[r["doc_id"]]


def test_query_topk_says_when_capped(spark, seg_index_dir, monkeypatch,
                                     capsys):
    """jobs/query_topk.py --kernel maxscore: a capped answer prints
    {"exact": false, "truncated_terms": [...]} to stderr while stdout
    stays one JSON hit per line; an exact answer prints nothing there."""
    import sys

    from jobs import query_topk
    from search_engine_spark import session

    monkeypatch.setattr(session, "get_spark", lambda *a, **kw: spark)

    def run():
        monkeypatch.setattr(sys, "argv", [
            "query_topk.py", "--index", seg_index_dir, "--query",
            "market price growth", "--k", "5", "--kernel", "maxscore"])
        query_topk.main()
        out, err = capsys.readouterr()
        hits = [json.loads(line) for line in out.splitlines()]
        assert [h["rank"] for h in hits] == [1, 2, 3, 4, 5]
        return [json.loads(line) for line in err.splitlines()
                if line.startswith("{")]

    assert run() == []
    monkeypatch.setattr(MS, "FETCH_CAP", 1)
    assert run() == [{"exact": False, "truncated_terms":
                      ["growth", "market", "price"]}]


def test_kernel_path_runs_no_spark_job(spark, seg_index_dir):
    """Opening an index, building the spellcheck vocabulary from it and
    serving cold and warm kernel queries (capped and exact) start no
    Spark job; a relational query on the same handle still answers."""
    from search_engine_spark.plans.spellcheck import VocabularySpellchecker
    from search_engine_spark.sources import catalog

    tracker = spark.sparkContext.statusTracker()

    def jobs():
        return set(tracker.getJobIdsForGroup(None))

    before = jobs()
    idx = catalog.load_index(spark, seg_index_dir)
    checker = VocabularySpellchecker.from_index(idx, max_terms=50)
    assert checker.vocab
    stats: dict = {}
    q = "market price growth"
    cold = MS.search_maxscore(idx, q, k=10, stats=stats)
    assert (stats["mini_hits"], stats["mini_misses"]) == (0, 3)
    warm = MS.search_maxscore(idx, q, k=10, stats=stats)
    assert (stats["mini_hits"], stats["mini_misses"]) == (3, 0)
    assert warm == cold
    _same_ranking(MS.search_maxscore(idx, q, k=5, stats=stats), cold[:5])
    assert stats["mini_hits"] == 3
    MS.search_maxscore(idx, "germany economy", k=10,
                       max_blocks_per_term=None)
    MS.search_maxscore(idx, "china bank", k=10, max_blocks_per_term=1)
    assert idx.deleted_ids() == frozenset()
    counters = idx.mini_counters
    assert counters["misses"] == 7 and counters["hits"] == 6
    assert counters["blocks_fetched"] > 0 and counters["fetch_s"] > 0
    assert jobs() == before
    rel = [(r.doc_id, r.score)
           for r in S.search_freetext(idx, q, k=10).collect()]
    _same_ranking(rel, cold)
    assert jobs() != before  # the tracker does see jobs
