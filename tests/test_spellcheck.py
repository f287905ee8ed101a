"""Spellcheck / ticker guard / abbreviation expansion (Q2-Q3 parity)."""

from search_engine_spark.plans import spellcheck as SP


def _checker():
    return SP.VocabularySpellchecker(
        {"market": 100, "price": 80, "germany": 30, "trade": 50, "trades": 10}
    )


def test_exact_word_untouched():
    assert _checker().correct("market") == "market"


def test_edit1_correction_prefers_df():
    # "marke" is distance 1 from "market" (insert)
    assert _checker().correct("marke") == "market"
    # "trada" → trade (replace) beats trades (distance 2)
    assert _checker().correct("trada") == "trade"


def test_edit2_fallback():
    assert _checker().correct("markt") == "market"  # dist 1 actually (delete)
    assert _checker().correct("mrkt") == "market"   # dist 2


def test_oov_unchanged():
    assert _checker().correct("zzzzzz") == "zzzzzz"


def test_ticker_guard():
    c = _checker()
    out = SP.correct_query("AAPL marke", c, symbols=frozenset({"aapl"}))
    assert out == "AAPL market"


def test_abbreviation_expansion():
    out = SP.expand_abbreviations("gdp growth", {"gdp": "gross domestic product"})
    assert out == 'gdp growth "gross domestic product"'
    assert SP.expand_abbreviations("plain query", {}) == "plain query"
    # bag-of-words variant for the kernel path (no phrase operator there)
    out = SP.expand_abbreviations(
        "gdp growth", {"gdp": "gross domestic product"}, quote=False)
    assert out == "gdp growth gross domestic product"


def test_osa_distance():
    assert SP._osa_distance("trade", "trade", 2) == 0
    assert SP._osa_distance("marke", "market", 2) == 1   # insert
    assert SP._osa_distance("mrkt", "market", 2) == 2    # two inserts
    assert SP._osa_distance("amrket", "market", 2) == 1  # transposition
    assert SP._osa_distance("zzzzzz", "market", 2) == 3  # capped at cap+1


def test_symspell_latency_large_vocab():
    """Delete-only index: per-word correction stays under 10 ms against a
    100k-word vocabulary (lookup cost is independent of vocab size — the
    classic edits2 enumeration is ~500k candidates per word)."""
    import random
    import string
    import time

    rng = random.Random(42)
    vocab = {
        "".join(rng.choices(string.ascii_lowercase, k=rng.randint(5, 9))):
            rng.randint(1, 1000)
        for _ in range(100_000)
    }
    checker = SP.VocabularySpellchecker(vocab)
    words = ["".join(rng.choices(string.ascii_lowercase, k=7))
             for _ in range(50)]
    t0 = time.perf_counter()
    for w in words:
        checker.correct(w)
    per_word = (time.perf_counter() - t0) / len(words)
    assert per_word < 0.01, f"{per_word * 1e3:.2f} ms/word"


def test_from_index(built_index):
    c = SP.VocabularySpellchecker.from_index(built_index)
    assert c.correct("merket") == "market"


def test_from_index_cut_is_df_ranked(built_index, seg_index, monkeypatch):
    """The max_terms truncation keeps the HIGHEST-df terms (ties broken
    lexicographically), never an arbitrary partition-order subset: at
    web scale a bare limit() would silently drop head vocabulary from
    correction candidates while keeping hapax noise. A durable index
    streams term_stats through the Arrow top-k; with small batches and
    a cut inside a df tie it equals the Spark TakeOrdered."""
    from pyspark.sql import functions as F

    ranked = seg_index.term_stats.orderBy(
        F.desc("df"), F.asc("term")).collect()
    tie = next(i for i in range(10, len(ranked))
               if ranked[i - 1].df == ranked[i].df)
    monkeypatch.setattr(SP, "VOCAB_BATCH_ROWS", 7)
    for n in (tie, 1, len(ranked) + 5):
        c = SP.VocabularySpellchecker.from_index(seg_index, max_terms=n)
        assert c.vocab == {r.term: r.df for r in ranked[:n]}

    cut = 25
    c = SP.VocabularySpellchecker.from_index(built_index, max_terms=cut)
    want = {r.term: r.df for r in
            built_index.term_stats.orderBy(F.desc("df"), F.asc("term"))
            .limit(cut).collect()}
    assert c.vocab == want
    # every kept df >= every dropped df (the cut really is by frequency)
    dropped_max = (built_index.term_stats
                   .join(built_index.term_stats.orderBy(
                       F.desc("df"), F.asc("term")).limit(cut)
                       .select("term"), "term", "left_anti")
                   .agg(F.max("df")).collect()[0][0])
    assert dropped_max is not None and min(want.values()) >= dropped_max


def test_executor_spellcheck_integration(built_index):
    """First-execution semantics: a misspelled free-text query corrects
    against the index vocabulary and returns the same results as the
    corrected query; the default (no spellchecker) leaves it OOV."""
    from search_engine_spark.operators import executor as EX

    checker = SP.VocabularySpellchecker.from_index(built_index)
    plain = EX.execute(built_index, "merket", k=10).collect()
    assert plain == []  # rerun path: no correction, OOV
    fixed = EX.execute(built_index, "merket", k=10,
                       spellchecker=checker).collect()
    want = EX.execute(built_index, "market", k=10).collect()
    assert [(r.doc_id, r.score) for r in fixed] == \
        [(r.doc_id, r.score) for r in want]
    # ticker guard: guarded symbol is never rewritten
    guarded = EX.execute(built_index, "merket", k=10, spellchecker=checker,
                         symbols=frozenset({"merket"})).collect()
    assert guarded == []


def test_phrase_tokens_never_corrected(built_index):
    """Quote-attached tokens pass through spellcheck untouched: a
    correctly spelled phrase query keeps its phrase semantics."""
    from search_engine_spark.operators import executor as EX

    checker = SP.VocabularySpellchecker.from_index(built_index)
    q = '"germany economy"'
    assert SP.correct_query(q, checker) == q
    with_sc = EX.execute(built_index, q, k=10, spellchecker=checker).collect()
    without = EX.execute(built_index, q, k=10).collect()
    assert [(r.doc_id, r.score) for r in with_sc] == \
        [(r.doc_id, r.score) for r in without]


def test_load_symbols_csv_and_inline(tmp_path):
    """The three accepted shapes: reference NYSE CSV (Symbol column),
    one-per-line file, inline comma list — all lowercased."""
    from search_engine_spark.plans.spellcheck import load_symbols

    csv_p = tmp_path / "nyse.csv"
    csv_p.write_text("Symbol,Name\nAAPL,apple inc\nMSFT,microsoft\n")
    assert load_symbols(str(csv_p)) == {"aapl", "msft"}
    lines_p = tmp_path / "syms.txt"
    lines_p.write_text("IBM\n tsla \n")
    assert load_symbols(str(lines_p)) == {"ibm", "tsla"}
    assert load_symbols("GOOG, amzn") == {"goog", "amzn"}
    # Ticker-named header column (not just Symbol)
    alt_p = tmp_path / "alt.csv"
    alt_p.write_text("Ticker,Name\nAAPL,Apple Inc\nMSFT,Microsoft\n")
    assert load_symbols(str(alt_p)) == {"aapl", "msft"}
    # unrecognized multi-column header: the header cells must NOT load
    # as guard symbols (a spaced first cell can't be ticker data)
    odd_p = tmp_path / "odd.csv"
    odd_p.write_text("Listed Code,Description\nIBM,computers\n")
    assert load_symbols(str(odd_p)) == {"ibm"}


def test_load_abbreviations_normalizes_keys(tmp_path):
    """fin_abbv.json keys are UPPERCASE and may be padded
    (helpers.py:297-303 matches via t.upper() on rstripped keys)."""
    import json as _json

    from search_engine_spark.plans.spellcheck import load_abbreviations

    p = tmp_path / "fin_abbv.json"
    p.write_text(_json.dumps({"GDP ": "gross domestic product",
                              "ETF": "exchange traded fund"}))
    abv = load_abbreviations(str(p))
    assert abv == {"gdp": "gross domestic product",
                   "etf": "exchange traded fund"}


def test_executor_abbreviation_expansion(built_index):
    """executor.execute(abbreviations=...) retrieves the expansion phrase
    docs for an OOV abbreviation token (expansion applied after
    spellcheck, free-text queries only)."""
    from search_engine_spark.operators import executor
    from search_engine_spark.operators import phrase as PH

    abv = {"zzgdp": "germany economy"}
    hits = executor.execute(built_index, "zzgdp", k=100,
                            abbreviations=abv).collect()
    want = {r.doc_id for r in PH.phrase_occurrences(
        built_index, ["germani", "economi"]).collect()}
    assert want and {r.doc_id for r in hits} == want
