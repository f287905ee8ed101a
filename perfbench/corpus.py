"""Seeded web corpus and query generator for the benchmark.

The corpus has the engine's input_hint shape (url, warc_ts, html, text,
lang). Words come from a Zipf distribution over a generated vocabulary
of ``VOCAB_SIZE`` stem-stable words, far larger than the serving
mini-index LRU (4,096 terms), mixed with real stopwords so the analyzer
has work to drop. The html wraps the text as
``<title>T</title>…<body>B</body>`` so the engine's extract UDF
recovers ``text`` byte for byte.

Everything is a pure function of (seed, size): the word list itself is
fixed (and cached once), the seed decides which word takes which Zipf
rank and draws every document and query. ``materialize`` writes the
generated tables as parquet under a cache directory keyed by (seed,
size), and the engine is handed only those files.
"""

from __future__ import annotations

import hashlib
import html as _html
import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np

VOCAB_SIZE = 16_000
ZIPF_S = 1.05
STOP_SHARE = 0.3
BODY_TOKENS = (100, 500)
TITLE_TOKENS = (3, 8)
HEAD_WORDS = 300          # hot queries draw from the most frequent words
TAIL_FROM_RANK = 2_000    # cold queries draw from words ranked past this
RECRAWL_SHARE = 0.10      # re-crawl batch size as a share of the corpus

_CONSONANTS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")
_BASE_TS = datetime(2024, 1, 1)


def _stopwords() -> list[str]:
    from search_engine_spark.functions.analyzer import load_stopwords

    common = ["the", "of", "and", "to", "in", "that", "is", "was", "for",
              "with", "on", "as", "by", "at", "from", "this", "it", "an"]
    stops = load_stopwords()
    return [w for w in common if w in stops]


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase words, each its own Porter stem and none
    a stopword, so index terms, query words and spellcheck candidates
    are the same strings."""
    from search_engine_spark.functions.analyzer import load_stopwords
    from search_engine_spark.functions.porter import stem

    stops = load_stopwords()
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        parts = []
        for _ in range(k):
            parts.append(_CONSONANTS[rng.integers(len(_CONSONANTS))])
            parts.append(_VOWELS[rng.integers(len(_VOWELS))])
        if rng.random() < 0.5:
            parts.append(_CONSONANTS[rng.integers(len(_CONSONANTS))])
        w = "".join(parts)
        if w in seen or w in stops or stem(w) != w:
            continue
        seen.add(w)
        out.append(w)
    return out


def generator_digest() -> str:
    """Digest of this file: cached inputs are keyed by it, so a change to
    the generator never reuses files the old one wrote."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def cached_vocabulary(cache_root: str) -> list[str]:
    """The seed-independent word list, generated once per cache."""
    path = os.path.join(cache_root, f"vocab-{generator_digest()}.json")
    if not os.path.exists(path):
        words = vocabulary(np.random.default_rng(0), VOCAB_SIZE)
        os.makedirs(cache_root, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(words, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


class Corpus:
    """The generated documents plus the facts the query generator needs
    (see ``facts``). The seed picks which word takes which Zipf rank and
    draws every document."""

    def __init__(self, seed: int, n_docs: int, words: list[str]):
        self.seed = seed
        self.n_docs = n_docs
        rng = np.random.default_rng([seed, n_docs, 1])
        self.vocab = np.array(words)[rng.permutation(len(words))]
        self.stops = np.array(_stopwords())
        w = 1.0 / np.arange(1, len(words) + 1) ** ZIPF_S
        self._cdf = np.cumsum(w / w.sum())
        self.docs = [self._doc(rng, i) for i in range(n_docs)]
        n_re = int(round(n_docs * RECRAWL_SHARE))
        refetch = np.sort(rng.choice(n_docs, size=n_re // 2, replace=False))
        self.recrawl = [self._doc(rng, int(i), version=1) for i in refetch]
        self.recrawl += [self._doc(rng, n_docs + j)
                         for j in range(n_re - n_re // 2)]
        df = np.zeros(len(words), dtype=np.int64)
        for d in self.docs:
            df[np.unique(d["_ranks"])] += 1
        self.df = df

    def facts(self, n_pairs: int = 2_000) -> dict:
        """What query generation needs, as plain JSON-able data: the
        words by Zipf rank, their document frequencies, and word pairs
        that occur adjacently (after stopword removal) in some document,
        for phrase and boolean queries."""
        rng = np.random.default_rng([self.seed, self.n_docs, 4])
        pairs = []
        for i in rng.integers(self.n_docs, size=n_pairs):
            r = self.docs[int(i)]["_ranks"]
            j = int(rng.integers(len(r) - 1))
            pairs.append([str(self.vocab[r[j]]), str(self.vocab[r[j + 1]])])
        return {"vocab": self.vocab.tolist(), "df": self.df.tolist(),
                "pairs": pairs}

    def _words(self, rng, n):
        ranks = np.searchsorted(self._cdf, rng.random(n))
        ranks = np.minimum(ranks, len(self.vocab) - 1)
        words = self.vocab[ranks].astype(object)
        stop = rng.random(n) < STOP_SHARE
        words[stop] = self.stops[rng.integers(len(self.stops),
                                              size=int(stop.sum()))]
        return words, ranks[~stop]

    def _doc(self, rng, i: int, version: int = 0) -> dict:
        title, r1 = self._words(rng, int(rng.integers(*TITLE_TOKENS)))
        body, r2 = self._words(rng, int(rng.integers(*BODY_TOKENS)))
        title[0] = title[0].capitalize()
        title_s, body_s = " ".join(title), " ".join(body)
        html = ("<html><head><title>" + _html.escape(title_s, quote=False)
                + "</title></head><body>" + _html.escape(body_s, quote=False)
                + "</body></html>")
        return {
            "url": f"https://site{i % 211}.example/page/{i}",
            "warc_ts": _BASE_TS + timedelta(days=30 * version + i % 29,
                                            seconds=i % 86_400),
            "html": html.encode("utf-8"),
            "text": title_s + " " + body_s,
            "lang": "en",
            "_ranks": np.concatenate([r1, r2]),
        }


def hot_queries(facts: dict, seed: int, n: int, typo_every: int = 10
                ) -> list[dict]:
    """2-4 of the ``HEAD_WORDS`` most frequent words per query. Every
    ``typo_every``-th query carries one single-edit typo that is not a
    vocabulary word."""
    rng = np.random.default_rng([seed, 2])
    head = facts["vocab"][:HEAD_WORDS]
    known = set(facts["vocab"])
    out = []
    for i in range(n):
        words = [head[j] for j in rng.choice(
            HEAD_WORDS, size=int(rng.integers(2, 5)), replace=False)]
        typo = i % typo_every == typo_every // 2
        if typo:
            j = int(rng.integers(len(words)))
            words[j] = _typo(rng, words[j], known)
        out.append({"q": " ".join(words), "kind": "free"})
    return out


def cold_queries(facts: dict, seed: int, n: int, relational_every: int = 10
                 ) -> list[dict]:
    """2-4 long-tail words per query (rank past ``TAIL_FROM_RANK``, in
    the corpus), never repeating a word, so each lookup misses the
    mini-index LRU. Every ``relational_every``-th query is a phrase or
    a boolean query over an adjacent word pair, which the server sends
    down the relational path."""
    rng = np.random.default_rng([seed, 3])
    df = np.asarray(facts["df"])
    tail = np.flatnonzero(df > 0)
    order = rng.permutation(tail[tail >= TAIL_FROM_RANK])
    pairs = facts["pairs"]
    pos = 0
    out = []
    for i in range(n):
        if i % relational_every == relational_every - 1:
            a, b = pairs[int(rng.integers(len(pairs)))]
            if (i // relational_every) % 2 == 0:
                out.append({"q": f'"{a} {b}"', "kind": "phrase"})
            else:
                op = "AND" if rng.random() < 0.5 else "OR"
                out.append({"q": f"{a} {op} {b}", "kind": "boolean"})
            continue
        k = int(rng.integers(2, 5))
        if pos + k > len(order):
            raise ValueError("tail vocabulary exhausted: ask for fewer "
                             "cold queries or a larger corpus")
        out.append({"q": " ".join(facts["vocab"][j]
                                  for j in order[pos:pos + k]),
                    "kind": "free"})
        pos += k
    return out


def _typo(rng, word: str, known: set[str]) -> str:
    """One substitution, deletion or insertion that leaves a non-word."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    while True:
        i = int(rng.integers(1, len(word)))
        c = letters[rng.integers(26)]
        kind = rng.integers(3)
        if kind == 0:
            t = word[:i] + c + word[i + 1:]
        elif kind == 1:
            t = word[:i] + word[i + 1:]
        else:
            t = word[:i] + c + word[i:]
        if t != word and t not in known:
            return t


def _write(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "url": [r["url"] for r in rows],
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            type=pa.timestamp("us")),
        "html": pa.array([r["html"] for r in rows], type=pa.binary()),
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
    })
    pq.write_table(table, path)


def materialize(cache_root: str, seed: int, n_docs: int
                ) -> tuple[Corpus, dict]:
    """Generate the corpus and write ``docs.parquet`` (the main crawl)
    and ``recrawl.parquet`` (the re-crawl batch) under
    ``cache_root/corpus-<seed>-<n_docs>-<generator digest>``. Files are
    written once per key and reused; the in-memory corpus is regenerated
    (it is cheap and the oracle needs the texts)."""
    c = Corpus(seed, n_docs, cached_vocabulary(cache_root))
    d = os.path.join(cache_root,
                     f"corpus-{seed}-{n_docs}-{generator_digest()}")
    paths = {"docs": os.path.join(d, "docs.parquet"),
             "recrawl": os.path.join(d, "recrawl.parquet")}
    done = os.path.join(d, "done.json")
    if not os.path.exists(done):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write(c.docs, os.path.join(tmp, "docs.parquet"))
        _write(c.recrawl, os.path.join(tmp, "recrawl.parquet"))
        with open(os.path.join(tmp, "done.json"), "w") as f:
            json.dump({"seed": seed, "n_docs": n_docs}, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return c, paths
