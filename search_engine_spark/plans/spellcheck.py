"""Query spellcheck + finance-term guards (SURVEY §2.5 Q2-Q3; OFF by
default for rank-identity, exactly like the reference's rerun path skips
it — views.py:99-138 / helpers.py:237,269-270).

The reference uses pyspellchecker plus an NYSE symbol table
(helpers.py:235-270, :319-330) and a fin-abbreviation JSON
(helpers.py:297-303). Neither data file nor library is shipped here, so:

* correction candidates come from the INDEX VOCABULARY itself (edit
  distance ≤ 1-2 against term_stats, preferring higher df) — a pure
  driver-side pass over a broadcast dictionary, no external data;
* the ticker guard takes an explicit ``symbols`` set (never "correct" a
  known ticker) — callers supply their own table;
* abbreviation expansion takes an explicit ``abbreviations`` mapping and
  appends the expansion as a phrase, mirroring the reference's (dead-code)
  ``abv_bool`` branch.
"""

from __future__ import annotations


def _deletes_upto(word: str, k: int) -> set[str]:
    """All strings reachable from ``word`` by up to ``k`` single-character
    deletions (including ``word`` itself)."""
    frontier = {word}
    seen = {word}
    for _ in range(k):
        nxt = set()
        for w in frontier:
            for i in range(len(w)):
                d = w[:i] + w[i + 1:]
                if d not in seen:
                    seen.add(d)
                    nxt.add(d)
        frontier = nxt
        if not frontier:
            break
    return seen


def _osa_distance(a: str, b: str, cap: int) -> int:
    """Optimal-string-alignment distance (Levenshtein plus adjacent
    transposition — the edit model of the old edits1/edits2 enumeration),
    early-exiting with cap+1 once the row minimum exceeds ``cap``."""
    la, lb = len(a), len(b)
    if abs(la - lb) > cap:
        return cap + 1
    prev2: list[int] | None = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        if min(cur) > cap:
            return cap + 1
        prev2, prev = prev, cur
    return prev[lb]


#: rows per Arrow batch when ``top_df_terms`` streams term_stats
VOCAB_BATCH_ROWS = 65_536


def top_df_terms(path: str, max_terms: int) -> dict[str, int]:
    """{term: df} of the ``max_terms`` highest-df terms of the term_stats
    parquet at ``path``, ties broken by term — the order of Spark's
    ``orderBy(desc("df"), asc("term")).limit(max_terms)``. Streams the
    files in Arrow batches and keeps a running top-k, so it holds at
    most ``max_terms`` rows plus one batch."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    order = [("df", "descending"), ("term", "ascending")]
    top = None
    for batch in pads.dataset(path, format="parquet").to_batches(
            columns=["term", "df"], batch_size=VOCAB_BATCH_ROWS):
        rows = pa.Table.from_batches([batch])
        if top is not None:
            if 0 < max_terms <= top.num_rows:
                # only rows that can tie or beat the current k-th stay
                rows = rows.filter(pc.greater_equal(
                    rows["df"], top["df"][top.num_rows - 1]))
            rows = pa.concat_tables([top, rows])
        top = rows.take(pc.sort_indices(rows, sort_keys=order)[:max_terms])
    if top is None:
        return {}
    return dict(zip(top["term"].to_pylist(), top["df"].to_pylist()))


class VocabularySpellchecker:
    """Edit-distance corrector over the index vocabulary.

    SymSpell-style delete-only index: at construction every vocab word is
    indexed under all of its ≤max_distance-deletion forms; at query time
    only the WORD's deletion forms are generated (≈40 lookups for an
    8-char word) instead of the ~500k insert/replace candidates the
    classic edits2 enumeration produces. Two words within OSA distance d
    always share a deletion form at depth ≤ d, so recall is exact;
    candidates then rank by true OSA distance (closer wins — distance-1
    beats distance-2), then df (more frequent wins), then lexicographic —
    identical semantics to the old enumeration, ~50× less per-word work.
    Lookup cost is independent of vocabulary size.

    ``vocab`` maps term → df."""

    def __init__(self, vocab: dict[str, int], max_distance: int = 2):
        self.vocab = vocab
        self.max_distance = max_distance
        self._deletes: dict[str, list[str]] = {}
        for w in vocab:
            for d in _deletes_upto(w, max_distance):
                self._deletes.setdefault(d, []).append(w)

    @classmethod
    def from_index(cls, index, max_terms: int = 100_000) -> "VocabularySpellchecker":
        """Build from an InvertedIndex's term_stats (driver-side broadcast
        dictionary — the reference loads its whole spell dictionary at
        startup the same way). When the vocabulary exceeds ``max_terms``
        the HIGHEST-df terms are kept, ties broken by term (a bare
        limit() would select a nondeterministic, partition-order-
        dependent subset at scale).

        A durable index's term_stats files stream through an Arrow top-k
        on the driver (``top_df_terms``), with no Spark job; an in-memory
        index has no files and takes the same cut with a Spark
        TakeOrdered.

        The default caps the delete-index build cost (~37 forms/word →
        a few seconds and ~hundreds of MB at 100k; 500k would be a
        multi-GB, minutes-long startup). Misspellings correct toward
        frequent words anyway — frequency-pruned dictionaries are the
        standard SymSpell deployment shape."""
        if hasattr(index, "table_path"):
            return cls(top_df_terms(index.table_path("term_stats"),
                                    max_terms))
        from pyspark.sql import functions as F

        rows = (index.term_stats
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(max_terms).collect())
        return cls({r.term: r.df for r in rows})

    def correct(self, word: str) -> str:
        if word in self.vocab:
            return word
        # the index vocabulary holds STEMS: any surface form the analyzer
        # maps into vocabulary is already "correct" — rewriting 'germany'
        # to its stem 'germani' would be noise, not a correction
        from ..functions.porter import stem

        if stem(word) in self.vocab:
            return word
        cands: set[str] = set()
        for d in _deletes_upto(word, self.max_distance):
            cands.update(self._deletes.get(d, ()))
        best: tuple[int, int, str] | None = None
        for c in cands:
            dist = _osa_distance(word, c, self.max_distance)
            if dist > self.max_distance:
                continue
            key = (dist, -self.vocab[c], c)
            if best is None or key < best:
                best = key
        return best[2] if best is not None else word


def correct_query(query: str, checker: VocabularySpellchecker,
                  symbols: frozenset[str] = frozenset()) -> str:
    """Token-wise correction with the ticker guard: a term that is (or is
    contained in) a known symbol is never altered (reference
    helpers.py:243-252 semantics)."""
    import re as _re

    out = []
    for tok in query.split(" "):
        low = tok.lower()
        if not tok or low in symbols or any(low in s for s in symbols):
            out.append(tok)
            continue
        if len(tok) > 2 and tok.startswith("/") and tok.endswith("/"):
            # /regexp/ tokens (planner._REGEXP_TOK_RE) are surface
            # patterns — the no-analysis-of-patterns rule that already
            # protects wildcard tokens (which dodge correction via
            # their interior metachar) applies by construction here
            out.append(tok)
            continue
        # correct only the alpha CORE and reattach surrounding
        # punctuation: '"germani' → '"germany' keeps the quote (phrase
        # structure survives re-classification) while 'merket,' still
        # gets corrected; tokens with interior non-alpha pass through
        m = _re.match(r'^(\W*)([A-Za-z]+)(\W*)$', tok)
        if m:
            pre, core, post = m.groups()
            out.append(pre + checker.correct(core.lower()) + post)
        else:
            out.append(tok)
    return " ".join(out)


def expand_abbreviations(query: str, abbreviations: dict[str, str],
                         quote: bool = True) -> str:
    """Append '"{expansion}"' for each known abbreviation in the query
    (reference helpers.py:297-303; dead code there, live feature here).

    ``quote=False`` appends the expansion as bare terms instead — for
    the kernel serving path, whose bag-of-words BM25 kernel has no
    phrase operator (search_maxscore rejects quoted queries rather than
    silently degrading a phrase to independent terms)."""
    extra = []
    for tok in query.split(" "):
        exp = abbreviations.get(tok.lower())
        if exp:
            extra.append(f'"{exp}"' if quote else exp)
    return query if not extra else query + " " + " ".join(extra)


def load_symbols(source: str) -> frozenset[str]:
    """Ticker symbols for the spellcheck guard, from the reference's NYSE
    CSV shape (a ``Symbol`` column, lowercased — helpers.py:226,281-284),
    a one-symbol-per-line file, or an inline comma-separated list. The
    data itself is caller-supplied (the reference ships a curated CSV the
    sandbox cannot); this closes the plumbing gap so real ticker data
    drops straight in."""
    import csv
    import os

    if os.path.exists(source):
        with open(source, newline="") as f:
            rows = [r for r in csv.reader(f) if r]
        if not rows:
            return frozenset()
        header = [c.strip().lower() for c in rows[0]]
        header_names = {"symbol", "symbols", "ticker", "tickers", "act symbol"}
        if header_names & set(header):
            i = header.index(next(h for h in header if h in header_names))
            vals = [r[i] for r in rows[1:] if len(r) > i]
        else:  # plain one-per-line / first-column file; a multi-column
            # CSV whose header we didn't recognize would otherwise load
            # its header cell as a guard symbol (the substring guard
            # then exempts every token contained in it from spellcheck),
            # so drop a first row that looks like a header: any cell
            # with a space (tickers never contain spaces) or any cell
            # that is a common header word
            header_words = {"name", "company", "code", "description",
                            "security", "exchange", "cusip", "id",
                            "isin", "sector", "industry"}
            first = [c.strip().lower() for c in rows[0]]
            if any(" " in c for c in first) or header_words & set(first):
                rows = rows[1:]
            vals = [r[0] for r in rows]
        return frozenset(v.strip().lower() for v in vals if v.strip())
    return frozenset(s.strip().lower() for s in source.split(",") if s.strip())


def load_abbreviations(path: str) -> dict[str, str]:
    """The reference's fin_abbv.json shape (helpers.py:225,297-303):
    UPPERCASE keys, possibly whitespace-padded — normalized to
    stripped-lowercase to match expand_abbreviations lookups."""
    import json

    with open(path) as f:
        raw = json.load(f)
    return {str(k).strip().lower(): str(v) for k, v in raw.items()}
