"""Dedup / similarity / text-quality / events operators —
exact paths checked against plain-Python ground truth on the driver
testdata; probabilistic paths checked for recall against the exact ones."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import (dedup, events, similarity,
                                           textquality)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    # plant exact + near duplicates deterministically
    base = spark.read.parquet(f"{SF}/documents.parquet")
    clones = base.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source",
        "n_chars",
    )
    near = base.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
        "lang", "source", "n_chars",
    )
    return base.unionByName(clones).unionByName(near).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs)
    rows = out.collect()
    # every planted clone collapses onto its original (min doc_id)
    survivors = {r.doc_id for r in rows}
    assert all(d not in survivors for d in range(100000, 100010))
    dup_counts = {r.doc_id: r.dup_count for r in rows}
    assert all(dup_counts[d] == 2 for d in range(10))


def test_minhash_finds_planted_near_dups(spark, docs):
    surviving = {r.doc_id for r in
                 dedup.minhash_dedup(docs, threshold=0.7).collect()}
    # exact clones must be deduped (jaccard 1.0); near dups (1 extra token
    # on 20+ token docs → jaccard ≥ 0.9) must also be caught
    assert all(100000 + d not in surviving for d in range(10))
    caught_near = sum(1 for d in range(10) if 200010 + d not in surviving)
    assert caught_near >= 8  # probabilistic but overwhelmingly likely
    # most of the base corpus survives (a couple dozen organic near-dups
    # exist in the tiny-vocab synthetic corpus and are correctly removed)
    assert sum(1 for r in surviving if r < 100000) >= 450


def test_minhash_agrees_with_exact_jaccard(spark, docs):
    sigs = dedup.minhash_signatures(docs.filter(F.col("doc_id") < 50))
    pairs = dedup.minhash_lsh_pairs(sigs)
    verified = dedup.jaccard_verify(pairs, docs, threshold=0.8).collect()
    for r in verified:
        assert r.jaccard >= 0.8


def test_simhash_near_dups(docs):
    hashes = dedup.simhash64(docs)
    pairs = dedup.simhash_pairs(hashes, max_hamming=3).collect()
    # collapsed representation: every planted clone links to a smaller-id
    # doc at hamming 0 (its group's min-id representative — the original,
    # unless an organic exact dup with a yet-smaller id exists)
    zero_links = {p.doc_b: p.doc_a for p in pairs if p.hamming == 0}
    for d in range(10):
        assert zero_links.get(d + 100000) is not None
        assert zero_links[d + 100000] <= d


def test_simhash_empty_docs_linear_not_quadratic(spark):
    """1k empty docs share ONE simhash: the collapsed pair representation
    must emit m-1 star pairs (linear), not the m(m-1)/2 clique — the
    degenerate hot-bucket hazard at web scale."""
    n = 1000
    empties = spark.createDataFrame([(i, "") for i in range(1, n + 1)],
                                    "doc_id long, text string")
    pairs = dedup.simhash_pairs(dedup.simhash64(empties), max_hamming=8)
    rows = pairs.collect()
    assert len(rows) == n - 1  # star, not clique (499500 pairs)
    assert all(r.doc_a == 1 and r.hamming == 0 for r in rows)


def test_minhash_exact_dup_cluster_collapsed(spark):
    """1k exact copies of one long text share every band: the rep
    collapse must keep the LSH candidate join linear and the survivor set
    identical to the brute-force rule (only the min id survives)."""
    body = " ".join(f"tok{i % 37}w{i % 11}" for i in range(60))
    other = " ".join(f"zz{i % 29}q{i % 13}" for i in range(60))
    rows = [(i, body) for i in range(1, 1001)] + [(2000, other)]
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(
        docs_df.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        .join(docs_df, ["doc_id", "text"]))
    # candidate pairs among the 2 distinct-text reps only
    n_cands = dedup.minhash_lsh_pairs(sigs, bands=16, rows_per_band=4).count()
    assert n_cands <= 1
    surviving = {r.doc_id for r in dedup.minhash_dedup(docs_df).collect()}
    assert surviving == {1, 2000}


def test_minhash_empty_docs_routed_to_exact_dedup(spark):
    """Degenerate (empty/short) texts bypass the LSH band join entirely:
    minhash_dedup keeps one survivor per distinct degenerate text and
    completes without a quadratic candidate explosion."""
    n = 1000
    rows = [(i, "") for i in range(1, n + 1)] + \
           [(n + 1, "ab"), (n + 2, "ab"), (n + 3, "cd ef")]
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    surviving = {r.doc_id for r in dedup.minhash_dedup(docs_df).collect()}
    assert surviving == {1, n + 1, n + 3}


def test_ngram_jaccard_exact(spark, docs):
    out = dedup.ngram_jaccard_pairs(
        docs.filter((F.col("doc_id") < 30) | (F.col("doc_id") >= 100000)),
        block_col="source", n=2, threshold=0.9,
    ).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    for d in range(10):
        assert got.get((d, d + 100000)) == pytest.approx(1.0)


def test_cosine_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    q = list(rows[0].embedding)
    want = sorted(
        (
            (
                r.vec_id,
                round(float(np.dot(q, r.embedding)
                      / (np.linalg.norm(q) * np.linalg.norm(r.embedding))), 6),
            )
            for r in rows
        ),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    got = [(r.vec_id, r.cosine) for r in similarity.cosine_topk(emb, q, 10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=2e-6)


def test_lsh_recall(spark, emb):
    q = list(emb.collect()[3].embedding)
    exact = {r.vec_id for r in similarity.cosine_topk(emb, q, 10).collect()}
    bucketed = similarity.lsh_assign(emb, dim=len(q), n_planes=8).cache()
    ann = {r.vec_id
           for r in similarity.lsh_topk(bucketed, q, 10, n_planes=8,
                                        multiprobe=4).collect()}
    # ANN over 8 planes + multiprobe should recover a decent fraction
    assert len(ann & exact) >= 3
    assert len(ann) <= 10


def test_knn_pairs(spark, emb):
    small = emb.filter(F.col("vec_id") < 30)
    out = similarity.knn_pairs(small, small, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert all(len(v) == 3 for v in by_q.values())
    for r in out:
        assert r.q_id != r.c_id


def test_token_count_and_quality(spark, docs):
    base = docs.filter(F.col("doc_id") < 100)
    tc = {r.doc_id: r.n_tokens for r in textquality.token_count(base).collect()}
    want = {r.doc_id: len(r.text.split(" ")) for r in base.collect()}
    assert tc == want
    q = textquality.quality_score(base)
    rows = q.collect()
    assert all(0.0 <= r.quality <= 1.0 for r in rows)
    assert all(0.0 < r.distinct_ratio <= 1.0 for r in rows)


def test_fingerprint_deterministic_and_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "c b a")], "doc_id long, text string"
    )
    fps = {r.doc_id: r.fingerprint for r in textquality.fingerprint(df).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_fingerprint_adjacent_swap_changes_hash(spark):
    """Regression: the power-weight vectorization must give every
    position a DISTINCT weight — swapping just the first two tokens (and
    just the last two) must change the fingerprint."""
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "b a c d"), (3, "a b d c")],
        "doc_id long, text string")
    fps = {r.doc_id: r.fingerprint for r in textquality.fingerprint(df).collect()}
    assert fps[1] != fps[2]
    assert fps[1] != fps[3]
    assert fps[2] != fps[3]


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in the house"),
            (2, "der hund und die katze ist nicht ein vogel"),
            (3, "le chat est dans la maison pour les amis"),
            (4, "el perro es una mascota para los amigos"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred_lang for r in textquality.language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es"}


def test_events_sessionize(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    sess = events.sessionize(ev, gap_minutes=30)
    base = ev.count()
    assert sess.agg(F.sum("n_events")).collect()[0][0] == base
    # session bounds are consistent
    bad = sess.filter(F.col("session_end") < F.col("session_start")).count()
    assert bad == 0
    tc = events.tumbling_counts(ev, 60)
    assert tc.agg(F.sum("n")).collect()[0][0] == base
    topk = events.sliding_topk(ev, 60, 2)
    assert topk.groupBy("window_start").count().agg(F.max("count")).collect()[0][0] <= 2


def test_session_cooccurrence_hand_computed(spark):
    from datetime import datetime as DT

    # user 1: one session {a,b,a} -> types {a,b}; a second session {a}
    # (gap > 30 min). user 2: one session {b,c}.  Sessions: S=3,
    # n(a)=2, n(b)=2, n(c)=1; pairs: (a,b)=1, (b,c)=1.
    rows = [
        (0, DT(2024, 1, 1, 10, 0), 1, "a", 0.0, None),
        (1, DT(2024, 1, 1, 10, 5), 1, "b", 0.0, None),
        (2, DT(2024, 1, 1, 10, 6), 1, "a", 0.0, None),
        (3, DT(2024, 1, 1, 12, 0), 1, "a", 0.0, None),
        (4, DT(2024, 1, 1, 9, 0), 2, "b", 0.0, None),
        (5, DT(2024, 1, 1, 9, 1), 2, "c", 0.0, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    got = {(r.type_a, r.type_b): (r.n_sessions, r.lift)
           for r in events.session_cooccurrence(ev, 30).collect()}
    # lift(a,b) = 1·3/(2·2) = 0.75 ; lift(b,c) = 1·3/(2·1) = 1.5
    assert got == {("a", "b"): (1, 0.75), ("b", "c"): (1, 1.5)}
    # min_sessions prunes singleton pairs
    assert events.session_cooccurrence(ev, 30, min_sessions=2).count() == 0
    # widening the gap merges user 1's sessions: S=2, n(a)=1, n(b)=2,
    # n(c)=1 -> both lifts 1·2/(1·2) = 1.0 (independence)
    wide = {(r.type_a, r.type_b): (r.n_sessions, r.lift)
            for r in events.session_cooccurrence(ev, 300).collect()}
    assert wide == {("a", "b"): (1, 1.0), ("b", "c"): (1, 1.0)}
    with pytest.raises(ValueError, match="min_sessions"):
        events.session_cooccurrence(ev, 30, min_sessions=0)


def test_ivf_exact_when_probing_all_cells(spark, emb):
    q = list(emb.collect()[5].embedding)
    cent = similarity.ivf_fit(emb, n_centroids=8, iters=5)
    assigned = similarity.ivf_assign(emb, cent).cache()
    exact = [(r.vec_id, r.cosine)
             for r in similarity.cosine_topk(emb, q, 10).collect()]
    allprobe = [(r.vec_id, r.cosine)
                for r in similarity.ivf_topk(assigned, cent, q, 10,
                                             nprobe=8).collect()]
    assert allprobe == exact


def test_ivf_recall_with_few_probes(spark, emb):
    q = list(emb.collect()[5].embedding)
    cent = similarity.ivf_fit(emb, n_centroids=8, iters=5)
    assigned = similarity.ivf_assign(emb, cent).cache()
    exact = {r.vec_id for r in similarity.cosine_topk(emb, q, 10).collect()}
    ann = {r.vec_id
           for r in similarity.ivf_topk(assigned, cent, q, 10,
                                        nprobe=3).collect()}
    assert len(ann & exact) >= 5
    assert len(ann) <= 10


def test_ivf_fit_deterministic(spark, emb):
    import numpy as np

    c1 = similarity.ivf_fit(emb, n_centroids=4, iters=3)
    c2 = similarity.ivf_fit(emb, n_centroids=4, iters=3)
    assert np.array_equal(c1, c2)
    assert c1.shape == (4, 64)


def _topic_sorted_emb(spark, n_topics=4, per_topic=100, dim=16):
    """Embeddings whose vec_id ORDER correlates perfectly with content:
    ids [t·per_topic, (t+1)·per_topic) all belong to topic t — the
    crawl-ordered-id shape that biases a 'first N rows by id' sketch."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(42)
    centers = rng.standard_normal((n_topics, dim)) * 50.0
    rows = []
    for t in range(n_topics):
        for j in range(per_topic):
            v = centers[t] + rng.normal(0, 0.5, dim)
            rows.append(Row(vec_id=t * per_topic + j,
                            embedding=[float(x) for x in v]))
    return spark.createDataFrame(rows), centers


def test_sketch_sample_unbiased_on_topic_sorted_ids(spark):
    """The round-3 fix: ivf_fit/pq_fit sample by CONTENT HASH of the id,
    not 'first N rows by id' — on a topic-sorted corpus a 100-row sample
    out of 400 must cover every topic (the old cut saw only topic 0),
    and two samples must be identical (determinism contract intact)."""
    import numpy as np

    df, centers = _topic_sorted_emb(spark)
    s1 = [r[0] for r in similarity._sketch_sample(
        df, 100, "vec_id", "embedding", "ivf_fit").collect()]
    x = np.asarray(s1)
    topic = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(2).argmin(1)
    counts = np.bincount(topic, minlength=4)
    assert (counts > 0).all(), counts
    # roughly proportional, not just token presence
    assert (counts >= 10).all(), counts
    s2 = [r[0] for r in similarity._sketch_sample(
        df, 100, "vec_id", "embedding", "ivf_fit").collect()]
    assert s1 == s2


def test_ivf_recall_holds_on_topic_sorted_corpus(spark):
    """End-to-end de-bias check: fit on a 120-row sketch of a 400-row
    topic-sorted table, query a vector from the LAST topic (which a
    first-N-by-id sketch never saw), probe 2 of 8 cells — recall@10 must
    stay high because the hash sketch placed centroids in every topic."""
    import numpy as np

    df, centers = _topic_sorted_emb(spark)
    cent = similarity.ivf_fit(df, n_centroids=8, iters=10, sample=120)
    # at least one fitted centroid lives near EVERY topic center
    for t in range(4):
        d = np.sqrt(((cent - centers[t]) ** 2).sum(axis=1)).min()
        assert d < 25.0, f"no centroid near topic {t} (min dist {d:.1f})"
    assigned = similarity.ivf_assign(df, cent).cache()
    q = list(df.filter(F.col("vec_id") == 399).collect()[0].embedding)
    exact = {r.vec_id for r in similarity.cosine_topk(df, q, 10).collect()}
    ann = {r.vec_id for r in similarity.ivf_topk(assigned, cent, q, 10,
                                                 nprobe=2).collect()}
    assert len(ann & exact) >= 8


def test_embedding_near_dups_finds_planted(spark, emb):
    """Plant jittered copies of 20 vectors; banded-LSH near-dup join must
    recover (nearly) all planted pairs and report only true pairs."""
    import numpy as np
    from pyspark.sql import Row

    base = emb.filter(F.col("vec_id") < 20).collect()
    rng = np.random.default_rng(7)
    dups = [
        Row(vec_id=1000 + r.vec_id,
            embedding=[float(x) for x in
                       np.asarray(r.embedding) + rng.normal(0, 0.01, 64)],
            label=r.label)
        for r in base
    ]
    both = emb.unionByName(spark.createDataFrame(dups, emb.schema))
    pairs = similarity.embedding_near_dups(both, threshold=0.9).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    planted = {(r.vec_id, 1000 + r.vec_id) for r in base}
    assert len(found & planted) >= 18  # ≥90% recall on planted dups
    # precision: every reported pair really is above threshold
    assert all(p.cosine >= 0.9 for p in pairs)


def test_embedding_near_dups_empty_on_distinct(spark, emb):
    # natural max pairwise cosine in this table is ~0.48
    assert similarity.embedding_near_dups(emb, threshold=0.9).count() == 0


def test_embedding_near_dups_band_join_ships_ids_only(spark, emb):
    """Scale guard: the exploded band frame is (id, table, bucket) only —
    vectors re-join AFTER cross-table candidate dedup, so band-shuffle
    bytes are independent of n_tables × dim (previously each doc's vector
    was duplicated n_tables times through the band join)."""
    df = similarity.embedding_near_dups(emb, threshold=0.9)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    txt = df._jdf.queryExecution().explainString(mode)
    gen_blocks = [b for b in txt.split("\n\n")
                  if b.lstrip().startswith("(")
                  and ") Generate" in b.splitlines()[0]]
    assert gen_blocks, "posexplode band generation missing from plan"
    for b in gen_blocks:
        assert "embedding" not in b, (
            "band explode carries the vector column:\n" + b)


def test_simhash_band_guarantee_adversarial(spark):
    """Pigeonhole guarantee: a pair at EXACTLY max_hamming distance with
    the flipped bits spread to defeat a fixed-4-band scheme (one flip in
    each 16-bit quarter, twice) must still be found."""
    base = 0x0123456789ABCDEF
    flips = [0, 16, 32, 48, 8, 24, 40, 56]  # 8 flips, 2 per 16-bit band
    other = base
    for b in flips:
        other ^= 1 << b
    h = spark.createDataFrame([(1, base), (2, other)],
                              "doc_id long, simhash long")
    out = dedup.simhash_pairs(h, max_hamming=8).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in out] == [(1, 2, 8)]
    # one flip beyond the bound → excluded by the exact verify
    h2 = spark.createDataFrame([(1, base), (2, other ^ (1 << 60))],
                               "doc_id long, simhash long")
    assert dedup.simhash_pairs(h2, max_hamming=8).count() == 0


def test_sessionize_fractional_gap_boundary(spark):
    """Gap test is exact microseconds: 1800.8s splits, 1799.9s merges —
    flooring to whole seconds would wrongly merge the first pair."""
    import datetime as dt

    base = dt.datetime(2022, 1, 1)
    rows = [
        (1, 1, "c", 1.0, base),
        (1, 2, "c", 1.0, base + dt.timedelta(seconds=1800, milliseconds=800)),
        (2, 3, "c", 1.0, base),
        (2, 4, "c", 1.0, base + dt.timedelta(seconds=1799, milliseconds=900)),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, "
              "value double, ts timestamp")
    out = {(r.user_id, r.session_id) for r in
           events.sessionize(df, 30).collect()}
    assert {(1, 1), (1, 2)} <= out          # 1800.8 > 1800 → split
    assert {t for t in out if t[0] == 2} == {(2, 1)}  # 1799.9 → merged


def test_token_count_whitespace_and_empty(spark):
    """Real-web whitespace: newlines/tabs/multi-space split correctly;
    empty and NULL text count ZERO tokens (not one empty string)."""
    df = spark.createDataFrame(
        [(1, "line one.\nline two"), (2, "a  b\tc"), (3, ""), (4, None),
         (5, "plain words here")],
        "doc_id long, text string")
    got = {r.doc_id: r.n_tokens for r in textquality.token_count(df).collect()}
    assert got == {1: 4, 2: 3, 3: 0, 4: 0, 5: 3}
    q = {r.doc_id: r for r in textquality.quality_score(df).collect()}
    assert q[3].quality == 0.0 and q[4].quality == 0.0  # no null credit
    assert q[2].mean_token_len == pytest.approx(1.0)
    # full stopword list: 'the'/'of' etc. count as function words
    df2 = spark.createDataFrame(
        [(9, "this is the story of my life over these years")],
        "doc_id long, text string")
    r9 = textquality.quality_score(df2).collect()[0]
    assert r9.stopword_ratio > 0


def test_curation_pipeline_funnel_and_survivors(spark):
    """Planted corpus: each stage removes exactly the planted junk, the
    funnel records the shrinking row counts, and the survivors are the
    min-id representatives of the good docs."""
    from search_engine_spark.operators import curation

    good = ("the market price growth report is strong and the outlook "
            "for the economy is good with many new trade deals in play")
    near = good.replace("strong", "solid")  # high-Jaccard near-dup
    rows = [
        (1, good),                     # keeper (en, long enough)
        (2, good),                     # exact dup of 1 → dropped
        (3, near),                     # near-dup of 1 → dropped @0.5
        (4, "the short text is here"),  # en, but < min_tokens → dropped
        (5, "der markt und die preise sind nicht gut und das ist "
            "ein problem für die wirtschaft und die zukunft von allen "
            "menschen in dem land und der welt heute"),  # de → dropped
        (6, "an entirely different document about cooking pasta with "
            "tomatoes garlic and olive oil for a family dinner tonight "
            "which should definitely survive the whole pipeline"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cur, funnel = curation.curate(
        docs, languages=("en",), min_quality=0.2, min_tokens=10,
        max_tokens=1000, minhash_threshold=0.5)
    got = sorted(r.doc_id for r in cur.collect())
    assert got == [1, 6]
    stages = {f["stage"]: f["rows"] for f in funnel}
    assert stages["input"] == 6
    assert stages["language"] == 5     # de doc gone
    assert stages["quality"] == 4      # short doc gone
    assert stages["exact_dedup"] == 3  # exact dup gone
    assert stages["near_dedup"] == 2   # near dup gone


def test_curation_classifier_stage(spark):
    """classifier_weights enables the learned filter after the rule-based
    quality stage: survivors == a manual classifier_scores filter on the
    same frame, the funnel records the stage, and omitting the param
    leaves the pipeline byte-identical to before (default off)."""
    from search_engine_spark.operators import classifier, curation, textquality

    rows = []
    for i in range(1, 21):
        # 150 long unique tokens + a stopword → high distinct ratio,
        # enough length that σ(w·x) clears 0.5 at the pinned weights
        uniq = "the " + " ".join(f"wordy{i}x{j}q" for j in range(150))
        rows.append((i, uniq))
    rows.append((21, " ".join(["buy now"] * 20)))  # repetitive → low prob
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    w = [-6.0, 0.8, 2.0, 1.5, 0.5]

    cur, funnel = curation.curate(
        docs, languages=None, min_quality=0.0, min_tokens=1,
        classifier_weights=w, min_clf_prob=0.5, minhash_threshold=None)
    got = sorted(r.doc_id for r in cur.collect())

    feats = classifier.doc_features(textquality.quality_score(docs))
    probs = {r.doc_id: r.prob
             for r in classifier.classifier_scores(feats, w).collect()}
    want = sorted(d for d, p in probs.items() if p >= 0.5)
    assert got == want and 21 not in got and len(got) >= 1
    stages = [f["stage"] for f in funnel]
    assert "quality_clf" in stages and stages.index("quality_clf") \
        == stages.index("quality") + 1

    off, funnel_off = curation.curate(
        docs, languages=None, min_quality=0.0, min_tokens=1,
        minhash_threshold=None)
    assert sorted(r.doc_id for r in off.collect()) == list(range(1, 22))
    assert "quality_clf" not in [f["stage"] for f in funnel_off]


def test_curation_lineage_partitions_and_agrees_with_funnel(spark):
    """curate_with_lineage: every input doc appears EXACTLY once in the
    lineage, per-stage kill counts equal consecutive funnel deltas, the
    'survived' set equals the curated frame, and operator-internal
    droppers (minhash, decontaminate) are attributed too."""
    from search_engine_spark.operators import curation

    good = ("the market price growth report is strong and the outlook "
            "for the economy is good with many new trade deals in play")
    rows = [
        (1, good),
        (2, good),                              # exact dup
        (3, good.replace("strong", "solid")),   # near dup @0.5
        (4, "the short text is here"),          # quality (min_tokens)
        (5, "der markt und die preise sind nicht gut und das ist ein "
            "problem für die wirtschaft und die zukunft von allen "
            "menschen in dem land und der welt heute"),  # language
        (6, "an entirely different document about cooking pasta with "
            "tomatoes garlic and olive oil for a family dinner tonight "
            "which should definitely survive the whole pipeline"),
        (7, "leaky benchmark text that is long enough to pass the "
            "quality gate while sharing a verbatim thirteen gram with "
            "the eval set used for decontamination checks today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eval_docs = spark.createDataFrame(
        [(1, "sharing a verbatim thirteen gram with the eval set used "
             "for decontamination checks today")],
        "doc_id long, text string")
    cur, funnel, lineage = curation.curate_with_lineage(
        docs, languages=("en",), min_quality=0.2, min_tokens=10,
        max_tokens=1000, minhash_threshold=0.5, eval_docs=eval_docs,
        decontam_n=13)
    lab = {r.doc_id: r.killed_by for r in lineage.collect()}
    assert lab == {
        1: "survived", 2: "exact_dedup", 3: "near_dedup", 4: "quality",
        5: "language", 6: "survived", 7: "decontaminate",
    }
    assert sorted(r.doc_id for r in cur.collect()) \
        == sorted(d for d, s in lab.items() if s == "survived")
    # per-stage kill counts == funnel deltas
    from collections import Counter
    kills = Counter(v for v in lab.values() if v != "survived")
    for prev, nxt in zip(funnel, funnel[1:]):
        assert kills.get(nxt["stage"], 0) == prev["rows"] - nxt["rows"]


def test_curation_repeat_calls_bound_persisted_frames(spark):
    """A parameter sweep calling curate() in a loop must hold at most
    ONE corpus-sized persisted frame: each call releases the previous
    call's retained final stage. Results stay correct after release
    (unpersisted frames recompute from lineage)."""
    from search_engine_spark.operators import curation
    from search_engine_spark.sources.corpus import read_documents

    curation.release_caches()
    docs = read_documents(spark, "/root/testdata/sf0.001")
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    frames = []
    for q in (0.2, 0.4, 0.6, 0.8):
        # minhash on: its candidate-pair cache must also stay bounded
        cur, _ = curation.curate(docs, min_quality=q, min_tokens=10,
                                 max_tokens=1000, minhash_threshold=0.7)
        frames.append(cur)
    # at most the LAST call's final stage + its minhash candidate cache
    assert jsc.getPersistentRDDs().size() - base <= 2
    # earlier (now-unpersisted) frames still answer correctly
    assert frames[0].count() >= frames[-1].count()
    curation.release_caches()
    assert jsc.getPersistentRDDs().size() <= base


def test_curation_never_unpersists_callers_frame(spark):
    """curate() must not persist/unpersist the CALLER's input frame:
    unpersisting it would silently destroy a cache the caller manages
    on that object."""
    from search_engine_spark.operators import curation
    from search_engine_spark.sources.corpus import read_documents

    docs = read_documents(spark, "/root/testdata/sf0.001").persist()
    try:
        docs.count()  # materialize the caller's cache
        cur, funnel = curation.curate(docs, min_quality=0.2, min_tokens=5,
                                      max_tokens=10_000)
        assert funnel[0]["stage"] == "input"
        assert cur.count() > 0
        assert docs.storageLevel.useMemory  # caller's cache untouched
    finally:
        docs.unpersist()
        curation.release_caches()


def test_curation_lazy_variant_matches(spark):
    """collect_funnel=False (the contract/one-action variant) returns the
    same survivors as the funnel-counting variant."""
    from search_engine_spark.operators import curation
    from search_engine_spark.sources.corpus import read_documents

    docs = read_documents(spark, "/root/testdata/sf0.001")
    a, funnel = curation.curate(docs, min_quality=0.5, min_tokens=20,
                                max_tokens=1000)
    b, empty = curation.curate(docs, min_quality=0.5, min_tokens=20,
                               max_tokens=1000, collect_funnel=False)
    assert empty == []
    assert ({r.doc_id for r in a.collect()}
            == {r.doc_id for r in b.collect()})
    assert funnel[0]["rows"] >= funnel[-1]["rows"]


# ---------------------------------------------------------------------------
# Product quantization (similarity.pq_fit/pq_assign/pq_topk)
# ---------------------------------------------------------------------------

def test_pq_fit_deterministic_and_shaped(spark, emb):
    b1 = similarity.pq_fit(emb, m=8, ksub=16, iters=3)
    b2 = similarity.pq_fit(emb, m=8, ksub=16, iters=3)
    assert np.array_equal(b1, b2)
    assert b1.shape == (8, 16, 8)


def test_pq_assign_codes(spark, emb):
    books = similarity.pq_fit(emb, m=8, ksub=16, iters=3)
    coded = similarity.pq_assign(emb, books)
    rows = coded.select("code").limit(50).collect()
    assert all(len(r.code) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.code)


def test_pq_adc_exact_on_representable(spark):
    """When every subvector is one of <= ksub distinct values all present
    in the first sample rows, k-means converges to those exact values, the
    reconstruction is lossless, and ADC == exact cosine — gating the LUT
    arithmetic (dot + norm tables, element_at indexing) end-to-end."""
    import itertools

    from pyspark.sql import Row

    opts = [[1.0, 2.0], [3.0, -1.0], [0.5, 4.0], [-2.0, 1.5], [2.5, 0.5]]
    rows = []
    for i, picks in enumerate(itertools.product(range(5), repeat=2)):
        # dim=8, m=4: subspaces j=0,2 cycle options by i, j=1,3 by picks
        v = (opts[i % 5] + opts[picks[0]] + opts[(i * 2 + 1) % 5]
             + opts[picks[1]])
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(rows)
    books = similarity.pq_fit(df, m=4, ksub=16, iters=4, vec_col="embedding")
    coded = similarity.pq_assign(df, books)
    q = [float(x) for x in rows[7].embedding]
    adc = [(r.vec_id, r.cosine)
           for r in similarity.pq_topk(coded, books, q, k=10).collect()]
    exact = [(r.vec_id, r.cosine)
             for r in similarity.cosine_topk(df, q, 10).collect()]
    assert [d for d, _ in adc] == [d for d, _ in exact]
    for (_, a), (_, b) in zip(adc, exact):
        assert a == pytest.approx(b, abs=1e-5)


def test_pq_refine_full_is_exact(spark, emb):
    """refine >= table size must degenerate to brute force regardless of
    codebook quality (the driver-gate identity)."""
    books = similarity.pq_fit(emb, m=8, ksub=16, iters=3)
    coded = similarity.pq_assign(emb, books).cache()
    q = list(emb.collect()[9].embedding)
    got = [(r.vec_id, r.cosine)
           for r in similarity.pq_topk(coded, books, q, 10,
                                       refine=coded.count()).collect()]
    want = [(r.vec_id, r.cosine)
            for r in similarity.cosine_topk(emb, q, 10).collect()]
    assert got == want


def test_pq_adc_recall_and_refine_recovery(spark, emb):
    """This table is near-uniform random 64-dim — the hardest case for PQ
    (all pairwise cosines cluster in a narrow band, so quantization noise
    is comparable to the gaps between ranks). Raw ADC still lands several
    of the true top-10; a small exact refine recovers all of them —
    measured 4-7/10 ADC and 10/10 refined across query vectors 2/5/9/42/
    123 at m=16, ksub=32."""
    books = similarity.pq_fit(emb, m=16, ksub=32, iters=5)
    coded = similarity.pq_assign(emb, books).cache()
    q = list(emb.collect()[9].embedding)
    exact = {r.vec_id for r in similarity.cosine_topk(emb, q, 10).collect()}
    adc = {r.vec_id for r in similarity.pq_topk(coded, books, q, 10).collect()}
    assert len(adc & exact) >= 3
    refined = {r.vec_id
               for r in similarity.pq_topk(coded, books, q, 10,
                                           refine=100).collect()}
    assert len(refined & exact) >= 9


def test_pq_adc_scan_is_jvm_only(spark, emb, tmp_path):
    """Scale guard: once codes are materialized, the ADC scoring scan is
    pure JVM (literal LUTs + element_at aggregate) with a single
    TakeOrderedAndProject — no Arrow/Python eval in the serving path."""
    books = similarity.pq_fit(emb, m=8, ksub=16, iters=3)
    out = str(tmp_path / "coded")
    similarity.pq_assign(emb, books).drop("embedding").write.parquet(out)
    coded = spark.read.parquet(out)
    q = list(emb.collect()[2].embedding)
    df = similarity.pq_topk(coded, books, q, 10)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    txt = df._jdf.queryExecution().explainString(mode)
    assert "EvalPython" not in txt  # no BatchEvalPython / ArrowEvalPython
    assert "TakeOrderedAndProject" in txt


# ---------------------------------------------------------------------------
# Semantic dedup (similarity.semantic_dedup)
# ---------------------------------------------------------------------------

def test_semantic_dedup_single_cell_is_exact(spark, emb):
    """n_centroids=1 must equal the brute-force rule: drop iff a lower-id
    vector sits at cosine >= threshold (derived here from the exact pair
    join — the same identity the driver gate pins in SQL)."""
    pairs = similarity.embedding_pairs_exact(emb, threshold=0.4).collect()
    dropped = {p.id_b for p in pairs}
    want = {r.vec_id for r in emb.collect()} - dropped
    got = {r.vec_id
           for r in similarity.semantic_dedup(emb, threshold=0.4,
                                              n_centroids=1).collect()}
    assert got == want
    assert 0 < len(got) < emb.count()  # the threshold actually bites


def test_semantic_dedup_clustered_drops_planted(spark, emb):
    """Jittered copies of 20 vectors land in the original's cell nearly
    always (cosine ~1 → same nearest centroid unless the pair straddles a
    boundary); the clustered path must drop almost all of them and never
    drop an id with no >=threshold neighbor."""
    rng = np.random.default_rng(11)
    base = emb.filter(F.col("vec_id") < 20).collect()
    from pyspark.sql import Row
    dups = [Row(vec_id=3000 + r.vec_id,
                embedding=[float(x) for x in
                           np.asarray(r.embedding) + rng.normal(0, 0.005, 64)],
                label=r.label)
            for r in base]
    both = emb.unionByName(spark.createDataFrame(dups, emb.schema))
    survivors = {r.vec_id
                 for r in similarity.semantic_dedup(both, threshold=0.9,
                                                    n_centroids=8).collect()}
    planted_dropped = sum(1 for r in base if 3000 + r.vec_id not in survivors)
    assert planted_dropped >= 18      # ≥90% of planted copies pruned
    assert all(r.vec_id in survivors for r in base)  # originals kept
    # no organic pair in this table reaches 0.9 — nothing else dropped
    assert len(survivors) >= emb.count()


def test_bigram_logprob_hand_computed(spark):
    """λ=0.8 interpolated bigram bits, hand-derived: corpus tokens
    a×5 b×3 c×1 x×1 (N=10); bigrams 'a b'×2,'b a','a a','b c','c a';
    histories a=3, b=2, c=1."""
    rows = [(1, "a b a b"), (2, "a a"), (3, "x"), (4, None), (5, "b c a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.bits_per_token)
           for r in textquality.bigram_logprob(df, lam=0.8).collect()}

    def p(cb, ch, cf):
        return 0.8 * cb / ch + 0.2 * cf / 10

    d1 = [p(2, 3, 3), p(1, 2, 5), p(2, 3, 3)]       # a b, b a, a b
    d2 = [p(1, 3, 5)]                                # a a
    d5 = [p(1, 2, 1), p(1, 1, 5)]                    # b c, c a
    want = {
        1: (3, round(float(np.mean([-math.log2(x) for x in d1])), 6)),
        2: (1, round(-math.log2(d2[0]), 6)),
        3: (0, 0.0),
        4: (0, 0.0),
        5: (2, round(float(np.mean([-math.log2(x) for x in d5])), 6)),
    }
    assert got == want


def test_bigram_logprob_signal_shape(spark, docs):
    """Pins what a SELF-trained bigram LM separates (docstring contract):
    boilerplate ≈ 0 bits; rare continuations of a COMMON history are
    expensive; hapax soup is CHEAP here (singleton histories look
    deterministic) but explodes under unigram_logprob — the pair is the
    filter."""
    from pyspark.sql import Row

    # find a genuinely common token to use as the shared history
    head_tok = (docs.select(F.explode(F.split(F.lower("text"), r"\s+"))
                            .alias("t"))
                .groupBy("t").count().orderBy(F.desc("count"))
                .first().t)
    extra = [
        Row(doc_id=900001, text=("click here subscribe now " * 30).strip(),
            lang="en", source="x", n_chars=1),
        Row(doc_id=900002,
            text=" ".join(f"{head_tok} qznovel{i}" for i in range(40)),
            lang="en", source="x", n_chars=1),
        Row(doc_id=900003,
            text=" ".join(f"qz{i}visoup{i * 7}" for i in range(60)),
            lang="en", source="x", n_chars=1),
    ]
    both = docs.unionByName(spark.createDataFrame(extra, docs.schema))
    bg = {r.doc_id: r.bits_per_token
          for r in textquality.bigram_logprob(both).collect()
          if r.doc_id >= 900001}
    un = {r.doc_id: r.bits_per_token
          for r in textquality.unigram_logprob(both).collect()
          if r.doc_id >= 900001}
    assert bg[900001] < 2.0                    # boilerplate: cheap bigrams
    assert bg[900002] > bg[900001] + 3.0       # common-history novelty: dear
    assert bg[900003] < 4.0                    # hapax soup: self-LM blind...
    assert un[900003] > un[900001] + 3.0       # ...but unigram catches it


# ---------------------------------------------------------------------------
# Winnowing fingerprints (dedup.winnow_fingerprints / winnow_overlap_pairs)
# ---------------------------------------------------------------------------

def test_winnowing_guarantee_on_shared_passage(spark):
    """The MOSS selection guarantee: two docs sharing a token run of
    length >= w+k-1 (= 8 at k=5,w=4) MUST share a fingerprint, however
    the surrounding text differs."""
    passage = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, "intro words before anything " + passage + " closing remarks"),
        (2, "completely different framing text " + passage + " and more"),
        (3, "no overlap here at all just unrelated filler tokens running"),
    ]
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b): r.shared
             for r in dedup.winnow_overlap_pairs(docs_df,
                                                 min_shared=1).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_winnowing_no_false_pairs_on_distinct_text(spark):
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(30))) for i in range(6)]
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.winnow_overlap_pairs(docs_df, min_shared=1).count() == 0


def test_winnowing_short_docs_yield_nothing(spark):
    rows = [(1, "only seven tokens here not quite enough"),  # 7 < k+w-1
            (2, None), (3, "")]
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.winnow_fingerprints(docs_df).count() == 0


def test_winnowing_max_df_drops_boilerplate(spark):
    """A passage present in EVERY doc is boilerplate: with max_df below
    the doc count its fingerprints are dropped and no pairs emerge; with
    a permissive max_df the clique appears."""
    boiler = "all rights reserved contact us terms of service apply here"
    rows = [(i, f"unique lead {i} tokens q{i}z " + boiler) for i in range(8)]
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    strict = dedup.winnow_overlap_pairs(docs_df, min_shared=1, max_df=4)
    # boundary windows (unique prefix meets boilerplate) legitimately
    # select the boilerplate min only in the subset of docs whose unique
    # boundary hash is larger — a few low-df fps survive; the full
    # 28-pair boilerplate clique must NOT
    assert strict.count() <= 6
    loose = dedup.winnow_overlap_pairs(docs_df, min_shared=1, max_df=50)
    assert loose.count() == 8 * 7 // 2


def test_winnowing_unicode_whitespace_is_not_a_separator(spark):
    """\\s is pinned to re.ASCII (decontam contract, round-4 ADVICE fix):
    NBSP-joined tokens form ONE token, exactly as RE2/DuckDB's ASCII \\s+
    splits them in the driver oracle — the engine must agree."""
    import hashlib as _hl
    import re as _re

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs_df = spark.createDataFrame([(1, base)], "doc_id long, text string")
    got = sorted(r.fp for r in
                 dedup.winnow_fingerprints(docs_df, k=5, w=4).collect())
    toks = [x for x in _re.compile(r"\s+", _re.ASCII).split(base.lower()) if x]
    assert "beta gamma" in toks  # NBSP did NOT split
    hs = [_hl.md5(" ".join(toks[i:i + 5]).encode()).hexdigest()[:16]
          for i in range(len(toks) - 4)]
    want = sorted({min(hs[j:j + 4]) for j in range(len(hs) - 3)})
    assert got == want


def test_curation_winnow_and_bigram_stages(spark):
    """The round-3 stages: winnow_min_shared drops a doc quoting a long
    passage from a lower-id doc (whole-doc Jaccard would miss it), and
    max_bigram_bits drops prose wandering into rare continuations of a
    common history while keeping normal text."""
    from search_engine_spark.operators import curation

    passage = ("the market price growth report is strong and the outlook "
               "for the economy is good with many new trade deals")
    filler = " ".join(f"unrelated filler about topic {w} today"
                      for w in ("alpha", "beta", "gamma"))
    rows = [
        (1, passage + " plus original analysis following the report"),
        # quotes the full passage inside OTHERWISE different text:
        (2, filler + " " + passage + " with commentary appended here"),
        (3, "a normal document about cooking pasta with tomatoes garlic "
            "and olive oil for a family dinner tonight at home"),
    ]
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    cur, funnel = curation.curate(
        docs_df, languages=None, min_tokens=1,
        winnow_min_shared=2, collect_funnel=True)
    assert sorted(r.doc_id for r in cur.collect()) == [1, 3]
    assert {f["stage"] for f in funnel} >= {"winnow_dedup"}

    # bigram filter: doc with common-history rare continuations dies
    head = "the"
    rows2 = [
        (1, " ".join(f"{head} market report" for _ in range(10))),
        (2, " ".join(f"{head} qznovel{i}" for i in range(30))),
    ]
    d2 = spark.createDataFrame(rows2, "doc_id long, text string")
    cur2, funnel2 = curation.curate(
        d2, languages=None, min_tokens=1, max_bigram_bits=2.0)
    assert [r.doc_id for r in cur2.collect()] == [1]
    assert any(f["stage"] == "bigram_lm_quality" for f in funnel2)
    curation.release_caches()


def test_strip_dup_spans_planted(spark):
    """ExactSubstr-style span removal: a w-token window occurring 2+
    times corpus-wide (cross-doc OR within one doc) strips ALL its
    occurrences; unique text, short docs, and empty docs pass through
    (with tokenizer-canonical single-space rebuild); the doc set is
    preserved — a fully-duplicated doc comes back empty, not dropped."""
    from search_engine_spark.operators.dedup import strip_dup_spans

    shared = "alpha bravo charlie delta echo"          # 5 tokens == w
    rows = [
        (1, f"intro one two {shared} outro aaa bbb"),
        (2, f"different lead-in {shared} and a different tail here"),
        # within-doc repeat: the phrase occurs twice in ONE doc
        (3, f"xx {shared} middle filler words {shared} yy"),
        (4, "completely unique text with  weird   spacing inside"),
        (5, "short doc"),                               # < w tokens
        (6, ""),                                        # empty
        (7, shared),                                    # fully duplicated
    ]
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           strip_dup_spans(docs_df, w=5, min_count=2).collect()}

    assert set(out) == {1, 2, 3, 4, 5, 6, 7}
    # the shared 5-gram is gone everywhere, the rest survives in order
    assert out[1].text == "intro one two outro aaa bbb"
    assert out[1].n_tokens_dropped == 5
    assert out[2].text == "different lead-in and a different tail here"
    assert out[2].n_tokens_dropped == 5
    assert out[3].text == "xx middle filler words yy"
    assert out[3].n_tokens_dropped == 10
    # unique doc: untouched content, whitespace canonicalized
    assert out[4].text == "completely unique text with weird spacing inside"
    assert out[4].n_tokens_dropped == 0
    assert out[5].text == "short doc" and out[5].n_tokens_dropped == 0
    assert out[6].text == "" and out[6].n_tokens_dropped == 0
    assert out[7].text == "" and out[7].n_tokens_dropped == 5


def test_strip_dup_spans_overlapping_marks_merge(spark):
    """Overlapping duplicated windows mark a single merged span: a
    shared run of w+2 tokens yields 3 duplicated w-windows whose union
    covers exactly w+2 tokens — the running-max cover must not
    double-count or leave gaps, and tokens NEXT TO the run survive."""
    from search_engine_spark.operators.dedup import strip_dup_spans

    run = "t1 t2 t3 t4 t5 t6 t7"                        # 7 tokens, w=5
    rows = [(1, f"keepA {run} keepB"), (2, f"pre {run} post")]
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           strip_dup_spans(docs_df, w=5, min_count=2).collect()}
    assert out[1].text == "keepA keepB" and out[1].n_tokens_dropped == 7
    assert out[2].text == "pre post" and out[2].n_tokens_dropped == 7


def test_crawl_diff_statuses_and_summary(spark):
    from search_engine_spark.operators import crawldiff

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone"), (5, None)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh"), (5, "")],
        "doc_id long, text string")
    got = {r.doc_id: r.status
           for r in crawldiff.crawl_diff(old, new).collect()}
    # NULL text digests as '' → doc 5 is unchanged, not NULL-poisoned
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added", 5: "unchanged"}
    summ = {r.status: r.n for r in
            crawldiff.diff_summary(crawldiff.crawl_diff(old, new)).collect()}
    assert summ == {"unchanged": 2, "changed": 1, "removed": 1, "added": 1}
    with pytest.raises(ValueError, match="key column"):
        crawldiff.crawl_diff(old.drop("doc_id"), new)
    with pytest.raises(ValueError, match="text column"):
        crawldiff.crawl_diff(old, new, text_col="body")


def test_mmr_diversity_hand_computed(spark):
    # q = e1; doc 1 is close to q but not ON it (else the redundancy
    # penalty would exactly cancel relevance for every later pick),
    # doc 2 near-duplicates doc 1, doc 3 is diverse.
    rows = [
        (1, [0.9, 0.1, 0.0]),        # rel .994
        (2, [0.89, 0.12, 0.0]),      # rel .991, near-dup of 1
        (3, [0.6, -0.6, 0.0]),       # rel .707, diverse
        (4, [0.0, 1.0, 0.0]),        # rel 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 0.0, 0.0]
    # pure relevance: order by cosine
    lam1 = [r.vec_id for r in similarity.mmr_rerank(
        emb, q, k=3, lam=1.0, fetch_k=4).collect()]
    assert lam1 == [1, 2, 3]
    # balanced: the near-duplicate of the first pick is demoted below
    # the diverse doc 3
    lam5 = [r.vec_id for r in similarity.mmr_rerank(
        emb, q, k=3, lam=0.5, fetch_k=4).collect()]
    assert lam5 == [1, 3, 2]
    # rank column is 1..k and scores are monotone in selection order
    out = similarity.mmr_rerank(emb, q, k=3, lam=0.5, fetch_k=4).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    # validation
    with pytest.raises(ValueError, match="lam"):
        similarity.mmr_rerank(emb, q, k=2, lam=1.5)
    with pytest.raises(ValueError, match="fetch_k"):
        similarity.mmr_rerank(emb, q, k=5, fetch_k=3)
    # empty input -> empty typed frame
    assert similarity.mmr_rerank(
        spark.createDataFrame([], "vec_id long, embedding array<double>"),
        q, k=3).count() == 0
