"""DSIR-style importance resampling (Xie et al. 2023, "Data Selection
for Language Models via Importance Resampling" — public): select raw
web documents whose hashed n-gram feature distribution looks like a
TARGET corpus, the standard pretraining-data selection step between
quality filtering and tokenization.

Method (the paper's hashed-n-gram instantiation):

1. FEATURES — unigram + bigram counts hashed into ``dim`` buckets
   (``hashed_ngram_tf``; the hashing trick, no vocabulary state).
2. FIT — smoothed bucket distributions p̂_target and p̂_raw: one
   groupBy(bucket) aggregate each, collecting ≤ dim numbers to the
   driver (the "bag of hashed n-grams" language models).
3. WEIGH — per-doc log importance weight
   log w(x) = Σ_b count_b(x) · (ln p̂_t[b] − ln p̂_r[b]): the
   log-ratio vector joins the sparse feature rows as a BROADCAST
   (bucket, lw) table, then one map-side-combined sum per doc —
   never a dim-wide literal plan, never Python.
4. RESAMPLE — Gumbel-top-k: key = log w + g where
   g = −ln(−ln(u)) with u a DETERMINISTIC content-hash uniform
   (md5-derived, the repo's no-RNG rule) — equivalent to sampling k
   docs without replacement ∝ w (the Gumbel-max trick, public), but
   exactly reproducible cross-engine and across reruns.
   ``gumbel=False`` degenerates to hard top-k by weight.

Scale shape: the corpus is touched by exactly TWO passes (feature agg,
weight agg) plus one TakeOrderedAndProject for the cut; the fits and
the log-ratio table are O(dim) driver/broadcast state. Keys and
weights are display-rounded to 6 dp BEFORE the cut (the argmax-gate
rule) so the selection cannot wobble on float-sum combine order — the
driver gate replays every step in DuckDB.

The reference engine has no data-selection tooling; this is a
first-class LLM-pipeline operator per the task brief, next to
curation/decontam/sampling.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import PersistRegistry
from .sampling import hash_bucket

_PERSISTED = PersistRegistry()


def release_caches() -> None:
    """Unpersist the raw-feature frame retained by the last
    dsir_select call (the dedup/curation module idiom)."""
    _PERSISTED.drain()

#: feature-hash salt: keeps the DSIR bucket stream independent of the
#: split/sample/mixture/HashingTF streams (see sampling.hash_bucket)
SALT = "dsir:"
#: Gumbel-uniform salt (separate stream from the bucket hash)
GUMBEL_SALT = "dsirg:"

#: default feature width — the paper uses 10k hashed buckets
DEFAULT_DIM = 10_000
#: Laplace smoothing mass per bucket when fitting p̂
DEFAULT_ALPHA = 1e-4
#: bound on the feature width: each fit collects ``dim`` numbers to the
#: driver and the log-ratio table broadcasts ``dim`` rows, built from a
#: driver-side list. 262144 (≈2 MB of doubles per vector, 26× the
#: paper's 10k) keeps both cheap; the clustering.MAX_CENTROID_LITERALS
#: idiom.
MAX_DIM = 262_144


def _check_dim(dim: int) -> None:
    if not 1 <= dim <= MAX_DIM:
        raise ValueError(
            f"dim must be in [1, {MAX_DIM}] (MAX_DIM: the fits collect "
            f"and broadcast dim numbers through the driver): {dim}")


def _token_list(text_col: str):
    toks = F.split(F.col(text_col), r"\s+")
    return F.filter(toks, lambda x: x != "")


def hashed_ngram_tf(docs: DataFrame, dim: int = DEFAULT_DIM,
                    text_col: str = "text",
                    bigrams: bool = True) -> DataFrame:
    """→ (doc_id, bucket, tf): sparse hashed unigram(+bigram) counts.

    Tokenization is the corpus convention shared with decontam /
    vectorize (ASCII-whitespace split, empties dropped, raw surface —
    no folding); bigrams are adjacent-token pairs joined by one space,
    hashed through the same salted stream. One explode + ONE
    map-side-combined aggregate; all JVM."""
    _check_dim(dim)
    l = _token_list(text_col)
    grams = l
    if bigrams:
        pairs = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(l) - 1, F.lit(0))),
            lambda i: F.concat(F.element_at(l, i), F.lit(" "),
                               F.element_at(l, i + 1)),
        )
        grams = F.concat(l, F.when(F.size(l) >= 2, pairs)
                         .otherwise(F.array()))
    toks = docs.select("doc_id", F.explode(grams).alias("term"))
    bucket = hash_bucket(F.col("term"), SALT, dim)
    return (toks.groupBy("doc_id", bucket.alias("bucket"))
            .agg(F.count("*").alias("tf")))


def fit_bucket_logprobs(feats: DataFrame, dim: int,
                        alpha: float = DEFAULT_ALPHA) -> list[float]:
    """Smoothed log bucket probabilities of a hashed-feature frame:
    ln((count_b + α) / (total + α·dim)) for EVERY bucket in [0, dim) —
    one aggregate, ≤ dim numbers to the driver. α > 0 keeps unseen
    buckets finite (the importance ratio needs both distributions
    supported everywhere)."""
    _check_dim(dim)
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0: {alpha}")
    rows = feats.groupBy("bucket").agg(F.sum("tf").alias("c")).collect()
    counts = [0] * dim
    total = 0
    for r in rows:
        if not 0 <= r["bucket"] < dim:
            # a bare IndexError here would hide the real mistake: the
            # features were hashed at a different dim than the fit's
            raise ValueError(
                f"feature bucket {r['bucket']} is outside [0, {dim}) — "
                "fit with the SAME dim the features were hashed at "
                "(hashed_ngram_tf(dim=...) and fit_bucket_logprobs(dim) "
                "must agree; dsir_select keeps them consistent)")
        counts[r["bucket"]] = int(r["c"])
        total += int(r["c"])
    denom = math.log(total + alpha * dim)
    return [math.log(counts[b] + alpha) - denom for b in range(dim)]


def importance_weights(feats: DataFrame, log_target: list[float],
                       log_raw: list[float]) -> DataFrame:
    """→ (doc_id, logw): per-doc log importance weight, rounded to 6 dp
    (the cross-engine display-rounding contract). The log-ratio vector
    rides as a broadcast (bucket, lw) table — O(dim) bytes — joined
    onto the sparse feature rows; ONE aggregate per corpus.

    The feature frame MUST be hashed at dim == len(log_target): a
    narrower table would silently drop every higher bucket through the
    inner join (``dsir_select`` keeps the three widths consistent;
    ``fit_bucket_logprobs`` rejects out-of-range buckets when you wire
    the pieces manually)."""
    if len(log_target) != len(log_raw):
        raise ValueError(
            f"distribution widths differ: {len(log_target)} vs "
            f"{len(log_raw)} (fit both with the same dim)")
    _check_dim(len(log_target))
    spark = feats.sparkSession
    lw = spark.createDataFrame(
        [(b, float(lt - lr))
         for b, (lt, lr) in enumerate(zip(log_target, log_raw))],
        "bucket long, lw double")
    return (feats.join(F.broadcast(lw), "bucket")
            .groupBy("doc_id")
            .agg(F.round(F.sum(F.col("tf") * F.col("lw")), 6)
                 .alias("logw")))


def gumbel_noise(id_col, salt: str = ""):
    """Deterministic per-doc Gumbel(0,1) draw: u derives from the first
    13 md5 hex digits of (id || salt) — a 52-bit uniform, exactly
    reproducible in SQL — and g = −ln(−ln(u)). No RNG, stable across
    reruns/partitioning (the repo's sampling convention)."""
    h = F.conv(
        F.substring(F.md5(F.concat(id_col.cast("string"),
                                   F.lit(GUMBEL_SALT + salt))), 1, 13),
        16, 10).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 52))
    return -F.log(-F.log(u))


def dsir_select(docs: DataFrame, target_docs: DataFrame, k: int,
                dim: int = DEFAULT_DIM, alpha: float = DEFAULT_ALPHA,
                text_col: str = "text", bigrams: bool = True,
                gumbel: bool = True, salt: str = "") -> DataFrame:
    """End-to-end DSIR: → (doc_id, logw, key) — the ``k`` raw docs
    resampled toward the target distribution, ordered by
    (key DESC, doc_id ASC) with key = round(logw + gumbel, 6)
    (``gumbel=False``: key = logw — hard top-k by weight). Rounding
    happens BEFORE the cut so the selection is stable cross-engine.

    ``target_docs`` is the (small) corpus whose distribution you want
    more of — e.g. curated wiki/books; it needs only ``text_col``
    (its docs are never selected, so a ``doc_id`` is optional).
    ``docs`` is the raw pool. Docs with zero tokens have no features
    and are never selected (they carry no evidence either way)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    release_caches()
    # the raw feature frame feeds TWO actions — the distribution fit
    # (an eager collect) and the weight aggregate (the caller's action)
    # — so persist it for the call's lifetime or the corpus-scale
    # explode+aggregate runs twice (measured ~2x the whole operator at
    # sf0.1). Released at the next dsir_select / release_caches(), the
    # dedup/curation cache idiom; the target frame is read once and
    # stays lazy.
    feats_raw = hashed_ngram_tf(docs, dim, text_col, bigrams).persist()
    _PERSISTED.add(feats_raw)
    if "doc_id" not in target_docs.columns:
        # the fit sums counts per bucket, so one id shared by every
        # target doc yields the same distribution as per-doc ids
        target_docs = target_docs.withColumn("doc_id", F.lit(0))
    feats_t = hashed_ngram_tf(target_docs, dim, text_col, bigrams)
    lt = fit_bucket_logprobs(feats_t, dim, alpha)
    lr = fit_bucket_logprobs(feats_raw, dim, alpha)
    w = importance_weights(feats_raw, lt, lr)
    key = F.col("logw")
    if gumbel:
        key = F.round(F.col("logw") + gumbel_noise(F.col("doc_id"), salt),
                      6)
    return (w.withColumn("key", key)
            .orderBy(F.desc("key"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "logw", "key"))
